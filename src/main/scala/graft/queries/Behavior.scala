package graft.queries

import graft.{Caches, SessionConfs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 user-behavior analytics over the events stream twin: cohort
  * retention, event-transition (Markov) counts, and activity streaks
  * (gaps-and-islands). All outputs are integer counts / dates, so
  * cross-engine hash equality needs no float machinery.
  *
  * Scale notes (100 TB): every query here repartitions once on `user_id`
  * and rides that single partitioning through its per-user window AND the
  * per-user pre-aggregation (HashPartitioning(user_id) satisfies the
  * ClusteredDistribution of any groupBy whose keys include user_id), then
  * pays one final small shuffle on the coarse output key. No windows
  * without a partition key; no driver-side state.
  */
object Behavior {

  /** Per-user activity days, deduplicated, partitioned by user: the shared
    * first stage of retention and streaks. One shuffle; the downstream
    * user-partitioned window reuses the same distribution. */
  private def userDays(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .repartition(col("user_id"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("_n"))
      .drop("_n")

  /** Classic cohort retention: users are cohorted by their first active
    * day; each later active day counts them as retained at that day
    * offset. The (cohort_day, day_offset) matrix is THE product-analytics
    * warhorse. count(*) is exact distinct users because the user-day frame
    * is already deduplicated and a user has exactly one cohort. */
  def qRetention(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    userDays(s, sf)
      .withColumn("cohort_day", min("day").over(w))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Event-type transition counts (the first-order Markov matrix over user
    * journeys): for each consecutive event pair per user, count
    * (event_type → next_type). Ordering ties on ts are broken by event_id
    * for a deterministic sequence on both engines. */
  def qEventTransitions(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "next_type")
  }

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands pattern: day_number - row_number is constant within
    * a run of consecutive days, so grouping on it splits runs without a
    * self-join. Output per user: active days, number of streaks, longest
    * streak. */
  def qWinStreaks(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val islands = userDays(s, sf)
      .withColumn("grp",
        datediff(col("day"), lit("2024-01-01").cast("date")) - row_number().over(w))
    val streaks = islands.groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
    streaks.groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("max_streak"))
      .orderBy("user_id")
  }

  /** Sequence-pattern detection (the MATCH_RECOGNIZE shape): each user's
    * journey is flattened to an ordered initial string (v=view c=click
    * p=purchase s=signup e=error) and scanned for `vc+p` runs —
    * view, one-or-more clicks, purchase — the behavioral funnel as a
    * regex instead of per-step windows. The per-user string is built by
    * sorting the collected (ts, event_id) structs INSIDE the aggregate,
    * so the result is independent of partition arrival order; the regex
    * is alternation-free, where Java (backtracking) and RE2
    * (leftmost-longest) find identical match sets. Journeys are
    * user-sized (bounded), so the collected array never exceeds one
    * user's events — the same bound a streaming sessionizer holds. */
  def qSeqPattern(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("ini", substring(col("event_type"), 1, 1))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("array_join(transform(array_sort(collect_list(struct(ts, event_id, ini))), x -> x.ini), '')").as("seq"))
      .withColumn("n_funnel_runs",
        size(expr("regexp_extract_all(seq, 'vc+p', 0)")))
      .orderBy("user_id")

  /** Interval union (coverage): each event opens a 5-minute activity
    * interval; overlapping intervals merge, and the output is each user's
    * merged-island count and total covered seconds — the dwell-time /
    * uptime statistic that a naive sum-of-intervals double-counts. The
    * running-max-end + new-island-flag + flag-prefix-sum formulation is
    * one window pass (no self-join); all epoch-µs integer arithmetic. */
  def qIntervalUnion(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("st").asc, col("event_id").asc)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + lit(300000000L))
      .withColumn("prev_max_en", max("en").over(wPrev))
      .withColumn("new_island",
        when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L).otherwise(0L))
      .withColumn("island", sum("new_island").over(wRun))
      .groupBy("user_id", "island")
      .agg(min("st").as("i_st"), max("en").as("i_en"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_en") - col("i_st")).as("covered_us"))
      .orderBy("user_id")
  }

  /** Time-weighted average of `value` per user — the right mean for
    * irregularly-sampled measurements (each reading weighted by how long
    * it was current, until the next reading). Weights are epoch-µs gaps
    * (exact longs); values are 2-decimal (decimal cast lossless), so the
    * weighted sum is an exact decimal and the single final division is
    * the only float op — bit-identical cross-engine. The last reading
    * has no successor and carries no weight; single-event users yield
    * NULL (no covered time), preserved as such. One shuffle on user_id
    * shared by the window and the aggregate. */
  def qTimeWeightedAvg(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("dt", unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("dt").as("sum_dt_us"),
        expr("sum(CAST(value AS DECIMAL(18,2)) * CAST(dt AS DECIMAL(14,0)))").as("wsum"))
      .select(col("user_id"), col("n_events"), col("sum_dt_us"),
        // ×100 lifts the scale-2 decimal to an integral value first: a
        // scale-0 decimal→double cast is ONE rounding on both engines,
        // while casting scale 2 directly is double(unscaled)/100 in some
        // engines (two roundings — observed 1-ulp divergence); the 100 is
        // divided back out in float space, identically on both sides.
        (expr("CAST(CAST(wsum * 100 AS DECIMAL(38,0)) AS DOUBLE)") /
          (lit(100.0) * col("sum_dt_us").cast("double"))).as("twa"))
      .orderBy("user_id")
  }

  /** Daily-volume anomaly detection: each (event_type, day) count is
    * z-scored against that event type's all-days mean and population
    * stddev — the ops-dashboard query that flags traffic spikes/drops.
    * The moments come from exact integer power sums (Σn, Σn²) and the
    * mean/σ/z finish is ONE closed-form double expression shared
    * textually with the oracle (the [[Analytics.qAggSkewKurt]] recipe:
    * built-in stddev float-sums in partition order and cannot
    * hash-match). Two partial-agg levels (day rollup, then per-type
    * moments) + a broadcast join of the tiny per-type stats back onto
    * the daily rows. */
  def qAnomalyDays(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("n").as("sx"),
        sum(col("n") * col("n")).as("sxx"))
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("mu", expr("CAST(sx AS DOUBLE) / m"))
      // greatest(0.0, ·) clamps the catastrophic-cancellation case (a tiny
      // negative variance on constant series: Spark sqrt → NaN, DuckDB may
      // error); sigma = 0 → z NULL keeps both engines off the 0/0 path
      // (Spark's non-ANSI Divide yields NULL, DuckDB IEEE yields inf/NaN).
      .withColumn("sigma",
        expr("sqrt(greatest(0.0, (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m) / m))"))
      .withColumn("z", expr("CASE WHEN sigma = 0.0 THEN NULL ELSE (CAST(n AS DOUBLE) - mu) / sigma END"))
      .withColumn("is_anomaly", expr("abs(z) > 2.0"))
      .select("event_type", "day", "n", "mu", "sigma", "z", "is_anomaly")
      .orderBy("event_type", "day")
  }

  // Conditional decimal sums for the A/B arms, shared textually with the
  // oracle. The ×100/×10000 lifts re-route the final decimal→double casts
  // through scale-0 values (single rounding on both engines — the
  // q_time_weighted_avg lesson applied preemptively: these sums grow with
  // corpus size and WILL cross 2^53 unscaled at some SF).
  // Intermediate casts stay well under 38 digits so NEITHER engine hits
  // its decimal-overflow path (Spark would silently shrink the scale,
  // DuckDB would reject the multiply): per-row squares fit DECIMAL(20,4)
  // (value² < 10⁶), arm sums are re-bounded to DECIMAL(30,·) (10²⁸
  // capacity — beyond any SF) before the small integer lift.
  private def armSum(grp: Int): String =
    s"CAST(CAST(CAST(sum(CASE WHEN user_id % 2 = $grp THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(30,2)) * 100 AS DECIMAL(38,0)) AS DOUBLE) / 100.0"
  private def armSumSq(grp: Int): String =
    s"CAST(CAST(CAST(sum(CASE WHEN user_id % 2 = $grp THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(20,4)) END) AS DECIMAL(30,4)) * 10000 AS DECIMAL(38,0)) AS DOUBLE) / 10000.0"

  /** Deterministic A/B comparison (Welch t): users split into arms by a
    * deterministic id hash (`user_id % 2` here; a production split salts
    * and hashes), per event type the two arms' means are compared with
    * the unequal-variance t statistic. Moments come from exact
    * conditional DECIMAL sums in ONE aggregation pass over the events
    * (no per-arm subqueries, map-side combinable), and the mean/variance/
    * t finish is a closed-form double expression shared textually with
    * the oracle — the experimentation-platform query, hash-matchable. */
  def qAbTtest(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy("event_type")
      .agg(
        expr("count(CASE WHEN user_id % 2 = 0 THEN 1 END)").as("n_a"),
        expr("count(CASE WHEN user_id % 2 = 1 THEN 1 END)").as("n_b"),
        expr(armSum(0)).as("sv_a"), expr(armSum(1)).as("sv_b"),
        expr(armSumSq(0)).as("svv_a"), expr(armSumSq(1)).as("svv_b"))
      .withColumn("mean_a", expr("sv_a / n_a"))
      .withColumn("mean_b", expr("sv_b / n_b"))
      // n ≤ 1 → variance undefined → NULL (Spark's non-ANSI 0-divide gives
      // NULL, DuckDB IEEE gives inf — guard BEFORE the divide so both agree);
      // the greatest(0.0, ·) clamp kills tiny negative variances from
      // cancellation on constant arms (sqrt → NaN vs error). The guard also
      // ensures greatest never sees a NULL operand (Spark skips NULLs in
      // greatest, DuckDB does not — don't let the engines disagree there).
      .withColumn("var_a", expr(
        "CASE WHEN n_a <= 1 THEN NULL ELSE greatest(0.0, svv_a - sv_a * sv_a / n_a) / (n_a - 1) END"))
      .withColumn("var_b", expr(
        "CASE WHEN n_b <= 1 THEN NULL ELSE greatest(0.0, svv_b - sv_b * sv_b / n_b) / (n_b - 1) END"))
      .withColumn("se", expr("sqrt(var_a / n_a + var_b / n_b)"))
      .withColumn("t_stat",
        expr("CASE WHEN se = 0.0 THEN NULL ELSE (mean_a - mean_b) / se END"))
      .select("event_type", "n_a", "n_b", "mean_a", "mean_b", "t_stat")
      .orderBy("event_type")

  /** GRPO/RLOO-style per-group advantage normalization — the batch shape
    * group-relative policy optimization feeds the trainer: each sample's
    * reward is centered and scaled WITHIN its prompt group,
    * adv = (r − mean_g) / std_g (population σ), with the degenerate
    * groups (n < 2 or constant reward) pinned to advantage 0 — the GRPO
    * convention, since a group with no spread carries no preference
    * signal. Determinism: rewards are exact cents
    * (CAST(round(value·100) AS BIGINT), the Det cents-recovery rule), the
    * group moments are exact integer window sums, and the advantage is
    * ONE shared-text double expression from exact operands:
    * (n·x − S)/√(n·Q − S²) — algebraically (x − S/n)/σ_pop without any
    * intermediate float mean. The constant-group test is min = max on
    * exact ints (an n·Q = S² probe would near the 2⁶³ line at scale).
    * One shuffle: all five moments ride one user-partitioned window, and
    * the deterministic user-slice filter (user_id % 7 — a verify-output
    * size bound, the ProbeCap convention) pushes BELOW the window
    * because it is group-aligned. At 100 TB: prompt groups are
    * high-cardinality keys — no funnel. */
  def qGroupAdvantage(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables.events(s, sf)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sv", sum(col("cents")).over(w))
      .withColumn("qv", sum(col("cents") * col("cents")).over(w))
      .withColumn("mn", min(col("cents")).over(w))
      .withColumn("mx", max(col("cents")).over(w))
      .withColumn("adv", expr(
        // Third guard arm: the float variance n·Q − S² can catastrophically
        // cancel to ≤ 0 for huge near-constant (but not constant) groups
        // where S² approaches 2⁶³ — the exact-int mn=mx test doesn't catch
        // those, and dividing by sqrt(≤0) would emit Infinity/NaN. Pin the
        // no-spread-at-double-precision case to advantage 0 IN THE SHARED
        // TEXT so both engines agree bit-for-bit.
        "CASE WHEN n < 2 OR mn = mx OR " +
          "CAST(n AS DOUBLE) * CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) <= 0.0 THEN 0.0 ELSE " +
          "CAST(n * cents - sv AS DOUBLE) / " +
          "sqrt(CAST(n AS DOUBLE) * CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) END"))
      .filter(col("user_id") % 7 === 0)
      .select("user_id", "event_id", "cents", "adv")
      .orderBy("user_id", "event_id")
  }

  /** Survivorship / golden-record merge — the entity-resolution step after
    * dedup clusters records: one surviving row per user assembled by
    * per-attribute rules (latest NON-NULL measurement — error events
    * carry no value; latest event type; first/last seen). One full-frame
    * window per user over the (ts, event_id) total order; the DISTINCT
    * collapse reuses the same partitioning. last(ignoreNulls) over an
    * unbounded frame is the per-column survivorship rule — adding
    * attributes is adding window columns, not passes. */
  def qGoldenRecord(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
      .select(col("user_id"),
        count(lit(1)).over(w).as("n_events"),
        first("ts").over(w).as("first_ts"),
        last("ts").over(w).as("last_ts"),
        last("v", ignoreNulls = true).over(w).as("golden_value"),
        last("event_type").over(w).as("last_type"))
      .distinct()
      .orderBy("user_id")
  }

  /** SCD2 (type-2 slowly-changing-dimension) build from the event stream:
    * per user, each CHANGE of event_type opens a validity interval
    * [valid_from, valid_to), closed by the next change; the latest stays
    * open (valid_to NULL, is_current) — the warehouse dimension-history
    * op (and the batch twin of golden-record survivorship: FULL history
    * instead of one survivor). Change detection, interval close, and
    * version numbering are three windows over the SAME (user_id) /
    * (ts, event_id) spec, so the corpus shuffles once and the unique
    * event_id tie-break makes every row deterministic on both engines. */
  def qScd2(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Rolling 7-day distinct active users (the WAU curve) — the sliding-
    * window COUNT DISTINCT every growth dashboard runs, which has NO
    * efficient windowed form: a per-day distinct re-counts each user up
    * to 7×, and distinct state inside a sliding frame is exactly what
    * aggregate windows can't hold. The linear form used here is COVERAGE
    * INTERVALS: per (user, activity day), the user covers days
    * [a, min(a+6, next_activity−1)] — capping at the next activity makes
    * every covered (user, day) pair UNIQUE by construction, so WAU(d) is
    * a plain count of coverage rows, never a distinct. One user_id
    * shuffle (the lead window), a ≤7× bounded explode, a broadcast
    * semi-restriction to the observed day domain, and one two-phase
    * count — linear at any scale. The oracle is the INDEPENDENT
    * brute-force formulation (range join + count DISTINCT), so agreement
    * checks the coverage algebra, not a transcription. */
  def qRollingActive(s: SparkSession, sf: String): DataFrame = {
    val ud = Tables.events(s, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    val cov = ud.withColumn("nd", lead("d", 1).over(w))
      .select(col("user_id"), explode(expr(
        "sequence(d, least(date_add(d, 6), coalesce(date_sub(nd, 1), date_add(d, 6))))")).as("day"))
    val days = ud.select(col("d").as("day")).distinct()
    cov.join(broadcast(days), Seq("day"))
      .groupBy("day").agg(count(lit(1)).as("wau"))
      .orderBy("day")
  }

  /** CDC merge/apply (the MERGE INTO kernel): fold a change feed into a
    * snapshot with latest-wins upsert + delete semantics — the incremental-
    * ingest primitive every warehouse/lakehouse table maintenance job runs.
    * The feed is the orders stream keyed on the customer: per key, only the
    * LATEST change applies (row_number = 1 over (o_orderdate, o_orderkey)
    * DESC — compiles to WindowGroupLimit: 1-row heaps below the window's
    * exchange, never a per-key sort); a final status of 'F' deletes the
    * row, anything else upserts the balance (exact decimal add, single
    * double rounding on both engines — the sum is row-scoped, far under
    * 2^53 unscaled, so no scale-0 lift needed); keys without changes pass
    * through untouched. One custkey shuffle for the dedup window + one
    * equi-join against the snapshot — both linear; at 100 TB the join is
    * the standard copy-on-write merge shuffle, and the same plan runs
    * incrementally when the snapshot is bucketed on the key. */
  def qCdcApply(s: SparkSession, sf: String): DataFrame = {
    val wLatest = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val latest = Tables.orders(s, sf)
      .select("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderkey")
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderstatus").as("op_status"), col("o_totalprice"))
    Tables.customer(s, sf)
      .join(latest, col("c_custkey") === col("o_custkey"), "left")
      .filter(col("op_status").isNull || col("op_status") =!= "F")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        expr("CAST(CASE WHEN op_status IS NULL THEN CAST(c_acctbal AS DECIMAL(18,2)) " +
          "ELSE CAST(c_acctbal AS DECIMAL(18,2)) + CAST(o_totalprice AS DECIMAL(18,2)) END " +
          "AS DOUBLE)").as("balance"))
      .orderBy("c_custkey")
  }

  /** Ratio-to-report: each event type's share of its day's traffic — the
    * mix-shift dashboard query. The daily rollup shuffles once; the
    * day-partitioned total window reuses nothing heavier than the
    * already-aggregated rollup; the share divides two exact longs. */
  def qShareOfTotal(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("day")
    daily.withColumn("day_total", sum("n").over(w))
      .withColumn("share", col("n").cast("double") / col("day_total"))
      .orderBy("day", "event_type")
  }

  /** Audience overlap: exact Jaccard between every pair of event types'
    * distinct-user sets — the segment-overlap query behind campaign
    * planning and dedup across cohorts. The distinct audience table
    * shuffles once on user_id; the self-join on the user key turns pair
    * intersection into an equi-join (K² pair keys never materialize
    * outside the per-user K-row neighborhood); set sizes broadcast back
    * onto the tiny pair matrix. At extreme cardinality the same query
    * swaps the exact distinct for the mergeable-sketch path
    * (q_agg_hll / theta-style), trading exactness for fixed memory. */
  def qSetOverlap(s: SparkSession, sf: String): DataFrame = {
    val ut = Tables.events(s, sf)
      .select("event_type", "user_id").distinct()
    val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = ut.select(col("event_type").as("type_a"), col("user_id"))
      .join(ut.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .select("type_a", "type_b", "n_a", "n_b", "n_inter", "jaccard")
      .orderBy("type_a", "type_b")
  }

  /** Event-time lateness audit — the measurement that PICKS a watermark
    * delay before anyone turns on a streaming job: within each user's
    * arrival order (event_id), how far behind the running max event-time
    * does each event arrive? The out-of-order magnitudes are bucketed
    * (on-time / <1 min / <1 h / ≥1 h) and counted; the watermark should
    * cover the bucket mass you refuse to drop. Running max over a
    * 1-preceding frame + integer µs arithmetic; one user_id shuffle
    * shared by window and final rollup's partial aggregation. */
  def qLatenessAudit(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_max", max("ts_us").over(w))
      .withColumn("late_us", // coalesce: first arrival has no predecessor
        greatest(lit(0L), coalesce(col("prev_max") - col("ts_us"), lit(0L))))
      .withColumn("bucket",
        when(col("late_us") === 0, "ontime")
          .when(col("late_us") < 60L * 1000000L, "lt1m")
          .when(col("late_us") < 3600L * 1000000L, "lt1h")
          .otherwise("ge1h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), max("late_us").as("max_late_us"))
      .orderBy("bucket")
  }

  /** Growth accounting (the new/retained/resurrected/churned matrix):
    * each user-week is classified against the user's previous week and
    * first week — THE weekly growth report. Distinct user-weeks shuffle
    * once on user_id; the self-join on (user, week-1) and the first-week
    * window reuse that partitioning; churned rows come from the mirror
    * anti-join (active week w-1, absent week w). All integer weeks and
    * counts. */
  def qChurnMatrix(s: SparkSession, sf: String): DataFrame = {
    // cache registration snapshots the physical plan: under AQE the
    // InMemoryRelation wraps an AdaptiveSparkPlan whose output partitioning
    // is unknown until materialized, so every consumer would insert its own
    // user_id re-shuffle above the cache scan. Registering with AQE scoped
    // off preserves hashpartitioning(user_id) on the cached frame — all
    // five consumers then reuse the ONE corpus shuffle (`repart=1` on its
    // plan census line). distinct comes AFTER the repartition for the same
    // reason: grouping on (user_id, w) is satisfied by the user_id
    // partitioning, so the cached lineage itself holds a single exchange.
    val uw = SessionConfs.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      Caches.registered(Tables.events(s, sf)
        // floor() explicitly: a bare int cast of the division truncates in
        // Spark but ROUNDS in DuckDB — floor is the one shared semantic
        .select(col("user_id"),
          expr("CAST(floor(datediff(to_date(ts), DATE'2024-01-01') / 7.0) AS INT)").as("w"))
        .repartition(col("user_id"))
        .distinct())
    }
    val fw = uw.groupBy("user_id").agg(min("w").as("first_w"))
    val prev = uw.select(col("user_id"), (col("w") + 1).as("w"), lit(1).as("was_prev"))
    val maxW = uw.agg(max("w").as("max_w"))
    val active = uw.join(fw, Seq("user_id"))
      .join(prev, Seq("user_id", "w"), "left")
      .withColumn("status",
        when(col("w") === col("first_w"), "new")
          .when(col("was_prev").isNotNull, "retained")
          .otherwise("resurrected"))
      .select("w", "status")
    val churned = prev.join(uw, Seq("user_id", "w"), "left_anti")
      .crossJoin(broadcast(maxW))
      .filter(col("w") <= col("max_w"))
      .select(col("w"), lit("churned").as("status"))
    active.unionByName(churned)
      .groupBy("w", "status").agg(count(lit(1)).as("n_users"))
      .orderBy("w", "status")
  }

  /** Cohort LTV curve: cumulative value per signup cohort across day
    * offsets — retention's revenue twin (does a cohort keep PAYING, not
    * just showing up). Per-(cohort, offset) revenue is an exact decimal
    * sum; the cumulative curve is a decimal window sum over the tiny
    * per-cohort offset series; doubles only at the emit boundary. */
  def qCohortLtv(s: SparkSession, sf: String): DataFrame = {
    val wU = Window.partitionBy("user_id")
    val ev = Tables.events(s, sf)
      .repartition(col("user_id"))
      .withColumn("day", to_date(col("ts")))
      .withColumn("cohort_day", min("day").over(wU))
    val daily = ev.groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(expr("sum(CAST(value AS DECIMAL(18,2)))").as("rev_dec"))
    val wC = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Both emit casts go through the scale-0 lift: these sums grow with
    // corpus size and the raw DECIMAL→DOUBLE cast double-rounds in DuckDB
    // past 2^53 unscaled (the q_time_weighted_avg lesson).
    daily.withColumn("cum_dec", sum("rev_dec").over(wC))
      .select(col("cohort_day"), col("day_offset"),
        expr(Det.liftDec2("rev_dec")).as("revenue"),
        expr(Det.liftDec2("cum_dec")).as("cum_revenue"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Day-over-day top movers: each event type's count delta vs its
    * previous ACTIVE day, ranked by absolute swing — the "what changed"
    * dashboard. Lag over the tiny per-type daily series; top-20 is
    * TakeOrderedAndProject with full deterministic tie-break. */
  def qTopMovers(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.withColumn("prev_n", lag("n", 1).over(w))
      .filter(col("prev_n").isNotNull)
      .withColumn("delta", col("n") - col("prev_n"))
      .orderBy(abs(col("delta")).desc, col("day").asc, col("event_type").asc)
      .limit(20)
      .select("event_type", "day", "n", "prev_n", "delta")
  }

  /** The windowed-Pearson finish shared textually with the oracle: every
    * operand is an exact windowed integer sum cast to double once, the
    * guard handles degenerate windows (constant series ⇒ zero variance). */
  private val rollCorrFinish: String = {
    val num = "(CAST(n AS DOUBLE) * CAST(pab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
    val va = "(CAST(n AS DOUBLE) * CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
    val vb = "(CAST(n AS DOUBLE) * CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
    s"CASE WHEN $va <= 0.0 OR $vb <= 0.0 THEN NULL ELSE $num / sqrt($va * $vb) END"
  }

  /** 30-day rolling correlation between view and click daily volumes —
    * the time-VARYING twin of q_corr_matrix's static screen (is engagement
    * decoupling from traffic?). The corpus collapses to one row per day
    * first; the 30-row window then runs over that bounded series (the
    * documented safe case for an unpartitioned window — thousands of rows
    * at ANY corpus size), carrying the five moment sums as EXACT windowed
    * integer sums; the closed-form double finish is textually shared. */
  def qRollingCorr(s: SparkSession, sf: String): DataFrame = {
    val w = Window.orderBy(col("day").asc).rowsBetween(-29, Window.currentRow)
    Tables.events(s, sf)
      .filter(col("event_type").isin("view", "click"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cnt_b"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sa", sum("cnt_a").over(w))
      .withColumn("sb", sum("cnt_b").over(w))
      .withColumn("qa", sum(expr("cnt_a * cnt_a")).over(w))
      .withColumn("qb", sum(expr("cnt_b * cnt_b")).over(w))
      .withColumn("pab", sum(expr("cnt_a * cnt_b")).over(w))
      .withColumn("corr30", expr(rollCorrFinish))
      .select("day", "cnt_a", "cnt_b", "corr30")
      .orderBy("day")
  }

  /** Day-of-week seasonality profile per event type (the traffic-shape
    * query behind staffing/capacity dashboards and anomaly baselines):
    * events roll up to (type, day) once — count + exact decimal value sum
    * — then the daily rollup folds onto the 7-slot weekday grid. The
    * weekday is computed from pure epoch-day arithmetic ((days+4) % 7,
    * Sunday = 0) rather than an engine's dayofweek(), so both engines
    * bucket identically with no locale/week-start split. At 100 TB the
    * only corpus-sized stage is the first partial-agg rollup (bounded by
    * the type×day domain); the seasonal fold runs over the rollup.
    * events_per_day divides two exact integers in one double op. */
  def qSeasonalProfile(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        expr("sum(CAST(value AS DECIMAL(18,2)))").as("sv"))
    daily
      .groupBy(col("event_type"),
        expr("(datediff(day, DATE '1970-01-01') + 4) % 7").as("dow"))
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_days"),
        sum("sv").as("svv"))
      .select(col("event_type"), col("dow"), col("n_events"), col("n_days"),
        expr("CAST(n_events AS DOUBLE) / n_days").as("events_per_day"),
        expr(Det.liftDec2("svv")).as("sum_value"))
      .orderBy("event_type", "dow")
  }

  /** Wilson 95% score interval per (event_type, arm) — the conversion-rate
    * CI an A/B readout pairs with [[qAbTtest]]'s mean test (Wilson stays
    * calibrated at small n and p near 0/1 where the normal interval
    * collapses). The whole formula is +,*,/,sqrt on identical operand
    * text both engines — each op exactly rounded in IEEE, so the CI
    * hash-matches bit-for-bit (the z constant stays as the literal
    * `1.96 * 1.96` product, never a pre-multiplied decimal that would
    * parse to a different double). One partial-agg shuffle on the
    * (type, arm) domain; the CI math is map work on the tiny rollup. */
  private def wilsonExpr(sign: String): String =
    s"(p_hat + (1.96 * 1.96) / (2.0 * nd) $sign 1.96 * " +
      s"sqrt(p_hat * (1.0 - p_hat) / nd + (1.96 * 1.96) / (4.0 * nd * nd))) / " +
      s"(1.0 + (1.96 * 1.96) / nd)"

  def qAbWilson(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .withColumn("arm", (col("user_id") % 2).cast("int"))
      .groupBy("event_type", "arm")
      .agg(count(lit(1)).as("n"),
        expr("count(CASE WHEN value > 50.0 THEN 1 END)").as("conv"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("p_hat", expr("CAST(conv AS DOUBLE) / nd"))
      .withColumn("ci_lo", expr(wilsonExpr("-")))
      .withColumn("ci_hi", expr(wilsonExpr("+")))
      .select("event_type", "arm", "n", "conv", "p_hat", "ci_lo", "ci_hi")
      .orderBy("event_type", "arm")

  /** Fixed-band RFM segmentation: per-customer recency (days before the
    * fixture horizon 2001-12-31) / frequency / monetary-cents roll up into
    * 3×3×3 business-rule bands — the marketing-segmentation rollup. Bands
    * are FIXED thresholds, not corpus quantiles, deliberately: quantile
    * cuts need a second global pass (or an unpartitioned ntile window over
    * the corpus-sized customer rollup — the scale smell this repo bans);
    * fixed bands keep the whole query two map-side-combinable shuffles
    * (customer rollup, 27-segment rollup) at any corpus size. Monetary is
    * exact integer cents (round(x·100) per row, summed as BIGINT). */
  def qRfmSegment(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("f"),
        expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("m_cents"),
        expr("datediff(DATE '2001-12-31', CAST(max(o_orderdate) AS DATE))").as("r_days"))
      .select(
        expr("CASE WHEN r_days <= 365 THEN 3 WHEN r_days <= 1095 THEN 2 ELSE 1 END").as("r_score"),
        expr("CASE WHEN f >= 12 THEN 3 WHEN f >= 9 THEN 2 ELSE 1 END").as("f_score"),
        expr("CASE WHEN m_cents >= 300000000 THEN 3 WHEN m_cents >= 200000000 THEN 2 ELSE 1 END").as("m_score"),
        col("m_cents"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), sum("m_cents").as("sum_cents"))
      .withColumn("segment", expr("concat('r', r_score, 'f', f_score, 'm', m_score)"))
      .select("segment", "r_score", "f_score", "m_score", "n_customers", "sum_cents")
      .orderBy("segment")

  /** Two-sample Kolmogorov–Smirnov test between the click and view value
    * distributions: D = max over the pooled value grid of |F_a − F_b|.
    * The ECDF steps are exact integer cumulative counts over DISTINCT
    * values (group-by first, so ties never split a step); the only floats
    * are per-row divisions of exact ints, and the argmax row is picked by
    * the total (d DESC, value ASC) order — engine-independent. The global
    * window rides one partition, but its input is the distinct-VALUE
    * grid, which the 2-decimal fixture domain caps at ~50k rows at any
    * corpus size (and a production pipeline would quantize values for the
    * same reason) — the corpus itself only ever flows through the
    * partial-agg groupBy. */
  def qKsTest(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_a"))
    val byV = e.groupBy("value").agg(
      sum("is_a").cast("bigint").as("ca"),
      expr("CAST(count(1) - sum(is_a) AS BIGINT)").as("cb"))
    val w = Window.orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = e.agg(
      sum("is_a").cast("bigint").as("n_a"),
      expr("CAST(count(1) - sum(is_a) AS BIGINT)").as("n_b"))
    byV
      .withColumn("cum_a", sum("ca").over(w).cast("bigint"))
      .withColumn("cum_b", sum("cb").over(w).cast("bigint"))
      .crossJoin(broadcast(tot))
      .withColumn("ks_d",
        expr("abs(CAST(cum_a AS DOUBLE) / n_a - CAST(cum_b AS DOUBLE) / n_b)"))
      .orderBy(col("ks_d").desc, col("value").asc).limit(1)
      .select(col("n_a"), col("n_b"), col("value").as("d_at_value"), col("ks_d"))
  }

  /** Categorical drift audit: split the stream at the midpoint of its time
    * range, contingency-table the event types, and emit each type's
    * chi-square term against the homogeneity expectation — the
    * distribution-shift monitor run before trusting a data refresh.
    * The midpoint and all counts are exact integers; expected/chi2 are
    * per-ROW float expressions (no cross-row float sums to reorder).
    * Two aggregations (5-row output each) plus two 1-row broadcasts —
    * the corpus is scanned once whatever its size. */
  def qChi2Drift(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
    val mid = e.agg(expr("(min(sec) + max(sec)) div 2").as("mid"))
    val byType = e.crossJoin(broadcast(mid))
      .withColumn("is_early", (col("sec") < col("mid")).cast("long"))
      .groupBy("event_type")
      .agg(
        sum("is_early").cast("bigint").as("early_n"),
        expr("CAST(count(1) - sum(is_early) AS BIGINT)").as("late_n"))
    val grand = byType.agg(
      sum("early_n").cast("bigint").as("tot_early"),
      expr("CAST(sum(early_n + late_n) AS BIGINT)").as("grand"))
    byType.crossJoin(broadcast(grand))
      .withColumn("expected_early",
        expr("CAST((early_n + late_n) * tot_early AS DOUBLE) / grand"))
      .withColumn("chi2_term",
        expr("(early_n - expected_early) * (early_n - expected_early) / expected_early"))
      .select("event_type", "early_n", "late_n", "expected_early", "chi2_term")
      .orderBy("event_type")
  }

  /** Signup→purchase conversion lag per signup-week cohort: each user's
    * first signup joined to their first subsequent purchase, lag
    * summarized per cohort — the activation-funnel latency read behind
    * onboarding changes. All times are exact epoch seconds (ints), the
    * cohort key is integer week arithmetic, and the median lag rides the
    * percentile interpolation contract. Two user-keyed partial aggs +
    * one user-keyed join — shuffles keyed on user_id, linear; the cohort
    * rollup output is week-domain-bounded. */
  def qConversionLag(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("sec").as("s_sec"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .filter(col("sec") >= col("s_sec"))
      .groupBy("user_id").agg(min("sec").as("p_sec"))
    su.join(pu, Seq("user_id"), "left")
      .withColumn("cohort_week", expr("s_sec div 604800"))
      .withColumn("lag_sec", col("p_sec") - col("s_sec"))
      .groupBy("cohort_week")
      .agg(
        count(lit(1)).as("n_signups"),
        count(col("p_sec")).as("n_converted"),
        expr("percentile(lag_sec, 0.5)").as("median_lag_sec"),
        max("lag_sec").as("max_lag_sec"))
      .withColumn("conversion_rate",
        expr("CAST(n_converted AS DOUBLE) / CAST(n_signups AS DOUBLE)"))
      .orderBy("cohort_week")
  }

  /** Lag-1 and lag-7 autocorrelation of daily volume per event type — the
    * periodicity detector (a high lag-7 r flags weekly seasonality) run
    * before choosing forecast features. The corpus rolls up ONCE to the
    * (type, day) count grid; each lag pairs the grid with itself by
    * integer day arithmetic (an equi-join on the day-domain-bounded
    * frame, robust to calendar gaps where a lag window is not), and
    * Pearson r comes from exact BIGINT power sums with the closed-form
    * double finish shared textually with the oracle (the q_rolling_corr
    * contract). Zero-variance guard BEFORE the divide so both engines
    * agree on NULL. */
  def qAutocorr(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .select(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    def atLag(k: Int) =
      daily.as("x").join(daily.as("y"),
        col("x.event_type") === col("y.event_type") &&
          col("x.day") === col("y.day") + k)
        .select(col("x.event_type").as("event_type"), lit(k).as("lag"),
          col("x.cnt").as("xv"), col("y.cnt").as("yv"))
    atLag(1).unionAll(atLag(7))
      .groupBy("event_type", "lag")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("xv").cast("bigint").as("sx"), sum("yv").cast("bigint").as("sy"),
        sum(expr("xv * yv")).cast("bigint").as("sxy"),
        sum(expr("xv * xv")).cast("bigint").as("sxx"),
        sum(expr("yv * yv")).cast("bigint").as("syy"))
      .withColumn("r", expr(
        "CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0 THEN NULL " +
          "ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE) / " +
          "(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) END"))
      .select("event_type", "lag", "n_pairs", "r")
      .orderBy("event_type", "lag")
  }

  /** Q-Q comparison of the click vs view value distributions at the nine
    * deciles — the shape-diagnostic companion to q_ks_test's single-number
    * verdict (WHERE the distributions diverge, not just how much). One
    * percentile-array aggregation per side (each a single partial-agg
    * pass), the nine-row frames joined by decile index; quantiles ride
    * the percentile interpolation contract, the diff is one double
    * subtraction per row. */
  def qQqPlot(s: SparkSession, sf: String): DataFrame = {
    val probs = (1 to 9).map(i => s"0.$i").mkString(", ")
    def side(t: String) = Tables.events(s, sf)
      .filter(col("event_type") === t)
      .agg(expr(s"percentile(value, array($probs))").as("qs"))
      .select(posexplode(col("qs")).as(Seq("i", s"q_$t")))
    side("click").join(side("view"), Seq("i"))
      .select((col("i") + 1).cast("int").as("decile"),
        col("q_click"), col("q_view"),
        (col("q_click") - col("q_view")).as("diff"))
      .orderBy("decile")
  }

  /** MATCH_RECOGNIZE-style pattern spans — PATTERN (CLICK+ PURCHASE): per
    * user, over (ts, event_id)-ordered events, every MAXIMAL run of
    * consecutive 'click' rows whose immediately-following event is a
    * 'purchase'. Spark has no native MATCH_RECOGNIZE; this is the
    * gaps-and-islands encoding of the contiguous-run pattern class (the
    * complement of q_seq_pattern's subsequence-regex class): a global
    * per-user row number, a second row number over the click subsequence
    * (their difference is constant exactly on a consecutive-click run),
    * one aggregate per run, and one equi-join probing the run's successor
    * row for the terminal symbol. Maximality is structural — the row
    * AFTER the run is never a click (it either matched 'purchase' or the
    * run is dropped) and the row before the run's first click broke the
    * island. All ids/counts are exact longs; purchase_value is a per-row
    * double passthrough.
    *
    * Scale: one repartition(user_id) feeds both row-number windows, the
    * run aggregate, and the successor self-join (all keyed on user_id) —
    * a single shuffle end-to-end, no per-user state beyond the window
    * sort, runs never materialize more than one row each. */
  def qMatchSpans(s: SparkSession, sf: String): DataFrame = {
    val wAll = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wClick = Window.partitionBy("user_id").orderBy(col("rn").asc)
    val o = Tables.events(s, sf)
      .repartition(col("user_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(wAll))
    val runs = o.filter(col("event_type") === "click")
      .withColumn("grp", col("rn") - row_number().over(wClick))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("n_clicks"),
        expr("min_by(event_id, rn)").as("start_id"),
        expr("max_by(event_id, rn)").as("end_id"),
        max("rn").as("r1"))
    // successor probe: renamed projection (not an alias self-join of the
    // same lineage — Spark's ambiguous-self-join detection would trip on
    // runs ⨝ o when runs derives from o)
    val succ = o.select(col("user_id").as("u2"), col("rn").as("rn2"),
      col("event_type").as("t2"), col("event_id").as("purchase_id"),
      col("value").as("purchase_value"))
    runs.join(succ,
        col("user_id") === col("u2") && col("rn2") === col("r1") + 1 &&
          col("t2") === "purchase")
      .select(col("user_id"), col("start_id"), col("end_id"), col("n_clicks"),
        col("purchase_id"), col("purchase_value"))
      .orderBy("user_id", "start_id")
  }

  // shared EWMA fragment: weights are exact powers of two, so every term
  // is rounding-free and the whole expression is per-row IEEE arithmetic
  // with identical shape on both engines (Det rule 1)
  private val ewmaWeights =
    Seq("0.5", "0.25", "0.125", "0.0625", "0.03125", "0.015625", "0.0078125")
  private[graft] val ewmaExpr: String = {
    val num = ewmaWeights.zipWithIndex.map { case (w, i) =>
      s" + (CASE WHEN l${i + 1} IS NULL THEN 0.0 ELSE $w * l${i + 1} END)"
    }.mkString
    val den = ewmaWeights.zipWithIndex.map { case (w, i) =>
      s" + (CASE WHEN l${i + 1} IS NULL THEN 0.0 ELSE $w END)"
    }.mkString
    s"(v$num) / (1.0$den)"
  }

  /** Exponentially weighted moving average of the per-type daily mean
    * value — the smoothing primitive of anomaly/trend dashboards. The
    * textbook recursive EWMA is not expressible as a window aggregate
    * (each output feeds the next); the production form at scale is the
    * TRUNCATED KERNEL: alpha = 1/2 over the last 8 series points, weights
    * renormalized over the points actually present (series heads don't
    * dilute toward zero). Weights are exact powers of two and the daily
    * means come off an exact decimal sum, so the whole kernel is
    * bit-identical cross-engine with no decimal machinery in the window.
    * The 1/2^7 truncation tail is below 1% of the kernel mass.
    *
    * Scale: the heavy pass is the daily pre-aggregation (partial+final
    * on (event_type, day)); the lag chain then runs over series rows —
    * #series × #days, partitioned per series. Series count scales with
    * the key domain, so no single-partition window at production key
    * cardinalities. */
  def qEwma(s: SparkSession, sf: String): DataFrame = {
    val wSeries = Window.partitionBy("event_type").orderBy(col("day").asc)
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(expr(Det.avgDec2("value")).as("v"))
    ewmaWeights.indices
      .foldLeft(daily) { (d, i) =>
        d.withColumn(s"l${i + 1}", lag(col("v"), i + 1).over(wSeries))
      }
      .withColumn("ewma", expr(ewmaExpr))
      .select("event_type", "day", "v", "ewma")
      .orderBy("event_type", "day")
  }

  /** Block-size cap for [[qErBlocking]] — a (segment, bin, pass) block
    * bigger than this has lost its discriminating power and is RE-BLOCKED
    * by PassJoin name segments before the self-join (purged only if still
    * oversized after re-blocking — the q_dedup_near BucketCap discipline,
    * mirrored in the oracle). */
  private[graft] val ErBlockCap = 256L

  /** Cap for PassJoin sub-blocks, HALF the primary cap: the adaptive bin
    * width is sized for an expected occupancy of [[ErBlockCap]]/2, so a
    * sub-block still above that target says the segment failed to refine
    * its oversized parent — it is constant (or near-constant) on the
    * block, contributes no discriminating power, and would simply
    * replicate the quadratic mass the parent's purge existed to kill.
    * Measured at 1000×: the name template's leading-zero digit segment
    * ("0000" on every row) re-formed ~73% of the purged mass as
    * just-under-cap sub-blocks until this rule cut it (178 → ~10 raw
    * pairs/row). A true near-dup pair loses nothing: it shares its
    * LETTER segments, whose sub-blocks are tiny. */
  private[graft] val ErSubBlockCap = ErBlockCap / 2

  /** Edit-distance match threshold for [[qErBlocking]]'s scoring rule —
    * ONE definition shared by the score predicate, the PassJoin segment
    * count ([[ErNameSegments]] = this + 1: pigeonhole over τ+1 contiguous
    * segments), and the oracle string. */
  private[graft] val ErEditMax = 4
  /** PassJoin segment count: τ+1 segments guarantee two equal-length
    * names within [[ErEditMax]] substitutions share at least one segment
    * verbatim. */
  private[graft] val ErNameSegments = ErEditMax + 1

  /** Floor for [[qErBlocking]]'s adaptive bin width, in cents. The
    * half-bin-offset second pass guarantees any pair within width/2 of
    * each other shares a bin in SOME pass, so the floor pins the
    * GUARANTEED recall radius at ErMinWidth/2 = 50 cents — the
    * near-identical-balance band real duplicate records (copies with
    * name typos) live in — at every corpus size. */
  private[graft] val ErMinWidth = 100L

  /** Entity-resolution candidate generation with multi-pass blocking —
    * the record-linkage front end (find likely-duplicate customer
    * accounts without an all-pairs scan). Records are blocked on
    * (segment, balance bin) under TWO offset binnings (the second
    * shifted by half a bin), so a close-balance pair can never straddle
    * both binnings — the standard multi-pass fix for blocking's
    * boundary-miss problem. Candidate pairs are scored (name edit
    * distance, exact balance-cents gap) and flagged when both features
    * agree. Oversized blocks (cap [[ErBlockCap]]) are RE-BLOCKED with a
    * finer key before the self-join — the production-ER escalation: each
    * member splits its name into [[ErNameSegments]] = τ+1 contiguous
    * PassJoin segments (Li et al. 2011) and the sub-block key becomes
    * (block, segment index, segment text); by pigeonhole, two equal-length
    * names within τ = [[ErEditMax]] substitutions leave at least one
    * segment untouched, so a true duplicate pair inside an oversized
    * block still shares a sub-block (unequal-length pairs lose the
    * guarantee — full PassJoin's shifted-substring match is the
    * generalization; account-name typos are overwhelmingly
    * length-preserving, as is the fixture's plant). A sub-block STILL
    * over the cap (every copy of a boilerplate name) is purged — that
    * mass is duplicate-farm, not signal. Blocks at or under the cap join
    * directly on a degenerate sub-key, so the re-blocking costs nothing
    * until a block actually exceeds the cap. Balances shift by +100000
    * cents before binning so floor-division semantics never see a
    * negative operand (Spark div truncates toward zero; DuckDB //
    * floors).
    *
    * The bin width is CORPUS-ADAPTIVE, derived in-plan from a broadcast
    * 1-row (count, min, max) aggregate — the semK/ivfNlist clamped-sizing
    * discipline applied to blocking: width = span·cap/(2n) targets an
    * expected per-bin occupancy of cap/2 across segments, so purges stay
    * the exception and recall stays FLAT as the corpus grows. A fixed
    * width does the opposite: at 100× nearly every block exceeds the cap,
    * is purged, and recall collapses monotonically with corpus size (the
    * round-14 defect this replaces). The width is floored at
    * [[ErMinWidth]] so near-identical-balance pairs (diff ≤ width/2 = 50
    * cents) are ALWAYS candidates; the floor re-binds the cap around
    * n ≈ cap·span/(2·ErMinWidth) ≈ 1.4e9/100 rows (≈1000× here) — past
    * that, balance alone is exhausted as a blocking feature, and exactly
    * there the PassJoin name-segment RE-BLOCKING above takes over: the
    * floor-bound bins exceed the cap, re-block on (segment idx, segment
    * text), and recall stays floored instead of collapsing (measured at
    * 1000×: ScaleSpec deep leg + the four-decade pair-mass row in PERF.md).
    *
    * Scale: pair fanout is Σ|block|² ≈ #blocks·(cap/2)² with #blocks ∝ n
    * — LINEAR pair mass per corpus row (measured flat across
    * sf0.1/10×/100× in PERF.md; recall floor in ScaleSpec). The blocked
    * self-join shuffles on the block key — never a cross join. */
  def qErBlocking(s: SparkSession, sf: String): DataFrame =
    erCandidates(Tables.customer(s, sf))

  /** The final blocked frame (seg, bin, pass, sidx, sstr, k) the
    * candidate self-join runs on — factored out of [[erCandidates]] so
    * the raw pair mass Σ C(|block|,2) can be measured from block SIZES
    * alone (one groupBy, no join): at 1000× the self-join's ~1G raw
    * pairs out-spill a single box's /tmp even under a count, while the
    * size-derived mass is exact and corpus-cheap (PERF.md, "Round 17: ER
    * pair mass measured at the FIFTH decade"). */
  /** Normalized (k, n, seg, cents) frame shared by the blocking and the
    * scoring re-attach. */
  private def erCust(customer: DataFrame): DataFrame =
    customer.select(
      col("c_custkey").as("k"), col("c_name").as("n"), col("c_mktsegment").as("seg"),
      (expr("CAST(round(c_acctbal * 100) AS BIGINT)") + lit(100000L)).as("cents"))

  private[graft] def erKeptBlocks(customer: DataFrame): DataFrame = {
    val cust = erCust(customer)
    val stats = cust.agg(count(lit(1)).as("n_c"),
      min("cents").as("mn"), max("cents").as("mx"))
    val cw = cust.crossJoin(broadcast(stats))
      .withColumn("bw", expr(
        s"greatest(${ErMinWidth}L, ((mx - mn + 1L) * ${ErBlockCap}L) div (2L * n_c))"))
      .select("k", "n", "seg", "cents", "bw")
    // cached: the two-pass block frame feeds THREE consumers below (size
    // census, under-cap anti route, oversized semi route) — uncached, each
    // consumer replays the scan + stats broadcast + union (and the final
    // self-join doubles all of it again via both join sides)
    val blocks = Caches.registered(
      cw.withColumn("bin", expr("cents div bw")).withColumn("pass", lit(0))
        .unionAll(
          cw.withColumn("bin", expr("(cents + bw div 2) div bw")).withColumn("pass", lit(1))))
    // block sizes as a map-side-combinable groupBy, routed back against
    // the OVERSIZED-key frame only — NOT count().over(Window.partitionBy):
    // the oversized keys are BY DEFINITION the hot ones, and a window
    // would funnel each hot block's whole membership through one sort
    // task just to learn it is oversized (the q_dedup_substring lesson).
    // Both routes join the same tiny frame (at most rows/cap oversized
    // keys exist), so the planner/AQE broadcasts it: small = anti, big =
    // semi, and the block frame never reshuffles for the routing.
    val bigKeys = blocks.groupBy("seg", "bin", "pass")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > ErBlockCap).select("seg", "bin", "pass")
    // at-or-under-cap blocks pair directly under a degenerate sub-key
    val small = blocks.join(bigKeys, Seq("seg", "bin", "pass"), "left_anti")
      .select(col("seg"), col("bin"), col("pass"),
        lit(-1).as("sidx"), lit("").as("sstr"), col("k"))
    // oversized blocks re-block on PassJoin name segments: τ+1 contiguous
    // even-length-split segments per member, sub-key = (idx, text); the
    // explode is bounded to oversized-block members only
    val segArm = (0 until ErNameSegments).map(i =>
      s"struct($i AS sidx, substring(n, ($i * length(n)) div $ErNameSegments + 1, " +
        s"(($i + 1) * length(n)) div $ErNameSegments - ($i * length(n)) div $ErNameSegments) AS sstr)")
      .mkString("array(", ", ", ")")
    val bigSeg = blocks.join(bigKeys, Seq("seg", "bin", "pass"), "left_semi")
      .select(col("seg"), col("bin"), col("pass"), col("k"),
        explode(expr(segArm)).as("sg"))
      .select(col("seg"), col("bin"), col("pass"),
        col("sg.sidx").as("sidx"), col("sg.sstr").as("sstr"), col("k"))
    // re-apply a HALVED cap on the sub-blocks (see [[ErSubBlockCap]]): a
    // segment that cannot refine its parent below the width rule's target
    // occupancy is constant on the block — boilerplate, purged for real
    // (anti against the oversized sub-keys — same tiny-hot-side rule)
    val hotSub = bigSeg.groupBy("seg", "bin", "pass", "sidx", "sstr")
      .agg(count(lit(1)).as("ssz")).filter(col("ssz") > ErSubBlockCap)
      .select("seg", "bin", "pass", "sidx", "sstr")
    val bigKept = bigSeg.join(hotSub, Seq("seg", "bin", "pass", "sidx", "sstr"), "left_anti")
    small.unionAll(bigKept)
  }

  /** The blocking + scoring core over a raw customer frame — factored so
    * ScaleSpec can plant duplicate records and assert the recall floor
    * at several corpus sizes. */
  private[graft] def erCandidates(customer: DataFrame): DataFrame = {
    val cust = erCust(customer)
    // the self-join and the cross-pass DISTINCT carry ONLY the key pair —
    // names and cents are functions of the key, so deduping the full
    // payload shuffles ~6× the bytes for the same pair set; attributes
    // re-attach AFTER the dedup by two customer-domain equi-joins (the
    // planner broadcasts them at small SFs, shuffles on k at scale), and
    // levenshtein runs once per DISTINCT pair either way
    // cached: the blocked frame is BOTH sides of the self-join — uncached,
    // Spark evaluates the full blocking lineage twice (the r17 baseline
    // plan carried 160+ Exchange nodes from exactly this duplication)
    val kept = Caches.registered(erKeptBlocks(customer))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.seg") === col("b.seg") && col("a.bin") === col("b.bin") &&
          col("a.pass") === col("b.pass") && col("a.sidx") === col("b.sidx") &&
          col("a.sstr") === col("b.sstr") && col("a.k") < col("b.k"))
      .select(col("a.k").as("k_a"), col("b.k").as("k_b"))
      .distinct()
    pairs
      .join(cust.select(col("k").as("k_a"), col("n").as("n_a"),
        col("cents").as("c_a")), Seq("k_a"))
      .join(cust.select(col("k").as("k_b"), col("n").as("n_b"),
        col("cents").as("c_b")), Seq("k_b"))
      .select(col("k_a"), col("k_b"),
        levenshtein(col("n_a"), col("n_b")).cast("long").as("name_dist"),
        abs(col("c_a") - col("c_b")).as("bal_diff_cents"))
      .withColumn("is_match",
        (col("bal_diff_cents") <= 2500 && col("name_dist") <= ErEditMax).cast("int"))
      .orderBy("k_a", "k_b")
  }

  /** Interval-to-bin overlap allocation join: per-user activity sessions
    * (30-minute inactivity gap) allocated to every UTC day they overlap,
    * with the exact µs of overlap credited to each day — the
    * time-in-period allocation behind usage metering and capacity
    * reports. A session spanning midnight contributes to BOTH days,
    * which a naive date_trunc(start) single-bin groupBy gets wrong.
    * Sessionization is the brk-flag + prefix-sum window (q_sessionize's
    * idiom); the overlap join explodes each interval to the days it
    * spans (bounded by span length — sessions are gap-bounded and short)
    * and clips with greatest/least on exact epoch-µs longs (never NULL,
    * so the engines' greatest-NULL split is moot).
    *
    * Scale: one repartition(user_id) covers the sessionize window and
    * the session aggregate; the day explode is O(session days); the
    * final groupBy(day) shuffles session-count-sized data, not events. */
  def qIntervalAlloc(s: SparkSession, sf: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy(col("us").asc)
    val dayUs = 86400000000L
    val sessions = Tables.events(s, sf)
      .repartition(col("user_id"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag("us", 1).over(wU) > lit(1800000000L) ||
          lag("us", 1).over(wU).isNull, 1L).otherwise(0L))
      .withColumn("sid",
        sum("brk").over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("a"), max("us").as("b"))
    sessions
      .withColumn("day", explode(sequence(
        expr(s"a div $dayUs"), expr(s"b div $dayUs"))))
      .select(col("day"),
        (least(col("b"), (col("day") + 1) * dayUs) -
          greatest(col("a"), col("day") * dayUs)).as("ov_us"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"), sum("ov_us").as("covered_us"))
      .orderBy("day")
  }

  /** Offline changepoint detection per event-type series: the day whose
    * prefix/suffix split maximizes |mean(daily count before) −
    * mean(daily count after)| — the single-changepoint reduction of
    * CUSUM-style level-shift scans over operational metrics. The corpus
    * pass is ONE map-side-combinable rollup to (type, day) — bounded by
    * the DOMAIN (types × days, ~150 rows here, ~thousands at any scale)
    * — and every window/argmax below runs on that rollup, so the scan
    * stays corpus-linear and the quadratic candidate-split enumeration
    * touches only domain-sized data. Means are exact-integer ratios
    * (one IEEE division each, identical operand values on both
    * engines); |Δ| compares exactly; argmax ties break on earliest day.
    * Splits are prefix-nonempty AND suffix-nonempty by construction
    * (the last day is excluded as a boundary). */
  def qChangepoint(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val wPre = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("pre_n", sum("n").over(wPre))
      .withColumn("pre_d", count(lit(1)).over(wPre))
      .withColumn("tot_n", sum("n").over(wAll))
      .withColumn("tot_d", count(lit(1)).over(wAll))
      .filter(col("pre_d") < col("tot_d"))
      .withColumn("mean_before",
        expr("CAST(pre_n AS DOUBLE) / CAST(pre_d AS DOUBLE)"))
      .withColumn("mean_after",
        expr("CAST(tot_n - pre_n AS DOUBLE) / CAST(tot_d - pre_d AS DOUBLE)"))
      .withColumn("delta", expr("abs(mean_before - mean_after)"))
    val wBest = Window.partitionBy("event_type")
      .orderBy(col("delta").desc, col("day").asc)
    scored.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("change_day"),
        col("mean_before"), col("mean_after"), col("delta"))
      .orderBy("event_type")
  }

  /** Top-10 user journey prefixes: each user's first three event types
    * (by ts, event_id tiebreak) joined into a '>'-path, counted across
    * users, global top-10 by (count desc, path asc) — the entry-path
    * mining behind onboarding analytics. The row_number window and the
    * per-user pivot share ONE user_id hash partitioning (repartition
    * before the window, groupBy reuses it — the q_sessionize idiom); the
    * path rollup is domain-bounded (≤ 5³ + shorter prefixes) and the
    * top-10 is a TakeOrderedAndProject, never a global sort. Users with
    * fewer than three events keep their short path (concat_ws skips the
    * NULL slots on both engines — DuckDB's concat_ws has the same
    * NULL-skipping contract). */
  def qPathTopk(s: SparkSession, sf: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val first3 = Tables.events(s, sf)
      .repartition(col("user_id"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(wU))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("e1"),
        max(when(col("rn") === 2, col("event_type"))).as("e2"),
        max(when(col("rn") === 3, col("event_type"))).as("e3"))
    first3
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_changepoint" -> qChangepoint _,
    "q_path_topk" -> qPathTopk _,
    "q_match_spans" -> qMatchSpans _,
    "q_ewma" -> qEwma _,
    "q_er_blocking" -> qErBlocking _,
    "q_interval_alloc" -> qIntervalAlloc _,
    "q_qq_plot" -> qQqPlot _,
    "q_conversion_lag" -> qConversionLag _,
    "q_autocorr" -> qAutocorr _,
    "q_ks_test" -> qKsTest _,
    "q_chi2_drift" -> qChi2Drift _,
    "q_ab_wilson" -> qAbWilson _,
    "q_rfm_segment" -> qRfmSegment _,
    "q_seasonal_profile" -> qSeasonalProfile _,
    "q_rolling_corr" -> qRollingCorr _,
    "q_churn_matrix" -> qChurnMatrix _,
    "q_cohort_ltv" -> qCohortLtv _,
    "q_top_movers" -> qTopMovers _,
    "q_lateness_audit" -> qLatenessAudit _,
    "q_set_overlap" -> qSetOverlap _,
    "q_golden_record" -> qGoldenRecord _,
    "q_scd2" -> qScd2 _,
    "q_cdc_apply" -> qCdcApply _,
    "q_rolling_active" -> qRollingActive _,
    "q_share_of_total" -> qShareOfTotal _,
    "q_ab_ttest" -> qAbTtest _,
    "q_group_advantage" -> qGroupAdvantage _,
    "q_anomaly_days" -> qAnomalyDays _,
    "q_retention" -> qRetention _,
    "q_event_transitions" -> qEventTransitions _,
    "q_win_streaks" -> qWinStreaks _,
    "q_seq_pattern" -> qSeqPattern _,
    "q_interval_union" -> qIntervalUnion _,
    "q_time_weighted_avg" -> qTimeWeightedAvg _,
  )

  val oracle: Map[String, String] = Map(
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, day,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY day
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre_n,
        |         count(*) OVER (PARTITION BY event_type ORDER BY day
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre_d,
        |         sum(n) OVER (PARTITION BY event_type) AS tot_n,
        |         count(*) OVER (PARTITION BY event_type) AS tot_d
        |  FROM daily),
        |deltas AS (
        |  SELECT event_type, day,
        |         CAST(pre_n AS DOUBLE) / CAST(pre_d AS DOUBLE) AS mean_before,
        |         CAST(tot_n - pre_n AS DOUBLE) / CAST(tot_d - pre_d AS DOUBLE) AS mean_after
        |  FROM scored WHERE pre_d < tot_d),
        |ranked AS (
        |  SELECT *, abs(mean_before - mean_after) AS delta,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY abs(mean_before - mean_after) DESC, day) AS rn
        |  FROM deltas)
        |SELECT event_type, day AS change_day, mean_before, mean_after, delta
        |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q_path_topk" ->
      """WITH o AS (SELECT user_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |           FROM events),
        |f AS (SELECT user_id,
        |             max(CASE WHEN rn = 1 THEN event_type END) AS e1,
        |             max(CASE WHEN rn = 2 THEN event_type END) AS e2,
        |             max(CASE WHEN rn = 3 THEN event_type END) AS e3
        |      FROM o WHERE rn <= 3 GROUP BY 1)
        |SELECT concat_ws('>', e1, e2, e3) AS path, count(*) AS n_users
        |FROM f GROUP BY 1 ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
    "q_match_spans" ->
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |           FROM events),
        |c AS (SELECT user_id, event_id, rn,
        |             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |      FROM o WHERE event_type = 'click'),
        |runs AS (SELECT user_id, grp, count(*) AS n_clicks,
        |                min_by(event_id, rn) AS start_id, max_by(event_id, rn) AS end_id,
        |                max(rn) AS r1
        |         FROM c GROUP BY 1, 2)
        |SELECT r.user_id, start_id, end_id, n_clicks,
        |       o.event_id AS purchase_id, o.value AS purchase_value
        |FROM runs r JOIN o ON o.user_id = r.user_id AND o.rn = r.r1 + 1
        |WHERE o.event_type = 'purchase'
        |ORDER BY r.user_id, start_id""".stripMargin,
    "q_ewma" ->
      s"""WITH daily AS (
        |  SELECT event_type,
        |         date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400 AS day,
        |         ${Det.avgDec2("value")} AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, v,
        |${(1 to 7).map(i => s"             lag(v, $i) OVER (PARTITION BY event_type ORDER BY day) AS l$i").mkString(",\n")}
        |      FROM daily)
        |SELECT event_type, day, v, $ewmaExpr AS ewma
        |FROM l ORDER BY event_type, day""".stripMargin,
    "q_er_blocking" ->
      s"""WITH cust AS (SELECT c_custkey AS k, c_name AS n, c_mktsegment AS seg,
        |                     CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS cents
        |              FROM customer),
        |st AS (SELECT count(*) AS n_c, min(cents) AS mn, max(cents) AS mx FROM cust),
        |cw AS (SELECT k, n, seg, cents,
        |              greatest($ErMinWidth, ((mx - mn + 1) * $ErBlockCap) // (2 * n_c)) AS bw
        |       FROM cust, st),
        |blocks AS (SELECT k, n, seg, cents, cents // bw AS bin, 0 AS pass FROM cw
        |           UNION ALL
        |           SELECT k, n, seg, cents, (cents + bw // 2) // bw AS bin, 1 AS pass FROM cw),
        |bcnt AS (SELECT seg, bin, pass, count(*) AS bsz FROM blocks GROUP BY 1, 2, 3),
        |small AS (SELECT b.seg, b.bin, b.pass, -1 AS sidx, '' AS sstr, b.k, b.n, b.cents
        |          FROM blocks b JOIN bcnt USING (seg, bin, pass) WHERE bsz <= $ErBlockCap),
        |bigseg AS (SELECT b.seg, b.bin, b.pass, CAST(i AS INT) AS sidx,
        |                  substring(b.n, (i * length(b.n)) // $ErNameSegments + 1,
        |                            ((i + 1) * length(b.n)) // $ErNameSegments
        |                              - (i * length(b.n)) // $ErNameSegments) AS sstr,
        |                  b.k, b.n, b.cents
        |           FROM blocks b JOIN bcnt USING (seg, bin, pass),
        |                UNNEST(range(0, $ErNameSegments)) AS t(i)
        |           WHERE bsz > $ErBlockCap),
        |scnt AS (SELECT seg, bin, pass, sidx, sstr, count(*) AS ssz
        |         FROM bigseg GROUP BY 1, 2, 3, 4, 5),
        |bigkept AS (SELECT b.seg, b.bin, b.pass, b.sidx, b.sstr, b.k, b.n, b.cents
        |            FROM bigseg b JOIN scnt USING (seg, bin, pass, sidx, sstr)
        |            WHERE ssz <= $ErSubBlockCap),
        |kept AS (SELECT * FROM small UNION ALL SELECT * FROM bigkept),
        |pairs AS (SELECT DISTINCT a.k AS k_a, b.k AS k_b, a.n AS n_a, b.n AS n_b,
        |                 a.cents AS c_a, b.cents AS c_b
        |          FROM kept a JOIN kept b ON a.seg = b.seg AND a.bin = b.bin
        |               AND a.pass = b.pass AND a.sidx = b.sidx AND a.sstr = b.sstr
        |               AND a.k < b.k)
        |SELECT k_a, k_b, CAST(levenshtein(n_a, n_b) AS BIGINT) AS name_dist,
        |       abs(c_a - c_b) AS bal_diff_cents,
        |       CAST(CASE WHEN abs(c_a - c_b) <= 2500 AND levenshtein(n_a, n_b) <= $ErEditMax
        |                 THEN 1 ELSE 0 END AS INT) AS is_match
        |FROM pairs ORDER BY k_a, k_b""".stripMargin,
    "q_interval_alloc" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |s AS (SELECT user_id, us,
        |             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |                    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM o),
        |s2 AS (SELECT user_id, us,
        |              sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |       FROM s),
        |iv AS (SELECT user_id, sid, min(us) AS a, max(us) AS b FROM s2 GROUP BY 1, 2),
        |alloc AS (SELECT unnest(generate_series(a // 86400000000, b // 86400000000)) AS day, a, b
        |          FROM iv)
        |SELECT day, count(*) AS n_sessions,
        |       CAST(sum(least(b, (day + 1) * 86400000000) - greatest(a, day * 86400000000)) AS BIGINT) AS covered_us
        |FROM alloc GROUP BY day ORDER BY day""".stripMargin,
    "q_qq_plot" ->
      """WITH a0 AS (SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |            FROM events WHERE event_type = 'click'),
        |a AS (SELECT unnest(qs) AS q_click, generate_subscripts(qs, 1) AS decile FROM a0),
        |b0 AS (SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |       FROM events WHERE event_type = 'view'),
        |b AS (SELECT unnest(qs) AS q_view, generate_subscripts(qs, 1) AS decile FROM b0)
        |SELECT CAST(a.decile AS INT) AS decile, q_click, q_view,
        |       q_click - q_view AS diff
        |FROM a JOIN b USING (decile) ORDER BY decile""".stripMargin,
    "q_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec
        |           FROM events),
        |s AS (SELECT user_id, min(sec) AS s_sec FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.sec) AS p_sec
        |      FROM e JOIN s USING (user_id)
        |      WHERE event_type = 'purchase' AND sec >= s_sec GROUP BY 1),
        |u AS (SELECT s.user_id, s_sec // 604800 AS cohort_week,
        |             p_sec, p_sec - s_sec AS lag_sec
        |      FROM s LEFT JOIN p USING (user_id))
        |SELECT cohort_week, count(*) AS n_signups,
        |       count(p_sec) AS n_converted,
        |       quantile_cont(lag_sec, 0.5) AS median_lag_sec,
        |       max(lag_sec) AS max_lag_sec,
        |       CAST(count(p_sec) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conversion_rate
        |FROM u GROUP BY cohort_week ORDER BY cohort_week""".stripMargin,
    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 86400 AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT x.event_type, 1 AS lag, x.cnt AS xv, y.cnt AS yv
        |  FROM daily x JOIN daily y ON x.event_type = y.event_type AND x.day = y.day + 1
        |  UNION ALL
        |  SELECT x.event_type, 7 AS lag, x.cnt AS xv, y.cnt AS yv
        |  FROM daily x JOIN daily y ON x.event_type = y.event_type AND x.day = y.day + 7),
        |m AS (
        |  SELECT event_type, lag, count(*) AS n_pairs,
        |         CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
        |         CAST(sum(xv * yv) AS BIGINT) AS sxy,
        |         CAST(sum(xv * xv) AS BIGINT) AS sxx,
        |         CAST(sum(yv * yv) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        |       CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0 THEN NULL ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) END AS r
        |FROM m ORDER BY event_type, lag""".stripMargin,
    "q_ks_test" ->
      """WITH e AS (SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
        |           FROM events WHERE event_type IN ('click', 'view')),
        |v AS (SELECT value, CAST(sum(is_a) AS BIGINT) AS ca,
        |             CAST(count(*) - sum(is_a) AS BIGINT) AS cb
        |      FROM e GROUP BY 1),
        |c AS (SELECT value,
        |             CAST(sum(ca) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        |             CAST(sum(cb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        |      FROM v),
        |t AS (SELECT CAST(sum(is_a) AS BIGINT) AS n_a,
        |             CAST(count(*) - sum(is_a) AS BIGINT) AS n_b FROM e)
        |SELECT n_a, n_b, value AS d_at_value,
        |       abs(CAST(cum_a AS DOUBLE) / n_a - CAST(cum_b AS DOUBLE) / n_b) AS ks_d
        |FROM c, t
        |ORDER BY ks_d DESC, value ASC LIMIT 1""".stripMargin,
    "q_chi2_drift" ->
      """WITH e AS (SELECT event_type,
        |                  date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec
        |           FROM events),
        |m AS (SELECT (min(sec) + max(sec)) // 2 AS mid FROM e),
        |b AS (SELECT event_type,
        |             CAST(sum(CASE WHEN sec < mid THEN 1 ELSE 0 END) AS BIGINT) AS early_n,
        |             CAST(count(*) - sum(CASE WHEN sec < mid THEN 1 ELSE 0 END) AS BIGINT) AS late_n
        |      FROM e, m GROUP BY 1),
        |g AS (SELECT CAST(sum(early_n) AS BIGINT) AS tot_early,
        |             CAST(sum(early_n + late_n) AS BIGINT) AS grand FROM b),
        |x AS (SELECT event_type, early_n, late_n,
        |             CAST((early_n + late_n) * tot_early AS DOUBLE) / grand AS expected_early
        |      FROM b, g)
        |SELECT event_type, early_n, late_n, expected_early,
        |       (early_n - expected_early) * (early_n - expected_early) / expected_early AS chi2_term
        |FROM x ORDER BY event_type""".stripMargin,
    "q_ab_wilson" ->
      s"""WITH a AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
         |                  count(*) AS n, count(CASE WHEN value > 50.0 THEN 1 END) AS conv
         |           FROM events GROUP BY 1, 2),
         |p AS (SELECT event_type, arm, n, conv, CAST(n AS DOUBLE) AS nd,
         |             CAST(conv AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat FROM a)
         |SELECT event_type, arm, n, conv, p_hat,
         |       ${wilsonExpr("-")} AS ci_lo,
         |       ${wilsonExpr("+")} AS ci_hi
         |FROM p ORDER BY event_type, arm""".stripMargin,
    "q_rfm_segment" ->
      """WITH c AS (
        |  SELECT o_custkey, count(*) AS f,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents,
        |         date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-12-31') AS r_days
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CASE WHEN r_days <= 365 THEN 3 WHEN r_days <= 1095 THEN 2 ELSE 1 END AS r_score,
        |         CASE WHEN f >= 12 THEN 3 WHEN f >= 9 THEN 2 ELSE 1 END AS f_score,
        |         CASE WHEN m_cents >= 300000000 THEN 3 WHEN m_cents >= 200000000 THEN 2 ELSE 1 END AS m_score,
        |         m_cents
        |  FROM c)
        |SELECT concat('r', r_score, 'f', f_score, 'm', m_score) AS segment,
        |       r_score, f_score, m_score,
        |       count(*) AS n_customers, CAST(sum(m_cents) AS BIGINT) AS sum_cents
        |FROM s GROUP BY r_score, f_score, m_score
        |ORDER BY segment""".stripMargin,
    // Same epoch-day weekday arithmetic ((days + 4) % 7, Sunday = 0) so
    // neither engine's dayofweek()/week-start locale is in play.
    "q_seasonal_profile" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |         count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS sv
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type,
         |       CAST((date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS INTEGER) AS dow,
         |       CAST(sum(n) AS BIGINT) AS n_events,
         |       count(*) AS n_days,
         |       CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / count(*) AS events_per_day,
         |       ${Det.liftDec2("sum(sv)")} AS sum_value
         |FROM daily GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rolling_corr" ->
      s"""WITH pair AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1),
        |m AS (
        |  SELECT day, cnt_a, cnt_b,
        |         count(*) OVER w AS n,
        |         sum(cnt_a) OVER w AS sa, sum(cnt_b) OVER w AS sb,
        |         sum(cnt_a * cnt_a) OVER w AS qa, sum(cnt_b * cnt_b) OVER w AS qb,
        |         sum(cnt_a * cnt_b) OVER w AS pab
        |  FROM pair
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT day, cnt_a, cnt_b, $rollCorrFinish AS corr30
        |FROM m ORDER BY day""".stripMargin,
    "q_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT * FROM o WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        |       event_type, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM c ORDER BY user_id, version""".stripMargin,
    // Independent brute-force formulation: range join + count DISTINCT —
    // agreement proves the coverage-interval algebra.
    "q_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT DISTINCT d FROM ud)
        |SELECT days.d AS day, count(DISTINCT ud.user_id) AS wau
        |FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cdc_apply" ->
      """WITH latest AS (
        |  SELECT o_custkey, o_orderstatus AS op_status, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT c_custkey, c_name, c_mktsegment,
        |       CAST(CASE WHEN op_status IS NULL THEN CAST(c_acctbal AS DECIMAL(18,2))
        |            ELSE CAST(c_acctbal AS DECIMAL(18,2)) + CAST(o_totalprice AS DECIMAL(18,2)) END
        |            AS DOUBLE) AS balance
        |FROM customer LEFT JOIN (SELECT * FROM latest WHERE rn = 1) l
        |  ON c_custkey = l.o_custkey
        |WHERE op_status IS NULL OR op_status <> 'F'
        |ORDER BY c_custkey""".stripMargin,
    "q_churn_matrix" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS INT) AS w
        |  FROM events),
        |fw AS (SELECT user_id, min(w) AS first_w FROM uw GROUP BY user_id),
        |mx AS (SELECT max(w) AS max_w FROM uw),
        |active AS (
        |  SELECT c.w,
        |         CASE WHEN c.w = f.first_w THEN 'new'
        |              WHEN p.user_id IS NOT NULL THEN 'retained'
        |              ELSE 'resurrected' END AS status
        |  FROM uw c
        |  JOIN fw f ON f.user_id = c.user_id
        |  LEFT JOIN uw p ON p.user_id = c.user_id AND p.w = c.w - 1),
        |churned AS (
        |  SELECT p.w + 1 AS w, 'churned' AS status
        |  FROM uw p LEFT JOIN uw c ON c.user_id = p.user_id AND c.w = p.w + 1, mx
        |  WHERE c.user_id IS NULL AND p.w + 1 <= max_w),
        |allrows AS (SELECT * FROM active UNION ALL SELECT * FROM churned)
        |SELECT w, status, count(*) AS n_users
        |FROM allrows GROUP BY w, status ORDER BY w, status""".stripMargin,
    "q_cohort_ltv" ->
      s"""WITH e AS (
         |  SELECT user_id, value, CAST(ts AS DATE) AS day,
         |         min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
         |  FROM events),
         |d AS (
         |  SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
         |         sum(CAST(value AS DECIMAL(18,2))) AS rev_dec
         |  FROM e GROUP BY 1, 2),
         |c AS (
         |  SELECT cohort_day, day_offset, rev_dec,
         |         sum(rev_dec) OVER (PARTITION BY cohort_day ORDER BY day_offset
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
         |  FROM d)
         |SELECT cohort_day, day_offset,
         |       ${Det.liftDec2("rev_dec")} AS revenue,
         |       ${Det.liftDec2("cum_dec")} AS cum_revenue
         |FROM c ORDER BY cohort_day, day_offset""".stripMargin,
    "q_top_movers" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, n,
        |         lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM daily)
        |SELECT event_type, day, n, CAST(prev_n AS BIGINT) AS prev_n,
        |       CAST(n - prev_n AS BIGINT) AS delta
        |FROM l WHERE prev_n IS NOT NULL
        |ORDER BY abs(n - prev_n) DESC, day ASC, event_type ASC LIMIT 20""".stripMargin,
    "q_lateness_audit" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM events),
        |l AS (
        |  SELECT greatest(0, coalesce(prev_max - ts_us, 0)) AS late_us FROM e),
        |b AS (
        |  SELECT CASE WHEN late_us = 0 THEN 'ontime'
        |              WHEN late_us < 60000000 THEN 'lt1m'
        |              WHEN late_us < 3600000000 THEN 'lt1h'
        |              ELSE 'ge1h' END AS bucket, late_us
        |  FROM l)
        |SELECT bucket, count(*) AS n, max(late_us) AS max_late_us
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_set_overlap" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_inter
        |  FROM ut a JOIN ut b USING (user_id)
        |  WHERE a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
        |FROM pairs
        |JOIN sz sa ON sa.event_type = type_a
        |JOIN sz sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q_golden_record" ->
      """SELECT DISTINCT user_id,
        |       CAST(count(*) OVER w AS BIGINT) AS n_events,
        |       first_value(ts) OVER w AS first_ts,
        |       last_value(ts) OVER w AS last_ts,
        |       last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
        |         OVER w AS golden_value,
        |       last_value(event_type) OVER w AS last_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,
    "q_share_of_total" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        |       CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
        |       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS share
        |FROM daily ORDER BY day, event_type""".stripMargin,
    "q_group_advantage" ->
      """WITH e AS (SELECT user_id, event_id,
        |                  CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE user_id % 7 = 0),
        |w AS (SELECT user_id, event_id, cents,
        |             count(*) OVER (PARTITION BY user_id) AS n,
        |             sum(cents) OVER (PARTITION BY user_id) AS sv,
        |             sum(cents * cents) OVER (PARTITION BY user_id) AS qv,
        |             min(cents) OVER (PARTITION BY user_id) AS mn,
        |             max(cents) OVER (PARTITION BY user_id) AS mx
        |      FROM e)
        |SELECT user_id, event_id, cents,
        |       CASE WHEN n < 2 OR mn = mx OR CAST(n AS DOUBLE) * CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) <= 0.0 THEN 0.0 ELSE
        |         CAST(n * cents - sv AS DOUBLE) /
        |         sqrt(CAST(n AS DOUBLE) * CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) END AS adv
        |FROM w ORDER BY user_id, event_id""".stripMargin,
    "q_ab_ttest" ->
      s"""WITH g AS (
         |  SELECT event_type,
         |         count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
         |         count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_b,
         |         ${armSum(0)} AS sv_a, ${armSum(1)} AS sv_b,
         |         ${armSumSq(0)} AS svv_a, ${armSumSq(1)} AS svv_b
         |  FROM events GROUP BY event_type),
         |m AS (
         |  SELECT event_type, n_a, n_b,
         |         sv_a / n_a AS mean_a, sv_b / n_b AS mean_b,
         |         CASE WHEN n_a <= 1 THEN NULL ELSE greatest(0.0, svv_a - sv_a * sv_a / n_a) / (n_a - 1) END AS var_a,
         |         CASE WHEN n_b <= 1 THEN NULL ELSE greatest(0.0, svv_b - sv_b * sv_b / n_b) / (n_b - 1) END AS var_b
         |  FROM g),
         |s AS (SELECT *, sqrt(var_a / n_a + var_b / n_b) AS se FROM m)
         |SELECT event_type, n_a, n_b, mean_a, mean_b,
         |       CASE WHEN se = 0.0 THEN NULL ELSE (mean_a - mean_b) / se END AS t_stat
         |FROM s ORDER BY event_type""".stripMargin,
    "q_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS m, CAST(sum(n) AS BIGINT) AS sx,
        |         CAST(sum(n * n) AS BIGINT) AS sxx
        |  FROM daily GROUP BY event_type),
        |j AS (
        |  SELECT event_type, day, n,
        |         CAST(sx AS DOUBLE) / m AS mu,
        |         sqrt(greatest(0.0, (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m) / m)) AS sigma
        |  FROM daily JOIN st USING (event_type)),
        |zz AS (
        |  SELECT *, CASE WHEN sigma = 0.0 THEN NULL ELSE (CAST(n AS DOUBLE) - mu) / sigma END AS z
        |  FROM j)
        |SELECT event_type, day, n, mu, sigma, z, abs(z) > 2.0 AS is_anomaly
        |FROM zz ORDER BY event_type, day""".stripMargin,
    "q_seq_pattern" ->
      """WITH s AS (
        |  SELECT user_id, count(*) AS n_events,
        |         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, seq,
        |       CAST(len(regexp_extract_all(seq, 'vc+p')) AS INT) AS n_funnel_runs
        |FROM s ORDER BY user_id""".stripMargin,
    "q_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st, epoch_us(ts) + 300000000 AS en
        |  FROM events),
        |m AS (
        |  SELECT *, max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_en
        |  FROM e),
        |f AS (SELECT *, CASE WHEN prev_max_en IS NULL OR st > prev_max_en
        |                     THEN 1 ELSE 0 END AS new_island FROM m),
        |i AS (SELECT *, sum(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
        |g AS (SELECT user_id, island, min(st) AS i_st, max(en) AS i_en FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |       CAST(sum(i_en - i_st) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_time_weighted_avg" ->
      """WITH d AS (
        |  SELECT user_id, value,
        |         epoch_us(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |           - epoch_us(ts) AS dt
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, CAST(sum(dt) AS BIGINT) AS sum_dt_us,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(dt AS DECIMAL(14,0))) * 100
        |            AS DECIMAL(38,0)) AS DOUBLE)
        |         / (100.0 * CAST(sum(dt) AS DOUBLE)) AS twa
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM ud)
        |SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
        |       count(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "q_event_transitions" ->
      """WITH t AS (
        |  SELECT event_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM t WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin,
    "q_win_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id, day,
        |             date_diff('day', DATE '2024-01-01', day)
        |               - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |      FROM ud),
        |s AS (SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, count(*) AS n_streaks,
        |       max(len) AS max_streak
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
