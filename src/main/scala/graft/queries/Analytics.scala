package graft.queries

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 analytics surface: deterministic argmax/argmin, exact median,
  * ordered string aggregation, decimal-exact linear regression, bitmap
  * exact-distinct, time-series resample with LOCF gap fill, ordered funnel
  * analysis, and int8 embedding quantization.
  *
  * Everything here follows the cross-engine determinism rules in [[Det]]:
  * order-dependent float aggregation goes through exact DECIMAL sums; the
  * remaining per-row arithmetic is written with the SAME expression shape
  * on both engines so IEEE evaluation is bit-identical.
  *
  * Scale notes (100 TB): every query is a one- or two-level hash aggregate
  * or an equi-join on its natural key — no collect(), no cross joins, no
  * unpartitioned windows.
  */
object Analytics {
  import Det._

  // Deterministic argmax: max_by/arg_max tie-breaks are unspecified in both
  // engines, so the comparison key folds the tie-breaker into one exact
  // BIGINT: cents(price) * 10^7 + orderkey (cents <= 10^7, orderkey < 10^7
  // at every test SF, so the encoding is collision-free and fits a long).
  private val tieKey =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000 + l_orderkey"

  /** max_by/min_by with a deterministic composite key (B.4 extension).
    * One partial+final hash agg; at 100 TB this is a single shuffle of
    * 3-row partial states per group. */
  def qAggArgmax(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy("l_returnflag")
      .agg(
        expr(s"max_by(l_orderkey, $tieKey)").as("top_order"),
        expr(s"min_by(l_orderkey, $tieKey)").as("low_order"),
        max("l_extendedprice").as("max_price"),
        min("l_extendedprice").as("min_price"))
      .orderBy("l_returnflag")

  /** Exact median (interpolating, like SQL percentile_cont 0.5). Quantities
    * are integral 2-decimal doubles, so the even-count midpoint (a+b)/2 is
    * IEEE-exact on both engines. Spark's median is a full-sort-per-group
    * aggregate — at 100 TB prefer approx_percentile; this is the exact
    * exhibit. */
  def qAggMedian(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        median(col("l_quantity")).as("med_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Ordered string aggregation (LISTAGG semantics) — nondeterministic
    * collection order is made deterministic by sorting the collected set
    * before joining, identically on both engines. collect_set keeps the
    * shuffled state small (5 distinct segments, not 15k rows). */
  def qAggListagg(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .groupBy("c_nationkey")
      .agg(
        array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"),
        count(lit(1)).as("n_cust"))
      .orderBy("c_nationkey")

  // Decimal-exact regression sums: every sum is over exact DECIMAL products
  // (2-decimal x 2-decimal = 4-decimal, precision kept far under Spark's
  // 38-digit cap), surfaced as DOUBLE. The closed-form slope/intercept/corr
  // arithmetic below is then identical IEEE text on both engines.
  //
  // The decimal->double cast goes through an exact decimal STRING: once the
  // scaled integer exceeds 2^53 (syy does), a naive intval/10^scale
  // conversion double-rounds, and the engines disagree by 1 ulp (measured:
  // DuckDB's direct cast is the off-by-one). Both engines' string->double
  // parses are correctly rounded, so the bridge pins the identical double.
  private def dec2dbl(sumExpr: String): String =
    s"CAST(CAST($sumExpr AS VARCHAR(45)) AS DOUBLE)"
  private val regSums = Seq(
    "CAST(count(*) AS DOUBLE) AS nd",
    dec2dbl("sum(CAST(l_quantity AS DECIMAL(18,2)))") + " AS sx",
    dec2dbl("sum(CAST(l_extendedprice AS DECIMAL(18,2)))") + " AS sy",
    dec2dbl("sum(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(12,2)))") + " AS sxy",
    dec2dbl("sum(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)))") + " AS sxx",
    dec2dbl("sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)))") + " AS syy")
  private val slopeExpr = "(nd * sxy - sx * sy) / (nd * sxx - sx * sx)"
  private val regOut = Seq(
    s"$slopeExpr AS slope",
    s"(sy - ($slopeExpr) * sx) / nd AS intercept",
    "(nd * sxy - sx * sy) / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS corr")

  /** Least-squares regression + correlation of extendedprice on quantity
    * per return flag, from exact decimal sums (the distributed moment
    * computation every stats engine runs; one shuffle of 6 partial sums
    * per group). Built-in regr_slope/corr float-sum in arbitrary order and
    * cannot hash-match a second engine; the decimal-moment formulation is
    * exact AND order-free. */
  def qAggRegression(s: SparkSession, sf: String): DataFrame =
    Tables.spread(s, sf, "lineitem", col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(expr(regSums.head), regSums.tail.map(expr): _*)
      .select(col("l_returnflag") +: regOut.map(expr): _*)
      .orderBy("l_returnflag")

  /** Exact COUNT(DISTINCT) via fixed-size mergeable bitmaps
    * (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg):
    * the two-level shape is the scalable exact-distinct at 100 TB — level 1
    * ORs ids into 4 KB bucket bitmaps (partial agg compacts locally), level
    * 2 sums popcounts; nothing resembling a per-key row set ever crosses
    * the wire, unlike count(distinct) whose Expand+shuffle moves every
    * distinct id. */
  def qBitmapDistinct(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .groupBy(col("o_orderstatus"), expr("bitmap_bucket_number(o_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bmp"))
      .groupBy("o_orderstatus")
      .agg(sum(expr("bitmap_count(bmp)")).as("n_distinct_cust"))
      .orderBy("o_orderstatus")

  /** Time-series resample: per-user hourly average (decimal-exact) on a
    * gap-free hour spine, gaps filled by last observation carried forward.
    * The spine covers each user's own min..max observed hour (bounded by
    * data, not by a global range).
    *
    * The naive form — generate the spine, LEFT JOIN the observations,
    * LOCF window over the joined frame — runs THREE output-sized passes
    * (the join's sort, the window, the final sort) over a frame the gaps
    * inflate far beyond the data (105M spine rows from ~20M observations
    * at 100×; measured 19.3 s, PERF.md "Round 15: q_resample_locf
    * certified and cut 19.3 → 6.75 s at 100×"). Here the fill INVERTS:
    * lead(hr) over the OBSERVATIONS (data-sized window) gives each
    * observation its successor, and one explode emits the observation's
    * carried range [hr, next−1h] directly — every filled row is born
    * with its v_filled and is_gap, no spine join, no output-sized window.
    * The only output-sized work left is the final presentation sort, the
    * honest floor for a sorted output contract (measured 11.9 s at 100×,
    * the output-bound certification row in PERF.md).
    *
    * Scale: one explicit user_id repartition serves the hourly agg and
    * the lead window (plan-locked: no planner-inserted hash exchange);
    * the explode is a narrow map; output is spine-sized by definition. */
  def qResampleLocf(s: SparkSession, sf: String): DataFrame = {
    val hourly = Tables.events(s, sf).repartition(col("user_id"))
      .groupBy(col("user_id"), expr("date_trunc('hour', ts)").as("hr"))
      .agg(expr(Det.avgDec2("value")).as("v"))
    val wU = Window.partitionBy("user_id").orderBy(col("hr").asc)
    hourly
      .withColumn("nxt", lead("hr", 1).over(wU))
      .select(col("user_id"), col("hr").as("ohr"), col("v"),
        explode(expr(
          "sequence(hr, coalesce(nxt - interval 1 hour, hr), interval 1 hour)")).as("hr"))
      .select(col("user_id"), col("hr"), col("v").as("v_filled"),
        when(col("hr") === col("ohr"), 0).otherwise(1).as("is_gap"))
      .orderBy("user_id", "hr")
  }

  /** Ordered funnel: view -> first click strictly after the first view ->
    * first purchase strictly after that click, per user; output is the
    * stage-survival histogram. Three min-over-partition windows share one
    * hash partitioning on user_id (single shuffle), then a 4-column
    * distinct collapses to one row per user. */
  def qFunnel(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables.events(s, sf)
      .select("user_id", "ts", "event_type")
      .withColumn("v_ts", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts", min(when(col("event_type") === "click" &&
        col("ts") > col("v_ts"), col("ts"))).over(w))
      .withColumn("p_ts", min(when(col("event_type") === "purchase" &&
        col("ts") > col("c_ts"), col("ts"))).over(w))
      .select("user_id", "v_ts", "c_ts", "p_ts").distinct()
      .agg(
        count(lit(1)).as("n_users"),
        count("v_ts").as("n_view"),
        count("c_ts").as("n_click_after_view"),
        count("p_ts").as("n_purchase_after_click"))
  }

  /** Time-bound conversion funnel — [[qFunnel]] with the real-world
    * constraint product analytics actually ships: each step must happen
    * WITHIN 7 DAYS of the previous one (signup → first view ≤7d later →
    * first purchase ≤7d after that), not merely after it. Same
    * single-shuffle shape: three chained min-over-user windows on one
    * partitioning, each conditioned on the previous step's timestamp; the
    * interval bound is exact integer µs arithmetic on both engines. */
  def qFunnelWindowed(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables.events(s, sf)
      .select("user_id", "ts", "event_type")
      .withColumn("s_ts", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("v_ts", min(when(col("event_type") === "view" &&
        col("ts") > col("s_ts") &&
        col("ts") <= col("s_ts") + expr("INTERVAL 7 DAY"), col("ts"))).over(w))
      .withColumn("p_ts", min(when(col("event_type") === "purchase" &&
        col("ts") > col("v_ts") &&
        col("ts") <= col("v_ts") + expr("INTERVAL 7 DAY"), col("ts"))).over(w))
      .select("user_id", "s_ts", "v_ts", "p_ts").distinct()
      .agg(
        count(lit(1)).as("n_users"),
        count("s_ts").as("n_signup"),
        count("v_ts").as("n_view_7d"),
        count("p_ts").as("n_purchase_7d"))
  }

  /** Small-file compaction planner — the lakehouse maintenance op, done
    * declaratively instead of a driver loop over a file listing: per
    * priority class, the per-day row groups ("files") are packed in day
    * order into target-size compaction bins by START-OFFSET assignment
    * (bin = exclusive-prefix-size DIV target) — deterministic, one pass,
    * no iteration; a file never splits, bins fill to at least the target
    * once a file crosses the boundary. The prefix window runs over the
    * per-(priority, day) rollup — bounded by the date domain, never the
    * corpus — so the plan scales with the partition COUNT at 100 TB. */
  def qCompactionPlan(s: SparkSession, sf: String): DataFrame = {
    val target = 4000L
    val files = Tables.orders(s, sf)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
    files.withColumn("cum", sum("sz").over(w))
      .withColumn("bin", expr(s"(cum - sz) DIV $target"))
      .groupBy("o_orderpriority", "bin")
      .agg(count(lit(1)).as("n_files"), sum("sz").as("total_rows"),
        min("day").as("first_day"), max("day").as("last_day"))
      .orderBy("o_orderpriority", "bin")
  }

  // Quantization arithmetic, shared shape on both engines. float->double
  // casts are exact; the scalar ops are basic IEEE (exactly rounded on
  // both); floor(x + 0.5) rounds identically (no banker's rounding); the
  // final int cast sees an integral double, where truncate-vs-round cannot
  // differ. Random float embeddings make lmax == lmin impossible.
  private val quantLambda =
    "x -> CAST(least(greatest(floor((CAST(x AS DOUBLE) - lmin) / ((lmax - lmin) / 255.0) + 0.5), 0), 255) - 128 AS INT)"

  /** Per-vector int8 linear quantization of the embedding column — the
    * standard 4x memory cut before ANN indexing at scale. Pure per-row map
    * work (no shuffle). The code string comes from the codegen'd
    * [[graft.functions.Int8Codes]] expression (one fused primitive loop
    * inside WholeStageCodegen — the 100 TB form), whose arithmetic is
    * bit-identical to the `transform` lambda shared textually with the
    * DuckDB oracle (equivalence locked by VectorExprSpec). The code array
    * is emitted as a comma-joined string: the oracle diff requires scalar
    * top-level columns (array cells are unsortable in the harness), and
    * int→string formatting is identical on both engines. */
  def qQuantizeInt8(s: SparkSession, sf: String): DataFrame =
    Tables.embeddings(s, sf)
      .withColumn("lmin", expr("CAST(array_min(embedding) AS DOUBLE)"))
      .withColumn("lmax", expr("CAST(array_max(embedding) AS DOUBLE)"))
      .select(col("vec_id"),
        expr("(lmax - lmin) / 255.0").as("scale"),
        graft.functions.VectorExpressions.int8Codes(col("embedding")).as("q"))
      .orderBy("vec_id")

  /** The interpreted HOF formulation of [[qQuantizeInt8]]'s code column —
    * kept as the executable spec the codegen'd expression is tested
    * against (VectorExprSpec), textually aligned with the oracle SQL. */
  private[graft] def quantizeInt8Hof(s: SparkSession, sf: String): DataFrame =
    Tables.embeddings(s, sf)
      .withColumn("lmin", expr("CAST(array_min(embedding) AS DOUBLE)"))
      .withColumn("lmax", expr("CAST(array_max(embedding) AS DOUBLE)"))
      .select(col("vec_id"),
        expr("(lmax - lmin) / 255.0").as("scale"),
        expr(s"array_join(transform(embedding, $quantLambda), ',')").as("q"))
      .orderBy("vec_id")

  /** 7-day trailing moving average of daily revenue. The heavy lineitem
    * aggregation shuffles normally; the unpartitioned ordered window then
    * runs over the DAILY rollup — one row per calendar day, a few thousand
    * rows at any corpus size, so the single-partition window is fine even
    * at 100 TB (it is the rollup that must scale, and does). Decimal
    * window sums keep the average exact-then-one-division on both
    * engines. */
  def qWinMovingAvg(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.lineitem(s, sf)
      .groupBy(col("l_shipdate").as("day"))
      .agg(expr(s"sum($revDec)").as("rev_dec"), count(lit(1)).as("n_items"))
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    daily.select(col("day"), col("n_items"),
        expr("CAST(rev_dec AS DOUBLE)").as("revenue"),
        (sum(col("rev_dec")).over(w).cast("double") /
          count(lit(1)).over(w)).as("ma7"))
      .orderBy("day")
  }

  /** Deterministic mode: most frequent quantity per return flag, ties
    * broken toward the smaller value — built-in mode()'s tie choice is
    * engine-unspecified, so the count+rank formulation is the
    * hash-matchable (and still two-shuffle) way to ask for it. */
  def qAggMode(s: SparkSession, sf: String): DataFrame = {
    val counts = Tables.lineitem(s, sf)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy("l_returnflag")
  }

  /** Winsorization: clip prices to each group's exact [p05, p95] — the
    * outlier-taming normalization before statistics that can't take a
    * heavy tail. Two linear passes: one percentile aggregate to a 3-row
    * bounds table, broadcast back over one clip-and-aggregate pass. The
    * clipped sum is decimal-exact; the interpolated bounds are the same
    * p·(n-1) arithmetic both engines use (q_agg_percentile's contract). */
  def qWinsorize(s: SparkSession, sf: String): DataFrame = {
    // ONE corpus pass compacts to the exact (flag, price, cnt) value
    // histogram — a map-side-combinable count groupBy whose size is the
    // value domain, far below the row count at any scale. Both the exact
    // percentile (its 3-arg frequency form is definitionally the
    // expanded-multiset percentile — identical p·(n-1) interpolation) and
    // the clip aggregate then run on the cached histogram: the previous
    // shape paid TWO full scans (an all-values percentile buffer, then the
    // clip pass) where one histogram pass carries the same information.
    val hist = Caches.registered(
      Tables.spread(s, sf, "lineitem", col("l_orderkey"))
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("cnt")))
    val bounds = hist.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.05, cnt)").as("lo"),
        expr("percentile(l_extendedprice, 0.95, cnt)").as("hi"))
    // the winsorized sum decomposes EXACTLY: in-range originals are
    // 2-decimal (decimal sum is lossless; the cnt-weighted product stays
    // an exact decimal), clipped rows contribute n·bound — one double
    // multiply-add per group at the end. Summing the clipped doubles
    // directly would need a decimal cast of the INTERPOLATED bounds,
    // whose rounding the engines disagree on.
    hist.join(broadcast(bounds), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(
        coalesce(sum(when(col("l_extendedprice") < col("lo"), col("cnt"))), lit(0L)).as("n_clip_lo"),
        coalesce(sum(when(col("l_extendedprice") > col("hi"), col("cnt"))), lit(0L)).as("n_clip_hi"),
        expr("CAST(sum(CASE WHEN l_extendedprice >= lo AND l_extendedprice <= hi THEN CAST(l_extendedprice AS DECIMAL(18,2)) * cnt END) AS DOUBLE)").as("sum_mid"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"))
      .select(col("l_returnflag"), col("n_clip_lo"), col("n_clip_hi"),
        expr("sum_mid + CAST(n_clip_lo AS DOUBLE) * lo + CAST(n_clip_hi AS DOUBLE) * hi").as("sum_winsorized"))
      .orderBy("l_returnflag")
  }

  // Higher-moment sums, decimal-exact like regSums: quantity powers stay
  // far under the 38-digit cap (50^4 = 6.25e6 at scale 8, summed over 600k
  // rows ~ 4e12), and every sum crosses to DOUBLE through the exact-string
  // bridge. The central-moment arithmetic below is shared IEEE text —
  // integer literals (not decimal literals, which Spark ANSI types as
  // DECIMAL) multiply doubles exactly on both engines.
  private val qtyDec = "CAST(l_quantity AS DECIMAL(8,2))"
  private val momentSums = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "count(*) AS n_items",
    dec2dbl(s"sum($qtyDec)") + " AS s1",
    dec2dbl(s"sum($qtyDec * $qtyDec)") + " AS s2",
    dec2dbl(s"sum(($qtyDec * $qtyDec) * $qtyDec)") + " AS s3",
    dec2dbl(s"sum((($qtyDec * $qtyDec) * $qtyDec) * $qtyDec)") + " AS s4")
  private val momentOut = Seq(
    "s1 / n AS mean",
    "s2 / n - (s1 / n) * (s1 / n) AS var_pop",
    "(s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))" +
      " / (var_pop * sqrt(var_pop)) AS skewness",
    "(s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)" +
      " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / (var_pop * var_pop) - 3 AS kurtosis")

  /** Population skewness and excess kurtosis of quantity per return flag,
    * from exact decimal power sums — the distributed higher-moment shape:
    * built-in skewness/kurtosis float-sum in partition order and cannot
    * hash-match a second engine, while raw moments are order-free exact
    * decimals and the closed-form central-moment arithmetic is one
    * deterministic IEEE evaluation per GROUP (3 groups), not per row.
    * One shuffle of 6 fixed-size partial sums per group at any scale. */
  def qAggSkewKurt(s: SparkSession, sf: String): DataFrame =
    Tables.spread(s, sf, "lineitem", col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(expr(momentSums.head), momentSums.tail.map(expr): _*)
      .withColumn("mean", expr(momentOut(0).stripSuffix(" AS mean")))
      .withColumn("var_pop", expr(momentOut(1).stripSuffix(" AS var_pop")))
      .withColumn("skewness", expr(momentOut(2).stripSuffix(" AS skewness")))
      .withColumn("kurtosis", expr(momentOut(3).stripSuffix(" AS kurtosis")))
      .select("l_returnflag", "n_items", "mean", "var_pop", "skewness", "kurtosis")
      .orderBy("l_returnflag")

  // Z-value bit-interleave, shared integer arithmetic: bit i of the custkey
  // lane lands at position 2i, bit i of the day lane at 2i+1. Engine
  // syntax differs (Spark shiftleft/shiftright functions vs DuckDB
  // operators) but every op is exact integer arithmetic, so the 32-bit
  // z-values are identical. The 16 lanes are UNROLLED into one flat sum:
  // the equivalent `aggregate(sequence(0,15), …)` HOF fold is
  // CodegenFallback — interpreted per row, measured 1.0 s vs ~0.1 s at
  // sf0.1 — while the unrolled shifts stay inside WholeStageCodegen.
  private val zvalSpark = (0 until 16).map(i =>
    s"shiftleft(shiftright(ck, $i) & 1, ${2 * i}) + shiftleft(shiftright(dy, $i) & 1, ${2 * i + 1})")
    .mkString("CAST(0 AS BIGINT) + ", " + ", "")

  /** Z-order layout audit — the multi-dimensional clustering key for
    * 100 TB parquet layout: interleaving the bits of (custkey, order-day)
    * gives a single sort key whose ranges are compact in BOTH dimensions,
    * so range-partitioning files by z-value lets min/max footer stats
    * prune scans filtering on either column (classic space-filling-curve
    * data layout). Emits per-bucket (top 10 z-bits) occupancy + lane
    * ranges — the histogram a table optimizer inspects before rewriting
    * the layout. Pure per-row integer map work + one small aggregate. */
  def qZorderLayout(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .withColumn("ck", expr("o_custkey % 65536"))
      .withColumn("dy", expr("CAST(datediff(o_orderdate, TIMESTAMP '1995-01-01 00:00:00') AS BIGINT) % 65536"))
      .withColumn("zval", expr(zvalSpark))
      .groupBy(expr("shiftright(zval, 22)").as("z_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min("zval").as("min_z"), max("zval").as("max_z"),
        min("ck").as("min_ck"), max("ck").as("max_ck"),
        min("dy").as("min_dy"), max("dy").as("max_dy"))
      .orderBy("z_bucket")

  /** Incremental materialized-view maintenance — the pattern that keeps a
    * 100 TB rollup fresh without daily full recomputes: the view's state
    * is PARTIAL aggregates (count + exact decimal sum per day), a new
    * batch is aggregated to the same partials, and the refresh is a
    * union + re-aggregate of partials — associative merge, never a
    * re-scan of history. Here the events table is split at a cutoff into
    * "history" and "today's batch", maintained incrementally, and the
    * oracle computes the same rollup directly over everything — green
    * means merged-partials ≡ full recompute. avg is finished from the
    * merged exact partials (one double division), never averaged across
    * batches. */
  def qMvIncremental(s: SparkSession, sf: String): DataFrame = {
    val cutoff = "2024-02-01"
    def partials(df: DataFrame): DataFrame = df
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("sum(CAST(value AS DECIMAL(18,2)))").as("v_dec"))
    val ev = Tables.events(s, sf)
    val base  = partials(ev.filter(to_date(col("ts")) <  lit(cutoff).cast("date")))
    val delta = partials(ev.filter(to_date(col("ts")) >= lit(cutoff).cast("date")))
    base.unionByName(delta)
      .groupBy("day", "event_type")
      .agg(sum("n").as("n_events"),
        sum("v_dec").as("v_merged"))
      .select(col("day"), col("event_type"), col("n_events"),
        expr(Det.liftDec2("v_merged")).as("sum_value"),
        expr(s"${Det.liftDec2("v_merged")} / n_events").as("avg_value"))
      .orderBy("day", "event_type")
  }

  /** Data-quality check suite — the dbt-style audit a pipeline runs
    * before promoting a batch: primary-key uniqueness, referential
    * integrity (orphaned facts), accepted value ranges, and null rates,
    * each as one aggregate over its table, unioned into a single
    * (check, n_checked, n_violations) report. Each check is a partial-agg
    * scan or an anti-join — no check shuffles anything wider than its
    * violation count; adding a check is adding a union branch. */
  def qDqChecks(s: SparkSession, sf: String): DataFrame = {
    val orders = Tables.orders(s, sf)
    val lineitem = Tables.lineitem(s, sf)
    val events = Tables.events(s, sf)
    val docs = Tables.documents(s, sf)
    val pkUnique = orders.agg(
      lit("orders_pk_unique").as("check"),
      count(lit(1)).as("n_checked"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
    val orphans = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left") // PK side: no fan-out
      .agg(lit("lineitem_orphans").as("check"),
        count(lit(1)).as("n_checked"),
        count(when(col("o_orderkey").isNull, 1)).as("n_violations"))
    val valueRange = events.agg(
      lit("events_value_range").as("check"),
      count(lit(1)).as("n_checked"),
      count(when(col("value") < 0 || col("value") > 1000, 1)).as("n_violations"))
    val nullProps = events.agg(
      lit("events_props_notnull").as("check"),
      count(lit(1)).as("n_checked"),
      count(when(col("props").isNull, 1)).as("n_violations"))
    val docEmpty = docs.agg(
      lit("documents_nonempty").as("check"),
      count(lit(1)).as("n_checked"),
      count(when(col("n_chars") <= 0, 1)).as("n_violations"))
    pkUnique.unionByName(orphans).unionByName(valueRange)
      .unionByName(nullProps).unionByName(docEmpty)
      .orderBy("check")
  }

  /** Running-record detection (the 1-D skyline / cummax analytic): within
    * each order priority, the orders that set a new all-time price record
    * at their date — "best so far" tracking, the same window shape that
    * powers high-watermark and personal-best queries.
    *
    * A single window partitioned by the 5-value priority would cap
    * parallelism at 5 — one task sorting n/5 of the corpus at ANY cluster
    * size. Instead the running max decomposes associatively into the
    * two-phase prefix shape (the q_pack_sequences technique): (1) a
    * per-(priority, date) max rollup (map-side-combinable partial agg);
    * (2) an EXCLUSIVE prefix max over that tiny rollup (window over
    * #priorities x #days rows — bounded by the calendar, not the corpus);
    * (3) broadcast the prefix back and run the 1-preceding running max
    * WITHIN each (priority, date) — parallelism is the number of
    * (priority, date) buckets, proportional to the key space instead of 5.
    * prev(row) = max(prefix of earlier dates, running max within the date):
    * the same value set as the single window, so rows hash-match the
    * unchanged single-window oracle. greatest() skips NULLs on both sides
    * of the split (empty prefix for the first date, empty frame for the
    * first row of a date) and is NULL only when BOTH are — exactly the
    * first row of each priority, the original NULL set. Raw double
    * max/compare — no arithmetic, no float drift. */
  def qRunningRecords(s: SparkSession, sf: String): DataFrame = {
    val orders = Tables.orders(s, sf)
      .select("o_orderpriority", "o_orderdate", "o_orderkey", "o_totalprice")
    val daily = orders.groupBy("o_orderpriority", "o_orderdate")
      .agg(max("o_totalprice").as("day_max"))
    val wPrefix = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = daily
      .withColumn("prefix_max", max("day_max").over(wPrefix))
      .select("o_orderpriority", "o_orderdate", "prefix_max")
    val wWithin = Window.partitionBy("o_orderpriority", "o_orderdate")
      .orderBy(col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    orders.join(broadcast(prefix), Seq("o_orderpriority", "o_orderdate"))
      .withColumn("prev_record",
        greatest(col("prefix_max"), max("o_totalprice").over(wWithin)))
      .filter(col("prev_record").isNull || col("o_totalprice") > col("prev_record"))
      .select("o_orderpriority", "o_orderdate", "o_orderkey", "o_totalprice", "prev_record")
      .orderBy("o_orderpriority", "o_orderdate", "o_orderkey")
  }

  /** Equi-depth histogram: 10 equal-population price buckets with their
    * boundaries and counts — what a range partitioner or cost-based
    * optimizer computes before range-distributing data.
    *
    * The EXACT form needs each row's global rank in the (price, key)
    * total order — but a global rank does NOT need a global sort. This is
    * the distributed exact-rank construction (what RDD zipWithIndex does,
    * kept declarative): (1) bin rows by value range (bin = a monotone
    * function of price, so the total order is bin-major: broadcast 1-row
    * min/max/count scalars, fixed bin count); (2) count rows per bin and
    * take an EXCLUSIVE prefix sum over the ≤RankBins bin counts (window
    * over the tiny rollup — bounded by the bin count, never the corpus);
    * (3) broadcast the offsets back and rank WITHIN each bin:
    * global_rank = bin_offset + within-bin row_number. Parallelism is the
    * bin count at every phase; no task ever sorts more than one bin.
    * The ntile bucket is then closed-form arithmetic on (rank, N) — the
    * SQL-standard split where the first N mod k buckets take one extra
    * row — so the result hash-matches the unchanged global-ntile oracle.
    * Degenerate all-equal-prices input collapses to one bin (guarded
    * divide), which is the honest skew floor of any equi-depth split. */
  def qEquidepthHist(s: SparkSession, sf: String): DataFrame = {
    val orders = Tables.orders(s, sf).select("o_orderkey", "o_totalprice")
    val bounds = orders.agg(
      min("o_totalprice").as("pmin"), max("o_totalprice").as("pmax"),
      count(lit(1)).as("n_total"))
    val binned = orders.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("pmax") === col("pmin"), 0)
          .otherwise(least(lit(RankBins - 1),
            floor((col("o_totalprice") - col("pmin")) /
              ((col("pmax") - col("pmin")) / RankBins)).cast("int"))))
    val wOff = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = binned.groupBy("bin").agg(count(lit(1)).as("cnt"))
      .withColumn("bin_off", coalesce(sum("cnt").over(wOff), lit(0L)))
      .select("bin", "bin_off")
    val wRank = Window.partitionBy("bin")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    binned.join(broadcast(offsets), Seq("bin"))
      .withColumn("rn", col("bin_off") + row_number().over(wRank))
      .withColumn("bucket", expr(
        """CASE WHEN rn <= (n_total % 10) * (n_total DIV 10 + 1)
          |THEN (rn - 1) DIV (n_total DIV 10 + 1) + 1
          |ELSE n_total % 10 + (rn - (n_total % 10) * (n_total DIV 10 + 1) - 1) DIV (n_total DIV 10) + 1
          |END""".stripMargin).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("bucket")
  }

  /** Value-range bin count for the distributed exact-rank construction —
    * the parallelism floor of qEquidepthHist's rank phase. At 100 TB this
    * rises with the cluster (it only has to dominate the executor count);
    * the result is bin-count-invariant, so tuning it is free. */
  private val RankBins = 1024

  /** Fulfillment-latency distribution: days from order to each line's
    * ship date, bucketed per order priority — the supply-chain SLA
    * histogram. One equi-join on the order key (the natural shuffle both
    * tables already need) + integer datediff buckets. */
  def qLatencyHist(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, sf).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lat_days", datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
      .withColumn("bucket",
        when(col("lat_days") <= 30, "m1_le30")
          .when(col("lat_days") <= 60, "m2_le60")
          .when(col("lat_days") <= 90, "m3_le90")
          .otherwise("m4_gt90"))
      .groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("n"), max("lat_days").as("max_days"))
      .orderBy("o_orderpriority", "bucket")

  /** 2-D histogram (heatmap): order density and exact revenue over
    * order-month × fixed-width price band — the density grid behind every
    * calendar-heatmap / distribution-drift dashboard, and the degenerate
    * (fixed-boundary) case of the data-cube family: ONE map-side-
    * combinable pass synthesizes both bin keys per row and partial-
    * aggregates, so the grid costs the same as any single groupBy at any
    * scale. Bin arithmetic is floor() on positive operands with identical
    * text on both engines (the int-cast-vs-floor trap of [[Det]]); the
    * per-cell revenue is an exact decimal sum lifted scale-0. */
  def qHist2d(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .groupBy(
        expr("CAST(month(o_orderdate) AS INT)").as("mo"),
        expr("CAST(floor(o_totalprice / 25000) AS INT)").as("price_bin"))
      .agg(count(lit(1)).as("n"),
        expr(liftDec2("sum(CAST(o_totalprice AS DECIMAL(18,2)))")).as("revenue"))
      .orderBy("mo", "price_bin")

  /** 2-D Pareto skyline over parts: the parts where no other part is at
    * least as large AND at least as cheap (with one strict) — maximize
    * p_size, minimize p_retailprice. The naive formulation is a quadratic
    * NOT-EXISTS self-join (which the oracle runs, as an independent
    * dominance check); the distributed form exploits that a 2-D skyline
    * is a prefix-min over one dimension: (1) per-size min price — a
    * map-side-combinable rollup to ≤50 rows (p_size's whole domain);
    * (2) an EXCLUSIVE prefix min over strictly larger sizes on that tiny
    * rollup; (3) broadcast back and filter: survive iff cheapest within
    * your size AND strictly cheaper than everything larger. Same
    * two-phase shape as [[qRunningRecords]]; parallelism is corpus-wide
    * at every phase, the only window runs over the size-domain rollup.
    * Raw double compares, no arithmetic — no float drift. Duplicate
    * (size, price) pairs all survive (neither strictly dominates), which
    * the dominance oracle reproduces. */
  def qSkyline(s: SparkSession, sf: String): DataFrame = {
    val parts = Tables.part(s, sf).select("p_partkey", "p_size", "p_retailprice")
    val bySize = parts.groupBy("p_size").agg(min("p_retailprice").as("size_min"))
    val wLarger = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val mins = bySize.withColumn("gt_min", min("size_min").over(wLarger))
    parts.join(broadcast(mins), Seq("p_size"))
      .filter(col("p_retailprice") === col("size_min") &&
        (col("gt_min").isNull || col("p_retailprice") < col("gt_min")))
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** Gini coefficient of customer account balance per nation — the
    * inequality statistic over a grouped (Lorenz) construction. Balances
    * are shifted +1000.00 into strictly positive cents (domain is
    * [-999.99, 9999.99]) so the coefficient is well-defined; the shift is
    * part of the query's semantics on both engines.
    *
    * The rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n needs each row's rank
    * — but ranks over VALUE-GROUPED data collapse to the group's rank
    * range, and Σi over a tied block is closed-form. So: (1) pre-agg to
    * (nation, cents, cnt) — bounded by the value DOMAIN (~1.1M distinct
    * cents), not the corpus; (2) an exclusive prefix count per nation
    * over that bounded rollup; (3) the tied-block rank-sum
    * cents·(cnt·prev + cnt(cnt+1)/2), summed exactly in decimals —
    * DECIMAL(18,0) factors so the product width stays legal on BOTH
    * engines (DuckDB errors past 38 digits; the 38-digit re-bound trap).
    * Scale-0 decimals cast to DOUBLE in ONE rounding on both engines
    * (the scale-0 lift of [[Det]] — no /10^s second rounding), and the
    * final G arithmetic is the identical IEEE expression text. */
  def qGini(s: SparkSession, sf: String): DataFrame = {
    val grouped = Tables.customer(s, sf)
      .withColumn("cents",
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000"))
      .groupBy("c_nationkey", "cents").agg(count(lit(1)).as("cnt"))
    val wPrev = Window.partitionBy("c_nationkey").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    grouped
      .withColumn("prev", coalesce(sum("cnt").over(wPrev), lit(0L)))
      .groupBy("c_nationkey")
      .agg(
        sum("cnt").as("n_cust"),
        sum(expr("CAST(cents * cnt AS DECIMAL(18,0))")).as("t"),
        sum(expr("CAST(cents AS DECIMAL(18,0)) * CAST(cnt * prev + (cnt * (cnt + 1)) DIV 2 AS DECIMAL(18,0))")).as("ws"))
      .select(col("c_nationkey"), col("n_cust"),
        expr("CAST(t AS BIGINT)").as("total_cents"),
        expr("2.0 * CAST(ws AS DOUBLE) / (CAST(n_cust AS DOUBLE) * CAST(t AS DOUBLE)) - (CAST(n_cust AS DOUBLE) + 1.0) / CAST(n_cust AS DOUBLE)").as("gini"))
      .orderBy("c_nationkey")
  }

  /** Market-basket pair mining: the top-20 part pairs co-purchased in the
    * same order, with support / confidence / lift. Pair expansion is the
    * within-basket self-join on the order key — fanout bounded by the
    * basket size (≤17 distinct parts per order in this data, squared =
    * ≤136 pairs), so the expansion is LINEAR in the corpus, shuffled on
    * the pair key with map-side combine; the global top-20 is a
    * TakeOrderedAndProject (per-partition heaps, never a global sort).
    * Item supports then attach to just the 20 winners via broadcast.
    * All statistics are exact-integer-ratio doubles — identical operand
    * values and expression shape on both engines; ties at the top-20
    * boundary are broken by (p1, p2), making the cut deterministic. */
  def qMarketBasket(s: SparkSession, sf: String): DataFrame = {
    // One collect_set per order replaces the items.distinct + SMJ
    // self-join of the round-13 shape: the join sorted TWO corpus-sized
    // sides and the distinct added a third corpus shuffle, all to
    // co-locate rows that one groupBy(l_orderkey) co-locates directly.
    // Baskets are SMALL BY DOMAIN (≤17 distinct parts per order here;
    // a real pipeline caps pathological baskets the same way BucketCap
    // caps LSH buckets), so the per-order set is bounded state, and the
    // cached basket frame feeds all three consumers (pairs, supports,
    // order count). repartition BEFORE the groupBy: collect_set is an
    // ObjectHashAggregate whose sort-based fallback trips at 128 keys, so
    // a map-side partial pays a full per-mapper sort while combining
    // nothing (order keys barely repeat within a scan split) AND holds
    // unbounded per-mapper set state; pre-shuffling the raw rows leaves
    // ONE sort-fallback aggregate over co-located rows — bounded memory,
    // half the sorting (12.3 → 4.1 s for the basket stage at 100×;
    // whole query 31.5 → 18.6 s min-of-2, PERF.md).
    val baskets = Caches.registered(
      Tables.lineitem(s, sf).select("l_orderkey", "l_partkey")
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set("l_partkey")).as("parts")))
    val nOrders = baskets.agg(count(lit(1)).as("n"))
    // pair expansion: posexplode + slice-explode of the SORTED basket (a
    // codegen'd Generate chain — no interpreted higher-order lambdas, no
    // join) emits exactly the n·(n−1)/2 ordered pairs — sorting the
    // basket once at build time is what lets the inner explode start at
    // i+1 instead of generating the full n² and filtering half away. The
    // count shuffle carries ONE packed long key (partkey < 2³¹ always in
    // TPC-H-shaped data, so (p1 << 32) | p2 is collision-free) instead of
    // two — narrower rows, one hash per row.
    val pairs = baskets
      .select(posexplode(col("parts")).as(Seq("i", "p1")), col("parts"))
      .select(col("p1"),
        explode(expr("slice(parts, i + 2, size(parts))")).as("p2"))
      .groupBy((shiftleft(col("p1"), 32).bitwiseOR(col("p2"))).as("pk"))
      .agg(count(lit(1)).as("c_ab"))
      .select(shiftright(col("pk"), 32).as("p1"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("p2"), col("c_ab"))
    val top = pairs.orderBy(col("c_ab").desc, col("p1"), col("p2")).limit(20)
    val itemCnt = baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("c"))
    top
      .join(itemCnt.select(col("l_partkey").as("p1"), col("c").as("c_a")), Seq("p1"))
      .join(itemCnt.select(col("l_partkey").as("p2"), col("c").as("c_b")), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("c_ab"), col("c_a"), col("c_b"),
        expr("CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE)").as("support"),
        expr("CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE)").as("confidence"),
        expr("CAST(n AS DOUBLE) * CAST(c_ab AS DOUBLE) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))").as("lift"))
      .orderBy(col("c_ab").desc, col("p1"), col("p2"))
  }

  // ---- q_corr_matrix: the measure pairs, their exact power sums, and the
  // closed-form Pearson finish — ONE source of truth for both engines so
  // every operand and operation is textually identical.
  private val corrMeasures = Seq(
    "qty" -> "l_quantity", "price" -> "l_extendedprice",
    "disc" -> "l_discount", "tax" -> "l_tax")
  private val corrPairs = for {
    i <- corrMeasures.indices; j <- i + 1 until corrMeasures.size
  } yield (corrMeasures(i), corrMeasures(j))
  /** Exact integer cents lane: a 2-decimal double times 100 lands within
    * one ulp of the true integer k (k itself ≤ 2^53 is representable), so
    * round() recovers k EXACTLY on both engines — no decimal cast in the
    * per-row path. Products then run in LONG: price_cents² ≈ 10^14, far
    * under 2^63. */
  private def corrCents(c: String) = s"CAST(round($c * 100) AS BIGINT)"
  /** (alias, per-row exact BIGINT lane) for every power sum the matrix
    * needs. */
  private val corrLanes: Seq[(String, String)] =
    corrMeasures.map { case (k, c) => s"s_$k" -> corrCents(c) } ++
    corrMeasures.map { case (k, c) =>
      s"q_$k" -> s"(${corrCents(c)} * ${corrCents(c)})" } ++
    corrPairs.map { case ((a, ca), (b, cb)) =>
      s"p_${a}_$b" -> s"(${corrCents(ca)} * ${corrCents(cb)})" }
  /** The power sums: each exact BIGINT lane feeds a DECIMAL(38,0) sum —
    * compact-long adds until a partial crosses 10^18 — cast to DOUBLE in
    * one rounding on both engines (scale-0: no second /10^s rounding).
    * Swept alternatives at sf0.1 (min-of-3): all-decimal per-row products
    * 3.0 s, this shape 2.2 s, a 28-sum pure-long hi/lo split 5.5 s — the
    * AGGREGATE COUNT, not the arithmetic type, drives the pass, so the
    * 14-sum decimal form wins. The scaled (×100/×10^4) sums feed the same
    * Pearson finish: corr is scale-invariant, and both engines compute
    * from identical operands either way. */
  private val corrAggs: Seq[(String, String)] =
    corrLanes.map { case (alias, e) =>
      alias -> s"CAST(sum(CAST($e AS DECIMAL(38,0))) AS DOUBLE)" }
  /** corr(a,b) = (nΣab − ΣaΣb) / √((nΣa²−(Σa)²)(nΣb²−(Σb)²)), from the
    * lifted exact sums; the zero/negative-variance guard is part of the
    * shared text (divide-by-zero split + cancellation clamp in one). */
  private def corrFinish(a: String, b: String): String = {
    val num = s"(CAST(n AS DOUBLE) * p_${a}_$b - s_$a * s_$b)"
    val va = s"(CAST(n AS DOUBLE) * q_$a - s_$a * s_$a)"
    val vb = s"(CAST(n AS DOUBLE) * q_$b - s_$b * s_$b)"
    s"CASE WHEN $va <= 0.0 OR $vb <= 0.0 THEN NULL ELSE $num / sqrt($va * $vb) END"
  }

  /** Pearson correlation matrix of the four lineitem measures per return
    * flag — the feature-correlation screen a training pipeline runs before
    * modeling. ONE map-side-combinable pass computes every power sum
    * (n, Σx, Σx², Σxy for all 6 pairs: 15 aggregates over 3 groups), then
    * the matrix is a closed-form double finish over the 3-row result —
    * never a per-pair corpus pass (built-in corr() would rescan per pair
    * AND float-sum in partition order, which can't hash-match). Per-row
    * arithmetic runs on exact integer CENTS lanes ([[corrCents]] — no
    * BigDecimal in the hot path), sums are scale-0 decimals cast to
    * double in one rounding; the finish (including sqrt, correctly
    * rounded per IEEE on both engines) is textually shared with the
    * oracle and scale-invariant, so the cents scaling cancels. */
  def qCorrMatrix(s: SparkSession, sf: String): DataFrame = {
    val aggCols = count(lit(1)).as("n") +:
      corrAggs.map { case (alias, e) => expr(e).as(alias) }
    // spread: the 15-lane partial agg is the whole cost and fuses into the
    // scan stage — one core on an unsplittable input (Tables.spread gate)
    val base = Tables.spread(s, sf, "lineitem", col("l_orderkey"))
      .groupBy("l_returnflag").agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = corrPairs.map { case ((a, _), (b, _)) =>
      s"'${a}_$b', ${corrFinish(a, b)}" }.mkString(", ")
    base.selectExpr("l_returnflag",
        s"stack(${corrPairs.size}, $stackArgs) AS (pair, corr)")
      .orderBy("l_returnflag", "pair")
  }

  // ---- q_table_diff: the two derived snapshots and the update delta are
  // defined once, textually shared with the oracle, so both engines diff
  // identical inputs. Snapshot A drops every 17th key ("yesterday" before
  // a late-arriving batch), snapshot B drops every 13th and updates every
  // 11th by an exact-quarter increment (0.25 steps are dyadic — the
  // double add is rounding-free on a 2-decimal price).
  private val diffUpdate =
    "CASE WHEN o_orderkey % 11 = 0 THEN CAST(o_orderkey % 7 AS DOUBLE) * 0.25 + 0.5 ELSE 0.0 END"

  /** Snapshot reconciliation diff (the data-diff / audit op run after any
    * backfill or CDC load): two snapshots of the orders table are compared
    * by primary key via ONE co-partitioned full outer join, each row
    * classified added / removed / changed / unchanged, and the per-class
    * counts plus the exact changed-price delta (integer cents) reported.
    * At 100 TB both snapshots shuffle once on the join key (or not at all
    * if both sides are bucketed by it — the production posture for a
    * nightly diff); the classification is per-row map work and the rollup
    * is a 4-group partial agg, so nothing beyond the one join scales with
    * data. Delta cents are recovered exactly per row (round(x*100) on a
    * 2-decimal double) and summed as BIGINT — order-free. */
  def qTableDiff(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf)
    val a = o.filter(expr("o_orderkey % 17 <> 0"))
      .select(col("o_orderkey"), col("o_totalprice").as("price_a"))
    val b = o.filter(expr("o_orderkey % 13 <> 0"))
      .select(col("o_orderkey"),
        expr(s"o_totalprice + $diffUpdate").as("price_b"))
    a.join(b, Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        expr("""CASE WHEN price_a IS NULL THEN 'added'
               |     WHEN price_b IS NULL THEN 'removed'
               |     WHEN price_a <> price_b THEN 'changed'
               |     ELSE 'unchanged' END""".stripMargin))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        expr("sum(CASE WHEN status = 'changed' THEN CAST(round((price_b - price_a) * 100) AS BIGINT) ELSE 0 END)").as("delta_cents"))
      .orderBy("status")
  }

  /** Shuffle-key skew audit: per-key cardinality profile (distinct keys,
    * max / p50 / p99 group size, max-to-median skew ratio) for the three
    * lineitem join/agg keys — the pre-flight a data engineer runs before
    * choosing salt factors, AQE skew thresholds, or bucket counts for a
    * 100 TB shuffle. Each key audits as one map-side-combinable count
    * groupBy plus a percentile rollup over the per-key count table
    * (key-cardinality-sized, far below the corpus); the three audits
    * union into a 3-row report. Spark `percentile` and DuckDB
    * `quantile_cont` share the p·(n-1) interpolation. */
  def qKeySkewAudit(s: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(s, sf)
    def audit(key: String): DataFrame =
      li.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"),
          expr("percentile(cnt, 0.5)").as("p50_cnt"),
          expr("percentile(cnt, 0.99)").as("p99_cnt"))
        .select(lit(key).as("key_name"), col("n_keys"), col("n_rows"),
          col("max_cnt"), col("p50_cnt"), col("p99_cnt"),
          expr("CAST(max_cnt AS DOUBLE) / p50_cnt").as("skew_ratio"))
    audit("l_orderkey").unionAll(audit("l_partkey")).unionAll(audit("l_suppkey"))
      .orderBy("key_name")
  }

  /** Robust (median/MAD) outlier audit per event type — the heavy-tail-safe
    * sibling of the stddev rule (one wild day shifts a mean+stddev fence;
    * the MAD fence doesn't move). MAD needs two medians by definition, so
    * the plan is two percentile aggregations with a broadcast of the 5-row
    * intermediate between them, then one counting pass — three linear
    * scans, no corpus-sized shuffle. The fence comparison (adev > 3·mad)
    * is float-deterministic: both engines interpolate the same two sample
    * doubles and compare the same products. */
  def qOutlierMad(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.spread(s, sf, "events", col("event_id"))
      .select("event_type", "value")
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    // cached: the deviation frame feeds BOTH the MAD percentile and the
    // final outlier rollup — uncached, the scan + median join replays
    val dev = Caches.registered(e.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", expr("abs(value - med)")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        max("med").as("med"), max("mad").as("mad"),
        expr("count(CASE WHEN adev > 3.0 * mad THEN 1 END)").as("n_outliers"))
      .withColumn("outlier_rate",
        expr("CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE)"))
      .orderBy("event_type")
  }

  /** Id-sequence integrity audit: every gap (missing run) in the purchase
    * event-id stream — the completeness check a CDC / ingestion pipeline
    * runs against an upstream sequence (dropped batches show up as id
    * holes). The naive form is lead(id) over ONE global ordering — a
    * single-reducer sort at scale. This is the two-phase shape: ids
    * bucket by a width derived in-plan from the id range (broadcast 1-row
    * bounds, never a driver collect), within-bucket gaps come from a
    * bucket-partitioned lead at full parallelism, and cross-bucket gaps
    * from the per-bucket (min, max) frame — ≤4096 rows by construction of
    * the width, so ITS single-partition window is bounded at any scale.
    * Consecutive ids in different buckets are provably their buckets'
    * max/min (nothing lies between them), so the union of the two stages
    * is exactly the global gap set — the oracle computes the naive global
    * form and agreement proves the decomposition.
    *
    * Scale: one shuffle on bucket for the window + one tiny bounds agg;
    * gap output is result-sized. The width rule keeps bucket count in
    * [1, 4096] for any id range, and each bucket's sort is range/4096. */
  def qIdGaps(s: SparkSession, sf: String): DataFrame = {
    val ids = Tables.events(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("id"))
    val bounds = ids.agg(min("id").as("mn"), max("id").as("mx"))
    val bucketed = Caches.registered(ids.crossJoin(broadcast(bounds))
      .withColumn("w", expr("greatest(256L, (mx - mn + 1) div 4096)"))
      .select(col("id"), expr("id div w").as("bkt")))
    val wB = Window.partitionBy("bkt").orderBy(col("id").asc)
    val within = bucketed
      .withColumn("nx", lead("id", 1).over(wB))
      .filter(col("nx") > col("id") + 1)
      .select((col("id") + 1).as("gap_start"), (col("nx") - 1).as("gap_end"))
    val wSeq = Window.orderBy(col("bkt").asc) // ≤4096 rows: bounded by width rule
    val across = bucketed.groupBy("bkt")
      .agg(min("id").as("bmn"), max("id").as("bmx"))
      .withColumn("prev_max", lag("bmx", 1).over(wSeq))
      .filter(col("prev_max").isNotNull && col("bmn") > col("prev_max") + 1)
      .select((col("prev_max") + 1).as("gap_start"), (col("bmn") - 1).as("gap_end"))
    within.unionAll(across)
      .withColumn("gap_len", col("gap_end") - col("gap_start") + 1)
      .orderBy("gap_start")
  }

  // Benford first-digit expectations log10(1 + 1/d), precomputed once in
  // Scala and embedded as the SAME decimal literals in the Spark
  // expression and the DuckDB oracle — the transcendental never runs
  // inside either engine, so cross-engine last-ulp drift is impossible.
  private val benfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  private val benfordCase: String =
    "CASE digit " +
      benfordP.map { case (d, p) => s"WHEN $d THEN CAST($p AS DOUBLE)" }
        .mkString(" ") + " END"

  /** Benford's-law audit of order totals: observed first-significant-digit
    * counts vs the log10(1+1/d) expectation, with per-digit chi-square
    * contributions — the fraud/data-entry screen auditors run over
    * amount columns. The first digit is taken from exact CENTS (scaling
    * by 10² preserves the leading significant digit), via bigint→string,
    * identical on both engines; min(o_totalprice) = 1320.51 keeps cents
    * strictly positive. One map-side-combinable rollup to ≤9 rows; the
    * grand total attaches by a window over that rollup. Expected
    * proportions are shared decimal literals (see [[benfordP]]), so the
    * only float work is exact-integer-derived multiplies/divides. */
  def qBenford(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .groupBy(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT)").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
      .withColumn("n_total", sum("n_obs").over(Window.partitionBy()))
      .withColumn("expected_p", expr(benfordCase))
      .select(col("digit"), col("n_obs"),
        col("expected_p"),
        expr("CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)").as("observed_p"),
        expr("round((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_p) *" +
          " (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_p) /" +
          " (CAST(n_total AS DOUBLE) * expected_p), 6)").as("chi2_term"))
      .orderBy("digit")

  /** Mutual information between market segment and order priority — the
    * dependence screen feature-selection and drift pipelines run over
    * categorical column pairs. The corpus pass is the custkey equi-join
    * plus ONE rollup to the 5×5 cell domain; marginals come from windows
    * over that ≤25-row rollup, never a second corpus pass. Counts are
    * exact; each cell's MI term (p·ln(p/(px·py))) is the one
    * transcendental, computed from identical exact-integer-derived
    * operands on both engines and rounded to 6 decimals (the
    * [[Funcs]] ln_price precedent — ln is not IEEE-correctly-rounded, so
    * raw ulps may differ; 1e-6 is far coarser than the drift). */
  def qMutualInfo(s: SparkSession, sf: String): DataFrame = {
    val cells = Tables.orders(s, sf)
      .join(Tables.customer(s, sf).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n_pair"))
    cells
      .withColumn("n_seg", sum("n_pair").over(Window.partitionBy("seg")))
      .withColumn("n_prio", sum("n_pair").over(Window.partitionBy("prio")))
      .withColumn("n", sum("n_pair").over(Window.partitionBy()))
      .select(col("seg"), col("prio"), col("n_pair"), col("n_seg"), col("n_prio"),
        expr("round((CAST(n_pair AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          "ln(CAST(n_pair AS DOUBLE) * CAST(n AS DOUBLE) / " +
          "(CAST(n_seg AS DOUBLE) * CAST(n_prio AS DOUBLE))), 6)").as("mi_term"))
      .orderBy("seg", "prio")
  }

  /** Min/max file-stats pruning audit — the footer-stats question behind
    * every 100 TB layout decision: under layout A (files by arrival /
    * key order: orderkey mod 64) vs layout B (files clustered by ship
    * month), what fraction of files does a 3-month shipdate predicate
    * skip? Per (layout, file): row count + day min/max — ONE
    * map-side-combinable rollup per layout over a single corpus scan
    * each; skippability is a per-file flag against the predicate bounds
    * and the verdict a ≤100-row re-aggregate. Clustered layout should
    * skip nearly everything, arrival layout nothing — the measured gap
    * IS the value of clustering, the same arithmetic a table optimizer
    * runs before rewriting layout (complements [[qZorderLayout]], which
    * audits occupancy of an interleaved key). */
  def qStatsPrune(s: SparkSession, sf: String): DataFrame = {
    val (lo, hi) = (9648L, 9740L) // [1996-06-01, 1996-09-01) as epoch days
    val li = Tables.lineitem(s, sf)
      .select(col("l_orderkey"),
        expr("CAST(datediff(to_date(l_shipdate), DATE '1970-01-01') AS BIGINT)").as("day"))
    val files = li.select(lit("arrival").as("layout"),
        expr("l_orderkey % 64").as("file_id"), col("day"))
      .unionAll(li.select(lit("clustered").as("layout"),
        expr("(day div 30) % 100").as("file_id"), col("day")))
      .groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("day").as("min_day"), max("day").as("max_day"))
    files
      .withColumn("skippable",
        (col("max_day") < lo || col("min_day") >= hi).cast("int"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum("skippable").as("n_skipped"),
        sum("n_rows").as("rows_total"),
        sum(expr("skippable * n_rows")).as("rows_skipped"))
      .withColumn("skip_frac",
        expr("CAST(n_skipped AS DOUBLE) / CAST(n_files AS DOUBLE)"))
      .orderBy("layout")
  }

  /** Exact weighted median — order quantity weighted by revenue cents per
    * return flag (the "median item by dollar volume" statistic). The
    * corpus pass is ONE map-side-combinable rollup to the VALUE DOMAIN
    * (flag × integral quantity, ≤150 rows at any corpus size); the
    * prefix-sum window and the 2·cum ≥ tot threshold run on that bounded
    * frame in exact decimal lanes — no percentile sort, no float
    * comparison at the boundary. Lower weighted median (the smallest
    * value whose cumulative weight reaches half). */
  def qWeightedMedian(s: SparkSession, sf: String): DataFrame = {
    val dom = Tables.spread(s, sf, "lineitem", col("l_orderkey"))
      .groupBy(col("l_returnflag").as("flag"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0))")).as("w"))
    val wCum = Window.partitionBy("flag").orderBy(col("qty").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dom
      .withColumn("cum", sum("w").over(wCum))
      .withColumn("tot", sum("w").over(Window.partitionBy("flag")))
      .filter(expr("CAST(cum AS DECIMAL(38,0)) * 2 >= CAST(tot AS DECIMAL(38,0))"))
      .groupBy("flag")
      .agg(min("qty").as("w_median"),
        expr("CAST(max(tot) AS DOUBLE)").as("w_total_cents"))
      .orderBy("flag")
  }

  /** ABC / Pareto classification — customers per nation bucketed into
    * A (first 80% of cumulative spend, richest first), B (to 95%), C
    * (tail): the inventory-analysis shape behind "which 20% of keys
    * carry 80% of mass". The naive form is a per-nation window over
    * every customer ordered by spend — the low-cardinality-partition
    * funnel q_win_rank exhibits (dead at 100 TB). Here the cumulative
    * sum is TWO-PHASE (the q_win_rank_scaled / q_id_gaps recipe): spend
    * buckets from an in-plan width off the broadcast 1-row spend range
    * (≤4096 buckets), per-(nation, bucket) offsets from a window over
    * that bounded rollup, within-bucket cumsums at full (nation, bucket)
    * parallelism. Same cents → same bucket, so (cents desc, custkey asc)
    * within buckets + bucket desc across IS the exact global order. The
    * oracle replays the naive global window — agreement proves the
    * decomposition. Class thresholds are exact integer cross-multiplies
    * (cum·100 ≤ tot·80) in DECIMAL(38,0) lanes (HUGEINT on the DuckDB
    * side) — no float at the boundary. */
  def qAbcPareto(s: SparkSession, sf: String): DataFrame = {
    val spend = Tables.orders(s, sf)
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0))")).as("sp"))
      .withColumn("cents", expr("CAST(sp AS BIGINT)")).drop("sp")
      .join(Tables.customer(s, sf).select(col("c_custkey").as("k"),
        col("c_nationkey").as("nation")), Seq("k"))
    val bounds = spend.agg(min("cents").as("mn"), max("cents").as("mx"))
    val b = spend.crossJoin(broadcast(bounds))
      // ceil division ((range + 4095) div 4096, via +4096 on range+1) so
      // the bucket count is ≤4096 for EVERY range — floor width admits up
      // to ~2× that (range+1 = 2·4096−1 gives width 1 over ~8191 values);
      // any width yields the same output (same cents → same bucket), the
      // bound only sizes the broadcast offsets frame
      .withColumn("bkt", expr("cents div greatest(1L, (mx - mn + 4096) div 4096)"))
      .select("k", "nation", "cents", "bkt")
    val per = b.groupBy("nation", "bkt")
      .agg(sum(expr("CAST(cents AS DECIMAL(18,0))")).as("bc"))
    val wOff = Window.partitionBy("nation").orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = per
      .withColumn("off", coalesce(sum("bc").over(wOff), expr("CAST(0 AS DECIMAL(28,0))")))
      .withColumn("tot", sum("bc").over(Window.partitionBy("nation")))
      .select("nation", "bkt", "off", "tot")
    val wLoc = Window.partitionBy("nation", "bkt")
      .orderBy(col("cents").desc, col("k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(offs), Seq("nation", "bkt"))
      .withColumn("loc", sum(expr("CAST(cents AS DECIMAL(18,0))")).over(wLoc))
      .withColumn("cum", expr("CAST(off AS DECIMAL(38,0)) + CAST(loc AS DECIMAL(38,0))"))
      .withColumn("cls", expr(
        "CASE WHEN cum * 100 <= CAST(tot AS DECIMAL(38,0)) * 80 THEN 'A' " +
          "WHEN cum * 100 <= CAST(tot AS DECIMAL(38,0)) * 95 THEN 'B' ELSE 'C' END"))
      .groupBy("nation", "cls")
      .agg(count(lit(1)).as("n_cust"), sum("cents").as("cents_class"))
      .withColumn("nation_tot",
        sum("cents_class").over(Window.partitionBy("nation")))
      .select(col("nation"), col("cls"), col("n_cust"), col("cents_class"),
        expr("CAST(cents_class AS DOUBLE) / CAST(nation_tot AS DOUBLE)").as("share"))
      .orderBy("nation", "cls")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_weighted_median" -> qWeightedMedian _,
    "q_abc_pareto" -> qAbcPareto _,
    "q_benford" -> qBenford _,
    "q_mutual_info" -> qMutualInfo _,
    "q_stats_prune" -> qStatsPrune _,
    "q_id_gaps" -> qIdGaps _,
    "q_outlier_mad" -> qOutlierMad _,
    "q_key_skew_audit" -> qKeySkewAudit _,
    "q_table_diff" -> qTableDiff _,
    "q_funnel_windowed" -> qFunnelWindowed _,
    "q_compaction_plan" -> qCompactionPlan _,
    "q_corr_matrix" -> qCorrMatrix _,
    "q_skyline" -> qSkyline _,
    "q_gini" -> qGini _,
    "q_market_basket" -> qMarketBasket _,
    "q_equidepth_hist" -> qEquidepthHist _,
    "q_latency_hist" -> qLatencyHist _,
    "q_hist2d" -> qHist2d _,
    "q_running_records" -> qRunningRecords _,
    "q_dq_checks" -> qDqChecks _,
    "q_mv_incremental" -> qMvIncremental _,
    "q_agg_skewkurt" -> qAggSkewKurt _,
    "q_zorder_layout" -> qZorderLayout _,
    "q_win_moving_avg" -> qWinMovingAvg _,
    "q_agg_mode" -> qAggMode _,
    "q_winsorize" -> qWinsorize _,
    "q_agg_argmax" -> qAggArgmax _,
    "q_agg_median" -> qAggMedian _,
    "q_agg_listagg" -> qAggListagg _,
    "q_agg_regression" -> qAggRegression _,
    "q_bitmap_distinct" -> qBitmapDistinct _,
    "q_resample_locf" -> qResampleLocf _,
    "q_funnel" -> qFunnel _,
    "q_quantize_int8" -> qQuantizeInt8 _,
  )

  val oracle: Map[String, String] = Map(
    "q_weighted_median" ->
      """WITH dom AS (
        |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
        |         sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, qty,
        |             sum(w) OVER (PARTITION BY flag ORDER BY qty
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(w) OVER (PARTITION BY flag) AS tot
        |      FROM dom)
        |SELECT flag, min(qty) AS w_median, CAST(max(tot) AS DOUBLE) AS w_total_cents
        |FROM c WHERE CAST(cum AS DECIMAL(38,0)) * 2 >= CAST(tot AS DECIMAL(38,0))
        |GROUP BY flag ORDER BY flag""".stripMargin,
    "q_abc_pareto" ->
      """WITH sp AS (
        |  SELECT o_custkey AS k,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS DECIMAL(18,0))) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c_nationkey AS nation, k, cents
        |      FROM sp JOIN customer ON k = c_custkey),
        |c AS (SELECT nation, cents,
        |             sum(cents) OVER (PARTITION BY nation ORDER BY cents DESC, k
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(cents) OVER (PARTITION BY nation) AS tot
        |      FROM j),
        |cl AS (SELECT nation, cents,
        |              CASE WHEN cum * 100 <= tot * 80 THEN 'A'
        |                   WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS cls
        |       FROM c),
        |g AS (SELECT nation, cls, count(*) AS n_cust,
        |             CAST(sum(cents) AS BIGINT) AS cents_class
        |      FROM cl GROUP BY 1, 2)
        |SELECT nation, cls, n_cust, cents_class,
        |       CAST(cents_class AS DOUBLE) /
        |       CAST(CAST(sum(cents_class) OVER (PARTITION BY nation) AS BIGINT) AS DOUBLE) AS share
        |FROM g ORDER BY nation, cls""".stripMargin,
    "q_benford" ->
      s"""WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |           FROM orders),
         |d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         |             count(*) AS n_obs
         |      FROM c GROUP BY 1),
         |t AS (SELECT digit, n_obs,
         |             CAST(sum(n_obs) OVER () AS BIGINT) AS n_total,
         |             $benfordCase AS expected_p
         |      FROM d)
         |SELECT digit, n_obs, expected_p,
         |       CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS observed_p,
         |       round((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_p) *
         |             (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * expected_p) /
         |             (CAST(n_total AS DOUBLE) * expected_p), 6) AS chi2_term
         |FROM t ORDER BY digit""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS prio, count(*) AS n_pair
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (SELECT seg, prio, n_pair,
        |             CAST(sum(n_pair) OVER (PARTITION BY seg) AS BIGINT) AS n_seg,
        |             CAST(sum(n_pair) OVER (PARTITION BY prio) AS BIGINT) AS n_prio,
        |             CAST(sum(n_pair) OVER () AS BIGINT) AS n
        |      FROM cells)
        |SELECT seg, prio, n_pair, n_seg, n_prio,
        |       round((CAST(n_pair AS DOUBLE) / CAST(n AS DOUBLE)) *
        |             ln(CAST(n_pair AS DOUBLE) * CAST(n AS DOUBLE) /
        |                (CAST(n_seg AS DOUBLE) * CAST(n_prio AS DOUBLE))), 6) AS mi_term
        |FROM m ORDER BY seg, prio""".stripMargin,
    "q_stats_prune" ->
      """WITH li AS (SELECT l_orderkey,
        |                   CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day
        |            FROM lineitem),
        |files AS (
        |  SELECT layout, file_id, count(*) AS n_rows,
        |         min(day) AS min_day, max(day) AS max_day
        |  FROM (SELECT 'arrival' AS layout, l_orderkey % 64 AS file_id, day FROM li
        |        UNION ALL
        |        SELECT 'clustered' AS layout, (day // 30) % 100 AS file_id, day FROM li)
        |  GROUP BY 1, 2),
        |f AS (SELECT *, CAST(CASE WHEN max_day < 9648 OR min_day >= 9740
        |                          THEN 1 ELSE 0 END AS INT) AS skippable
        |      FROM files)
        |SELECT layout, count(*) AS n_files,
        |       CAST(sum(skippable) AS BIGINT) AS n_skipped,
        |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |       CAST(sum(skippable * n_rows) AS BIGINT) AS rows_skipped,
        |       CAST(sum(skippable) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS skip_frac
        |FROM f GROUP BY layout ORDER BY layout""".stripMargin,
    "q_id_gaps" ->
      """WITH p AS (SELECT event_id AS id FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT id, lead(id) OVER (ORDER BY id) AS nx FROM p)
        |SELECT id + 1 AS gap_start, nx - 1 AS gap_end, nx - 1 - id AS gap_len
        |FROM g WHERE nx > id + 1 ORDER BY gap_start""".stripMargin,
    "q_outlier_mad" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, value, med, abs(value - med) AS adev
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n, max(med) AS med, max(mad) AS mad,
        |       count(CASE WHEN adev > 3.0 * mad THEN 1 END) AS n_outliers,
        |       CAST(count(CASE WHEN adev > 3.0 * mad THEN 1 END) AS DOUBLE) /
        |       CAST(count(*) AS DOUBLE) AS outlier_rate
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q_key_skew_audit" -> {
      def audit(key: String) =
        s"""SELECT '$key' AS key_name, count(*) AS n_keys,
           |       CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt,
           |       quantile_cont(cnt, 0.5) AS p50_cnt, quantile_cont(cnt, 0.99) AS p99_cnt,
           |       CAST(max(cnt) AS DOUBLE) / quantile_cont(cnt, 0.5) AS skew_ratio
           |FROM (SELECT $key, count(*) AS cnt FROM lineitem GROUP BY 1)""".stripMargin
      s"""${audit("l_orderkey")}
         |UNION ALL
         |${audit("l_partkey")}
         |UNION ALL
         |${audit("l_suppkey")}
         |ORDER BY key_name""".stripMargin
    },
    "q_table_diff" ->
      s"""WITH a AS (SELECT o_orderkey, o_totalprice AS price_a
         |           FROM orders WHERE o_orderkey % 17 <> 0),
         |b AS (SELECT o_orderkey, o_totalprice + $diffUpdate AS price_b
         |      FROM orders WHERE o_orderkey % 13 <> 0),
         |d AS (SELECT CASE WHEN price_a IS NULL THEN 'added'
         |                  WHEN price_b IS NULL THEN 'removed'
         |                  WHEN price_a <> price_b THEN 'changed'
         |                  ELSE 'unchanged' END AS status,
         |             price_a, price_b
         |      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
         |SELECT status, count(*) AS n,
         |       CAST(sum(CASE WHEN status = 'changed' THEN CAST(round((price_b - price_a) * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS delta_cents
         |FROM d GROUP BY status ORDER BY status""".stripMargin,
    "q_funnel_windowed" ->
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |         min(CASE WHEN event_type = 'signup' THEN ts END)
        |           OVER (PARTITION BY user_id) AS s_ts
        |  FROM events),
        |w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' AND ts > s_ts
        |                      AND ts <= s_ts + INTERVAL 7 DAY THEN ts END)
        |            OVER (PARTITION BY user_id) AS v_ts
        |  FROM w1),
        |w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > v_ts
        |                      AND ts <= v_ts + INTERVAL 7 DAY THEN ts END)
        |            OVER (PARTITION BY user_id) AS p_ts
        |  FROM w2),
        |u AS (SELECT DISTINCT user_id, s_ts, v_ts, p_ts FROM w3)
        |SELECT count(*) AS n_users, count(s_ts) AS n_signup,
        |       count(v_ts) AS n_view_7d, count(p_ts) AS n_purchase_7d
        |FROM u""".stripMargin,
    "q_compaction_plan" ->
      """WITH files AS (
        |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, count(*) AS sz
        |  FROM orders GROUP BY 1, 2),
        |c AS (
        |  SELECT *, sum(sz) OVER (PARTITION BY o_orderpriority ORDER BY day) AS cum
        |  FROM files)
        |SELECT o_orderpriority, CAST(CAST(cum - sz AS BIGINT) // 4000 AS BIGINT) AS bin,
        |       count(*) AS n_files, CAST(sum(sz) AS BIGINT) AS total_rows,
        |       min(day) AS first_day, max(day) AS last_day
        |FROM c GROUP BY 1, 2 ORDER BY o_orderpriority, bin""".stripMargin,
    // Assembled from the SAME corrAggs/corrFinish fragments the Spark side
    // compiles, so every operand and IEEE operation is textually identical;
    // only the pair→row pivot differs (stack vs UNION ALL).
    "q_corr_matrix" -> {
      val aggSelect = corrAggs.map { case (alias, e) => s"$e AS $alias" }
        .mkString(",\n        |       ")
      val branches = corrPairs.map { case ((a, _), (b, _)) =>
        s"SELECT l_returnflag, '${a}_$b' AS pair, ${corrFinish(a, b)} AS corr FROM a"
      }.mkString("\n        |  UNION ALL ")
      s"""WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |       $aggSelect
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, pair, corr FROM (
        |  $branches)
        |ORDER BY l_returnflag, pair""".stripMargin
    },
    // Independent dominance formulation (quadratic NOT EXISTS — DuckDB's
    // IEJoin handles the two-inequality pattern); the Spark side runs the
    // two-phase prefix-min instead, so agreement checks the algorithm,
    // not just the transcription.
    "q_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
        |ORDER BY p_partkey""".stripMargin,
    "q_gini" ->
      """WITH g AS (
        |  SELECT c_nationkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000 AS cents,
        |         count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |p AS (
        |  SELECT *, coalesce(sum(cnt) OVER (PARTITION BY c_nationkey ORDER BY cents
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM g),
        |a AS (
        |  SELECT c_nationkey, sum(cnt) AS n_cust,
        |         sum(CAST(cents * cnt AS DECIMAL(18,0))) AS t,
        |         sum(CAST(cents AS DECIMAL(18,0)) * CAST(cnt * prev + (cnt * (cnt + 1)) // 2 AS DECIMAL(18,0))) AS ws
        |  FROM p GROUP BY 1)
        |SELECT c_nationkey, CAST(n_cust AS BIGINT) AS n_cust, CAST(t AS BIGINT) AS total_cents,
        |       2.0 * CAST(ws AS DOUBLE) / (CAST(n_cust AS DOUBLE) * CAST(t AS DOUBLE))
        |         - (CAST(n_cust AS DOUBLE) + 1.0) / CAST(n_cust AS DOUBLE) AS gini
        |FROM a ORDER BY c_nationkey""".stripMargin,
    "q_market_basket" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |nn AS (SELECT count(DISTINCT l_orderkey) AS n FROM b),
        |pc AS (SELECT a.l_partkey AS p1, b2.l_partkey AS p2, count(*) AS c_ab
        |       FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
        |                         AND a.l_partkey < b2.l_partkey
        |       GROUP BY 1, 2),
        |top AS (SELECT * FROM pc ORDER BY c_ab DESC, p1, p2 LIMIT 20),
        |ic AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY 1)
        |SELECT p1, p2, c_ab, ia.c AS c_a, ib.c AS c_b,
        |       CAST(c_ab AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE) AS support,
        |       CAST(c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE) AS confidence,
        |       CAST((SELECT n FROM nn) AS DOUBLE) * CAST(c_ab AS DOUBLE)
        |         / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE)) AS lift
        |FROM top JOIN ic ia ON ia.l_partkey = p1 JOIN ic ib ON ib.l_partkey = p2
        |ORDER BY c_ab DESC, p1, p2""".stripMargin,
    "q_equidepth_hist" ->
      """WITH b AS (
        |  SELECT o_totalprice,
        |         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders)
        |SELECT bucket, count(*) AS n_orders,
        |       min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_latency_hist" ->
      """WITH j AS (
        |  SELECT o_orderpriority,
        |         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority,
        |       CASE WHEN lat_days <= 30 THEN 'm1_le30'
        |            WHEN lat_days <= 60 THEN 'm2_le60'
        |            WHEN lat_days <= 90 THEN 'm3_le90'
        |            ELSE 'm4_gt90' END AS bucket,
        |       count(*) AS n, max(lat_days) AS max_days
        |FROM j GROUP BY 1, 2 ORDER BY o_orderpriority, bucket""".stripMargin,
    "q_hist2d" ->
      s"""SELECT CAST(month(o_orderdate) AS INT) AS mo,
         |       CAST(floor(o_totalprice / 25000) AS INT) AS price_bin,
         |       count(*) AS n,
         |       ${liftDec2("sum(CAST(o_totalprice AS DECIMAL(18,2)))")} AS revenue
         |FROM orders GROUP BY 1, 2 ORDER BY mo, price_bin""".stripMargin,
    "q_running_records" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderdate, o_orderkey, o_totalprice,
        |         max(o_totalprice) OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_orderdate, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_record
        |  FROM orders)
        |SELECT * FROM r
        |WHERE prev_record IS NULL OR o_totalprice > prev_record
        |ORDER BY o_orderpriority, o_orderdate, o_orderkey""".stripMargin,
    "q_dq_checks" ->
      """SELECT * FROM (
        |  SELECT 'orders_pk_unique' AS "check", count(*) AS n_checked,
        |         count(*) - count(DISTINCT o_orderkey) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orphans', count(*),
        |         count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'events_value_range', count(*),
        |         count(CASE WHEN value < 0 OR value > 1000 THEN 1 END)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events_props_notnull', count(*),
        |         count(CASE WHEN props IS NULL THEN 1 END)
        |  FROM events
        |  UNION ALL
        |  SELECT 'documents_nonempty', count(*),
        |         count(CASE WHEN n_chars <= 0 THEN 1 END)
        |  FROM documents)
        |ORDER BY "check"""".stripMargin,
    "q_mv_incremental" ->
      s"""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
         |       ${Det.liftDec2("sum(CAST(value AS DECIMAL(18,2)))")} AS sum_value,
         |       ${Det.liftDec2("sum(CAST(value AS DECIMAL(18,2)))")} / count(*) AS avg_value
         |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_win_moving_avg" ->
      s"""WITH daily AS (
         |  SELECT l_shipdate AS day, sum($revDec) AS rev_dec, count(*) AS n_items
         |  FROM lineitem GROUP BY 1)
         |SELECT day, n_items, CAST(rev_dec AS DOUBLE) AS revenue,
         |       CAST(sum(rev_dec) OVER w AS DOUBLE) / count(*) OVER w AS ma7
         |FROM daily
         |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY day""".stripMargin,
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_quantity AS mode_qty, cnt
        |FROM c
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY cnt DESC, l_quantity ASC) = 1
        |ORDER BY l_returnflag""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS lo,
        |         quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1),
        |g AS (
        |  SELECT l.l_returnflag,
        |         count(*) FILTER (WHERE l_extendedprice < lo) AS n_clip_lo,
        |         count(*) FILTER (WHERE l_extendedprice > hi) AS n_clip_hi,
        |         CAST(sum(CASE WHEN l_extendedprice >= lo AND l_extendedprice <= hi THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_mid,
        |         min(lo) AS lo, min(hi) AS hi
        |  FROM lineitem l JOIN b ON b.l_returnflag = l.l_returnflag
        |  GROUP BY 1)
        |SELECT l_returnflag, n_clip_lo, n_clip_hi,
        |       sum_mid + CAST(n_clip_lo AS DOUBLE) * lo + CAST(n_clip_hi AS DOUBLE) * hi AS sum_winsorized
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "q_agg_argmax" ->
      s"""SELECT l_returnflag, max_by(l_orderkey, $tieKey) AS top_order,
         |       min_by(l_orderkey, $tieKey) AS low_order,
         |       max(l_extendedprice) AS max_price, min(l_extendedprice) AS min_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_median" ->
      """SELECT l_returnflag, l_linestatus, median(l_quantity) AS med_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_listagg" ->
      """SELECT c_nationkey,
        |       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        |       count(*) AS n_cust
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_agg_regression" ->
      s"""WITH m AS (
         |  SELECT l_returnflag, ${regSums.mkString(", ")}
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, ${regOut.mkString(", ")}
         |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_agg_skewkurt" ->
      s"""WITH sums AS (
         |  SELECT l_returnflag, ${momentSums.mkString(", ")}
         |  FROM lineitem GROUP BY l_returnflag),
         |m AS (SELECT *, ${momentOut(0)}, ${momentOut(1)} FROM sums)
         |SELECT l_returnflag, n_items, mean, var_pop,
         |       ${momentOut(2)},
         |       ${momentOut(3)}
         |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_zorder_layout" ->
      """WITH o AS (
        |  SELECT o_custkey % 65536 AS ck,
        |         CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) % 65536 AS dy
        |  FROM orders),
        |z AS (SELECT ck, dy,
        |             CAST(list_sum(list_transform(range(0, 16), i ->
        |               (((ck >> i) & 1) << (2 * i)) + (((dy >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        |      FROM o)
        |SELECT zval >> 22 AS z_bucket, count(*) AS n_orders,
        |       min(zval) AS min_z, max(zval) AS max_z,
        |       min(ck) AS min_ck, max(ck) AS max_ck,
        |       min(dy) AS min_dy, max(dy) AS max_dy
        |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin,
    "q_bitmap_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_distinct_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_resample_locf" ->
      s"""WITH hourly AS (
         |  SELECT user_id, date_trunc('hour', ts) AS hr, ${Det.avgDec2("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |spine AS (
         |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
         |  FROM (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1)),
         |j AS (
         |  SELECT s.user_id, s.hr, h.v FROM spine s
         |  LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr)
         |SELECT user_id, hr,
         |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
         |       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
         |FROM j ORDER BY user_id, hr""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id) AS v_ts
        |  FROM events),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > v_ts THEN ts END)
        |              OVER (PARTITION BY user_id) AS c_ts
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > c_ts THEN ts END)
        |              OVER (PARTITION BY user_id) AS p_ts
        |  FROM s2),
        |u AS (SELECT DISTINCT user_id, v_ts, c_ts, p_ts FROM s3)
        |SELECT count(*) AS n_users, count(v_ts) AS n_view,
        |       count(c_ts) AS n_click_after_view,
        |       count(p_ts) AS n_purchase_after_click
        |FROM u""".stripMargin,
    "q_quantize_int8" ->
      s"""SELECT vec_id, (lmax - lmin) / 255.0 AS scale,
         |       array_to_string(list_transform(embedding, $quantLambda), ',') AS q
         |FROM (SELECT vec_id, embedding,
         |             CAST(list_min(embedding) AS DOUBLE) AS lmin,
         |             CAST(list_max(embedding) AS DOUBLE) AS lmax
         |      FROM embeddings)
         |ORDER BY vec_id""".stripMargin,
  )
}
