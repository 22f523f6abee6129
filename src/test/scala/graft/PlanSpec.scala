package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{Llm, VectorOps}
import graft.tools.Census

/** Physical-plan regression net: the scale properties we rely on (pushdown,
  * pruning, join selection, top-k without global sort) must survive future
  * edits — a correctness-preserving change that loses one of these is a
  * 100x regression at real scale.
  *
  * One census ([[Census]]) of the whole board is checked three ways: each
  * query's line against the golden `plan-census.txt`, the board rules
  * (nested loops, global windows, raw single-partition exchanges), and the
  * named locks below, which state each query's design point as census
  * terms plus the explain text a census cannot see (pushed filters, read
  * schemas, partition and join keys, operator order, expression text).
  * A change that moves a plan reruns `runMain graft.tools.Census <sf0.001
  * dir> src/test/resources/plan-census.txt` and explains the golden diff;
  * a lock's census terms restate its line on purpose, as the design
  * invariant (`bhj>=1`, `hash+repart=1`) the regenerated golden must keep. */
class PlanSpec extends SparkSuite {

  private lazy val board: Map[String, Census.Line] = Census.board(spark, sf001).toMap

  /** `terms` is space-separated `a+b<op>n` checks, op one of `=`, `>=`, `<=`. */
  private def assertCensus(what: String, c: Census.Line, terms: String): Unit =
    terms.split(" ").filter(_.nonEmpty).foreach { t =>
      val m = """([\w+]+)(>=|<=|=)(\d+)""".r.pattern.matcher(t)
      require(m.matches, s"bad census term '$t'")
      val (got, want) = (m.group(1).split('+').map(c(_)).sum, m.group(3).toInt)
      val ok = m.group(2) match { case "=" => got == want; case ">=" => got >= want; case _ => got <= want }
      assert(ok, s"$what: $t fails (is $got) in census: $c")
    }

  /** A lock on one query: census terms, then `has`/`hasNot` on the
    * formatted explain and regexes `re`/`reNot` on the plan tree string. */
  private case class Lock(q: String, census: String = "", has: Seq[String] = Nil,
      hasNot: Seq[String] = Nil, re: Seq[String] = Nil, reNot: Seq[String] = Nil)

  private def check(l: Lock): Unit = {
    assertCensus(l.q, board(l.q), l.census)
    if ((l.has ++ l.hasNot ++ l.re ++ l.reNot).nonEmpty) {
      val qe = SparkEntry.queries(l.q)(spark, sf001).queryExecution
      val (text, tree) = (qe.explainString(FormattedMode), qe.executedPlan.toString)
      l.has.foreach(s => assert(text.contains(s), s"${l.q}: plan lacks '$s'"))
      l.hasNot.foreach(s => assert(!text.contains(s), s"${l.q}: plan has '$s'"))
      l.re.foreach(r => assert(r.r.findFirstIn(tree).isDefined, s"${l.q}: no /$r/ in\n$tree"))
      l.reNot.foreach(r => assert(r.r.findFirstIn(tree).isEmpty, s"${l.q}: /$r/ in\n$tree"))
    }
  }

  /** Queries allowed a nested-loop join, each bounded by construction. */
  private val nestedLoops = Map(
    "q_abc_pareto" -> "1-row (min, max) spend bounds feeding the bucket-width rule",
    "q_bm25_topk" -> "1-row (N, total doc length) stats onto the candidate frame",
    "q_chi2_drift" -> "1-row time midpoint onto the scan, grand totals onto the 5-row table",
    "q_churn_matrix" -> "1-row max week onto the user-week frame",
    "q_decontaminate_sem" -> "broadcast eval-set probe, at most 50 rows by the eval-slice rule",
    "q_dedup_embcos" -> "declared pair join over a capped pair space",
    "q_domain_mix" -> "1-row per-source quota",
    "q_dsir_weights" -> "1-row (Nt, Nr) token totals onto the vocabulary-sized scores",
    "q_equidepth_hist" -> "1-row (min, max, count) price bounds",
    "q_er_blocking" -> "1-row (count, min, max) stats feeding the blocking-bin width",
    "q_filter_outliers" -> "1-row p99 token-count cut",
    "q_hard_negatives" -> "label-filtered probe broadcast, the q_sim_topk shape",
    "q_id_gaps" -> "1-row (min, max) id bounds feeding the bucket-width rule",
    "q_join_cross" -> "the declared 5 x 25 region x nation cross join",
    "q_ks_test" -> "1-row (n_a, n_b) totals onto the distinct-value grid",
    "q_market_basket" -> "1-row order count onto the top-20 pairs",
    "q_pagerank" -> "1-row document count",
    "q_pagerank_step" -> "1-row document count",
    "q_semdedup" -> "nearest-centroid fan-out against the broadcast quantizer (<= 4096 rows)",
    "q_sim_ivf" -> "centroid assignment and probe against the broadcast IVF centroid table",
    "q_sim_topk" -> "capped probe broadcast",
    "q_split_leakproof" -> "1-row naive-leak count onto the 2-row split rollup",
    "q_sql_q11" -> "Q11's 1-row supplier count and global-total attaches",
    "q_text_colloc" -> "1-row unigram and bigram totals",
    "q_text_tfidf" -> "1-row corpus document count N",
    "q_vocab_prune" -> "1-row corpus token total onto the top-20 report")

  /** Queries allowed an unpartitioned window, each over a bounded rollup. */
  private val globalWindows = Map(
    "q_benford" -> "grand total over the <= 9-row first-digit rollup",
    "q_equidepth_hist" -> "bin offsets over the <= RankBins bin-count rollup",
    "q_id_gaps" -> "cross-bucket gaps over the <= 4096-row bucket bounds",
    "q_ks_test" -> "ECDF over the distinct-value grid, not the events",
    "q_mutual_info" -> "grand total over the <= 25-cell segment x priority rollup",
    "q_rolling_corr" -> "30-day window over the one-row-per-day rollup",
    "q_sample_temperature" -> "normalising sums over the per-source rollup",
    "q_skyline" -> "prefix minimum over the <= 50-row per-size rollup",
    "q_vocab_prune" -> "cumulative coverage over the top-20 TakeOrdered rows",
    "q_win_moving_avg" -> "7-day window over the one-row-per-day revenue rollup")

  private val noLoops = "bnlj+cart=0"
  private val equiJoin = "bhj+smj+shj>=1"
  private val twoPhase = "hash_agg>=2"
  /** Partial aggregate, exchange, final aggregate, top-down in the tree. */
  private def aggBelowExchange(gap: Int) =
    s"HashAggregate[\\s\\S]{0,$gap}?Exchange hashpartitioning[\\s\\S]{0,$gap}?HashAggregate"

  /** The named locks: test name -> the locks it holds. */
  private val locks: Seq[(String, Seq[Lock])] = Seq(
    "q_filter_range pushes every predicate into the parquet scan" -> Seq(
      Lock("q_filter_range", has = Seq("PushedFilters: [IsNotNull(l_shipdate)",
        "GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24.0)"))),
    "q_scan_project prunes to exactly the projected columns" -> Seq(
      Lock("q_scan_project", has = Seq("ReadSchema: " +
        "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"))),
    "metadata-only queries never read the heavy payload columns" -> Seq(
      Lock("q_sample_stratified", has = Seq("ReadSchema: struct<doc_id:bigint,lang:string,source:string>")),
      Lock("q_embedding_coverage", hasNot = Seq("embedding:array"))),
    "q_join_broadcast builds a broadcast hash join (no shuffle of the fact side)" -> Seq(
      Lock("q_join_broadcast", "bhj>=1")),
    "q_join_semi / q_join_anti plan as semi/anti joins, not materialized joins" -> Seq(
      Lock("q_join_semi", "semi>=1"), Lock("q_join_anti", "anti>=1")),
    "q_sort_limit uses TakeOrderedAndProject, not a global sort" -> Seq(
      Lock("q_sort_limit", "top>=1 sort=0")),
    "bounded-sample and bigram-DF top-k avoid global sorts too" -> Seq(
      Lock("q_sample_bottomk", "top>=1"), Lock("q_text_bigram_df", "top>=1")),
    "q_agg_q1 aggregates in two phases (partial before the exchange)" -> Seq(
      Lock("q_agg_q1", s"hash>=1 $twoPhase")),
    // winner selection, the stop-window purge, block sizing and RFM bands
    // are groupBys routed by joins against tiny hot-key frames: a window
    // over a hot key would funnel its whole posting list into one task
    "round-11 additions keep their scale-shape design points" -> Seq(
      Lock("q_text_line_dedup", "window+wgl=0"),
      Lock("q_text_novelty", "window+wgl=0",
        reNot = Seq("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[bigram")),
      Lock("q_dedup_substring", "window+wgl=0 anti>=1"),
      Lock("q_er_blocking", "window+wgl=0 anti>=1 semi>=1"),
      Lock("q_rfm_segment", "window+wgl=0"),
      Lock("q_key_skew_audit",
        has = Seq("l_orderkey", "l_partkey", "l_suppkey").map(k => s"ReadSchema: struct<$k:bigint>")),
      Lock("q_embedding_drift", "cache>=1")),
    "q_join_range_binned turns the keyless range join into an equi-join" -> Seq(
      Lock("q_join_range_binned", s"$noLoops $equiJoin")),
    "q_subquery_exists decorrelates to a semi join (no subquery re-execution per row)" -> Seq(
      Lock("q_subquery_exists", "semi>=1")),
    "q_gap_fill joins the generated calendar by broadcast (no shuffle of either tiny side)" -> Seq(
      Lock("q_gap_fill", "bhj>=1")),
    "q_text_tfidf prunes the per-doc top-3 before the window sort (WindowGroupLimit)" -> Seq(
      Lock("q_text_tfidf", "wgl>=1")),
    "q_pack_sequences shuffles the corpus once; shard totals reuse the window's partitioning" -> Seq(
      Lock("q_pack_sequences", "hash+repart=3 bhj>=1", re = Seq(aggBelowExchange(400)))),
    "q_sql_q3 (text SQL surface) gets the same physical plan quality as the DataFrame API" -> Seq(
      Lock("q_sql_q3", "top>=1 bhj>=1",
        has = Seq("EqualTo(c_mktsegment,BUILDING)", "LessThan(o_orderdate", "GreaterThan(l_shipdate"))),
    "q_resample_locf: the planner inserts NO hash shuffle (user_id partitioning reused)" -> Seq(
      Lock("q_resample_locf", "hash=0 repart>=1")),
    "q_funnel shares one user_id shuffle across its three windows and the distinct" -> Seq(
      Lock("q_funnel", "hash+repart=1")),
    "q_funnel_windowed shares one user_id shuffle like its unbounded twin" -> Seq(
      Lock("q_funnel_windowed", "hash+repart=1")),
    "q_compaction_plan: the prefix window runs over the (priority, day) rollup" -> Seq(
      Lock("q_compaction_plan", "window>=1", re = Seq("Window[\\s\\S]*HashAggregate"))),
    "q_bitmap_distinct builds bitmaps map-side (partial aggregate below the exchange)" -> Seq(
      Lock("q_bitmap_distinct", has = Seq("bitmap_construct_agg"),
        re = Seq("Exchange hashpartitioning[\\s\\S]{0,800}?partial_bitmap_construct_agg"))),
    "q_sql_q18: IN-subquery plans as a semi join; top-100 avoids a global sort" -> Seq(
      Lock("q_sql_q18", "semi>=1 top>=1")),
    "q_sql_q5: dimension chain broadcasts; region filter reaches the scan" -> Seq(
      Lock("q_sql_q5", "bhj>=2",
        has = Seq("EqualTo(r_name,ASIA)", "GreaterThanOrEqual(o_orderdate", "LessThan(o_orderdate"))),
    "q_cluster_assign broadcasts the centroid table and partial-aggregates the dots" -> Seq(
      Lock("q_cluster_assign", s"bhj>=1 $twoPhase")),
    // 5 rounds: the lane frame's vec_id shuffle is two exchanges, reused by
    // every round's consumers, plus one small centroid rollup per round
    "q_kmeans broadcasts the centroid table every round (lanes never shuffle K ways)" -> Seq(
      Lock("q_kmeans", "bhj>=1 smj=0 repart=2 hash+repart+range<=8")),
    "q_anomaly_days broadcasts the per-type stats back onto the daily rollup" -> Seq(
      Lock("q_anomaly_days", "bhj>=1")),
    "q_interval_union and q_time_weighted_avg shuffle once on user_id" ->
      Seq("q_interval_union", "q_time_weighted_avg").map(Lock(_, "hash+repart=1")),
    "q_equidepth_hist ranks within value bins — the corpus is never sorted on one task" -> Seq(
      Lock("q_equidepth_hist", "single>=1", hasNot = Seq("ntile"),
        re = Seq("\\], \\[bin#\\d+\\], \\[o_totalprice"))),
    "q_running_records: per-date windows + broadcast prefix maxima, no 5-way parallelism cap" -> Seq(
      Lock("q_running_records", "bhj>=1",
        re = Seq("\\], \\[o_orderpriority#\\d+, o_orderdate#\\d+\\], \\[o_orderkey"),
        reNot = Seq("\\], \\[o_orderpriority#\\d+\\], \\[o_orderkey"))),
    // one explicit user_id repartition per query; a second hash exchange is
    // the final rollup, and it carries partial-aggregated rows
    "Behavior single-shuffle claims: the user_id repartition is the only corpus shuffle" ->
      (Seq("q_retention", "q_event_transitions", "q_lateness_audit")
        .map(Lock(_, "hash=1 repart=1", re = Seq(aggBelowExchange(600)))) ++
      Seq("q_win_streaks", "q_golden_record", "q_scd2", "q_win_median").map(Lock(_, "hash=0 repart=1"))),
    "q_churn_matrix: every consumer reads the ONE cached user-week shuffle" -> Seq(
      Lock("q_churn_matrix", "cache>=4 repart=1")),
    "q_sessionize shuffles once on user_id (window + groupBy share the partitioning)" -> Seq(
      Lock("q_sessionize", "hash+repart=1")),
    "q_skyline: corpus filtered by broadcast of the size rollup, no corpus sort" -> Seq(
      Lock("q_skyline", "bhj>=1 single>=1")),
    "q_gini: rank window runs over the value-grouped rollup, not raw customers" -> Seq(
      Lock("q_gini", re = Seq("Window[\\s\\S]*HashAggregate", "\\[c_nationkey#\\d+\\], \\[cents"))),
    "q_market_basket: global top-20 is a TakeOrderedAndProject, stats attach to 20 rows" -> Seq(
      Lock("q_market_basket", "top>=1")),
    "q_ngram_lm: per-head top-3 prunes via WindowGroupLimit over the full bigram table" -> Seq(
      Lock("q_ngram_lm", "wgl>=1 top>=1")),
    "q_corr_matrix: all 15 power sums ride ONE corpus aggregation pass" -> Seq(
      Lock("q_corr_matrix", "hash=1")),
    "q_bfs_dist: every round reads the cached edge frame; shuffles stay bounded" -> Seq(
      Lock("q_bfs_dist", s"cache+reused>=${VectorOps.BfsRounds} " +
        s"hash+repart+range+single<=${VectorOps.BfsRounds + 4}")),
    "q_join_bloom: the probe filter prunes the fact side BELOW its shuffle" -> Seq(
      Lock("q_join_bloom", "smj>=1 bnlj=0", re = Seq(
        "Exchange hashpartitioning\\(l_orderkey[^\\n]*\\n(?:[^\\n]*\\n){0,2}?[^\\n]*Filter[^\\n]*graft_bloom_contains"))),
    "q_hits: every round reads the cached mode-tagged edge frame" -> Seq(
      Lock("q_hits", s"cache>=${VectorOps.HitsRounds}")),
    "q_rolling_corr: the unpartitioned window runs over the daily rollup only" -> Seq(
      Lock("q_rolling_corr", "single>=1 window_global>=1")),
    "q_triangle_count: wedge and closing joins are equi-joins, never nested loops" -> Seq(
      Lock("q_triangle_count", s"$noLoops bhj+smj+shj>=3")),
    "q_topn_diversified: per-group cap via WindowGroupLimit, global cut via TakeOrderedAndProject" -> Seq(
      Lock("q_topn_diversified", "wgl>=1 top>=1")),
    "q_join_salted: the join keys carry the salt (hot keys split R ways)" -> Seq(
      Lock("q_join_salted", "smj>=1",
        re = Seq("hashpartitioning\\(l_orderkey#\\d+L, salt#\\d+", "explode\\([\\s\\S]{0,200}?\\[salt#\\d+\\]"))),
    "q_edge_jaccard: wedge and membership joins stay equi-joins over the memoized edges" -> Seq(
      Lock("q_edge_jaccard", s"$noLoops bhj+smj+shj>=4")),
    "q_rolling_active: coverage explode + broadcast day domain, never a per-day distinct" -> Seq(
      Lock("q_rolling_active", "bhj>=1 generate>=1", hasNot = Seq("count(distinct"),
        re = Seq("Generate explode\\(sequence\\(", "\\], \\[user_id#\\d+L\\], \\[d#"))),
    "q_sql_q7 broadcasts both nation roles; filters reach the dimension scans" -> Seq(
      Lock("q_sql_q7", "bhj>=2", has = Seq("n_name"))),
    "q_sample_group: the per-source quota prunes via WindowGroupLimit heaps" -> Seq(
      Lock("q_sample_group", "wgl>=1")),
    "q_hist2d aggregates the grid in two phases (partial before the exchange)" -> Seq(
      Lock("q_hist2d", twoPhase)),
    "q_cdc_apply: latest-change dedup prunes via WindowGroupLimit 1-row heaps" -> Seq(
      Lock("q_cdc_apply", "wgl>=1")),
    "q_rank_norm: the corpus rank window is partitioned by (dim, bucket), never dim alone" -> Seq(
      Lock("q_rank_norm", "bhj>=1",
        re = Seq("\\], \\[dim#\\d+, b#\\d+\\], \\[v#\\d+"), reNot = Seq("\\], \\[dim#\\d+\\], \\[v#\\d+"))),
    "q_lm_score: LM build and scoring stay keyed joins, never nested loops" -> Seq(
      Lock("q_lm_score", s"$noLoops $twoPhase")),
    "q_token_budget: the cumsum window is per-language; budgets broadcast" -> Seq(
      Lock("q_token_budget", "single=0 bhj>=1")),
    "q_ks_test: only the distinct-value grid crosses the global window; argmax is TakeOrdered" -> Seq(
      Lock("q_ks_test", s"top>=1 $twoPhase")),
    "q_outlier_mad: the 5-row med/mad intermediates broadcast, never shuffle the corpus" -> Seq(
      Lock("q_outlier_mad", "bhj>=1 smj=0")),
    "q_dataset_card: the prefix-dup side pre-aggregates; no self-join of the corpus" -> Seq(
      Lock("q_dataset_card", "cart=0 smj=0")),
    "q_dup_profile: distinct counts are two-phase aggs, no corpus window or self-join" -> Seq(
      Lock("q_dup_profile", s"cart=0 window+wgl=0 $twoPhase")),
    "q_source_overlap: the posting self-join stays a line-keyed equi-join" -> Seq(
      Lock("q_source_overlap", s"$noLoops $equiJoin")),
    "q_sql_q4: the correlated EXISTS decorrelates to one LeftSemi; dates pushed" -> Seq(
      Lock("q_sql_q4", s"semi>=1 $noLoops", has = Seq("GreaterThanOrEqual(o_orderdate"))),
    "q_sql_q19: the disjunctive bands push to BOTH scans; one equi-join survives" -> Seq(
      Lock("q_sql_q19", s"$noLoops $equiJoin", has = Seq("PushedFilters: [IsNotNull(l_partkey), Or(Or(",
        "PushedFilters: [IsNotNull(p_partkey), Or(Or(And(EqualTo(p_brand"))),
    "q_sql_q15: quarter filter pushed; supplier side broadcasts; no nested loop" -> Seq(
      Lock("q_sql_q15", s"bhj>=1 $noLoops", has = Seq("GreaterThanOrEqual(l_shipdate"))),
    "q_sql_q17: correlated scalar subqueries decorrelate; no per-row rescan" -> Seq(
      Lock("q_sql_q17", noLoops, has = Seq("LessThanOrEqual(p_size,10)"))),
    "q_sql_q22: NOT EXISTS plans as LeftAnti; nation pool filter pushed" -> Seq(
      Lock("q_sql_q22", s"anti>=1 $noLoops", has = Seq("In(c_nationkey"))),
    "q_filter_funnel and q_span_mask keep their linear scale shapes" -> Seq(
      Lock("q_filter_funnel", s"bhj+smj+shj+bnlj+cart=0 window+wgl=0 $twoPhase"),
      Lock("q_span_mask", s"window+wgl=0 $noLoops")),
    "q_sql_q6: the query IS its scan — all three predicates pushed, two-phase agg" -> Seq(
      Lock("q_sql_q6", s"bhj+smj+shj+bnlj+cart=0 $twoPhase", has = Seq("GreaterThanOrEqual(l_shipdate",
        "LessThan(l_quantity,24.0)", "GreaterThanOrEqual(l_discount,0.02)"))),
    "q_sql_q9 and q_sql_q12: date windows pushed, single-pass conditional aggs" -> Seq(
      Lock("q_sql_q9", noLoops, has = Seq("StringContains(p_name,gear)")),
      Lock("q_sql_q12", s"$noLoops $twoPhase", has = Seq("GreaterThanOrEqual(l_shipdate"))),
    "q_sql_q2: the correlated MIN decorrelates to an aggregate join" -> Seq(
      Lock("q_sql_q2", noLoops, has = Seq("LessThanOrEqual(p_size,5)", "min("))),
    "q_sql_q8: 8-relation join — filters pushed, dimensions broadcast, no nested loop" -> Seq(
      Lock("q_sql_q8", s"bhj>=1 $noLoops", has = Seq("EqualTo(p_type,PROMO)", "GreaterThanOrEqual(o_orderdate"))),
    "q_sql_q21: both correlations decorrelate — one LeftSemi AND one LeftAnti" -> Seq(
      Lock("q_sql_q21", s"semi>=1 anti>=1 $noLoops", has = Seq("EqualTo(o_orderstatus,F)"))),
    "q_sql_q13: the outer join survives; both aggregations are partial+final" -> Seq(
      Lock("q_sql_q13", s"outer>=1 hash_agg>=4 $noLoops")),
    "q_sql_q16: NOT IN plans as an anti join; part predicates pushed" -> Seq(
      Lock("q_sql_q16", s"anti>=1 $noLoops", has = Seq("In(p_size"))),
    "q_sql_q20: the nested IN chain decorrelates to two semi joins" -> Seq(
      Lock("q_sql_q20", s"semi>=2 $noLoops", has = Seq("StringStartsWith(p_name,small)"))),
    // the one sanctioned nested loop is the centroid fan-out; a second
    // would mean the pair stage degenerated
    "q_semdedup: the pair stage is a cluster-keyed equi-join, dot codegen'd" -> Seq(
      Lock("q_semdedup", "cart=0 bnlj=1", has = Seq("graft_dot"))),
    "q_autocorr and q_conversion_lag: lag/first-event joins stay equi-joins" ->
      Seq("q_autocorr", "q_conversion_lag").map(Lock(_, s"$noLoops $equiJoin")))

  test("census: every query's line equals the golden plan-census.txt") {
    val golden = scala.io.Source.fromResource("plan-census.txt").getLines()
      .map(_.split(" ", 2)).map(a => a(0) -> a.lift(1).getOrElse("")).toMap
    val now = board.map { case (n, c) => n -> c.toString }
    val moved = (golden.keySet ++ now.keySet).toSeq.sorted.filter(n => golden.get(n) != now.get(n))
    assert(moved.isEmpty, moved.map(n =>
      s"$n\n  golden: ${golden.getOrElse(n, "-")}\n  now:    ${now.getOrElse(n, "-")}").mkString("\n"))
  }

  private def having(field: String) = board.collect { case (n, c) if c(field) > 0 => n }.toSet
  private def assertDeclared(field: String, declared: Map[String, String]): Unit =
    assert(having(field) == declared.keySet,
      s"undeclared: ${having(field) -- declared.keySet}; stale: ${declared.keySet -- having(field)}")

  test("BroadcastNestedLoopJoin appears only in the declared bounded cases") {
    assertDeclared("bnlj", nestedLoops)
  }

  // the declared cross join, q_join_cross, plans as a nested loop (`nestedLoops`)
  test("no query plans a CartesianProduct") {
    assert(having("cart").isEmpty, s"cartesian products: ${having("cart")}")
  }

  test("census: unpartitioned windows run only over the declared bounded rollups") {
    assertDeclared("window_global", globalWindows)
  }

  test("census: no SinglePartition exchange carries unaggregated rows") {
    assert(having("single_raw").isEmpty, s"raw rows onto one task in: ${having("single_raw")}")
  }

  test("census self-test: the walker reports exact counts on synthetic plans") {
    val r = spark.range(100).toDF("x")
    assert(Census.of(r.join(spark.range(10).toDF("y"), col("x") < col("y"))).toString == "bcast=1 bnlj=1")
    assert(Census.of(r.withColumn("n", row_number().over(Window.orderBy("x")))).toString ==
      "single=1 single_raw=1 window=1 window_global=1")
    val cached = Caches.registered(r.groupBy(col("x") % 3).count())
    assert(Census.of(cached.union(cached)).toString == "cache=2 hash=1 hash_agg=2")
    // the second exchange is a stage-cache hit: the partial aggregate below is not recounted
    val agg = r.groupBy(col("x") % 5).count()
    assert(Census.of(agg.union(agg)).toString == "hash=1 reused=1 hash_agg=3")
    assert(Census.of(spark.sql("SELECT id FROM range(10) WHERE id > (SELECT max(id) FROM range(5))")).toString ==
      "single=1 hash_agg=2")
  }

  locks.foreach { case (name, ls) => test(name)(ls.foreach(check)) }

  test("a literal range on events.ts pushes through the reader's LTZ cast") {
    // Tables.events normalizes ts to TIMESTAMP via a cast over the scan
    // column; under the UTC session Catalyst unwraps that cast, so literal
    // time-range predicates still reach the parquet reader as scan-level
    // NTZ filters. This is what makes time-sliced reads of a full-size
    // events table cheap — pin it.
    val p = Tables.events(spark, sf001)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-20").cast("timestamp"))
      .groupBy("event_type").count()
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThan(ts,"),
      "ts range must reach the scan despite the normalization cast:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("dedup verify joins are pruned to candidate docs; LSH caps bucket size") {
    // The bigram verify joins (Jaccard / containment / edit) read bigrams
    // through the doc-level LeftSemi prune — without it the full exploded
    // bigram table shuffles through both join sides (24x on 10x data).
    // Board queries read the memoized ngramIndex checkpoints, so the prune
    // is asserted on the fresh index-construction pipelines.
    Seq(
      "containmentPairs" -> VectorOps.containmentPairs(Tables.documents(spark, sf001)),
      "ngramPairs" -> VectorOps.ngramPairs(Tables.documents(spark, sf001))
    ).foreach { case (n, df) => assertCensus(n, Census.of(df), "semi>=1") }
    // q_dedup_near drops buckets over BucketCap by an anti-join before any
    // membership is collected (an unbounded bucket of n boilerplate docs
    // enqueues n^2/2 pairs), and verifies by a per-row array_intersect over
    // per-doc distinct shingle arrays, not a re-exploded shingle stream
    check(Lock("q_dedup_near", "anti>=1",
      has = Seq(s"> ${Llm.BucketCap}", "array_intersect", "array_distinct")))
  }

  test("Tables.spread/spreadFrom: layout gate fires on narrow inputs, no-ops on wide ones") {
    // narrow branch: the test tables are single-row-group files far below
    // defaultParallelism * maxPartitionBytes, so the gate must insert the
    // repartition (DataFrame path) / the REPARTITION subquery (SQL path)
    val narrow = Tables.spread(spark, sf001, "lineitem", col("l_orderkey"))
    assert(narrow.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }.nonEmpty, "narrow input must be spread")
    assert(Tables.spreadFrom(spark, sf001, "lineitem", "l_orderkey")
      .startsWith("(SELECT /*+ REPARTITION"), "narrow input must get the hint subquery")
    // wide branch: shrink maxPartitionBytes so the same bytes yield >=
    // defaultParallelism/2 splits — the gate must return the bare reader
    // (this is the production-layout posture: no extra exchange, map-side
    // partial aggregation preserved)
    val was = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val wide = Tables.spread(spark, sf001, "lineitem", col("l_orderkey"))
      assert(wide.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
        }.isEmpty, "wide input must stay untouched")
      val bare = Tables.spreadFrom(spark, sf001, "lineitem", "l_orderkey")
      assert(bare == Tables.sqlRef(spark, sf001, "lineitem") && !bare.contains("REPARTITION"),
        "wide input must keep the bare table ref")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", was)
  }

  test("Tables.evict forgets the spread gate's table sizes") {
    // at 64 KiB splits the gate's volume bound is 8 KiB: a table under it
    // spreads, and after a ~20 KiB file lands under it and the session
    // evicts, the gate must decide on the new size
    val sf = java.nio.file.Files.createTempDirectory("spread_sizes").toString
    val dir = s"$sf/lineitem.parquet"
    def bytes = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    spark.range(50).toDF("l_orderkey").coalesce(1).write.parquet(dir)
    SessionConfs.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "65536") {
      assert(bytes < 8 * 1024)
      assert(Tables.spreadFrom(spark, sf, "lineitem", "l_orderkey")
        .startsWith("(SELECT /*+ REPARTITION"), "a small table must get the hint subquery")
      spark.range(2500).selectExpr("CAST(rand(7) * 9e18 AS BIGINT) AS l_orderkey")
        .coalesce(1).write.mode("append").parquet(dir)
      assert(bytes > 16 * 1024 && bytes < 64 * 1024)
      Tables.evict(spark)
      assert(Tables.spreadFrom(spark, sf, "lineitem", "l_orderkey") ==
        Tables.sqlRef(spark, sf, "lineitem"), "the grown table must keep the bare ref")
    }
    Tables.evict(spark)
  }
}
