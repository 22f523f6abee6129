package graft

/** Benchmark main. Emits, on stdout:
  *   1. one JSON line with the full per-query map (the detailed record),
  *   2. LAST, a compact `{"metric":"total",...}` line with no per-query map
  *      — guaranteed to fit in a tail capture, so a driver that keeps only
  *      the final lines of output can always parse the total.
  * The full JSON is also written to `BENCH_LOCAL.json` in the working
  * directory. Both the cold (first timed pass) and warm (second pass)
  * totals are reported; `value` is the warm total, `cold_value` the cold
  * one, so the grading side can choose either protocol.
  *
  * Failures are loud: a query that throws is recorded with `-1` in the
  * queries map and listed in `errors`; `failed` carries the count and the
  * process exits non-zero — a regression cannot silently improve the total.
  *
  * Materialization is a NOOP-SINK WRITE, not `.count()`: under a count,
  * Catalyst correctly prunes output work whose cardinality is guaranteed
  * — left joins onto unique-key aggregates vanish (q_semdedup's whole
  * pair stage), unreferenced aggregate expressions are dropped from
  * HashAggregate, and projected expression columns are eliminated — so a
  * count-based total under-reports the work a consumer actually pays.
  * The noop sink consumes every row and column (the full-board A/B at
  * sf0.1 measured 97.6 s count vs 174.7 s noop before the q_try_arith
  * fixture fix; PERF.md "honest materialization").
  */
object Bench {
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.envCpus
    // AQE knob for A/B runs: at bench SFs every query is sub-second and the
    // static 32-partition plan already matches cores, so AQE's per-stage
    // re-plan jobs are measurable fixed overhead; at real scale AQE earns
    // its keep (skew splits, partition coalescing — exercised in ScaleSpec)
    val spark = Session.local(cpus, Session.envAqe)
    val parallelism = spark.sparkContext.defaultParallelism

    // machine-noise context: the one-shot totals of identical code swing
    // 41-56 s across runs (PERF.md) purely with background load, so the
    // record carries the system load average around the timed passes and a
    // min-over-passes steady total the grading side can use to separate
    // code regressions from scheduling noise
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage

    // untimed sf0.001 warmup: compiles every query's generated code and
    // JITs the hot paths, so neither timed pass pays one-time JVM costs.
    // Runs unconditionally — even when benching sf0.001 itself, the cold
    // pass should measure plans and IO, not codegen compilation.
    SparkEntry.queries.values.foreach { fn =>
      try materialize(fn(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
      Caches.drain(spark)
    }

    // one timed pass; a throwing query keeps its time-to-exception but is
    // flagged so it can never masquerade as a fast success
    def timedPass(): Map[String, (Double, Boolean)] =
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { materialize(fn(spark, sfDir)); true }
          catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        // per-query cache release: a 205-query session must never hold the
        // board's accumulated cache blocks (the 100x-sweep 8 GiB killer).
        // Outside the timer — unpersist(blocking=false) is driver-side
        // bookkeeping, but the recompute cost it induces IS timed, because
        // the next pass rebuilds its own caches like a fresh driver would.
        Caches.drain(spark)
        name -> ((t, ok))
      }

    // THREE timed passes with the loadavg sampled after each: identical
    // code has measured 41-56 s apart on this box purely with co-tenant
    // load (round-12 bench ran at loadavg 5.5 and read 25% over the
    // quiet-machine number), so the grading side needs per-pass values to
    // separate a code regression from a noisy neighbor. `value` stays the
    // second pass (the historical "warm") for cross-round comparability;
    // `steady_value` is the per-query min over ALL timed passes.
    //
    // CONTENDED-BOX RULE (round-15 lesson: identical code swung
    // [298.8, 193.1, 347.9] on a loaded driver box — min-of-3 still
    // carried the contention floor): when the PRE-WARMUP loadavg — the
    // one sample this process has not contaminated; every later sample
    // reads mostly our own local[N] saturation — shows an already-busy
    // machine (> cores/8: a 4-runnable backlog on the 32-core box skewed
    // r15 by 18%+), run up to TWO extra timed passes so min-of-N gets
    // more draws against the noise. `passes_run` records what happened.
    val nAvail = Runtime.getRuntime.availableProcessors
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passBuf =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, (Double, Boolean)]]
    def runPass(): Unit = {
      passBuf += timedPass(); loads += osBean.getSystemLoadAverage
    }
    runPass() // first touch of the bench-SF data: cold page cache
    runPass() // steady-state plans, I/O cached
    runPass() // third pass: co-tenancy probe
    while (loadStart > nAvail / 8.0 && passBuf.size < 5) runPass()
    val passes = passBuf.toSeq
    val cold = passes(0)
    val warm = passes(1)

    // seq concat, NOT map merge: a Map ++ would drop a single-pass-only
    // failure (a later entry overwrites the same key) and exit 0 for it
    val failedNames =
      passes.flatMap(_.toSeq).collect { case (n, (_, false)) => n }.distinct.sorted
    def total(m: Map[String, (Double, Boolean)]): Double = m.values.map(_._1).sum
    val warmTotal = total(warm)
    val coldTotal = total(cold)
    val loadEnd = loads.last
    // per-query min over all timed passes: the cheapest steady-state
    // estimate this process can produce. Exposed PER QUERY (not just as a
    // total) because single-pass per-query values swing with co-tenant
    // load — round 13's q_triangle_count read 0.78→1.46 s across rounds
    // with the def untouched; min-of-3 makes round-over-round per-query
    // diffs attributable to code, not the scheduler.
    val steadyQ: Map[String, Double] =
      cold.keys.map(k => k -> passes.map(_(k)._1).min).toMap
    val steadyTotal = steadyQ.values.sum
    val passTotals = passes.map(total).map(t => f"$t%.1f").mkString("[", ",", "]")
    val passLoads = loads.mkString("[", ",", "]")
    def qjson(m: Map[String, (Double, Boolean)]): String =
      m.map { case (k, (v, ok)) => s"\"" + k + "\":" + (if (ok) v else -1.0) }
        .mkString("{", ",", "}")
    val errs = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // steady per-query map: -1 iff the query failed on ANY pass (a flaky
    // failure must not hide behind a fast successful pass's min)
    val steadyJson = steadyQ.map { case (k, v) =>
      val okAll = passes.forall(_(k)._2)
      s"\"" + k + "\":" + (if (okAll) v else -1.0)
    }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$warmTotal,"unit":"sec","queries":${qjson(warm)},"cold_value":$coldTotal,"cold_queries":${qjson(cold)},"steady_value":$steadyTotal,"steady_queries":$steadyJson,"passes_run":${passes.size},"pass_totals":$passTotals,"pass_loadavg":$passLoads,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"failed":${failedNames.size},"errors":$errs,"cpus":$cpus,"default_parallelism":$parallelism,"materialization":"noop-sink (full rows+columns; pre-r12 rounds timed .count(), which let Catalyst prune output work - totals are not comparable across that change)","sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_LOCAL.json")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () } // stdout is the surface of record
    println(fullJson)
    // compact per-query map SECOND-TO-LAST (~4 KB: min-of-passes
    // centiseconds, -1 for a failure on any pass): round 11's driver tail
    // kept only 57 of 205 timings because the full line above is ~20 KB —
    // this line plus the total always fit a tail capture, so the per-query
    // map survives even when the detailed record is truncated. Min-of-3
    // (not warm single-pass) so the surviving map is the load-independent
    // one — the per-query number a cross-round diff can trust.
    val centis = steadyQ.toSeq.sortBy(_._1).map { case (k, v) =>
      val okAll = passes.forall(_(k)._2)
      s"\"" + k + "\":" + (if (okAll) math.round(v * 100) else -1L)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"queries_cs","unit":"centisec","basis":"min-of-${passes.size}-passes","queries":$centis}""")
    // compact total LAST: short enough to survive any output-tail capture
    println(s"""{"metric":"total","value":$warmTotal,"unit":"sec","cold_value":$coldTotal,"steady_value":$steadyTotal,"passes_run":${passes.size},"pass_totals":$passTotals,"pass_loadavg":$passLoads,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"failed":${failedNames.size},"cpus":$cpus,"default_parallelism":$parallelism,"materialization":"noop","sf":"$sfDir"}""")
    spark.stop()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
