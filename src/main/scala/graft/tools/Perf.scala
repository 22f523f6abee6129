package graft.tools
/** Steady-state per-query timing: run each query N times, report min.
  * Materializes through the noop sink (never `.count()` — a count lets
  * Catalyst prune output-column work, see `graft.Bench`'s scaladoc). */
object Perf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = graft.Session.envCpus
    // shuffle partitions default to the core count (the bench shape), but
    // order-of-magnitude probes size them to the DATA so per-partition
    // bytes stay inside execution memory — the knob the 100 TB posture
    // prescribes ("size spark.sql.shuffle.partitions so partitions fit in
    // executor memory at the target SF"); a 32-partition sort over a
    // 1000× corpus is ~600 MB/partition and measures the spill path, not
    // the operator
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString)
    val spark = graft.Session.local(cpus, "spark.sql.shuffle.partitions" -> shuf)
    val names = if (args.length > 2) args.drop(2).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); graft.Bench.materialize(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        // drain between reps so every rep pays the query's true cost —
        // min-of-N over a cache a prior rep left behind is not steady state
        graft.Caches.drain(spark)
        t
      }
      n -> times.min
    }
    rows.sortBy(-_._2).foreach { case (n, t) => println(f"PERF $n%-24s $t%8.2f s") }
    println(f"PERF TOTAL ${rows.map(_._2).sum}%8.2f s")
    spark.stop()
  }
}
