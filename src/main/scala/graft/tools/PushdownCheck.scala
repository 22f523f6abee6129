package graft.tools
/** Prints the PushedFilters and ReadSchema lines of every parquet scan in
  * the named queries — the direct check that a predicate reached the reader
  * and that the scan reads only the columns the query needs (both matter at
  * 100 TB and are invisible in small-SF timings; `documents.text` dominates
  * that table's bytes, so an unpruned text read is a real scale bug). Run
  * after any driver data-generation flip: a type change on a filtered
  * column can silently turn a scan-level filter into a post-scan one.
  *
  * CI-gateable, not just human-readable: exits 2 when a requested key is
  * unknown, and — for the default audit set, whose queries all filter a
  * scanned table — exits 1 when a query ends up with NO scan carrying a
  * pushed filter. An explicit key list is informational (many queries
  * legitimately scan unfiltered), but unknown keys still fail. The
  * critical per-query plan shapes stay pinned in PlanSpec; this tool is
  * the sweep. */
object PushdownCheck {
  /** Queries that MUST show at least one non-empty PushedFilters scan. */
  private val defaultMustPush =
    Seq("q_sql_q3", "q_sql_q5", "q_sql_q7", "q_sql_q10", "q_sql_q14",
      "q_sql_q18", "q_filter_range")
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val gated = args.isEmpty
    val names = if (args.nonEmpty) args.toSeq else defaultMustPush
    var unknown = 0
    var unpushed = 0
    for (n <- names) {
      graft.SparkEntry.queries.get(n) match {
        case None =>
          unknown += 1
          println(s"== $n: UNKNOWN query key (not in SparkEntry.queries)")
        case Some(fn) =>
          val qe = fn(spark, sfDir).queryExecution
          val full = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(full).toSeq
          // ReadSchema runs to end-of-line: struct<...> payloads nest more
          // angle brackets (array<float>), which a [^>]* scan would truncate
          val schemas = "ReadSchema: [^\\n]*".r.findAllIn(full).toSeq
          val hasPush = pushed.exists(_ != "PushedFilters: []")
          if (gated && !hasPush) {
            unpushed += 1
            println(s"== $n: NO pushed filter reached any scan (expected one)")
          } else println(s"== $n (${pushed.size} scans)")
          pushed.foreach(f => println("   " + f.take(220)))
          schemas.foreach(s => println("   " + s.take(220)))
      }
    }
    spark.stop()
    if (unknown > 0) sys.exit(2)
    if (unpushed > 0) sys.exit(1)
  }
}
