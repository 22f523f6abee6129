package perfbench

import java.lang.management.ManagementFactory

/** Benchmark entry point; `perfbench/run.py` builds it and launches it from
  * the checkout root.
  *
  *   --workload batch-mix|stream-exactly-once
  *   --seed N --seconds S --trace 0|1 --work DIR
  *   [--smoke]   tiny inputs (sf0.001, a short stream), no golden check
  *   [--record]  write the golden fingerprints instead of checking them
  *   [--run-record JSON]  fields from the launcher (commit, source digest)
  *
  * Prints a run record line, then as the last line of stdout one JSON
  * object: correct, attempted, failed and the metrics (end-to-end ones,
  * or with --trace 1 the per-layer ones). */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val flags = args.filter(a => a == "--smoke" || a == "--record").toSet
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val smoke = flags("--smoke")
    val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Runtime.getRuntime.availableProcessors, opt("work"), smoke,
      flags("--record"))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val sf = if (smoke) 0.001 else Batch.Sf

    val out = ctx.workload match {
      case "batch-mix"           => new Batch(ctx, Batch.queries, Batch.tables, sf).run()
      case "stream-exactly-once" => new Stream(ctx).run()
      case w => sys.error(s"unknown workload $w")
    }

    Log("done")
    val record = Seq(
      "workload" -> Json.str(ctx.workload), "seed" -> Json.num(ctx.seed.toDouble),
      "trace" -> Json.num(if (ctx.trace) 1 else 0), "cores" -> Json.num(ctx.cores.toDouble),
      "default_parallelism" -> Json.num(ctx.parallelism.toDouble),
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(os.getSystemLoadAverage),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "smoke" -> Json.num(if (smoke) 1 else 0),
    ) ++ opts.get("run-record").map("launcher" -> _) ++
      out.notes.map { case (k, v) => k -> Json.str(v) } ++
      (if (ctx.trace) Seq("end_to_end" -> Json.metrics(out.endToEnd)) else Nil)
    println(Json.obj(Seq("run_record" -> Json.obj(record))))
    println(Json.obj(Seq(
      "correct" -> out.correct.toString, "attempted" -> Json.num(out.attempted.toDouble),
      "failed" -> Json.num(out.failed.toDouble),
      "metrics" -> Json.metrics(if (ctx.trace) out.perLayer else out.endToEnd))))
  }
}
