package perfbench

/** The inputs come from `perfbench/gen.py` (numpy + pyarrow), run as a
  * child process and timed as part of set-up. The batch workloads always
  * use `BatchSeed`: their inputs are fixed and the run seed only orders the
  * queries, which is what lets every run check results against one golden
  * file. The stream workload's events come from the run seed. */
object Gen {
  val BatchSeed = 42L

  /** Write the named tables as `dir/<table>.parquet` at scale factor `sf`. */
  def tables(dir: String, sf: Double, names: Seq[String]): Unit =
    if (names.nonEmpty)
      run("tables", dir, "--sf", sf.toString, "--seed", BatchSeed.toString, "--names", names.mkString(","))

  /** Write `backlog` (files x rows) under `dir/backlog` and `live` under
    * `dir/pending`. */
  def events(dir: String, seed: Long, backlog: (Int, Int), live: (Int, Int)): Unit =
    run("events", dir, "--seed", seed.toString,
      "--backlog", s"${backlog._1}x${backlog._2}", "--live", s"${live._1}x${live._2}")

  private def run(args: String*): Unit = {
    val p = new ProcessBuilder(("python3" +: "perfbench/gen.py" +: args): _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    require(p.waitFor() == 0, s"gen.py ${args.head} failed")
  }
}
