package graft.tools

/** Recall/wall frontier sweep for the near-dup pipeline's two bounding
  * knobs (round-13 verdict ask #3): BucketCap (oversized-LSH-bucket drop)
  * and the signature-estimate sieve threshold.
  *
  * Every emitted pair is exact-Jaccard-verified, so a config can only
  * LOSE pairs (recall), never emit a wrong one (precision) — the sweep
  * therefore reports wall (min over reps, caches drained per rep) plus
  * the output pair count per config; "recall held" is pair-count parity
  * with the widest config in the grid.
  *
  *   runMain graft.tools.NearSweep <sfDir> <reps>
  */
object NearSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/benchdata/sf1x")
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.local(graft.Session.envCpus)
    val docs = graft.Tables.documents(spark, sfDir)
    // round-15 sweep axis: the band layout over the fixed 32-hash
    // signature — (4 bands × 8 rows) / (8 × 4, the default) / (16 × 2).
    // More bands = higher boundary recall (per-band collision p = J^rows,
    // 1-(1-J^rows)^bands overall) but more raw candidates to sieve; the
    // cap/sieve axes were swept in r14 (output-identical across the grid).
    val grid = for {
      bands <- Seq(4, 8, 16)
      cap <- Seq(500)
      sieve <- Seq(0.55)
    } yield (bands, cap, sieve)
    println(f"${"bands"}%6s ${"cap"}%6s ${"sieve"}%6s ${"wall_s"}%8s ${"pairs"}%8s")
    grid.foreach { case (bands, cap, sieve) =>
      var pairs = -1L
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val out = graft.queries.Llm.nearDupPairs(docs, cap, sieve, bands)
        pairs = out.count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.Caches.drain(spark)
        t
      }
      println(f"$bands%6d $cap%6d $sieve%6.2f ${walls.min}%8.2f $pairs%8d")
    }
    spark.stop()
  }
}
