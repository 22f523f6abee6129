package graft.tools

/** Recall/wall frontier sweep for q_sim_ivf's probe fan-out (round-17
  * verdict ask #4: lift random-corpus recall@5 via multi-probe). Per
  * nprobe: mean recall@5 vs the exact brute-force baseline (q_sim_topk,
  * the shared bounded-probe workload), candidate count, and min-of-reps
  * wall through the noop sink. Candidates are exact-scored whatever the
  * fan-out, so nprobe moves RECALL only — precision is structural.
  *
  *   runMain graft.tools.IvfSweep <sfDir> <reps> [nprobe ...]
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val nprobes = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(4, 8, 12, 16)
    val spark = graft.Session.local(graft.Session.envCpus)
    val exact = graft.queries.Llm.qSimTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).toSet }
    graft.Caches.drain(spark)
    println(f"${"nprobe"}%6s ${"recall@5"}%9s ${"wall_s"}%8s")
    nprobes.foreach { np =>
      var recall = -1.0
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val got = graft.queries.VectorOps.ivfTopk(spark, sfDir, np).collect()
        val t = (System.nanoTime() - t0) / 1e9
        graft.Caches.drain(spark)
        val byProbe = got.map(r => (r.getLong(0), r.getLong(2)))
          .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).toSet }
        val per = exact.toSeq.map { case (p, ex) =>
          byProbe.getOrElse(p, Set.empty[Long]).intersect(ex).size.toDouble / ex.size }
        recall = per.sum / per.size
        t
      }
      println(f"$np%6d $recall%9.3f ${walls.min}%8.2f")
    }
    spark.stop()
  }
}
