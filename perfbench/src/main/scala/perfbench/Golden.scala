package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Golden result fingerprints, one file per batch workload, one
  * `query<TAB>fingerprint` line per query. They were recorded from the
  * seed commit (oracle-green) on the generated inputs with `--record`. */
object Golden {
  private def path(workload: String) = Paths.get("perfbench", "golden", s"$workload.tsv")

  def load(workload: String): Map[String, String] = {
    val p = path(workload)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains('\t')).map { l =>
      val Array(q, f) = l.split('\t'); q -> f
    }.toMap
  }

  def write(workload: String, fps: Map[String, String]): Unit = {
    Files.createDirectories(path(workload).getParent)
    Files.write(path(workload),
      fps.toSeq.sorted.map { case (q, f) => s"$q\t$f" }.asJava)
  }
}
