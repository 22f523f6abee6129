package graft

/** Session construction happens in one place ([[Session]]): the shared
  * test session carries its policy, and no other source builds a session
  * of its own. */
class SessionSpec extends SparkSuite {

  test("the shared test session is Session's: UTC, no UI, 4 cores and 4 shuffle partitions") {
    // asserts on the session SparkSuite built; a second builder call in
    // this JVM would hand back the same session and rewrite its confs
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the Spark UI must be off")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("session-builder inventory: only graft/Session.scala builds a session") {
    // the needle is split so this file does not count itself
    val needle = java.util.regex.Pattern.quote("SparkSession" + ".builder").r
    import scala.jdk.CollectionConverters._
    val counts = Seq("src/main", "src/test").flatMap { dir =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> java.nio.file.Files.readAllLines(p).asScala
          .map(needle.findAllMatchIn(_).size).sum)
        .filter(_._2 > 0)
    }.toMap
    assert(counts == Map("src/main/scala/graft/Session.scala" -> 1),
      s"build sessions through graft.Session.local, not a builder of their own: $counts")
  }
}
