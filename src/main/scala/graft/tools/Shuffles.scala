package graft.tools
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
/** Count exchange operators per query (scale-audit instrument). With AQE
  * off the executed plan is a plain tree: collect() sees every real
  * exchange, and cached subtrees are leaves (their internal exchanges,
  * which the string dump prints, are not live operators). */
object Shuffles {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4, "spark.sql.adaptive.enabled" -> "false")
    args.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      val caches = plan.collect { case s: InMemoryTableScanExec => s }
      println(s"SHUF $n live-shuffles=${shuffles.size} cache-scans=${caches.size}")
      shuffles.foreach(e => println(s"  EX ${e.outputPartitioning} ${e.shuffleOrigin}"))
    }
    spark.stop()
  }
}
