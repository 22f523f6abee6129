package graft.tools
/** Formatted physical plan of each named query at an SF dir (plan audit;
  * the dir matters because scale gates such as `Tables.spread` change the
  * plan with the data size).
  *
  *   runMain graft.tools.PlanAt <sfDir> <query> [<query> ...]
  */
object PlanAt {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local(32)
    args.drop(1).foreach { n =>
      println(s"===== $n =====")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
