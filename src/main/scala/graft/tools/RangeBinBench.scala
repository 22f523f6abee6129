package graft.tools

import org.apache.spark.sql.functions._

/** A/B of [[graft.plans.RangeBinJoinRule]] on a synthetic range-join
  * workload: N points against M half-open hour windows. Baseline is the
  * BroadcastNestedLoopJoin Catalyst plans without an equi-key (O(N·M)
  * predicate evaluations); treatment enables the rule. Match counts are
  * printed so the two paths are provably computing the same join. */
object RangeBinBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val m = if (args.length > 1) args(1).toLong else 20000L
    val spark = graft.Session.local(32)

    // deterministic workload: points on a 10M-second line; hour intervals
    val pts = spark.range(n).select(col("id").as("event_id"),
      pmod(col("id") * 2654435761L, lit(10000000L)).as("sec"))
    val ivs = spark.range(m).select(col("id").as("iv_id"),
      pmod(col("id") * 40503L, lit(10000000L)).as("lo"))
      .withColumn("hi", col("lo") + 3600L)

    def run(tag: String): Unit = {
      val t0 = System.nanoTime()
      val c = pts.join(ivs, pts("sec") >= ivs("lo") && pts("sec") <= ivs("hi")).count()
      println(f"RANGEBIN $tag%-10s n=$n m=$m matches=$c took=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    run("bnlj")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RangeBinJoinRule
    spark.conf.set(graft.plans.RangeBinJoinRule.ConfKey, "3600")
    run("binjoin")
    run("binjoin2")
    spark.stop()
  }
}
