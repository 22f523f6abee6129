package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded-scratch 1000× runner for q_market_basket (round-17 verdict
  * ask #3). The one-session query at 1000× retains EVERY live shuffle at
  * once — basket repartition + pair count + item count, ~50–70 GB of
  * shuffle files against this box's scratch — and dies on disk, which the
  * verdict flagged as an unproven "scratch-bound, not plan-bound" claim.
  * This runner proves it: the basket frame is checkpointed to parquet
  * (the table a production pipeline materializes anyway — every
  * market-basket consumer reuses it), and each downstream aggregate runs
  * in its OWN local SparkSession with its OWN spark.local.dir; stopping a
  * local session deletes its blockmgr/spill dirs, so PEAK scratch is the
  * largest single stage's shuffle, not the sum of all of them. A cluster
  * gets the same bound from per-stage shuffle release across executors.
  *
  * Stages:
  *   A  lineitem → repartition(orderkey) → collect_set baskets → parquet
  *   B  baskets.parquet → sorted-slice pair explode → packed-key count →
  *      top-20 (collected: 20 rows)
  *   C  baskets.parquet → item supports + order count → final
  *      support/confidence/lift attach on the 20 rows (the exact
  *      qMarketBasket arithmetic, for output parity at calibration SFs)
  *
  * A watcher thread samples du(scratch) every 2 s and reports the peak
  * per stage — the number a cluster operator sizes executor scratch by.
  *
  *   runMain graft.tools.MbStaged <dir> [<scratchDir>]
  */
object MbStaged {
  @volatile private var peak = 0L
  @volatile private var watching = false

  private def du(p: java.io.File): Long = {
    if (!p.exists()) 0L
    else if (p.isFile) p.length()
    else Option(p.listFiles()).map(_.map(du).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("benchdata/sf1000x")
    val scratch = if (args.length > 1) args(1) else "/tmp/mb_staged"
    val scratchF = new java.io.File(scratch)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    rmrf(scratchF); scratchF.mkdirs()
    val cpus = graft.Session.envCpus
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128")

    val watcher = new Thread(() => {
      while (watching) {
        peak = math.max(peak, du(scratchF))
        Thread.sleep(2000)
      }
    })
    watching = true; watcher.setDaemon(true); watcher.start()

    def staged[T](stage: String)(f: SparkSession => T): T = {
      val s = graft.Session.local(cpus,
        "spark.sql.shuffle.partitions" -> shuf,
        "spark.local.dir" -> s"$scratch/$stage")
      peak = du(scratchF)
      val t0 = System.nanoTime()
      val r = f(s)
      val wall = (System.nanoTime() - t0) / 1e9
      peak = math.max(peak, du(scratchF))
      s.stop()
      println(f"MBSTAGED $stage%-10s wall=$wall%8.2f s peak_scratch=${peak / (1L << 20)}%7d MB")
      r
    }

    // A: basket build (the repartition shuffle lives ONLY here)
    staged("stageA") { s =>
      graft.Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey").agg(sort_array(collect_set("l_partkey")).as("parts"))
        .write.mode("overwrite").parquet(s"$scratch/baskets.parquet")
    }

    // B: pair mass → packed-key count → top 20 (the dominant shuffle)
    val top = staged("stageB") { s =>
      s.read.parquet(s"$scratch/baskets.parquet")
        .select(posexplode(col("parts")).as(Seq("i", "p1")), col("parts"))
        .select(col("p1"), explode(expr("slice(parts, i + 2, size(parts))")).as("p2"))
        .groupBy((shiftleft(col("p1"), 32).bitwiseOR(col("p2"))).as("pk"))
        .agg(count(lit(1)).as("c_ab"))
        .select(shiftright(col("pk"), 32).as("p1"),
          col("pk").bitwiseAND(lit(0xffffffffL)).as("p2"), col("c_ab"))
        .orderBy(col("c_ab").desc, col("p1"), col("p2")).limit(20)
        .collect()
    }

    // C: item supports + order count; attach the exact qMarketBasket
    // arithmetic to the 20 survivors for output parity
    val rows = staged("stageC") { s =>
      val baskets = s.read.parquet(s"$scratch/baskets.parquet")
      val nOrders = baskets.agg(count(lit(1)).as("n"))
      val itemCnt = baskets.select(explode(col("parts")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      import scala.jdk.CollectionConverters._
      val topDf = s.createDataFrame(top.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p1", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("p2", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("c_ab", org.apache.spark.sql.types.LongType))))
      topDf
        .join(itemCnt.select(col("l_partkey").as("p1"), col("c").as("c_a")), Seq("p1"))
        .join(itemCnt.select(col("l_partkey").as("p2"), col("c").as("c_b")), Seq("p2"))
        .crossJoin(broadcast(nOrders))
        .select(col("p1"), col("p2"), col("c_ab"), col("c_a"), col("c_b"),
          expr("CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE)").as("support"),
          expr("CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE)").as("confidence"),
          expr("CAST(n AS DOUBLE) * CAST(c_ab AS DOUBLE) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))").as("lift"))
        .orderBy(col("c_ab").desc, col("p1"), col("p2"))
        .collect()
    }
    watching = false
    rows.foreach(r => println(s"MBSTAGED row $r"))
    // leave the basket parquet for inspection; the stage dirs are gone
    // with their sessions
    println(s"MBSTAGED done rows=${rows.length}")
  }
}
