package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** SQL-surface parity + the remaining streaming window flavors. */
class SqlSurfaceSpec extends SparkSuite {
  import spark.implicits._

  test("registerTables exposes every table to spark.sql") {
    Tables.registerTables(spark, sf001)
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin).head.getLong(0)
    assert(n > 0)
    val w = spark.sql(
      """SELECT window(ts, '10 minutes').start AS s, count(*) AS c
        |FROM events GROUP BY 1 ORDER BY 1 LIMIT 1""".stripMargin).count()
    assert(w == 1)
    assert(Tables.names.forall(t => spark.sql(s"SELECT * FROM $t LIMIT 1").count() == 1))
  }

  test("graft_kll_quantile takes a decimal rank literal like a double one") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_kll_quantile(CAST(id AS DOUBLE), 0.5) AS dec,
        |       graft_kll_quantile(CAST(id AS DOUBLE), 0.5D) AS dbl
        |FROM range(1000)""".stripMargin).head()
    assert(!r.isNullAt(0) && r.getDouble(0) == r.getDouble(1))
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sliding windows stream equals batch twin on same data") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      Ev(ts("2024-01-01 00:05:00"), "click", 1.0),
      Ev(ts("2024-01-01 00:25:00"), "click", 2.0),
      Ev(ts("2024-01-01 00:45:00"), "view", 3.0))
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = Pipeline.slidingCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("slide_out")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = Pipeline.slidingCounts(rows.toDF())
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed == batch)
    // each event belongs to exactly 3 sliding windows (30m window, 10m slide)
    assert(streamed.map(_.getLong(3)).sum == rows.size * 3)
  }

  test("session windows stream equals batch twin on same data") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      UserTsEv(ts("2024-01-01 00:00:00"), 1L, 1.0),
      UserTsEv(ts("2024-01-01 00:10:00"), 1L, 2.0), // same session (gap 10m < 30m)
      UserTsEv(ts("2024-01-01 01:00:00"), 1L, 4.0), // new session (gap 50m)
      UserTsEv(ts("2024-01-01 00:00:00"), 2L, 8.0))
    val mem = MemoryStream[UserTsEv]
    mem.addData(rows: _*)
    val q = Pipeline.sessionCounts(mem.toDF().withWatermark("ts", "1 hour"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_out")
      .orderBy("user_id", "sess_start").collect().toSeq
    val batch = Pipeline.sessionCounts(rows.toDF())
      .orderBy("user_id", "sess_start").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(r => (r.getLong(2), r.getLong(3))) ==
      Seq((1L, 2L), (1L, 1L), (2L, 1L)), "session split at the 30m gap")
  }
}

case class UserTsEv(ts: Timestamp, user_id: Long, value: Double)
