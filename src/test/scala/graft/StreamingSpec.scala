package graft

import graft.streaming.ExactlyOnceSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.file.Files

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class DupEv(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming flavors of the reference's pipeline (SURVEY.md §2 A4-A9):
  * the SAME Pipeline transforms as the oracle-checked batch twins, driven
  * through MemoryStream, plus watermark late-drop, streaming dedup, and
  * the exactly-once restart protocol.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling counts: streaming result equals batch twin on same data") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      Ev(ts("2024-01-01 00:01:00"), "click", 1.5),
      Ev(ts("2024-01-01 00:04:00"), "click", 2.5),
      Ev(ts("2024-01-01 00:07:00"), "view", 4.0),
      Ev(ts("2024-01-01 00:12:00"), "click", 8.0))
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = Pipeline.tumblingCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_out")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = Pipeline.tumblingCounts(rows.toDF())
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(r => (r.getString(2), r.getLong(3))) ==
      Seq(("click", 2L), ("view", 1L), ("click", 1L)))
  }

  test("watermark drops rows later than the threshold (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = Pipeline.tumblingCounts(mem.toDF().withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      mem.addData(Ev(ts("2024-01-01 00:01:00"), "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      mem.addData(Ev(ts("2024-01-01 02:00:00"), "view", 1.0))
      q.processAllAvailable()
      // this event is 2h older than the watermark -> must be dropped
      mem.addData(Ev(ts("2024-01-01 00:02:00"), "click", 99.0))
      q.processAllAvailable()
      // close the remaining window so it flushes
      mem.addData(Ev(ts("2024-01-01 04:00:00"), "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_out").collect()
    val clickWindow = out.filter(_.getString(2) == "click")
    assert(clickWindow.length == 1)
    assert(clickWindow.head.getLong(3) == 1L, "late row must not be counted")
    assert(clickWindow.head.getDouble(4) == 1.0)
  }

  test("streaming dedup within watermark keeps first occurrence only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DupEv]
    val deduped = mem.toDF().withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(
        DupEv(1L, ts("2024-01-01 00:01:00"), 7L, "click", 1.0),
        DupEv(1L, ts("2024-01-01 00:02:00"), 7L, "click", 1.0),
        DupEv(2L, ts("2024-01-01 00:03:00"), 8L, "view", 2.0))
      q.processAllAvailable()
      mem.addData(DupEv(1L, ts("2024-01-01 00:04:00"), 7L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("exactly-once sink: restart from checkpoint neither loses nor duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("eo_out").toString
    val cpDir = Files.createTempDirectory("eo_cp").toString
    val mem = MemoryStream[Int]
    def start() = mem.toDF().select(col("value"))
      .writeStream
      .option("checkpointLocation", cpDir)
      .foreachBatch(ExactlyOnceSink.parquetSink(outDir))
      .start()

    val q1 = start()
    mem.addData(1 to 10: _*)
    q1.processAllAvailable()
    q1.stop() // "kill" the job mid-stream
    mem.addData(11 to 20: _*)
    val q2 = start() // restart from the same checkpoint
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(s"$outDir/batch=*")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (1 to 20).toSeq, "no loss, no duplication across restart")
  }

  test("exactly-once sink: torn-middle crash in a RUNNING query (RocksDB) neither loses nor duplicates") {
    // The A8 seam the protocol tests cover only at the FS level: a
    // foreachBatch writer dies BETWEEN its staging write and the marker
    // commit while a real StreamingQuery (stateful, RocksDB provider) is
    // running. The restart must replay the torn batch from the
    // checkpoint's offsets WAL against the batch-(N-1) state snapshot and
    // publish exactly one copy — per-key counts stay strictly monotone
    // across the emitted changelog and the final counts match the model.
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("eo_torn_out").toString
    val cpDir = Files.createTempDirectory("eo_torn_cp").toString
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Int]
      val sink = ExactlyOnceSink.parquetSink(outDir)
      val crashedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
      val counts = mem.toDF()
        .groupBy(pmod(col("value"), lit(4)).as("k"))
        .agg(count(lit(1)).as("c"))
      def start(crashing: Boolean) = counts.writeStream
        .outputMode("update")
        .option("checkpointLocation", cpDir)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (crashing && batchId == 1 && !crashedOnce.getAndSet(true)) {
            // die after the staging is durably on disk, before any marker:
            // the exact torn-middle window of commitAttempt
            val staging = new org.apache.hadoop.fs.Path(
              outDir, s"_staging_batch=$batchId-${java.util.UUID.randomUUID}")
            df.write.mode("overwrite").parquet(staging.toString)
            throw new RuntimeException("injected torn-middle crash")
          }
          sink(df, batchId)
        }
        .start()

      val q1 = start(crashing = true)
      mem.addData(1 to 8: _*)
      q1.processAllAvailable() // batch 0 commits
      mem.addData(9 to 16: _*) // batch 1: the torn one
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      q1.stop()
      assert(crashedOnce.get, "the injected crash must actually fire")

      val q2 = start(crashing = false) // restart from the same checkpoint
      mem.addData(17 to 24: _*)
      q2.processAllAvailable()
      q2.stop()

      val batches = new java.io.File(outDir).listFiles
        .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
      // every epoch from 0 to max published exactly once, no gaps
      val ids = batches.map(_.stripPrefix("batch=").toLong).sorted
      assert(ids == (0L to ids.max).toSeq, s"epoch gap or dup: $batches")
      // changelog sanity: per key, cumulative counts strictly increase
      // across batches (a replayed-and-double-published epoch repeats or
      // regresses a count) and the last value matches the batch model
      val rows = ids.flatMap { b =>
        spark.read.parquet(s"$outDir/batch=$b")
          .collect().map(r => (b, r.getInt(0), r.getLong(1)))
      }
      val model = (1 to 24).groupBy(_ % 4).view.mapValues(_.size.toLong).toMap
      rows.groupBy(_._2).foreach { case (k, hist) =>
        val seq = hist.sortBy(_._1).map(_._3)
        assert(seq == seq.distinct.sorted,
          s"key $k: counts not strictly monotone across epochs: $seq")
        assert(seq.last == model(k),
          s"key $k: final count ${seq.last} != model ${model(k)}")
      }
      // the torn batch's stray staging must be gone after replay commits
      val strays = new java.io.File(outDir).listFiles
        .map(_.getName).filter(_.startsWith("_staging")).toSeq
      assert(strays.isEmpty, s"torn staging survived the replay sweep: $strays")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("exactly-once sink: two attempts racing one batch id commit exactly one complete output") {
    // the speculative/duplicate-task case: a zombie driver or re-executed
    // task runs the same (df, batchId) concurrently with the live one. The
    // committed dir must always hold one COMPLETE copy — never a partial
    // write, never a double write — and a post-race replay (streaming's
    // retry of a failed losing attempt) must be a no-op.
    val outDir = Files.createTempDirectory("eo_race").toString
    val sink = ExactlyOnceSink.parquetSink(outDir)
    val df = spark.range(5).toDF("value")
    (0 until 8).foreach { b =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val threads = (1 to 2).map(_ => new Thread(() => {
        barrier.await()
        // the per-batch commit lock serializes same-JVM duplicates: the
        // loser must observe the committed batch and no-op. The catch is
        // belt-and-braces — a failed attempt is what streaming retries
        try sink(df, b.toLong) catch { case _: Throwable => () }
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      sink(df, b.toLong) // the retry: must no-op on the committed batch
      val got = spark.read.parquet(s"$outDir/batch=$b")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (0L until 5L).toSeq,
        s"batch $b must hold one complete copy, got $got")
    }
    val stray = new java.io.File(outDir).listFiles
      .map(_.getName).filter(_.startsWith("_staging"))
    assert(stray.isEmpty, s"staging leftovers after commits: ${stray.toSeq}")
  }

  test("exactly-once sink: replaying the same batch id is a no-op") {
    val outDir = Files.createTempDirectory("eo_replay").toString
    val sink = ExactlyOnceSink.parquetSink(outDir)
    val df = spark.range(5).toDF("value")
    sink(df, 0L)
    sink(df, 0L) // crash-replay of an already-committed epoch
    val got = spark.read.parquet(s"$outDir/batch=0")
    assert(got.count() == 5)
  }

  test("exactly-once sink: read sees exactly the published batches") {
    val outDir = Files.createTempDirectory("eo_read").toString
    val sink = ExactlyOnceSink.parquetSink(outDir)
    sink(spark.range(3).toDF("value"), 0L)
    sink(spark.range(10, 12).toDF("value"), 1L)
    // debris the protocol can leave behind: a commit whose publish never
    // landed (marker, no batch=2), a crashed attempt's staging, and a
    // losing recoverer's copy nested in a published batch
    Files.createFile(java.nio.file.Paths.get(outDir, "_COMMITTED_batch=2"))
    spark.range(100, 105).toDF("value").write.parquet(s"$outDir/_staging_batch=3-x")
    spark.range(10, 12).toDF("value").write.parquet(s"$outDir/batch=1/_staging_batch=1-x")
    val got = ExactlyOnceSink.read(spark, outDir)
      .collect().map(r => (r.getAs[Int]("batch"), r.getAs[Long]("value"))).sorted.toSeq
    assert(got == Seq((0, 0L), (0, 1L), (0, 2L), (1, 10L), (1, 11L)))
  }
}
