package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{ExactlyOnceSink, Sources}

/** Batch source formats beyond parquet: CSV, JSON, ORC, and XML
  * round-trips; and how a local file stream lists its micro-batches. */
class SourcesSpec extends SparkSuite {

  private lazy val base = Tables.events(spark, sf001)
    .select("event_id", "user_id", "event_type", "value")

  test("csv source round-trips with explicit schema") {
    val dir = Files.createTempDirectory("csv_src").toString
    base.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(base.schema).option("header", "true").csv(dir)
    assert(back.count() == base.count())
    assert(back.agg(sum("event_id")).head.getLong(0) ==
      base.agg(sum("event_id")).head.getLong(0))
    assert(back.schema == base.schema)
  }

  test("orc source round-trips with schema intact") {
    val dir = Files.createTempDirectory("orc_src").toString
    base.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == base.count())
    assert(back.schema == base.schema)
    assert(back.agg(sum("event_id")).head.getLong(0) ==
      base.agg(sum("event_id")).head.getLong(0))
  }

  test("binaryFile source ingests opaque blobs with typed metadata") {
    // the multimodal ingestion path: raw image/audio files land as
    // (path, modificationTime, length, content) rows; length predicates
    // push down to the file listing so oversized blobs are never read
    val dir = Files.createTempDirectory("binsrc")
    (0 until 3).foreach { i =>
      Files.write(dir.resolve(s"blob_$i.bin"), Array.fill[Byte](10 + i)(i.toByte))
    }
    val df = spark.read.format("binaryFile").load(dir.toString)
    assert(df.columns.sorted.toSeq == Seq("content", "length", "modificationTime", "path"))
    assert(df.count() == 3)
    assert(df.filter(col("length") > 10).count() == 2)
    val sizes = df.select(length(col("content")).as("n"), col("length"))
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    assert(sizes.forall { case (contentLen, metaLen) => contentLen == metaLen })
  }

  test("observe() collects named pipeline metrics without a second scan") {
    // the monitoring primitive a production pipeline attaches to every
    // stage: metrics ride the same pass as the real computation
    val observed = Tables.lineitem(spark, sf001)
      .observe("scan_metrics",
        count(lit(1)).as("rows_read"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty_sum"),
        max(col("l_shipdate")).as("max_ship"))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Option[org.apache.spark.sql.Row] = None
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("scan_metrics").foreach(r => metrics = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = observed.filter(col("l_quantity") >= 0).count()
      // listener callbacks are async — poll briefly
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (listener.metrics.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val m = listener.metrics.getOrElse(fail("observed metrics never arrived"))
      assert(m.getLong(0) == n, "rows_read must equal the scan's row count")
      assert(m.getDouble(1) > 0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("json source round-trips with explicit schema") {
    val dir = Files.createTempDirectory("json_src").toString
    base.write.mode("overwrite").json(dir)
    val back = spark.read.schema(base.schema).json(dir)
    assert(back.count() == base.count())
    assert(back.select("event_type").distinct().count() ==
      base.select("event_type").distinct().count())
  }

  test("small-file compaction: repartition + maxRecordsPerFile bounds output layout") {
    // the standing 100 TB chore: streaming/incremental writers leave
    // thousands of small files; compaction rewrites to few bounded files
    // without changing the data
    val small = Files.createTempDirectory("compact_in").toString
    base.repartition(50).write.mode("overwrite").parquet(small)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(small) == 50, "fixture must start fragmented")
    val compacted = Files.createTempDirectory("compact_out").toString
    spark.read.parquet(small).repartition(2)
      .write.mode("overwrite").option("maxRecordsPerFile", "10000").parquet(compacted)
    assert(parquetFiles(compacted) == 2, "compaction must bound the file count")
    val back = spark.read.parquet(compacted)
    assert(back.count() == base.count())
    assert(back.agg(sum("event_id")).head.getLong(0) ==
      base.agg(sum("event_id")).head.getLong(0))
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    import spark.implicits._
    // an evolving pipeline appends files with a new column; readers must
    // see the union schema with NULLs for the old files
    val dir = Files.createTempDirectory("evolve_src").toString
    Seq((1L, "a")).toDF("id", "v1").write.mode("overwrite").parquet(s"$dir/p=1")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.mode("overwrite").parquet(s"$dir/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "p", "v1", "v2"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v2")), "old file's new column reads as NULL")
    assert(rows(1).getDouble(rows(1).fieldIndex("v2")) == 9.5)
  }

  test("xml source round-trips (Spark 4 native XML, no external connector)") {
    val dir = Files.createTempDirectory("xml_src").toString
    base.write.mode("overwrite")
      .option("rootTag", "events").option("rowTag", "event").xml(dir)
    val back = spark.read.schema(base.schema)
      .option("rowTag", "event").xml(dir)
    assert(back.count() == base.count())
    assert(back.agg(sum("event_id")).head.getLong(0) ==
      base.agg(sum("event_id")).head.getLong(0))
  }

  /** Drains a fresh checkpoint over `src` through `Sources.fileStream` →
    * `tumblingCounts` → `parquetSink`; returns the sink's output dir and
    * the description of every job the drain started. */
  private def drain(session: SparkSession, src: String): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("listing_drain")
    val (cp, out) = (s"$dir/cp", s"$dir/out")
    val sc = session.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val q = Pipeline.tumblingCounts(
          Sources.fileStream(session, src, listingEvents.schema).withWatermark("ts", "10 minutes"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch(ExactlyOnceSink.parquetSink(out))
        .start()
      try q.processAllAvailable() finally q.stop()
      // the listener bus delivers in order: once this job's start is seen,
      // every job the drain started has been seen too
      val barrier = s"listing barrier ${System.nanoTime()}"
      sc.setJobDescription(barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 20000
      while (!descriptions.contains(barrier) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(descriptions.contains(barrier), "the listener never saw the barrier job")
    } finally sc.removeSparkListener(listener)
    (out, descriptions.asScala.toSeq)
  }

  private lazy val listingEvents = Tables.events(spark, sf001)
    .select("event_id", "ts", "user_id", "event_type", "value")

  /** 48 parquet files of sf0.001's events in a fresh dir. */
  private def listingSource(): String = {
    val src = Files.createTempDirectory("listing_src").toString
    listingEvents.repartition(48).write.mode("overwrite").parquet(src)
    val files = new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 40, s"fixture must hold 40 or more files, has $files")
    src
  }

  private def isListing(description: String) =
    description.startsWith("Listing leaf files and directories")

  test("a local file stream lists its 48-file batch on the driver, with the batch twin's counts") {
    val src = listingSource()
    val session = spark.newSession()
    assert(!session.sessionState.conf.contains(Sources.ListingThreshold))
    val (out, jobs) = drain(session, src)
    assert(!jobs.exists(isListing), s"a listing job ran: ${jobs.filter(isListing)}")
    assert(session.conf.get(Sources.ListingThreshold) == Int.MaxValue.toString)
    val got = ExactlyOnceSink.read(session, out).drop("batch")
    val want = Pipeline.tumblingCounts(session.read.schema(listingEvents.schema).parquet(src))
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("a session that set the listing threshold keeps it, and Spark's listing job with it") {
    val src = listingSource()
    val session = spark.newSession()
    session.conf.set(Sources.ListingThreshold, 32L)
    val (_, jobs) = drain(session, src)
    assert(session.conf.get(Sources.ListingThreshold) == "32")
    assert(jobs.exists(isListing), s"no listing job among: $jobs")
  }

  test("only a `file:` directory counts as local; a bare path takes the default filesystem's scheme") {
    val local = new URI("file:///")
    val hdfs = new URI("hdfs://namenode:8020")
    assert(Sources.isLocal("/tmp/events", local))
    assert(Sources.isLocal("file:/tmp/events", hdfs))
    assert(Sources.isLocal("FILE:///tmp/events", hdfs))
    assert(!Sources.isLocal("/data/events", hdfs))
    assert(!Sources.isLocal("hdfs://namenode:8020/data/events", local))
    assert(!Sources.isLocal("s3a://bucket/events", local))
    assert(!Sources.isLocal("gs://bucket/events", local))
  }
}
