package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Batch source formats beyond parquet: CSV, JSON, ORC, and XML
  * round-trips. */
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
}
