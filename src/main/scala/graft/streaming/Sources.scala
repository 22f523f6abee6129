package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source-agnostic stream ingestion (reference surface A1-A2, SURVEY.md §2:
  * Kafka topic -> deserialize -> typed stream).
  *
  * The pipeline transforms ([[graft.Pipeline]]) are pure DataFrame
  * functions, so the source is swappable:
  *
  *  - tests use MemoryStream (deterministic, supports restart-replay);
  *  - local file streaming uses `readStream.schema(...).parquet(dir)`;
  *  - production uses the Kafka reader below.
  *
  * The Kafka path compiles against no Kafka classes (the connector is a
  * runtime `format("kafka")` lookup) but CANNOT run here: /opt/spark/jars
  * ships no spark-sql-kafka connector (verified, SURVEY.md §0), so it is
  * exercised only as documented production wiring. Offsets live in the
  * streaming checkpoint WAL — not Kafka group commits — which is what
  * makes batch replay deterministic and the exactly-once sink protocol
  * sound ([[ExactlyOnceSink]]).
  */
object Sources {

  /** File-based stream: each new parquet file in `dir` becomes micro-batch
    * input. Exactly-once with the file-sink manifest or ExactlyOnceSink.
    *
    * Binds FileContext's `file:` scheme to [[NioLocalFs]] on the session
    * (unless the session already binds it). Spark copies session confs
    * into every Hadoop conf a query builds, so a local checkpoint — the
    * offsets and commits logs at start, each batch's state store — then
    * writes its files, `.crc` sidecars and renames without the `chmod` and
    * `readlink` forks of Hadoop's local filesystem (dozens per micro-batch
    * when the Hadoop native library is not loaded). Same file layout, same
    * rename semantics. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val key = "fs.AbstractFileSystem.file.impl"
    if (spark.conf.getOption(key).isEmpty) spark.conf.set(key, classOf[NioLocalFs].getName)
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Kafka stream -> (key, value) strings. PRODUCTION ONLY (no local
    * connector jar): value parsing mirrors the reference's
    * SimpleStringSchema deserialization. */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(
        expr("CAST(key AS STRING)").as("key"),
        expr("CAST(value AS STRING)").as("value"),
        col("timestamp").as("ts"))
}
