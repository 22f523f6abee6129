package perfbench

import java.io.File
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.streaming.{ExactlyOnceSink, Sources}

/** The reference dataflow: generated event files → `Sources.fileStream` →
  * `Pipeline.tumblingCounts` with a watermark (update mode) →
  * `ExactlyOnceSink.parquetSink` through `foreachBatch`.
  *
  * A run is: set-up (session start and event-file generation; repeated,
  * the median is `setup_s`), catch-up passes (a fresh query drains a
  * backlog that is present at start, in one large batch: the first, in a
  * cold JVM, is `cold_pass_s`, the median of the rest `pass_s`), then the
  * live phase: an open loop, one thread in this process publishing one
  * small file every `PeriodMs` on a fixed schedule. After a second of
  * warm-up, the files of the next `--seconds` are the measured ones;
  * then the query is stopped three times with a batch in the sink and
  * restarted on the same checkpoint. Latency is per measured file, from
  * its scheduled publish time to the return of the sink call that
  * committed the batch holding it (the file-to-batch map is the
  * checkpoint's `sources/0` log); `recovery_s` is restart call to first
  * commit. Every query's output is checked for the exactly-once contract,
  * and the first catch-up's and the live output against their batch twin. */
final class Stream(ctx: Ctx) {
  private val PeriodMs = 100L
  private val backlogFiles = if (ctx.smoke) 4 else 200
  private val backlogRows = if (ctx.smoke) 200 else 2000
  // the live phase: a second of warm-up, then the files whose latency is
  // measured, as many as the run's time budget publishes, then one second
  // per kill/restart and one to finish
  private val warmFiles = (1000 / PeriodMs).toInt
  private val measuredFiles = math.max(20, (ctx.seconds * 1000 / PeriodMs).toInt)
  private val restarts = 3
  private val liveFiles = measuredFiles + (restarts + 2) * warmFiles
  private val liveRows = if (ctx.smoke) 50 else 2000
  private val catchups = 3
  // gen.py advances event time two minutes per file and makes rows up to
  // five minutes late: inside this watermark, so none may be dropped
  private val Watermark = "10 minutes"

  private val root = s"${ctx.work}/stream"
  private val backlogDir = s"$root/backlog"
  private val liveDir = s"$root/live"
  private val pendingDir = s"$root/pending"
  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private var attempted, failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  /** Fresh backlog and pending event files from the run seed. */
  private def generate(): Unit = {
    deleteRecursively(new File(root))
    Gen.events(root, ctx.seed, (backlogFiles, backlogRows), (liveFiles, liveRows))
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  // ---- the query and its sink ---------------------------------------------

  /** Wraps the sink: records when each batch id last committed, whether a
    * call is in flight, its duration, and (traced) what it found on entry:
    * a fresh batch, a committed one to skip, or a commit to recover. */
  private final class SinkLog(out: String, label: String, tracing: Boolean) {
    private val sink = ExactlyOnceSink.parquetSink(out)
    val committedAt = new ConcurrentHashMap[Long, Long]()
    @volatile var inFlight = false
    @volatile var firstCommitAt = 0L
    val commitS = mutable.ArrayBuffer.empty[Double]
    var fresh, skipped, recovered, staleStagings = 0L

    def apply(df: DataFrame, batchId: Long): Unit = {
      if (tracing) {
        val sc = df.sparkSession.sparkContext
        sc.setLocalProperty(StageTrace.Query, label)
        sc.setLocalProperty(StageTrace.Phase, "exec")
      }
      val (state, stale) = if (tracing) entryState(batchId) else ("fresh", 0)
      inFlight = true
      val t0 = System.nanoTime()
      try sink(df, batchId) finally inFlight = false
      val took = Stats.secondsSince(t0)
      val now = System.currentTimeMillis()
      synchronized {
        commitS += took
        state match {
          case "skipped"   => skipped += 1
          case "recovered" => recovered += 1
          case _           => fresh += 1
        }
        staleStagings += stale
      }
      committedAt.put(batchId, now)
      if (firstCommitAt == 0L) firstCommitAt = now
    }

    private def entryState(batchId: Long): (String, Int) = {
      val dir = new File(out)
      val marker = new File(dir, s"_COMMITTED_batch=$batchId").exists()
      val data = new File(dir, s"batch=$batchId").exists()
      val stale = Option(dir.list()).getOrElse(Array.empty[String])
        .count(_.startsWith(s"_staging_batch=$batchId-"))
      (if (marker && data) "skipped" else if (marker) "recovered" else "fresh", stale)
    }
  }

  private def start(spark: SparkSession, src: String, cp: String, log: SinkLog): StreamingQuery =
    Pipeline.tumblingCounts(Sources.fileStream(spark, src, schema).withWatermark("ts", Watermark))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch((df: DataFrame, id: Long) => log(df, id))
      .start()

  /** file name -> batch id, from the checkpoint's file-source log. */
  private def fileBatches(cp: String): Map[String, Long] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r.unanchored
    val BatchRe = "\"batchId\":(\\d+)".r.unanchored
    Option(new File(s"$cp/sources/0").listFiles()).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
      .collect { case l @ PathRe(p) => l match {
        case BatchRe(b) => Some(new File(new java.net.URI(p).getPath).getName -> b.toLong)
        case _ => None
      } }.flatten.toMap
  }

  // ---- correctness ----------------------------------------------------------

  /** The exactly-once contract on one query's output: one marker and one
    * data directory per committed batch, no staging leftovers, no row
    * dropped by the watermark, and the latest row per (window, event_type)
    * equal to the batch twin over every input file (with `twin`). The
    * output is read through `out/batch=*`: reading the sink root fails,
    * because the `_COMMITTED_batch=N` markers contain `=` and Spark does
    * not hide them. */
  private def verify(spark: SparkSession, what: String, src: String, cp: String, out: String,
      queries: Seq[StreamingQuery], twin: Boolean): Unit = {
    val commits = Option(new File(s"$cp/commits").list()).getOrElse(Array.empty[String])
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted.toSeq
    val entries = Option(new File(out).list()).getOrElse(Array.empty[String]).toSeq
    def ids(prefix: String) = entries.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong).sorted
    val dirs = ids("batch=")
    check(commits.nonEmpty && ids("_COMMITTED_batch=") == commits && dirs == commits,
      s"$what: ${commits.size} batches committed, ${ids("_COMMITTED_batch=").size} markers, ${dirs.size} dirs")
    val nested = dirs.exists(b => Option(new File(s"$out/batch=$b").list())
      .getOrElse(Array.empty[String]).exists(_.startsWith("_staging_")))
    check(!entries.exists(_.startsWith("_staging_")) && !nested, s"$what: staging leftovers")
    val dropped = queries.flatMap(_.recentProgress).flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    check(dropped == 0, s"$what: $dropped rows dropped by the watermark")
    if (twin) {
      val got = spark.read.option("basePath", out).parquet(s"$out/batch=*")
        .withColumn("rk", row_number().over(
          Window.partitionBy("win_start", "win_end", "event_type").orderBy(col("batch").desc)))
        .where("rk = 1").drop("rk", "batch")
      val want = Pipeline.tumblingCounts(spark.read.schema(schema).parquet(src))
      val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
      check(diff == 0, s"$what: $diff window rows differ from the batch twin")
    }
  }

  // ---- phases ---------------------------------------------------------------

  /** One catch-up drain on a fresh checkpoint; returns (wall s, query id). */
  private def catchUp(spark: SparkSession, label: String, tracing: Boolean): (Double, UUID) = {
    val cp = s"$root/cp-$label"
    val out = s"$root/out-$label"
    val log = new SinkLog(out, label, tracing)
    val t0 = System.nanoTime()
    val q = start(spark, backlogDir, cp, log)
    q.processAllAvailable()
    val wall = Stats.secondsSince(t0)
    q.stop()
    verify(spark, label, backlogDir, cp, out, Seq(q), twin = label == "catchup0")
    (wall, q.id)
  }

  private final case class Live(latencies: Seq[Double], recoveries: Seq[Double],
      lateMaxS: Double, filesPerBatchMax: Int, log: SinkLog, id: UUID)

  private def live(spark: SparkSession): Live = {
    val cp = s"$root/cp-live"
    val out = s"$root/out-live"
    val log = new SinkLog(out, "live", ctx.trace)
    val pending = new File(pendingDir).listFiles().sortBy(_.getName)
    val t0 = System.currentTimeMillis() + 500
    val due = pending.indices.map(k => t0 + k * PeriodMs)
    val lateness = new Array[Long](pending.length)
    @volatile var published = 0
    val gen = new Thread(() => pending.indices.foreach { k =>
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      pending(k).setLastModified(due(k))
      require(pending(k).renameTo(new File(liveDir, pending(k).getName)), s"cannot publish ${pending(k)}")
      lateness(k) = System.currentTimeMillis() - due(k)
      published = k + 1
    }, "perfbench-generator")
    val queries = mutable.ArrayBuffer(start(spark, liveDir, cp, log))
    gen.start()
    // stop the query while a batch is in the sink; restart on the checkpoint
    val recoveries = (1 to restarts).map { r =>
      while (published < measuredFiles + (r + 1) * warmFiles && gen.isAlive) Thread.sleep(5)
      val deadline = System.currentTimeMillis() + 3000
      while (!log.inFlight && System.currentTimeMillis() < deadline) Thread.sleep(1)
      queries.last.stop()
      log.firstCommitAt = 0L
      val restartAt = System.currentTimeMillis()
      queries += start(spark, liveDir, cp, log)
      while (log.firstCommitAt == 0L && queries.last.isActive) Thread.sleep(2)
      (log.firstCommitAt - restartAt) / 1000.0
    }
    gen.join()
    check(published == pending.length, s"live: generator published $published of ${pending.length}")
    queries.last.processAllAvailable()
    queries.last.stop()
    check(recoveries.forall(_ > 0), "live: a restarted query never committed")
    verify(spark, "live", liveDir, cp, out, queries.toSeq, twin = true)

    val batchOf = fileBatches(cp)
    val committed = pending.indices.map { k =>
      val at = batchOf.get(pending(k).getName).map(b => log.committedAt.getOrDefault(b, 0L))
      check(at.exists(_ > 0), s"live: ${pending(k).getName} never committed")
      at.filter(_ > 0).map(a => (a - due(k)) / 1000.0)
    }
    val latencies = committed.slice(warmFiles, warmFiles + measuredFiles).flatten
    val perBatch = batchOf.values.groupBy(identity).values.map(_.size)
    Live(latencies, recoveries, lateness.max / 1000.0, perBatch.maxOption.getOrElse(0),
      log, queries.head.id)
  }

  def run(): Outcome = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to (if (ctx.smoke) 1 else 3)).foreach { _ =>
      Option(spark).foreach(_.stop())
      val (s, t) = Stats.time { val s = ctx.session(); generate(); s }
      spark = s
      setups += t
      Log(f"set-up $t%.2f s")
    }
    val progress = if (ctx.trace) Some(new ProgressLog(spark)) else None
    val stages = if (ctx.trace) Some(new StageTrace) else None
    stages.foreach(spark.sparkContext.addSparkListener)

    val drains = (0 until catchups).map(i => catchUp(spark, s"catchup$i", ctx.trace))
    Log(s"catch-up drains ${drains.map(d => f"${d._1}%.2f").mkString(" ")} s")
    val passS = Stats.median(drains.tail.map(_._1))
    val lv = live(spark)
    Log(f"live phase: p50 ${Stats.median(lv.latencies)}%.3f s, restarts ${lv.recoveries.mkString(" ")} s")
    val heapMb = Stats.retainedHeapMb()
    val rows = backlogFiles * backlogRows

    val layers = if (!ctx.trace) Nil else {
      StageTrace.flush(spark.sparkContext)
      val st = stages.get
      val perDrain = (1 until catchups).map(i => st.take(st.Key(s"catchup$i", "exec")))
      def avg(f: StageTrace#Acc => Long): Double = perDrain.map(f(_).toDouble).sum / perDrain.size
      val log = lv.log
      val liveP = progress.get.of(Set(lv.id))
      val catchP = progress.get.of(drains.tail.map(_._2).toSet)
      val sinkSum = log.commitS.sum
      val traced = Seq(
        Metric("source.latest_offset_s", liveP.dur("latestOffset"), "s"),
        Metric("source.get_batch_s", liveP.dur("getBatch"), "s"),
        Metric("source.backlog_files_max", lv.filesPerBatchMax, "count"),
        Metric("gen.late_max_s", lv.lateMaxS, "s"),
        Metric("stream.batches", liveP.batches, "count"),
        Metric("stream.query_planning_s", liveP.dur("queryPlanning"), "s"),
        Metric("stream.add_batch_s", liveP.dur("addBatch"), "s"),
        Metric("stream.trigger_s", liveP.dur("triggerExecution"), "s"),
        Metric("wal_commit_s", liveP.dur("walCommit"), "s"),
        Metric("commit_offsets_s", liveP.dur("commitOffsets"), "s"),
        Metric("state.rows", catchP.stateRows, "count"),
        Metric("state.mem_bytes", catchP.stateMem, "bytes"),
        Metric("state.update_s", catchP.updateS / (catchups - 1), "s"),
        Metric("state.commit_s", catchP.commitS / (catchups - 1), "s"),
        Metric("state.dropped_late", liveP.dropped + catchP.dropped, "count"),
        Metric("sink.commit_s_p50", Stats.median(log.commitS.toSeq), "s"),
        Metric("sink.commit_s_sum", sinkSum, "s"),
        Metric("sink.batch_share", sinkSum / liveP.dur("triggerExecution"), "ratio"),
        Metric("sink.commits_fresh", log.fresh, "count"),
        Metric("sink.replays_skipped", log.skipped, "count"),
        Metric("sink.recoveries", log.recovered, "count"),
        Metric("sink.stale_stagings", log.staleStagings, "count"),
        Metric("catchup_rows_per_s", rows / passS, "1/s"),
        Metric("scan.stages", avg(_.scanStages), "count"),
        Metric("scan.bytes", avg(_.scanBytes), "bytes"),
        Metric("exec.jobs", avg(_.jobs), "count"),
        Metric("exec.stages", avg(_.stages), "count"),
        Metric("exec.tasks", avg(_.tasks), "count"),
        Metric("task_s", avg(_.taskMs) / 1000.0, "s"),
        Metric("core_util", avg(_.taskMs) / 1000.0 / (passS * ctx.cores), "ratio"),
        Metric("shuffle.write_bytes", avg(_.shuffleWrite), "bytes"),
        Metric("shuffle.read_bytes", avg(_.shuffleRead), "bytes"),
        Metric("spill_bytes", avg(_.spill), "bytes"),
      )
      // the overhead pair: untraced drains against the traced ones above
      spark.sparkContext.removeSparkListener(st)
      spark.streams.removeListener(progress.get)
      val plain = Stats.median((0 until 2).map(i => catchUp(spark, s"plain$i", tracing = false)._1))
      traced :+ Metric("tracing_overhead", passS / plain, "ratio")
    }

    val oneCore = if (!ctx.trace) Nil else {
      spark.stop()
      spark = ctx.session(1)
      catchUp(spark, "one0", tracing = false)
      val one = Stats.median((1 to 2).map(i => catchUp(spark, s"one$i", tracing = false)._1))
      Seq(Metric("core_scaling", one / passS, "ratio"),
        Metric("catchup_rows_per_s_1core", rows / one, "1/s"))
    }
    spark.stop()

    val tailQ = Stats.tailQuantile(measuredFiles)
    Outcome(failed == 0, attempted, failed,
      Seq(Metric("pass_s", passS, "s"), Metric("cold_pass_s", drains.head._1, "s"),
        Metric("setup_s", Stats.median(setups.toSeq), "s"),
        Metric("latency_p50_s", Stats.median(lv.latencies), "s"),
        Metric("latency_tail_s", Stats.quantile(lv.latencies, tailQ), "s"),
        Metric("recovery_s", Stats.median(lv.recoveries), "s"),
        Metric("retained_heap_mb", heapMb, "MiB")),
      layers ++ oneCore,
      Seq("backlog" -> s"$backlogFiles files x $backlogRows rows",
        "live" -> s"$liveFiles files x $liveRows rows, one per $PeriodMs ms",
        "catchup_rows_per_s" -> f"${rows / passS}%.0f",
        "latency_samples" -> lv.latencies.size.toString,
        "latency_tail_percentile" -> f"${tailQ * 100}%.1f",
        "live_batches" -> lv.log.committedAt.size.toString,
        "recoveries_s" -> lv.recoveries.map(r => f"$r%.3f").mkString(","),
        "failures" -> failures.mkString("; ")))
  }
}

/** Micro-batch progress of every query, from a StreamingQueryListener. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val all = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { all += e.progress }

  /** Totals over the batches of the given queries that read input. */
  final class Totals(ps: Seq[StreamingQueryProgress]) {
    private val ops = ps.flatMap(_.stateOperators)
    def batches: Double = ps.size
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1000.0
    def stateRows: Double = ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    def stateMem: Double = ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    def updateS: Double = ops.map(_.allUpdatesTimeMs.toDouble).sum / 1000.0
    def commitS: Double = ops.map(_.commitTimeMs.toDouble).sum / 1000.0
    def dropped: Double = ops.map(_.numRowsDroppedByWatermark.toDouble).sum
  }

  def of(ids: Set[UUID]): Totals = synchronized {
    new Totals(all.filter(p => ids(p.id) && p.numInputRows > 0).toSeq)
  }
}
