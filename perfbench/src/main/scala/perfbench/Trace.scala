package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters gathered from outside graft, through Spark's public
  * listeners. Jobs are tagged by the harness with two local properties
  * (the query and the phase it ran in: `construct` while the query
  * function builds its plan, `exec` while the noop write materialises it),
  * and every stage is credited to the tag of the job that submitted it. */
final class StageTrace extends SparkListener {
  final case class Key(query: String, phase: String)
  final class Acc {
    var jobs, stages, tasks, scanStages, singleTaskScans = 0L
    var taskMs, scanTaskMs, scanBytes, shuffleWrite, shuffleRead, spill, peakMem = 0L
  }
  private val byStage = mutable.Map.empty[Int, Key]
  val acc = mutable.Map.empty[Key, Acc]

  private def keyOf(p: java.util.Properties): Option[Key] =
    Option(p).flatMap(p => Option(p.getProperty(StageTrace.Query))
      .map(q => Key(q, Option(p.getProperty(StageTrace.Phase)).getOrElse("exec"))))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      acc.getOrElseUpdate(k, new Acc).jobs += 1
      e.stageInfos.foreach(s => byStage(s.stageId) = k)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    byStage.remove(info.stageId).foreach { k =>
      val a = acc.getOrElseUpdate(k, new Acc)
      val m = info.taskMetrics
      a.stages += 1
      a.tasks += info.numTasks
      a.taskMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      // a scan stage is one that reads table input (parquet bytes)
      if (m.inputMetrics.bytesRead > 0) {
        a.scanStages += 1
        if (info.numTasks == 1) a.singleTaskScans += 1
        a.scanTaskMs += m.executorRunTime
        a.scanBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def take(k: Key): Acc = synchronized(acc.remove(k).getOrElse(new Acc))
}

object StageTrace {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"

  /** Block until every posted listener event has been delivered. */
  def flush(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Catalyst planning time of each successful action, from the phase
  * tracker of its QueryExecution (analysis, optimization, planning),
  * stamped with the wall-clock start of analysis so the harness can credit
  * it to the query whose materialising write was running then. */
final class PlanTrace extends QueryExecutionListener {
  val events = mutable.ArrayBuffer.empty[(Long, Double)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) synchronized {
      events += ((phases.values.map(_.startTimeMs).min,
        phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning seconds of the actions that started inside [t0, t1] (ms). */
  def within(t0: Long, t1: Long): Double = synchronized {
    events.collect { case (s, d) if s >= t0 && s <= t1 => d }.sum
  }
}

/** Per-query spans of a batch run and their layer counters.
  *
  * `query` times the two layer boundaries the harness can see: the query
  * function (construction: eager driver loops, checkpoints and memo builds
  * run here) and the materialising write (planning plus stage execution).
  * Rows are kept in memory, credited with their stage counters once the
  * listener bus has drained, and written as JSON lines by `summary`, which
  * must run while the session is live. */
final class Tracer(ctx: Ctx, session: org.apache.spark.sql.SparkSession) {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  final class Row(val pass: String, val query: String, val constructS: Double,
      val execS: Double, val t0: Long, val t1: Long) {
    var cacheRdds, cacheBytes = 0L
    var construct, exec: StageTrace#Acc = _
    var planS = 0.0
  }
  private val stages = new StageTrace
  private val plans = new PlanTrace
  private val rows = mutable.ArrayBuffer.empty[Row]
  private var passLabel = ""
  private var passNo = 0
  session.sparkContext.addSparkListener(stages)
  session.listenerManager.register(plans)

  /** Start a new pass labelled `kind`; returns this tracer. */
  def phase(kind: String): Tracer = { passNo += 1; passLabel = s"$kind$passNo"; this }

  def query(spark: SparkSession, q: String)(build: => DataFrame)(mat: DataFrame => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"$passLabel/$q"
    sc.setLocalProperty(StageTrace.Query, tag)
    sc.setLocalProperty(StageTrace.Phase, "construct")
    try {
      val (df, constructS) = Stats.time(build)
      sc.setLocalProperty(StageTrace.Phase, "exec")
      val m0 = System.currentTimeMillis()
      val (_, execS) = Stats.time(mat(df))
      rows += new Row(passLabel, q, constructS, execS, m0, System.currentTimeMillis())
    } finally {
      sc.setLocalProperty(StageTrace.Query, null)
      sc.setLocalProperty(StageTrace.Phase, null)
    }
  }

  /** Record the cached RDDs a query left, just before the harness drains. */
  def beforeDrain(spark: SparkSession): Unit = rows.lastOption.foreach { r =>
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    r.cacheRdds = infos.length
    r.cacheBytes = infos.map(i => i.memSize + i.diskSize).sum
  }

  private def resolve(): Unit = {
    StageTrace.flush(session.sparkContext)
    rows.foreach { r =>
      val k = s"${r.pass}/${r.query}"
      r.construct = stages.take(stages.Key(k, "construct"))
      r.exec = stages.take(stages.Key(k, "exec"))
      r.planS = plans.within(r.t0, r.t1)
    }
  }

  /** Per-layer metrics: per-pass sums averaged over the traced timed
    * passes, plus the construction jobs of the cold pass. */
  def summary(): Seq[Metric] = {
    resolve()
    writeRows()
    val timed = rows.filter(_.pass.startsWith("timed")).groupBy(_.pass).values.toSeq
    val cold = rows.filter(_.pass.startsWith("cold"))
    def perPass(f: Row => Double): Double =
      if (timed.isEmpty) 0.0 else timed.map(_.map(f).sum).sum / timed.size
    def both(f: StageTrace#Acc => Long)(r: Row): Double = (f(r.construct) + f(r.exec)).toDouble
    val taskS = perPass(both(_.taskMs)) / 1000.0
    val wallS = perPass(r => r.constructS + r.execS)
    Seq(
      Metric("scan.stages", perPass(both(_.scanStages)), "count"),
      Metric("scan.single_task_stages", perPass(both(_.singleTaskScans)), "count"),
      Metric("scan.task_s", perPass(both(_.scanTaskMs)) / 1000.0, "s"),
      Metric("scan.bytes", perPass(both(_.scanBytes)), "bytes"),
      Metric("construct_s", perPass(_.constructS), "s"),
      Metric("construct.jobs", perPass(_.construct.jobs.toDouble), "count"),
      Metric("construct.jobs_cold", cold.map(_.construct.jobs.toDouble).sum, "count"),
      Metric("plan_s", perPass(_.planS), "s"),
      Metric("exec_s", perPass(_.execS), "s"),
      Metric("exec.jobs", perPass(_.exec.jobs.toDouble), "count"),
      Metric("exec.stages", perPass(_.exec.stages.toDouble), "count"),
      Metric("exec.tasks", perPass(_.exec.tasks.toDouble), "count"),
      Metric("task_s", taskS, "s"),
      Metric("core_util", if (wallS > 0) taskS / (wallS * ctx.cores) else 0.0, "ratio"),
      Metric("shuffle.write_bytes", perPass(both(_.shuffleWrite)), "bytes"),
      Metric("shuffle.read_bytes", perPass(both(_.shuffleRead)), "bytes"),
      Metric("spill_bytes", perPass(both(_.spill)), "bytes"),
      Metric("peak_exec_mem_bytes",
        rows.map(r => math.max(r.construct.peakMem, r.exec.peakMem)).maxOption.getOrElse(0L).toDouble, "bytes"),
      Metric("cache.rdds", perPass(_.cacheRdds.toDouble), "count"),
      Metric("cache.bytes", perPass(_.cacheBytes.toDouble), "bytes"),
    )
  }

  private def writeRows(): Unit = {
    val w = new java.io.PrintWriter(s"${ctx.work}/trace-${ctx.workload}.jsonl")
    try rows.foreach { r =>
      def acc(p: String, a: StageTrace#Acc) = Seq(
        s"$p.jobs" -> a.jobs, s"$p.stages" -> a.stages, s"$p.tasks" -> a.tasks,
        s"$p.task_ms" -> a.taskMs, s"$p.scan_stages" -> a.scanStages,
        s"$p.single_task_scans" -> a.singleTaskScans, s"$p.scan_task_ms" -> a.scanTaskMs,
        s"$p.scan_bytes" -> a.scanBytes, s"$p.shuffle_write" -> a.shuffleWrite,
        s"$p.shuffle_read" -> a.shuffleRead, s"$p.spill" -> a.spill, s"$p.peak_mem" -> a.peakMem,
      ).map { case (k, v) => k -> Json.num(v.toDouble) }
      w.println(Json.obj(Seq("pass" -> Json.str(r.pass), "query" -> Json.str(r.query),
        "construct_s" -> Json.num(r.constructS), "exec_s" -> Json.num(r.execS),
        "plan_s" -> Json.num(r.planS), "cache_rdds" -> Json.num(r.cacheRdds.toDouble),
        "cache_bytes" -> Json.num(r.cacheBytes.toDouble)) ++
        acc("construct", r.construct) ++ acc("exec", r.exec)))
    } finally w.close()
  }
}
