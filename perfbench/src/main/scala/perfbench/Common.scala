package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One reported metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run returns to [[Main]]. `failed` counts failed ops out
  * of `attempted`; `correct` is false when any output check failed. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], notes: Seq[(String, String)])

/** Settings shared by every workload of one run. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: String, smoke: Boolean, record: Boolean) {
  /** `defaultParallelism` of the first session started at `cores`. */
  var parallelism = 0

  /** A fresh `local[n]` session with the confs of `graft.Bench`. */
  def session(n: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // a stream stopped with a batch in flight must not hang the run
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (parallelism == 0 && n == cores) parallelism = s.sparkContext.defaultParallelism
    s
  }
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - start) / 1000.0}%6.1f s] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile (as a fraction) with at least ten of `n`
    * samples beyond it; 0.5 when there are too few samples for that. */
  def tailQuantile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Heap in use after full collections, in MiB: the least of three, with
    * pauses so Spark's ContextCleaner can release what the previous
    * collection made unreachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

/** Order-insensitive result fingerprint: columns sorted by name (as
  * `tools/check.py` compares results), every floating value rendered to nine
  * significant digits so summation order cannot flip it, each row hashed
  * with xxhash64, and the hashes summed exactly. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq.zipWithIndex
    val renamed = df.toDF(fields.map { case (_, i) => s"c$i" }: _*)
    val cols = fields.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => norm(col(s"c$i"), f.dataType) }
    val row = renamed.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum("h")).collect().head
    s"${row.getLong(0)}:${Option(row.get(1)).getOrElse(0)}"
  }
}
