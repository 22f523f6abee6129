package graft

import org.apache.spark.sql.SparkSession

/** The one place a local [[SparkSession]] is built: Bench, Verify, the
  * test suite and every tool share this policy, so their sessions cannot
  * drift apart.
  *
  *   - `local[cpus]`, with `spark.sql.shuffle.partitions` = cpus;
  *   - adaptive execution on;
  *   - session time zone UTC: the events reader's NTZ→LTZ normalisation
  *     is value-identical only under UTC, so timed and checked runs
  *     compute the same values;
  *   - no Spark UI, log level WARN.
  *
  * A caller's extras are applied last and override any of the above
  * (`spark.sql.adaptive.enabled` off, a data-sized shuffle fan-out, a
  * scratch `spark.local.dir`). */
object Session {
  /** Core count for a local session: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The adaptive-execution A/B knob of Bench and Verify:
    * `SPARK_GRAFT_AQE=false` runs the board without AQE re-planning. */
  def envAqe: (String, String) =
    "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "true")

  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = (base ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
