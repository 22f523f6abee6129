package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, built by [[Session]] at a fixed 4
  * cores (not `SPARK_GRAFT_CPUS`, so the suite's session does not follow
  * the box): UTC + small shuffle fan-out to keep tests fast on tiny data. Registered per-query caches drain after every
  * test — the suite JVM runs hundreds of queries on shared sessions and
  * must not accumulate their cache blocks (the Bench/Verify discipline). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterEach {
  override protected def afterEach(): Unit = {
    try Caches.drain(spark)
    catch { case _: Throwable => () } // a lifecycle test may have stopped the context
    super.afterEach()
  }

  /** The shared session, also used to RE-create an identical session after
    * a lifecycle test stops the context (suites run sequentially in the
    * forked JVM, so a later suite's getOrCreate picks the fresh one up). */
  protected def newSharedSession(): SparkSession =
    Session.local(4, "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse")

  lazy val spark: SparkSession = newSharedSession()

  val sf001 = "/root/testdata/sf0.001"
}
