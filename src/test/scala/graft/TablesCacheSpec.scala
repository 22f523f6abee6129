package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Lifecycle of the memoized table readers: per-session identity reuse,
  * explicit eviction, and — the leak case — automatic purge of a stopped
  * session's entries (each cached DataFrame strongly references its
  * session, so without the purge a JVM cycling through sessions pins every
  * dead one forever).
  *
  * The stop test really stops the shared context (in OSS Spark that IS the
  * session end-of-life signal) and then rebuilds an identical session via
  * the suite builder; it is the LAST test in this suite and suites run
  * sequentially in the forked JVM, so later suites' `getOrCreate` simply
  * adopts the fresh context. */
class TablesCacheSpec extends SparkSuite {

  test("readers are memoized per (session, sf, table) and evict drops exactly this session") {
    Tables.evict(spark)
    val a = Tables.lineitem(spark, sf001)
    assert(Tables.lineitem(spark, sf001) eq a, "second read must return the memoized frame")
    val other = spark.newSession()
    val b = Tables.lineitem(other, sf001)
    assert(!(b eq a), "a sibling session must get its own reader")
    assert(Tables.cachedReadersFor(spark) == 1 && Tables.cachedReadersFor(other) == 1)
    Tables.evict(spark)
    assert(Tables.cachedReadersFor(spark) == 0, "evict must drop this session's entries")
    assert(Tables.cachedReadersFor(other) == 1, "evict must not touch sibling sessions")
    assert(!(Tables.lineitem(spark, sf001) eq a), "post-evict read must rebuild the reader")
    Tables.evict(other)
    Tables.evict(spark)
  }

  private def fileIndexes(plan: LogicalPlan) = plan.collectWithSubqueries {
    case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation].location
  }

  test("sqlRef names one temp view per (session, sf, table) over the reader; evict drops it") {
    Tables.evict(spark)
    val catalog = spark.sessionState.catalog
    val v = Tables.sqlRef(spark, sf001, "lineitem")
    val registered = catalog.getRawTempView(v).get
    assert(Tables.sqlRef(spark, sf001, "lineitem") == v)
    assert(catalog.getRawTempView(v).get eq registered, "a second reference must not re-register")
    assert(!Tables.names.contains(v) && Tables.sqlRef(spark, sf001, "orders") != v)
    assert(fileIndexes(spark.table(v).queryExecution.analyzed) ==
      fileIndexes(Tables.lineitem(spark, sf001).queryExecution.analyzed))
    // a user view under the plain name does not shadow the graft view
    spark.range(1).createOrReplaceTempView("lineitem")
    assert(spark.table(v).count() == Tables.lineitem(spark, sf001).count())
    spark.catalog.dropTempView("lineitem")
    // another sf dir gets another view
    val otherSf = Files.createTempDirectory("sqlref_sf").toString
    spark.range(3).toDF("l_orderkey").write.parquet(s"$otherSf/lineitem.parquet")
    val w = Tables.sqlRef(spark, otherSf, "lineitem")
    assert(w != v && spark.table(w).count() == 3)
    // views are per session, and evict drops them with the readers
    val sibling = spark.newSession()
    assert(sibling.sessionState.catalog.getRawTempView(v).isEmpty)
    val before = fileIndexes(spark.table(v).queryExecution.analyzed).head
    Tables.evict(spark)
    assert(catalog.getRawTempView(v).isEmpty && catalog.getRawTempView(w).isEmpty)
    val after = fileIndexes(spark.table(Tables.sqlRef(spark, sf001, "lineitem"))
      .queryExecution.analyzed).head
    assert(!(after eq before), "a post-evict reference must register over the fresh reader")
    assert(after eq fileIndexes(Tables.lineitem(spark, sf001).queryExecution.analyzed).head)
    Tables.evict(spark)
  }

  test("with warm readers every q_sql_* query builds without a Spark job or SQL execution") {
    Tables.evict(spark)
    val warm = Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
      Tables.part _, Tables.orders _, Tables.lineitem _)
      .flatMap(r => fileIndexes(r(spark, sf001).queryExecution.analyzed))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some("fence") => fence.countDown()
          case _ => seen.add(s"job ${e.jobId}")
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => seen.add(s"execution ${x.description}")
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val built = try {
      val qs = SparkEntry.queries.collect {
        case (q, f) if q.startsWith("q_sql_") => q -> f(spark, sf001)
      }
      // listener events arrive in order: once the fence job is seen, every
      // event the builds posted has been delivered
      spark.sparkContext.setJobDescription("fence")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
      qs
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(built.size == 22)
    assert(seen.isEmpty, s"query builds ran: ${seen.toArray.mkString(", ")}")
    // the SQL text resolves to the memoized readers' relations
    built.foreach { case (q, df) =>
      val idx = fileIndexes(df.queryExecution.analyzed)
      assert(idx.nonEmpty && idx.forall(i => warm.exists(_ eq i)), s"$q reads outside the readers")
    }
    assert(fileIndexes(built("q_sql_q1").queryExecution.analyzed)
      .forall(_ eq fileIndexes(Tables.lineitem(spark, sf001).queryExecution.analyzed).head))
    Tables.evict(spark)
  }

  test("a stopped session's cache entries are purged on the next read") {
    val old = spark
    Tables.evict(old)
    Tables.lineitem(old, sf001)
    Tables.orders(old, sf001)
    assert(Tables.cachedReadersFor(old) == 2)
    // the artifact memos (edge table / inverted index / merge table) hold
    // the same session-keyed lifecycle contract as the readers
    queries.VectorOps.ngramEdges(old, sf001)
    assert(queries.VectorOps.edgeMemoEntriesFor(old) == 1)
    old.stop()
    val fresh = newSharedSession()
    assert(!(fresh eq old), "getOrCreate after stop must build a new session")
    Tables.lineitem(fresh, sf001)
    assert(Tables.cachedReadersFor(old) == 0,
      "the stopped session's entries must be gone after any later read")
    assert(Tables.cachedReadersFor(fresh) == 1)
    queries.VectorOps.ngramEdges(fresh, sf001)
    assert(queries.VectorOps.edgeMemoEntriesFor(old) == 0,
      "the stopped session's memoized edge table must purge on the next access")
    assert(queries.VectorOps.edgeMemoEntriesFor(fresh) == 1)
    Tables.evict(fresh)
  }
}
