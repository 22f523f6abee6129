package graft.tools

import java.nio.file.{Files, Paths}
import java.util.{Collections, IdentityHashMap}

import scala.annotation.tailrec
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate._
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The board's plan census: one line of typed physical-node counts per
  * declared query, the plan-shape lock `PlanSpec` compares against its
  * golden file and its board rules.
  *
  * The walk is the plan as the harness runs it, with AQE on: every node of
  * `executedPlan` and of its subqueries (down through adaptive plans and
  * query stages, `AdaptiveSparkPlanHelper.allChildren`), plus the body of
  * each distinct cached relation once (a cache read twice counts `cache=2`
  * and its body's nodes once). An exchange whose canonical form was already
  * counted in the same plan counts as `reused` and is not walked into, since
  * AQE's stage cache runs it and everything below it once; a
  * `ReusedExchangeExec` counts the same way.
  *
  * Fields, printed in this order when non-zero:
  *   - `scan`/`rdd`/`cache`: file scans, RDD scans (checkpoints), cache reads;
  *   - exchanges: `hash` (a planner-inserted hash shuffle), `repart` (a hash
  *     shuffle the query asked for), `range`, `rr` (round-robin), `single`
  *     (`SinglePartition`), `bcast`, `reused`; `single_raw` counts the
  *     `SinglePartition` exchanges whose stage has no aggregate below the
  *     exchange, i.e. that move unaggregated rows onto one task;
  *   - joins by strategy (`bhj`, `smj`, `shj`, `bnlj`, `cart`) and by type
  *     (`semi`, `anti`, `outer`);
  *   - aggregates: `hash_agg`, `obj_agg`, `sort_agg`;
  *   - `window`, `window_global` (no partition keys: one task), `wgl`
  *     (`WindowGroupLimit`), `top` (`TakeOrderedAndProject`), `sort` (global
  *     sorts), `generate`.
  *
  * `runMain graft.tools.Census <sfDir> <out file>` writes the board's
  * census at `local[4]`, the test suite's session shape, whatever the core
  * count; the golden file is the census on the sf0.001 fixtures. */
object Census extends AdaptiveSparkPlanHelper {
  val Fields: Seq[String] = Seq("scan", "rdd", "cache",
    "hash", "repart", "range", "rr", "single", "single_raw", "bcast", "reused",
    "bhj", "smj", "shj", "bnlj", "cart", "semi", "anti", "outer",
    "hash_agg", "obj_agg", "sort_agg",
    "window", "window_global", "wgl", "top", "sort", "generate")

  final case class Line(counts: Map[String, Int]) {
    def apply(field: String): Int = {
      require(Fields.contains(field), s"no census field '$field'")
      counts.getOrElse(field, 0)
    }
    override def toString: String =
      Fields.filter(counts.contains).map(f => s"$f=${counts(f)}").mkString(" ")
  }

  /** The census of one frame's physical plan. */
  def of(df: DataFrame): Line = {
    val walked = Collections.newSetFromMap(new IdentityHashMap[SparkPlan, java.lang.Boolean])
    // `exchanges`: one stage cache for the query and its subqueries, one per cached body
    def walk(p: SparkPlan, exchanges: mutable.Set[SparkPlan]): Seq[String] = p match {
      case e: Exchange if !exchanges.add(e.canonicalized) => Seq("reused")
      case s: InMemoryTableScanExec => labels(s) ++
        (if (walked.add(s.relation.cachedPlan)) walk(s.relation.cachedPlan, mutable.Set.empty) else Nil)
      case n => labels(n) ++ (allChildren(n) ++ n.subqueries).flatMap(walk(_, exchanges))
    }
    Line(walk(df.queryExecution.executedPlan, mutable.Set.empty).groupBy(identity).map(f => f._1 -> f._2.size))
  }

  /** Every declared query's line on `sfDir`, in name order. A query's
    * registered caches drain after its walk, as Bench drains them after
    * its action, so no line depends on the queries walked before it. */
  def board(spark: SparkSession, sfDir: String): Seq[(String, Line)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, query) =>
      try name -> of(query(spark, sfDir)) finally graft.Caches.drain(spark)
    }

  private def labels(p: SparkPlan): Seq[String] = p match {
    case _: FileSourceScanExec | _: BatchScanExec => Seq("scan")
    case _: RDDScanExec | _: ExternalRDDScanExec[_] => Seq("rdd")
    case _: InMemoryTableScanExec => Seq("cache")
    case e: ShuffleExchangeExec => e.outputPartitioning match {
      case _: HashPartitioning => Seq(if (e.shuffleOrigin == ENSURE_REQUIREMENTS) "hash" else "repart")
      case _: RangePartitioning => Seq("range")
      case _: RoundRobinPartitioning => Seq("rr")
      case SinglePartition => "single" +: (if (fedByAggregate(e.child)) Nil else Seq("single_raw"))
      case _ => Nil
    }
    case _: BroadcastExchangeExec => Seq("bcast")
    case _: ReusedExchangeExec => Seq("reused")
    case j: BaseJoinExec =>
      (j match {
        case _: BroadcastHashJoinExec => Seq("bhj")
        case _: SortMergeJoinExec => Seq("smj")
        case _: ShuffledHashJoinExec => Seq("shj")
        case _: BroadcastNestedLoopJoinExec => Seq("bnlj")
        case _: CartesianProductExec => Seq("cart")
        case _ => Nil
      }) ++ (j.joinType match {
        case LeftSemi => Seq("semi")
        case LeftAnti => Seq("anti")
        case LeftOuter | RightOuter | FullOuter => Seq("outer")
        case _ => Nil
      })
    case _: HashAggregateExec => Seq("hash_agg")
    case _: ObjectHashAggregateExec => Seq("obj_agg")
    case _: SortAggregateExec => Seq("sort_agg")
    case w: WindowExec => "window" +: (if (w.partitionSpec.isEmpty) Seq("window_global") else Nil)
    case _: WindowGroupLimitExec => Seq("wgl")
    case _: TakeOrderedAndProjectExec => Seq("top")
    case s: SortExec if s.global => Seq("sort")
    case _: GenerateExec => Seq("generate")
    case _ => Nil
  }

  /** Whether an aggregate feeds this stage's output: down unary operators
    * to the first aggregate, stopping at the stage boundary (an exchange,
    * or a leaf such as a materialized query stage). */
  @tailrec private def fedByAggregate(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: Exchange => false
    case _ if p.children.size == 1 => fedByAggregate(p.children.head)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4)
    try Files.write(Paths.get(args(1)),
      board(spark, args(0)).map { case (n, l) => s"$n $l".trim }.asJava)
    finally spark.stop()
  }
}
