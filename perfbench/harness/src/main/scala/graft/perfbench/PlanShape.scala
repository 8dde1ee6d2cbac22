package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{RDDScanExec, ReusedSubqueryExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** The timed action of a declared query: every row and every column, in
  * the query's final order. `count()` is never used — Catalyst prunes the
  * final Sort and most projections under it, so a count() timing is of a
  * different plan than the one a user waits for. */
object Timed {
  def materialize(df: DataFrame): Array[Row] = df.collect()
}

/** Operator counts of a query's executed plan, taken after it ran.
  *
  * The walk follows AQE's final plan only: `AdaptiveSparkPlanExec` is
  * entered through its current (final, once executed) plan and query
  * stages through the exchange they wrap, so the `== Initial Plan ==`
  * tree that the plan's text form also prints is never visited. A
  * `ReusedExchange` (or reused subquery) is counted but not entered, so a
  * shared subtree counts once. Subquery plans are walked too. */
final case class PlanShape(
    exchanges: Int, sorts: Int, broadcasts: Int, reusedExchanges: Int,
    checkpoints: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    sorts + o.sorts, broadcasts + o.broadcasts,
    reusedExchanges + o.reusedExchanges, checkpoints + o.checkpoints)
}

object PlanShape {
  val zero: PlanShape = PlanShape(0, 0, 0, 0, 0)

  def finalNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r @ (_: ReusedExchangeExec | _: ReusedSubqueryExec) => out += r
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  def of(df: DataFrame): PlanShape = {
    val nodes = finalNodes(df.queryExecution.executedPlan)
    def n(f: SparkPlan => Boolean): Int = nodes.count(f)
    PlanShape(
      exchanges = n(_.isInstanceOf[ShuffleExchangeLike]),
      sorts = n(_.isInstanceOf[SortExec]),
      broadcasts = n(_.isInstanceOf[BroadcastExchangeLike]),
      reusedExchanges = n(_.isInstanceOf[ReusedExchangeExec]),
      // an eager localCheckpoint() reads back as a scan of its RDD
      checkpoints = n(_.isInstanceOf[RDDScanExec]))
  }
}
