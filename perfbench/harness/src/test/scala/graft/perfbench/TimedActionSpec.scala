package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.perfbenchbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Registry

/** Guard against count()-style timing: the plan that the benchmark's
  * timed action executes must be the plan a user waits for, final Sort
  * and projection included. Under count() Catalyst drops both from these
  * three queries. */
class TimedActionSpec extends AnyFunSuite {
  private val data = "../data/sf0.01"

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Every action that runs, in order. */
  private lazy val executed = {
    val q = new ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = q.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = q.add(qe)
    })
    q
  }

  for (name <- Seq("q_agg_stats", "q_project", "q_win_frame"))
    test(s"$name: the timed action keeps the final sort and projection") {
      val df = Registry.byName(name).run(spark, data)
      Bridge.drainListenerBus(spark.sparkContext)
      executed.clear()
      val rows = Timed.materialize(df)
      Bridge.drainListenerBus(spark.sparkContext)
      assert(rows.nonEmpty && rows.head.length == df.columns.length)
      val actions = executed.asScala.toSeq
      assert(actions.size == 1, s"the timed action ran ${actions.size} actions")
      val nodes = PlanShape.finalNodes(actions.head.executedPlan)
      assert(nodes.exists {
        case s: SortExec => s.global
        case _: TakeOrderedAndProjectExec => true
        case _ => false
      }, s"no global sort in the executed plan of $name")
      // the root of the executed plan produces every projected column
      assert(nodes.head.output.map(_.name) == df.columns.toSeq,
        s"executed plan of $name outputs ${nodes.head.output.map(_.name)}")
    }
}
