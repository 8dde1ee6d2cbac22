package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbenchbridge.Bridge

/** One call into a layer. `name` is `<layer>.<call>`; wall time is kept in
  * both clocks: nanos for durations, epoch millis to line up with Spark's
  * task launch/finish stamps. */
final class Span(val id: Long, val name: String, val parent: Option[Span]) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work charged to one span (its own, not its children's). Written
  * only from the listener-bus thread; read after [[Trace.drain]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, schedDelayMs, planMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, outputB = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder plus the `SparkListener` that ties Spark jobs
  * and SQL executions to spans.
  *
  * A span sets the Spark local property [[SpanProp]] to its id for its
  * duration; the property is inherited by threads started inside it (the
  * search's fit pool) and captured by Spark's broadcast and AQE stage
  * threads, so every job carries the innermost span open when it ran.
  * Tasks and stages inherit their job's span, and SQL executions are
  * matched through the `spark.sql.execution.id` job property: when one
  * ends, the planning-phase time of its `QueryExecution` is charged to
  * the span. With tracing off, [[span]] is a plain call. */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  private val current = new InheritableThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()

  def counter(spanId: Long): Counters = counters.computeIfAbsent(spanId, _ => new Counters)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(current.get)
      val s = new Span(ids.incrementAndGet(), name, parent)
      spans.add(s)
      current.set(s)
      val ctx = sc
      val prev = if (ctx != null) ctx.getLocalProperty(SpanProp) else null
      if (ctx != null) ctx.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        current.set(parent.orNull)
        if (ctx != null) ctx.setLocalProperty(SpanProp, prev)
      }
    }

  /** Id of the most recent span: spans with a larger id started later. */
  def watermark: Long = ids.get()

  /** Register the listeners on a live session (tracing runs only). */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(JobListener)
  }

  def drain(): Unit = if (sc != null) Bridge.drainListenerBus(sc)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).foreach { id =>
        counter(id).jobs += 1
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.put(x.toLong, id))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(execSpan.get(end.executionId)).foreach(id => counter(id).planMs += Bridge.planMs(end))
      case _ => ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => counter(id).stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = counter(id)
        val info = e.taskInfo
        c.tasks += 1
        c.taskIntervals += (info.launchTime -> info.finishTime)
        Option(e.taskMetrics).foreach { m =>
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.outputB += m.outputMetrics.bytesWritten
          // the Spark UI's scheduler delay: task wall not spent running,
          // (de)serializing or shipping the result
          val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch)
        }
      }
  }

  /** The finished spans with ids in (`from`, `to`] (two [[watermark]]s),
    * with the sums the per-layer metrics are built from. */
  final class Window(from: Long, to: Long) {
    drain()
    val all: Seq[Span] = spans.asScala.filter(s => s.id > from && s.id <= to && s.endNs >= 0).toSeq
    private val children: Map[Long, Seq[Span]] =
      all.groupBy(_.parent.map(_.id).getOrElse(-1L))
    def named(name: String): Seq[Span] = all.filter(_.name == name)
    def inLayer(layer: String): Seq[Span] = all.filter(_.layer == layer)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def sum(spans: Seq[Span])(f: Counters => Long): Long =
      spans.map(s => Option(counters.get(s.id)).map(f).getOrElse(0L)).sum
    def seconds(spans: Seq[Span]): Double = spans.map(_.seconds).sum

    /** `s`'s duration minus the part of it that its child spans cover. */
    def selfSeconds(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var end = s.startNs
      iv.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      s.seconds - covered / 1e9
    }

    /** Every span with its parent, times and own Spark counters. */
    def dump: Seq[Map[String, Any]] = all.sortBy(_.id).map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_s" -> c.taskRunMs / 1e3, "plan_s" -> c.planMs / 1e3,
        "shuffle_write_b" -> c.shuffleWriteB)
    }

    /** Wall time of `s` during which none of its subtree's tasks ran. */
    def idleSeconds(s: Span): Double = {
      val iv = subtree(s).flatMap(x => Option(counters.get(x.id)).toSeq.flatMap(_.taskIntervals))
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy += curB - curA
      math.max(0.0, s.seconds - busy / 1e3)
    }
  }
}
