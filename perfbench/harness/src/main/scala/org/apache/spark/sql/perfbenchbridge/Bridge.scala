package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the tracer needs. */
object Bridge {
  /** Wait until the listener bus has delivered every queued event, so a
    * traced pass's counters are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Planning-phase time (analysis, optimization, physical planning) of
    * the execution that just ended, in milliseconds. */
  def planMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
