package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private reads the benchmark's tracer needs. */
object GraftBenchBridge {

  /** Wait until the listener bus has delivered every event posted so far,
    * so per-layer totals are complete before they are read.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Milliseconds the finished SQL execution spent in analysis,
    * optimization and planning (its QueryPlanningTracker phases).
    */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
