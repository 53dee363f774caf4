package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's meter reads, kept in one
  * place: draining the listener bus before a window's counters are read,
  * and the planning phases a finished SQL execution carries. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** analysis + optimization + planning ms of a finished execution, 0
    * when the event carries no QueryExecution. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
      .getOrElse(0.0)
}
