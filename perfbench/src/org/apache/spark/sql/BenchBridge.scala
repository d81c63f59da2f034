package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to two Spark internals the traced benchmark run reads: the
  * listener bus, which it drains before reading its counters, and the
  * executed plan attached to a SQL execution's end event. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def plan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
