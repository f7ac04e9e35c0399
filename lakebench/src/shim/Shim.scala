package org.apache.spark.sql.lakebenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two reads of Spark internals the trace collector needs, hence this
  * file's package: `waitUntilEmpty` is `private[spark]`, and the query
  * execution an SQL-execution-end event carries is `private[sql]`. */
object Shim {

  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Planning time (analysis + optimization + planning phases, ms) of the
    * query an execution ran, when the event carries it. */
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum)
}
