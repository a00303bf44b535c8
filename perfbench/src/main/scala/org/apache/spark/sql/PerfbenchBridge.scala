package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The scheduler internals the benchmark's tracing needs: waiting until
  * every posted listener event has been delivered (so an operation's
  * job, stage and task events are all counted before the next operation
  * starts), and the query execution and name an execution-end event
  * carries. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName
}
