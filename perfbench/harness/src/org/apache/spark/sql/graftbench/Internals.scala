package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark state the traced run reads that Spark keeps package-private:
  * the listener bus (drained before the recorded events are read) and
  * the query execution an execution-end event carries. */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
}
