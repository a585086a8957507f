package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The benchmark's access to two Spark internals, in a one-file shim in
  * this package because both are package-private:
  *  - the listener bus drain, so the trace is complete before it is read;
  *  - the `QueryExecution` an execution-end event carries, whose
  *    `QueryPlanningTracker` holds that execution's Catalyst phase times.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
