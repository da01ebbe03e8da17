package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two pieces of Spark state the tracer needs that Spark keeps
  * package-private: draining the listener bus before totals are read,
  * and the QueryExecution an execution-end event carries (the object a
  * QueryExecutionListener receives, here tied to its execution id). */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
