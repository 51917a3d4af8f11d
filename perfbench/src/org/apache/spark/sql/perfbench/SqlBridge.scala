package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end event's QueryExecution is `private[sql]`; it is the one
  * handle that ties a query's planning tracker and executed plan to the
  * execution id its start event tagged.
  */
object SqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
