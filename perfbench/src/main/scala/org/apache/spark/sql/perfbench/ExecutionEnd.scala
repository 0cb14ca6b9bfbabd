package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The id of the QueryExecution an execution-end event carries — the key
  * that joins a QueryExecutionListener callback (which has no execution
  * id) to its SQL execution and jobs. The field is package-private.
  */
object ExecutionEnd {
  def queryId(e: SparkListenerSQLExecutionEnd): Long = Option(e.qe).map(_.id).getOrElse(-1L)
}
