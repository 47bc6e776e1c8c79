package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The SQL execution id is not on `QueryExecution`; the end event carries
  * both, which is how a `QueryExecutionListener` callback is tied to the
  * jobs and the start time of its execution.
  */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
