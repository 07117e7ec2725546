package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution a SQL execution end event carries: the same one a
  * `QueryExecutionListener` is called with, but here paired with the
  * execution id its jobs run under. Lives in Spark's package because the
  * field is package-private. */
object PerfbenchSql {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
