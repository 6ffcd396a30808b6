package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries is
  * package-private to Spark SQL; the traced run reads it to learn which
  * execution id a QueryExecutionListener callback belongs to. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
