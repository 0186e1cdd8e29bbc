package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an end-of-execution event carries (`qe` is
  * package-private to Spark SQL), so the benchmark's tracer can key a
  * QueryExecutionListener record to its SQL execution id. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
