package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed query a SQL-execution-end event carries; the field is
  * `private[sql]`, hence this one-method bridge in Spark's package. */
object BenchSql {
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
