package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution behind an execution-end event, which Spark keeps
  * package-private: it ties a QueryExecutionListener callback (keyed by the
  * execution's `QueryExecution.id`) to the SQL execution id that jobs carry.
  */
object PerfbenchSql {
  def queryIdOf(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
