package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query behind a finished SQL execution. Its id keys the planning
  * phases a `QueryExecutionListener` reports, which carry no execution id. */
object SqlEvents {
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
