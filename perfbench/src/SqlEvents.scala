package org.apache.spark.sql.perfbenchshim

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution a SQL execution's end event carries, so a listener
  * can match Spark's own execution timing to a QueryExecution. The field
  * is `private[sql]`, hence this object's package. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
