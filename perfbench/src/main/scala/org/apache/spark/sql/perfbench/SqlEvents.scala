package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `QueryExecution` an execution-end event carries (the object every
  * `QueryExecutionListener` receives) is `private[sql]`; this accessor
  * lets the tracer read it next to the event's execution id, which the
  * listener callback does not pass. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
