package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two listener-side facts Spark keeps package-private. */
object Bridge {

  /** Blocks until every event posted so far has reached the listeners, so
    * the events a span caused can be attributed to that span. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution an end event reports. Unlike a
    * `QueryExecutionListener`, this also sees executions of sessions
    * cloned after the listener was attached, such as a streaming
    * query's. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
