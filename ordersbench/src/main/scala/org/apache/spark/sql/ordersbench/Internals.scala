package org.apache.spark.sql.ordersbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal handles the benchmark's listeners need, hence
  * this package. */
object Internals {
  /** Returns once every event posted so far (jobs, stages, SQL
    * executions, streaming progress) has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution a SQL execution ran, as the
    * QueryExecutionListener callbacks receive it (null when not set). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
