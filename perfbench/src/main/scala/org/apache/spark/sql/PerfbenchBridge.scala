package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark needs. */
object PerfbenchBridge {

  /** Blocks until every listener has seen every event posted so far, so
    * per-layer counters are complete before they are read.
    */
  def drainListeners(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The query execution an SQL execution ran, which links the
    * QueryExecutionListener's planning phases to the jobs that ran them.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
