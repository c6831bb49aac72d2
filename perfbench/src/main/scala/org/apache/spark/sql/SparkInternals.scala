package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the benchmark's tracer reads. */
object SparkInternals {

  /** Waits until the listener bus has delivered every posted event, so a
    * trace read after an operation has seen all of its jobs, tasks and
    * query executions. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution a SQL execution-end event reports on, if any. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
