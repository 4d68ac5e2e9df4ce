package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal members the benchmark's probe reads; both are
  * package-private to `org.apache.spark`, hence this package.
  */
object Bus {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The plan of a finished SQL execution, nested executions included. */
  def plan(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
