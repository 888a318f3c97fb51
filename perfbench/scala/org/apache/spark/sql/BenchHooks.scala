package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark needs, reached from inside Spark's
  * own package: draining the asynchronous listener bus, so every event of
  * a traced step has been delivered before the step's metrics are summed;
  * the QueryExecution an execution-end event carries (its plan, metrics
  * and planning-phase timings); and the number of plans in the session's
  * cache, for the leak check. */
object BenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)

  def cachedPlans(spark: SparkSession): Int = spark match {
    case s: classic.SparkSession => s.sharedState.cacheManager.numCachedEntries
  }
}
