package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the harness reads. Lives in this package
  * because both are visible only inside Spark.
  */
object SparkInternals {

  /** Waits until every listener-bus queue has delivered its pending
    * events, so a tracer can be detached or read without losing the
    * late events of the work it traced.
    */
  def drainBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Plans registered in the shared cache manager (`cache()`d frames
    * and cached tables, materialized or not).
    */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** The id of the `QueryExecution` an execution-end event reports. */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
