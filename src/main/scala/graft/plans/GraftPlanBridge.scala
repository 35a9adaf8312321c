package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the sql package for constructing a DataFrame from a custom
  * LogicalPlan (`Dataset.ofRows` is private[sql]; extension libraries built
  * on Catalyst use this standard escape hatch), and for draining the
  * listener bus (`listenerBus` is private[spark]). */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every event posted so far has reached the listeners, so
    * a listener's counters cover every job already started. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
