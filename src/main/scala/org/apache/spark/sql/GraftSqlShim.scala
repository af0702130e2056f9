package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` `Dataset.ofRows` — the standard hook
  * a third-party Catalyst operator library uses to wrap a custom
  * [[LogicalPlan]] node back into the public DataFrame API (the
  * Delta/GraphFrames pattern). Functions and rules otherwise go
  * through stable extension points (`SparkSessionExtensions`,
  * `experimental.extraStrategies`).
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
