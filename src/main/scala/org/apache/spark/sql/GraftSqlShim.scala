package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution

/** Bridge to the `private[sql]` `Dataset.ofRows` — the standard hook
  * a third-party Catalyst operator library uses to wrap a custom
  * [[LogicalPlan]] node back into the public DataFrame API (the
  * Delta/GraphFrames pattern) — and the matching exit,
  * [[collectInternal]], which returns a plan's rows as Catalyst
  * `InternalRow`s. Functions and rules otherwise go through stable
  * extension points (`SparkSessionExtensions`,
  * `experimental.extraStrategies`).
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Runs `df` as one SQL execution and returns its rows in Catalyst
    * form (each an independent copy) — `collect()` without the
    * external-row round trip, for callers that keep rows as data.
    */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
  }
}
