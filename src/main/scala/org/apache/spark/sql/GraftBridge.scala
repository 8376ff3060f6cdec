package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into two `private[sql]` constructors: the Dataset one,
  * so the engine can materialize a DataFrame from its own custom
  * LogicalPlan (`graft.plans.AsOfJoinNode`), and the Column one, so an
  * expression built once in Catalyst form (`graft.cdc.Stream.bucketOf`)
  * serves both an optimizer rule and the DataFrame writers. This is the
  * standard pattern for third-party Spark extensions; no other Spark
  * internals are touched from this package.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
