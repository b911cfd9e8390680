package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql] Dataset.ofRows`: materialize a DataFrame from a
  * custom [[LogicalPlan]] (the whole-operator extension tier — e.g.
  * [[graft.plans.NativeRange]]'s RangeJoinNode). The public API offers no
  * way to wrap a hand-built logical node; this is the same package-escape
  * the house uses for the function registry ([[FunctionBridge]]).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
