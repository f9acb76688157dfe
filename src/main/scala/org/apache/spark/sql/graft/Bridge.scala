package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorway the custom-operator API needs: wrap a
  * hand-built (already-resolved) LogicalPlan as a DataFrame. Lives
  * under `org.apache.spark.sql` for Scala access control; the only
  * other internal touched from here is the `private[spark]` listener
  * bus ([[drainListeners]]). */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a hand-built Expression as a Column (and back). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every posted event, so
    * a `SparkListener`'s counters cover all jobs that have finished. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
