package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegralDivide}
import org.apache.spark.sql.graftshim.ExprBridge

/** Column ↔ Catalyst Expression bridge for Spark 4.x (Column is backed by
  * ColumnNode there, so custom Expressions need an explicit conversion).
  */
object Bridge {
  def column(e: Expression): Column = ExprBridge.column(e)
  def expression(c: Column): Expression = ExprBridge.expression(c)

  /** DataFrame over a raw logical plan (for plan surgery). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    ExprBridge.ofRows(spark, plan)

  /** An analyzed plan to keep and reuse: see [[ofShared]]. */
  def shareable(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    ExprBridge.shareable(plan)

  /** A new DataFrame over a [[shareable]] plan, with no new analysis. */
  def ofShared(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    ExprBridge.ofShared(spark, plan)

  /** Exact integral division on longs (SQL `div`) — avoids double rounding
    * on ns-scale epoch values.
    */
  def intDiv(a: Column, b: Column): Column =
    column(IntegralDivide(expression(a), expression(b)))
}
