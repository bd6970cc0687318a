package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Lives in the o.a.s.sql namespace to reach the private[sql] Column ↔
  * Expression converters (Spark 4 Columns wrap ColumnNodes, not
  * Expressions). This is the one place the engine touches Spark
  * internals; everything else goes through graft.functions.Bridge.
  */
object ExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a raw logical plan (plan surgery like merge's
    * redundant-branch-sort elimination needs to rebuild a frame).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A copy of analyzed plan `plan` that frames can share: no frame's
    * dataset tag (a frame tags its top node with its id, for Spark's
    * ambiguous self-join check), marked analyzed.
    */
  def shareable(plan: LogicalPlan): LogicalPlan = {
    val p = plan.clone()
    p.foreach(_.unsetTagValue(org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG))
    p.setAnalyzed()
    p
  }

  /** A new frame over a [[shareable]] plan, analyzed as it is: its nodes
    * are a fresh copy, so the frame's tag lands on its own top node and
    * no tag set grows with every frame over the plan.
    */
  def ofShared(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame = {
    val p = plan.clone()
    p.setAnalyzed()
    ofRows(spark, p)
  }
}
