package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** zed's duration text (pkg/nano/duration.go String: `1s`, `2ms`,
  * `1h2m3.5s`) for a duration riding the engine's ns-count long carrier.
  * Output-boundary only, like [[GoFloatText]].
  */
case class DurationText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(graft.sources.ZFormat.durHuman(v.asInstanceOf[Long]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, ns =>
      s"UTF8String.fromString(graft.sources.ZFormat$$.MODULE$$.durHuman($ns))")
  override protected def withNewChildInternal(newChild: Expression): DurationText =
    copy(child = newChild)
}
