package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Per-row ZNG record-body bytes — the reference's `valueAsBytes`
  * total-order tiebreak (zbuf/merger.go): the lake comparator appends
  * the record's raw body bytes after the pool key so ties (including
  * rows with a wholly missing key) have a pinned order. This computes
  * the same bytes from a het-TAGGED frame through the zng writer's own
  * routes — the typed shape encoders when every shape compiles, else the
  * value-model row conversion — so the sort key equals what the writer
  * stores on disk.
  */
object ZngBody {

  /** The tiebreak column for a het-tagged frame, or None when the frame
    * isn't tagged / carries no shapes. Validated on the driver so a
    * non-applicable frame skips the sort instead of ordering on nulls.
    */
  def tiebreak(df: DataFrame): Option[Column] = {
    val sch = df.schema
    val tagIdx = sch.fieldNames.indexOf(graft.operators.Het.typeTag)
    if (tagIdx < 0) return None
    val shapes = ZngIO.tagShapes(sch)
    if (shapes.isEmpty) return None
    import org.apache.spark.sql.functions.{struct, col, udf}
    val packed = struct(sch.fieldNames.toIndexedSeq.map(n => col(s"`$n`")): _*)
    ZngIO.shapeEncoders(shapes, sch) match {
      case Right(_) =>
        Some(graft.functions.Bridge.column(
          ZngBodyBytes(graft.functions.Bridge.expression(packed), shapes, sch)))
      case Left(_) =>
        // shapes with maps/unions/errors don't compile to
        // the typed fast encoders — take the zng writer's value-model
        // route (Row → ZValue → retype against the shape → body bytes).
        // Only reachable on frames that can't codegen anyway.
        val toValue = new ZngIO.RowValue(sch)
        val fn = udf { (r: org.apache.spark.sql.Row) =>
          if (r.isNullAt(tagIdx)) null
          else {
            val v = toValue(r)
            val out = new java.io.ByteArrayOutputStream()
            ZngIO.encodeZBody(out, v, ZngIO.toZT(ZValue.typeOf(v)))
            out.toByteArray
          }
        }
        Some(fn(packed))
    }
  }
}

/** child = struct of ALL frame columns in schema order (tag included).
  * Returns the row's zng record-body bytes per its shape, or null when
  * the tag is absent/unknown (callers validated shapes on the driver, so
  * null only means a row-level anomaly — it sorts to one end).
  */
case class ZngBodyBytes(child: Expression, shapes: Seq[String],
                        schema: StructType)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "zng_body_bytes"

  @transient private lazy val tagIdx =
    schema.fieldNames.indexOf(graft.operators.Het.typeTag)
  @transient private lazy val encMap =
    ZngIO.shapeEncoders(shapes, schema).getOrElse(Map.empty)
  @transient private lazy val scratch = new ZngIO.ByteBuf(1 << 10)

  override def nullSafeEval(input: Any): Any = {
    val r = input.asInstanceOf[InternalRow]
    if (tagIdx < 0 || r.isNullAt(tagIdx)) return null
    val tag = r.getUTF8String(tagIdx).toString
    encMap.get(tag) match {
      case Some((_, encs)) =>
        val buf = scratch
        buf.reset()
        var k = 0
        while (k < encs.length) {
          val (ci, enc) = encs(k)
          if (r.isNullAt(ci)) buf.writeNullTag() else enc(buf, r, ci)
          k += 1
        }
        buf.toByteArray
      case None => null
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
