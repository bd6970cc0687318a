package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, CaseWhen, Cast, CreateNamedStruct, Expression, GenericInternalRow, GetStructField, If, IsNotNull, Literal, Or, StartsWith, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Het

/** Single-pass NATIVE access into a variant's container caches — the
  * codegen core of `v[field]` / `v[i]` on union-typed columns (reference
  * semantics: runtime/sam/expr/eval.go Index, function/fields.go).
  *
  * Why a custom Expression: composing this from built-ins either uses a
  * higher-order `filter` (CodegenFallback — it knocks the WHOLE projection
  * out of whole-stage codegen) or re-evaluates the container lookup once
  * per promoted leaf field (7× per row, each a fresh array scan). This
  * expression scans the cache array exactly once per row, builds one
  * output row, and stays inside whole-stage codegen via a static helper
  * call — the preference order SURVEY.md §5 mandates (native Expression
  * over UDF).
  *
  * Inputs: `container` is the variant's `m` entries array (byName=true)
  * or `a` elements array (byName=false); `deep` is the variant's
  * NUL-path `d` cache (record paths of depth ≥2 — null for the
  * positional form); `key` is the field name (string) or element index
  * (int, negative from the end). Output is a FULL variant struct: hit →
  * the promoted leaf — WITH its own m/d caches re-derived from `deep` by
  * prefix when the hit is a nested record, so chained access stays
  * native at any record depth; miss/out-of-range/null-key →
  * error("missing"), hit-on-null-leaf → null (a null variant value).
  */
case class VariantAccess(container: Expression, deep: Expression, key: Expression,
    byName: Boolean) extends TernaryExpression {

  override def first: Expression = container
  override def second: Expression = deep
  override def third: Expression = key
  override def dataType: DataType = Het.variantType
  override def nullable: Boolean = true
  override def prettyName: String = if (byName) "variant_get" else "variant_index"

  @transient private lazy val evalHint: Array[Int] = Array(-1)

  override def eval(input: InternalRow): Any = {
    val arr = container.eval(input)
    if (arr == null) null // callers guard on cache presence; stay safe
    else {
      val d = deep.eval(input)
      val k = key.eval(input)
      if (byName)
        VariantAccess.getField(arr.asInstanceOf[ArrayData],
          d.asInstanceOf[ArrayData], k, evalHint)
      else VariantAccess.indexOf(arr.asInstanceOf[ArrayData], k)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cCode = container.genCode(ctx)
    val dCode = deep.genCode(ctx)
    val kCode = key.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val hint = ctx.addMutableState("int[]", "mHint",
      v0 => s"$v0 = new int[]{-1};", forceInline = false, useFreshName = true)
    val call =
      if (byName)
        s"""$helper.getField(${cCode.value},
          ${dCode.isNull} ? null : ($arrCls) ${dCode.value},
          ${kCode.isNull} ? null : (Object) ${kCode.value}, $hint)"""
      else
        s"""$helper.indexOf(${cCode.value},
          ${kCode.isNull} ? null : (Object) ${kCode.value})"""
    ev.copy(code = code"""
      ${cCode.code}
      ${dCode.code}
      ${kCode.code}
      boolean ${ev.isNull} = true;
      $rowCls ${ev.value} = null;
      if (!${cCode.isNull}) {
        ${ev.value} = $call;
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VariantAccess =
    copy(container = newFirst, deep = newSecond, key = newThird)
}

/** One FIELD of a VariantAccess result, without materializing the row —
  * `get(v, f).n` becomes a single array scan returning the double. Planted
  * by [[CollapseVariantAccess]]; never constructed directly by operators.
  */
case class VariantAccessField(container: Expression, deep: Expression,
    key: Expression, byName: Boolean, ordinal: Int) extends TernaryExpression {

  override def first: Expression = container
  override def second: Expression = deep
  override def third: Expression = key
  override def dataType: DataType = Het.variantType.fields(ordinal).dataType
  override def nullable: Boolean = true
  override def prettyName: String = s"variant_field_$ordinal"

  @transient private lazy val evalHint: Array[Int] = Array(-1)

  override def eval(input: InternalRow): Any = {
    val arr = container.eval(input)
    if (arr == null) null
    else VariantAccess.fieldAt(arr.asInstanceOf[ArrayData],
      deep.eval(input).asInstanceOf[ArrayData], key.eval(input), byName, ordinal,
      evalHint)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cCode = container.genCode(ctx)
    val dCode = deep.genCode(ctx)
    val kCode = key.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val hint = ctx.addMutableState("int[]", "mHint",
      v0 => s"$v0 = new int[]{-1};", forceInline = false, useFreshName = true)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .boxedType(dataType)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    val default = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .defaultValue(dataType)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    // explicit unboxing — Janino's implicit boxing conversions are spotty
    val unbox =
      if (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            .isPrimitiveType(dataType)) s"(($boxed) r).${javaType}Value()"
      else s"($boxed) r"
    ev.copy(code = code"""
      ${cCode.code}
      ${dCode.code}
      ${kCode.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = $default;
      if (!${cCode.isNull}) {
        Object r = $helper.fieldAt(${cCode.value},
          ${dCode.isNull} ? null : ($arrCls) ${dCode.value},
          ${kCode.isNull} ? null : (Object) ${kCode.value}, $byName, $ordinal,
          $hint);
        if (r != null) { ${ev.isNull} = false; ${ev.value} = $unbox; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VariantAccessField =
    copy(container = newFirst, deep = newSecond, key = newThird)
}

/** FULL-dispatch field access on a variant value: null handling, the
  * native m/d cache path, and the ZSON-text fallback all live inside ONE
  * expression node. This is what keeps chained access (`v.o.a.x`) a
  * LINEAR expression tree — the previous composition dispatched through
  * a Catalyst CaseWhen whose guard/else branches each duplicated the
  * entire inner access, so an L-level chain generated O(6^L) code,
  * overflowed Janino at L=2, and dropped the whole stage to interpreted
  * execution (measured 8× slower). Reference: expr/eval.go DotExpr.
  */
case class VariantGet(v: Expression, key: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = v
  override def right: Expression = key
  override def dataType: DataType = Het.variantType
  override def nullable: Boolean = true // a present-but-null field is a null variant
  override def prettyName: String = "variant_get"

  @transient private lazy val evalHint: Array[Int] = Array(-1)

  override def eval(input: InternalRow): Any =
    VariantAccess.getFull(v.eval(input).asInstanceOf[InternalRow], key.eval(input),
      evalHint)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val kCode = key.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val hint = ctx.addMutableState("int[]", "mHint",
      v0 => s"$v0 = new int[]{-1};", forceInline = false, useFreshName = true)
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    ev.copy(code = code"""
      ${vCode.code}
      ${kCode.code}
      $rowCls ${ev.value} = $helper.getFull(
        ${vCode.isNull} ? null : ($rowCls) ${vCode.value},
        ${kCode.isNull} ? null : (Object) ${kCode.value}, $hint);
      boolean ${ev.isNull} = (${ev.value} == null);""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VariantGet =
    copy(v = newLeft, key = newRight)
}

/** Positional twin of [[VariantGet]]: arrays/sets via the `a` cache,
  * int-keyed maps via the text fallback (expr/eval.go Index).
  */
case class VariantIndex(v: Expression, key: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = v
  override def right: Expression = key
  override def dataType: DataType = Het.variantType
  override def nullable: Boolean = true
  override def prettyName: String = "variant_idx"

  override def eval(input: InternalRow): Any =
    VariantAccess.indexFull(v.eval(input).asInstanceOf[InternalRow], key.eval(input))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val kCode = key.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    ev.copy(code = code"""
      ${vCode.code}
      ${kCode.code}
      $rowCls ${ev.value} = $helper.indexFull(
        ${vCode.isNull} ? null : ($rowCls) ${vCode.value},
        ${kCode.isNull} ? null : (Object) ${kCode.value});
      boolean ${ev.isNull} = (${ev.value} == null);""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VariantIndex =
    copy(v = newLeft, key = newRight)
}

/** One field of a [[VariantGet]] result without materializing the row —
  * planted by [[CollapseVariantAccess]] for `get(v,f).n`-style consumption.
  */
case class VariantGetField(v: Expression, key: Expression, ordinal: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = v
  override def right: Expression = key
  override def dataType: DataType = Het.variantType.fields(ordinal).dataType
  override def nullable: Boolean = true
  override def prettyName: String = s"variant_get_$ordinal"

  @transient private lazy val evalHint: Array[Int] = Array(-1)

  override def eval(input: InternalRow): Any =
    VariantAccess.fullFieldAt(
      v.eval(input).asInstanceOf[InternalRow], key.eval(input), ordinal, evalHint)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val kCode = key.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val boxed = cg.boxedType(dataType)
    val javaType = cg.javaType(dataType)
    val default = cg.defaultValue(dataType)
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val unbox =
      if (cg.isPrimitiveType(dataType)) s"(($boxed) r).${javaType}Value()"
      else s"($boxed) r"
    val hint = ctx.addMutableState("int[]", "mHint",
      v0 => s"$v0 = new int[]{-1};", forceInline = false, useFreshName = true)
    ev.copy(code = code"""
      ${vCode.code}
      ${kCode.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = $default;
      {
        Object r = $helper.fullFieldAt(
          ${vCode.isNull} ? null : ($rowCls) ${vCode.value},
          ${kCode.isNull} ? null : (Object) ${kCode.value}, $ordinal, $hint);
        if (r != null) { ${ev.isNull} = false; ${ev.value} = $unbox; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VariantGetField =
    copy(v = newLeft, key = newRight)
}

/** One field of a [[VariantIndex]] result without materializing the row —
  * planted by [[CollapseVariantAccess]] for `index(v,i).n`-style
  * consumption. On the native `a`-cache path this skips the promoted
  * variant row entirely; on the text fallback it skips the
  * ZValue→external→Catalyst conversion of the picked element.
  */
case class VariantIndexField(v: Expression, key: Expression, ordinal: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = v
  override def right: Expression = key
  override def dataType: DataType = Het.variantType.fields(ordinal).dataType
  override def nullable: Boolean = true
  override def prettyName: String = s"variant_idx_$ordinal"

  override def eval(input: InternalRow): Any =
    VariantAccess.indexFullFieldAt(
      v.eval(input).asInstanceOf[InternalRow], key.eval(input), ordinal)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val kCode = key.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val boxed = cg.boxedType(dataType)
    val javaType = cg.javaType(dataType)
    val default = cg.defaultValue(dataType)
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val unbox =
      if (cg.isPrimitiveType(dataType)) s"(($boxed) r).${javaType}Value()"
      else s"($boxed) r"
    ev.copy(code = code"""
      ${vCode.code}
      ${kCode.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = $default;
      {
        Object r = $helper.indexFullFieldAt(
          ${vCode.isNull} ? null : ($rowCls) ${vCode.value},
          ${kCode.isNull} ? null : (Object) ${kCode.value}, $ordinal);
        if (r != null) { ${ev.isNull} = false; ${ev.value} = $unbox; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VariantIndexField =
    copy(v = newLeft, key = newRight)
}

/** Chained field access collapsed to one deep-path lookup:
  * `get(get(v,"o"),"a").<ord>` becomes a single scan of v's `d` cache
  * for "o␀a" (see VariantAccess.deepFieldAt — misses fall back to the
  * folded chain). Built by CollapseVariantAccess from literal-keyed
  * chains of any depth.
  */
case class VariantDeepField(v: Expression, path: Expression, ordinal: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = v
  override def right: Expression = path
  override def dataType: DataType = Het.variantType.fields(ordinal).dataType
  override def nullable: Boolean = true
  override def prettyName: String = s"variant_deep_$ordinal"

  // one-slot inline cache for the interpreted path (codegen allocates
  // its own mutable slot per generated class instance)
  @transient private lazy val evalHint: Array[Int] = Array(-1)

  // the path is a literal (planted by CollapseVariantAccess): pre-split
  // its segments once so a per-row miss-fold never re-splits the text
  @transient private lazy val presplit: Array[UTF8String] = path match {
    case Literal(p: UTF8String, StringType) if p != null =>
      p.toString.split(Het.pathSep).map(UTF8String.fromString)
    case _ => null
  }

  override def eval(input: InternalRow): Any =
    VariantAccess.deepFieldAt(
      v.eval(input).asInstanceOf[InternalRow],
      path.eval(input).asInstanceOf[UTF8String], ordinal, evalHint, presplit)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val pCode = path.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val segsRef =
      if (presplit == null) "null"
      else ctx.addReferenceObj("deepSegs", presplit, "UTF8String[]")
    // per-instance inline cache: the last hit's index in the deep cache
    // (monomorphic streams verify one entry instead of scanning)
    val hint = ctx.addMutableState("int[]", "deepHint",
      v0 => s"$v0 = new int[]{-1};", forceInline = false, useFreshName = true)
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val boxed = cg.boxedType(dataType)
    val javaType = cg.javaType(dataType)
    val default = cg.defaultValue(dataType)
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val unbox =
      if (cg.isPrimitiveType(dataType)) s"(($boxed) r).${javaType}Value()"
      else s"($boxed) r"
    ev.copy(code = code"""
      ${vCode.code}
      ${pCode.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = $default;
      {
        Object r = $helper.deepFieldAt(
          ${vCode.isNull} ? null : ($rowCls) ${vCode.value},
          (UTF8String) ${pCode.value}, $ordinal, $hint, $segsRef);
        if (r != null) { ${ev.isNull} = false; ${ev.value} = $unbox; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VariantDeepField =
    copy(v = newLeft, path = newRight)
}

/** [[VariantDeepField]] re-expressed over the PARTS of the variant it
  * actually reads — m (ordinal 7), d (8), z (5) as separate child
  * expressions instead of the whole struct. Planted by
  * [[CollapseVariantAccess]] once a chain has fully collapsed: with the
  * variant consumed only through GetStructField children, Spark's
  * SchemaPruning can narrow the parquet ReadSchema to the three used
  * subfields (a deep-path query previously read the full
  * struct<k,n,s,b,t,z,a,m,d> — guide §6, read less).
  */
case class VariantDeepFieldP(m: Expression, d: Expression, z: Expression,
    pathStr: String, ordinal: Int) extends TernaryExpression {

  override def first: Expression = m
  override def second: Expression = d
  override def third: Expression = z
  override def dataType: DataType = Het.variantType.fields(ordinal).dataType
  override def nullable: Boolean = true
  override def prettyName: String = s"variant_deep_p_$ordinal"

  @transient private lazy val evalHint: Array[Int] = Array(-1)
  @transient private lazy val pathU: UTF8String = UTF8String.fromString(pathStr)
  @transient private lazy val presplit: Array[UTF8String] =
    pathStr.split(Het.pathSep).map(UTF8String.fromString)

  override def eval(input: InternalRow): Any =
    VariantAccess.deepFieldAtParts(
      m.eval(input).asInstanceOf[ArrayData],
      d.eval(input).asInstanceOf[ArrayData],
      z.eval(input).asInstanceOf[UTF8String],
      pathU, ordinal, evalHint, presplit)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mCode = m.genCode(ctx)
    val dCode = d.genCode(ctx)
    val zCode = z.genCode(ctx)
    val helper = ctx.addReferenceObj("variantAccess", VariantAccess,
      "graft.functions.VariantAccess$")
    val pathRef = ctx.addReferenceObj("deepPath",
      UTF8String.fromString(pathStr), "UTF8String")
    val segsRef = ctx.addReferenceObj("deepSegs",
      pathStr.split(Het.pathSep).map(UTF8String.fromString), "UTF8String[]")
    val hint = ctx.addMutableState("int[]", "deepHint",
      v0 => s"$v0 = new int[]{-1};", forceInline = false, useFreshName = true)
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val boxed = cg.boxedType(dataType)
    val javaType = cg.javaType(dataType)
    val default = cg.defaultValue(dataType)
    val arrCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    val unbox =
      if (cg.isPrimitiveType(dataType)) s"(($boxed) r).${javaType}Value()"
      else s"($boxed) r"
    ev.copy(code = code"""
      ${mCode.code}
      ${dCode.code}
      ${zCode.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = $default;
      {
        Object r = $helper.deepFieldAtParts(
          ${mCode.isNull} ? null : ($arrCls) ${mCode.value},
          ${dCode.isNull} ? null : ($arrCls) ${dCode.value},
          ${zCode.isNull} ? null : (UTF8String) ${zCode.value},
          $pathRef, $ordinal, $hint, $segsRef);
        if (r != null) { ${ev.isNull} = false; ${ev.value} = $unbox; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VariantDeepFieldP =
    copy(m = newFirst, d = newSecond, z = newThird)
}

/** Canonical ZSON text of a variant value — the native render boundary.
  * Scalars format from their leaf payloads; containers whose eager `z`
  * shadow was dropped at construction (the lazy-z carrier) reconstruct
  * from the a/m caches (ZValue.renderVariantStr). Replaces a ~15-branch
  * Catalyst CaseWhen, so render-heavy paths (writers, uniq, equality
  * canonicalization) evaluate one codegen'd call per row.
  */
case class RenderVariant(v: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def child: Expression = v
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = false
  override def prettyName: String = "variant_render"

  override def eval(input: InternalRow): Any =
    RenderVariant.render(v.eval(input).asInstanceOf[InternalRow])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val helper = ctx.addReferenceObj("renderVariant", RenderVariant,
      "graft.functions.RenderVariant$")
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    ev.copy(code = code"""
      ${vCode.code}
      UTF8String ${ev.value} = $helper.render(
        ${vCode.isNull} ? null : ($rowCls) ${vCode.value});
      boolean ${ev.isNull} = false;""")
  }

  override protected def withNewChildInternal(newChild: Expression): RenderVariant =
    copy(v = newChild)
}

/** Serializable task-side entry (the ZValue module itself isn't
  * serializable; a case-class companion is).
  */
object RenderVariant {
  def render(r: InternalRow): UTF8String = graft.sources.ZValue.renderVariantRow(r)
}

/** Reshape a boxed (variant) value to a FUSED record type — the native
  * expression behind `over <array> | fuse` on runtime-typed streams
  * (fuse.go retypes every value to the unified record type). Rides the
  * variant runtime end-to-end: renderVariantRow → ZsonParser →
  * ZShaper.reshape → variantRow, no ScalaUDF in the plan (the row-level
  * twin of the typed shaper, pinned by PlanSpec).
  */
case class FuseReshape(v: Expression, fusedText: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def child: Expression = v
  override def dataType: DataType = Het.variantType
  override def nullable: Boolean = true
  override def prettyName: String = "variant_fuse_reshape"

  override def eval(input: InternalRow): Any =
    FuseReshape.reshape(v.eval(input).asInstanceOf[InternalRow], fusedText)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vCode = v.genCode(ctx)
    val helper = ctx.addReferenceObj("fuseReshape", FuseReshape,
      "graft.functions.FuseReshape$")
    val target = ctx.addReferenceObj("fusedText", fusedText, "java.lang.String")
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    ev.copy(code = code"""
      ${vCode.code}
      $rowCls ${ev.value} = $helper.reshape(
        ${vCode.isNull} ? null : ($rowCls) ${vCode.value}, $target);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): FuseReshape =
    copy(v = newChild)
}

object FuseReshape {
  import graft.sources.{ZValue, ZsonParser}

  private val toCatalyst =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(Het.variantType)

  def reshape(r: InternalRow, fusedText: String): InternalRow = {
    if (r == null) return null
    val text = ZValue.renderVariantStr(r)
    val parsed =
      try new ZsonParser(text).parseOne()
      catch { case _: Exception => return r } // unparseable: keep the value
    val target =
      try ZsonParser.parseType(fusedText)
      catch { case _: Exception => return r }
    val out = ZShaper.reshape(ZShaper.flagsOf("shape"), parsed, target)
    val row = ZValue.variantRow(out)
    if (row == null) null else toCatalyst(row).asInstanceOf[InternalRow]
  }
}

object VariantAccess {

  /** zed error("missing") as a variant row (complex.go:28-40). */
  val errMissingRow: InternalRow = new GenericInternalRow(Array[Any](
    5, null, null, null, UTF8String.fromString("error(string)"),
    UTF8String.fromString("\"missing\""), null, null, null))

  /** Sentinel distinguishing "field/index not present" (→ errMissing)
    * from "present but null value" (→ null variant) in the leaf finders.
    */
  val MISS: InternalRow = new GenericInternalRow(6)

  private val SEP: UTF8String = UTF8String.fromString(Het.pathSep)

  /** Find the leaf for field `key` in the `m` entries array: MISS when the
    * field is absent, null when present-but-null, else the leaf row
    * (zero-copy — a view into the entries array).
    */
  def findLeaf(m: ArrayData, key: Any): InternalRow = findLeaf(m, key, null)

  /** `hint` is the deep-path lookup's one-slot inline cache applied to
    * the FLAT field scan: rows of one shape list fields at the same
    * positions, so a monomorphic stream verifies one entry by name
    * instead of scanning the record width (wide fused records at scale
    * list hundreds of fields). Verified on hit — never a wrong answer.
    */
  def findLeaf(m: ArrayData, key: Any, hint: Array[Int]): InternalRow = {
    if (key == null) return MISS
    val k = key.asInstanceOf[UTF8String]
    val n = m.numElements()
    if (hint != null) {
      val ci = hint(0)
      if (ci >= 0 && ci < n && !m.isNullAt(ci)) {
        val e = m.getStruct(ci, 2)
        if (!e.isNullAt(0) && e.getUTF8String(0).equals(k))
          return if (e.isNullAt(1)) null else e.getStruct(1, 6)
      }
    }
    var i = 0
    while (i < n) {
      if (!m.isNullAt(i)) {
        val e = m.getStruct(i, 2)
        if (!e.isNullAt(0) && e.getUTF8String(0).equals(k)) {
          if (hint != null) hint(0) = i
          return if (e.isNullAt(1)) null else e.getStruct(1, 6)
        }
      }
      i += 1
    }
    MISS
  }

  /** Positional twin of findLeaf over the `a` elements array. */
  def pickLeaf(a: ArrayData, key: Any): InternalRow = {
    if (key == null) return MISS
    val n = a.numElements()
    var i = key.asInstanceOf[Number].intValue
    if (i < 0) i += n
    if (i < 0 || i >= n) MISS
    else if (a.isNullAt(i)) null
    else a.getStruct(i, 6)
  }

  /** The hit's child caches, derived from the parent's `d` by prefix: an
    * entry "key<NUL>rest" becomes "rest" — direct children (no further
    * NUL) land in the child's m, deeper paths in the child's d. Null when
    * the hit has no recorded descendants (scalar hits, no nested data).
    */
  private def childCaches(d: ArrayData, key: UTF8String): (ArrayData, ArrayData) = {
    if (d == null) return (null, null)
    var m: java.util.ArrayList[Any] = null
    var dd: java.util.ArrayList[Any] = null
    val n = d.numElements()
    val kb = key.numBytes
    var i = 0
    while (i < n) {
      if (!d.isNullAt(i)) {
        val e = d.getStruct(i, 2)
        if (!e.isNullAt(0)) {
          val name = e.getUTF8String(0)
          // byte-wise: startsWith compares prefix bytes; the separator is
          // the single NUL byte, impossible inside a UTF-8 field name
          if (name.numBytes > kb + 1 && name.startsWith(key) &&
              name.getByte(kb) == 0) {
            val nb = name.getBytes
            val rest = UTF8String.fromBytes(nb, kb + 1, nb.length - kb - 1)
            val entry = new GenericInternalRow(Array[Any](rest,
              if (e.isNullAt(1)) null else e.getStruct(1, 6)))
            if (rest.contains(SEP)) {
              if (dd == null) dd = new java.util.ArrayList[Any]
              dd.add(entry)
            } else {
              if (m == null) m = new java.util.ArrayList[Any]
              m.add(entry)
            }
          }
        }
      }
      i += 1
    }
    (if (m == null) null else new GenericArrayData(m.toArray),
     if (dd == null) null else new GenericArrayData(dd.toArray))
  }

  /** One leaf FIELD (k/n/s/b/t/z by ordinal, or the hit's derived child
    * m/d for ordinals 7/8) of the access result, boxed; null for
    * null-value hits and for the null fields of error("missing"). Lets
    * the optimizer collapse `get(v,f).n` to a no-allocation pick — and
    * `get(get(v,f),g)` to two scans with no variant row in between.
    */
  def fieldAt(container: ArrayData, deep: ArrayData, key: Any, byName: Boolean,
      ordinal: Int): Any = fieldAt(container, deep, key, byName, ordinal, null)

  def fieldAt(container: ArrayData, deep: ArrayData, key: Any, byName: Boolean,
      ordinal: Int, hint: Array[Int]): Any = {
    val leaf = if (byName) findLeaf(container, key, hint) else pickLeaf(container, key)
    if (leaf == null) null
    else if (leaf eq MISS) ordinal match {
      case 0 => Integer.valueOf(5)
      case 4 => UTF8String.fromString("error(string)")
      case 5 => UTF8String.fromString("\"missing\"")
      case _ => null
    }
    else if (ordinal == 7 && byName && key != null) // child m
      childCaches(deep, key.asInstanceOf[UTF8String])._1
    else if (ordinal == 8 && byName && key != null) // child d
      childCaches(deep, key.asInstanceOf[UTF8String])._2
    else if (ordinal >= 6) null // a; positional hits carry no caches
    else if (leaf.isNullAt(ordinal)) null
    else ordinal match {
      case 0 => Integer.valueOf(leaf.getInt(0))
      case 1 => java.lang.Double.valueOf(leaf.getDouble(1))
      case 2 => leaf.getUTF8String(2)
      case 3 => java.lang.Boolean.valueOf(leaf.getBoolean(3))
      case _ => leaf.getUTF8String(ordinal)
    }
  }

  /** Leaf {k,n,s,b,t,z} → full variant row with the given child caches —
    * the row-level twin of Het.promote, plus deep-derived m/d.
    */
  private def promote(leaf: InternalRow, m: ArrayData, d: ArrayData): InternalRow =
    if (leaf == null) null
    else new GenericInternalRow(Array[Any](
      if (leaf.isNullAt(0)) null else leaf.getInt(0),
      if (leaf.isNullAt(1)) null else leaf.getDouble(1),
      if (leaf.isNullAt(2)) null else leaf.getUTF8String(2),
      if (leaf.isNullAt(3)) null else leaf.getBoolean(3),
      if (leaf.isNullAt(4)) null else leaf.getUTF8String(4),
      if (leaf.isNullAt(5)) null else leaf.getUTF8String(5),
      null, m, d))

  /** Scan the `m` entries array once for field `key`; a nested-record hit
    * gets its m/d re-derived from the parent's `deep` so the next access
    * in a chain stays native.
    */
  def getField(m: ArrayData, deep: ArrayData, key: Any): InternalRow =
    getField(m, deep, key, null)

  def getField(m: ArrayData, deep: ArrayData, key: Any,
      hint: Array[Int]): InternalRow = {
    val leaf = findLeaf(m, key, hint)
    if (leaf eq MISS) errMissingRow
    else if (leaf == null) null
    else {
      val (cm, cd) =
        if (deep == null) (null, null)
        else childCaches(deep, key.asInstanceOf[UTF8String])
      promote(leaf, cm, cd)
    }
  }

  /** O(1) positional pick from the `a` elements array. */
  def indexOf(a: ArrayData, key: Any): InternalRow = {
    val leaf = pickLeaf(a, key)
    if (leaf eq MISS) errMissingRow else promote(leaf, null, null)
  }

  // ---- full-dispatch entry points (VariantGet / VariantIndex) ----

  import graft.sources.{ZValue, ZsonParser}

  private lazy val toCatalyst =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(Het.variantType)

  /** ZValue → internal variant row (the rare text-fallback exit). */
  private def internalVariant(v: ZValue): InternalRow = {
    val r = ZValue.variantRow(v)
    if (r == null) null else toCatalyst(r).asInstanceOf[InternalRow]
  }

  /** Memoized per-thread (ZsonParser.memoParse): several ops of one
    * projection fall back on the SAME row text — first op parses, the
    * rest hit by byte equality with no UTF8String→String copy.
    */
  private def parseZ(z: UTF8String): Option[ZValue] = ZsonParser.memoParse(z)

  /** Field access with the variant's own dispatch inside: native m/d when
    * the caches are populated, single-pass ZSON parse of `z` otherwise
    * (cache-stripped or beyond-cache-depth values), error("missing") for
    * scalars/absent fields. A present-but-null field is a null variant.
    */
  def getFull(row: InternalRow, key: Any): InternalRow = getFull(row, key, null)

  def getFull(row: InternalRow, key: Any, hint: Array[Int]): InternalRow = {
    if (row == null) return errMissingRow
    getFullParts(
      if (row.isNullAt(7)) null else row.getArray(7),
      if (row.isNullAt(8)) null else row.getArray(8),
      if (row.isNullAt(5)) null else row.getUTF8String(5), key, hint)
  }

  /** getFull over the variant's m/d/z parts (the only slots it reads). */
  def getFullParts(m: ArrayData, d: ArrayData, z: UTF8String, key: Any,
      hint: Array[Int]): InternalRow = {
    if (m != null) return getField(m, d, key, hint)
    if (key == null || z == null) return errMissingRow
    val field = key.toString
    parseZ(z).map(ZValue.unwrap) match {
      case Some(ZValue.VRec(fs)) =>
        fs.find(_._1 == field) match {
          case Some((_, fv)) => internalVariant(fv)
          case None => errMissingRow
        }
      case Some(ZValue.VMap(es)) =>
        es.find(e => ZValue.unwrap(e._1) == ZValue.VStr(field)) match {
          case Some((_, mv)) => internalVariant(mv)
          case None => errMissingRow
        }
      case _ => errMissingRow
    }
  }

  /** Positional twin: `a` cache native, text for maps-with-int-keys and
    * cache-stripped containers (expr/eval.go Index).
    */
  def indexFull(row: InternalRow, key: Any): InternalRow = {
    if (row == null) return errMissingRow
    val a = if (row.isNullAt(6)) null else row.getArray(6)
    if (a != null) return indexOf(a, key)
    if (key == null || row.isNullAt(5)) return errMissingRow
    val idx = key.asInstanceOf[Number].intValue
    parseZ(row.getUTF8String(5)).map(ZValue.unwrap) match {
      case Some(ZValue.VArr(items, _)) =>
        val i = if (idx < 0) items.length + idx else idx
        if (i >= 0 && i < items.length) internalVariant(items(i)) else errMissingRow
      case Some(ZValue.VMap(es)) =>
        es.find(e => ZValue.unwrap(e._1) match {
          case ZValue.VInt(n, _) => n == idx
          case ZValue.VUint64(n) => n == BigDecimal(idx)
          case ZValue.VFloat(d, _) => d == idx
          case _ => false
        }) match {
          case Some((_, mv)) => internalVariant(mv)
          case None => errMissingRow
        }
      case _ => errMissingRow
    }
  }

  /** Chained-access pluck via ONE scan of the root's deep-path cache:
    * `get(get(v,"o"),"a").n` looks up the NUL-joined path "o␀a" in v's
    * `d` directly — no intermediate variant row, no per-row child-cache
    * derivation. The d cache records only RECORD paths, so a miss falls
    * back to folding the chain through getFull (maps and text-only
    * carriers keep their exact semantics).
    */
  def deepFieldAt(row: InternalRow, path: UTF8String, ordinal: Int): Any =
    deepFieldAt(row, path, ordinal, null)

  @inline private def deepPluck(d: ArrayData, e: InternalRow,
      path: UTF8String, ordinal: Int): Any = {
    if (e.isNullAt(1)) return null // present-but-null child
    if (ordinal == 7) return childCaches(d, path)._1
    if (ordinal == 8) return childCaches(d, path)._2
    if (ordinal == 6) return null
    val leaf = e.getStruct(1, 6)
    if (leaf.isNullAt(ordinal)) null
    else ordinal match {
      case 0 => Integer.valueOf(leaf.getInt(0))
      case 1 => java.lang.Double.valueOf(leaf.getDouble(1))
      case 2 => leaf.getUTF8String(2)
      case 3 => java.lang.Boolean.valueOf(leaf.getBoolean(3))
      case _ => leaf.getUTF8String(ordinal)
    }
  }

  /** `hint` is a one-slot inline cache per expression instance: rows of
    * one shape list the same paths at the same positions in `d`, so
    * after the first hit a monomorphic stream pays ONE entry equality
    * instead of a scan of the whole deep cache (the r13 profile's
    * per-row floor was exactly these scans). The hit is verified by
    * name equality, so a polymorphic stream merely re-scans — never a
    * wrong answer. Null hint = interpreted fallback, plain scan.
    */
  def deepFieldAt(row: InternalRow, path: UTF8String, ordinal: Int,
      hint: Array[Int]): Any =
    deepFieldAt(row, path, ordinal, hint, null)

  /** Per-ordinal pluck of the constant error("missing") fold result — the
    * answer for any deep path over a value with NO caches and NO text
    * (scalar variants). Precomputed so the per-row miss on mixed streams
    * (e.g. 1-in-8 string rows of a record stream) costs one branch, not a
    * path split + chain fold with per-row allocations.
    */
  // == field `ord` of errMissingRow (a deep get over a scalar/missing
  // carrier always folds to error("missing")); defined from the row's own
  // slots — fullFieldAt's text path consults this array, so deriving it
  // THROUGH fullFieldAt would recurse into the lazy initializer
  private lazy val errMissPluck: Array[Any] = Array.tabulate(9) { ord =>
    if (ord >= errMissingRow.numFields || errMissingRow.isNullAt(ord)) null
    else ord match {
      case 0 => Integer.valueOf(errMissingRow.getInt(0))
      case 4 | 5 => errMissingRow.getUTF8String(ord)
      case _ => null
    }
  }

  def deepFieldAt(row: InternalRow, path: UTF8String, ordinal: Int,
      hint: Array[Int], presplit: Array[UTF8String]): Any = {
    if (row == null) return errMissPluck(ordinal)
    deepFieldAtParts(
      if (row.isNullAt(7)) null else row.getArray(7),
      if (row.isNullAt(8)) null else row.getArray(8),
      if (row.isNullAt(5)) null else row.getUTF8String(5),
      path, ordinal, hint, presplit)
  }

  /** deepFieldAt over the variant's m/d/z parts — the slots it reads;
    * [[VariantDeepFieldP]] feeds them as separate pruned columns.
    */
  def deepFieldAtParts(m: ArrayData, d: ArrayData, z: UTF8String,
      path: UTF8String, ordinal: Int, hint: Array[Int],
      presplit: Array[UTF8String]): Any = {
    if (d != null) {
      val n = d.numElements()
      if (hint != null) {
        val ci = hint(0)
        if (ci >= 0 && ci < n && !d.isNullAt(ci)) {
          val e = d.getStruct(ci, 2)
          if (!e.isNullAt(0) && e.getUTF8String(0).equals(path))
            return deepPluck(d, e, path, ordinal)
        }
      }
      var i = 0
      while (i < n) {
        if (!d.isNullAt(i)) {
          val e = d.getStruct(i, 2)
          if (!e.isNullAt(0) && e.getUTF8String(0).equals(path)) {
            if (hint != null) hint(0) = i
            return deepPluck(d, e, path, ordinal)
          }
        }
        i += 1
      }
    }
    // no m cache and no text: every step of the fold below yields
    // error("missing") — constant per ordinal, no split, no allocation
    if (m == null && z == null) return errMissPluck(ordinal)
    // miss: fold the original chain (record path absent, or the access
    // goes through a map / text-only carrier); the path literal's split
    // is precomputed per expression instance
    val segs =
      if (presplit != null) presplit
      else path.toString.split(Het.pathSep).map(UTF8String.fromString)
    if (segs.length == 1) return fullFieldAtParts(m, d, z, segs(0), ordinal)
    var cur = getFullParts(m, d, z, segs(0), null)
    var i = 1
    while (i < segs.length - 1) {
      cur = getFull(cur, segs(i))
      i += 1
    }
    fullFieldAt(cur, segs(segs.length - 1), ordinal)
  }

  /** One leaf field of a parsed ZValue, matching what GetStructField over
    * internalVariant(v) yields for ordinals 0-5 — including variantRow's
    * lazy-z rule (the z slot is dropped when the value carries a/m caches).
    */
  private def zvalueFieldAt(v: ZValue, ordinal: Int): Any = {
    val l = ZValue.leafRow(v)
    if (l == null) return null
    if (ordinal == 5) ZValue.unwrap(v) match {
      case ZValue.VArr(_, _) | ZValue.VRec(_) => return null
      case ZValue.VMap(es) if es.forall(e =>
          ZValue.unwrap(e._1).isInstanceOf[ZValue.VStr]) => return null
      case _ => ()
    }
    val x = l.get(ordinal)
    if (x == null) null
    else ordinal match {
      case 2 | 4 | 5 => UTF8String.fromString(x.asInstanceOf[String])
      case _ => x
    }
  }

  /** One field of indexFull's result without materializing it: native
    * `a`-cache hits pluck straight from the leaf (no promoted row); the
    * text fallback plucks from the parsed ZValue (no ZValue→external→
    * Catalyst conversion). Cache-derivation ordinals (6-8) keep the exact
    * materialize-then-extract semantics.
    */
  def indexFullFieldAt(row: InternalRow, key: Any, ordinal: Int): Any = {
    if (row == null) return errMissPluck(ordinal)
    val a = if (row.isNullAt(6)) null else row.getArray(6)
    if (a != null) {
      val leaf = pickLeaf(a, key)
      if (leaf eq MISS) return errMissPluck(ordinal)
      if (leaf == null || ordinal >= 6 || leaf.isNullAt(ordinal)) return null
      return ordinal match {
        case 0 => Integer.valueOf(leaf.getInt(0))
        case 1 => java.lang.Double.valueOf(leaf.getDouble(1))
        case 2 => leaf.getUTF8String(2)
        case 3 => java.lang.Boolean.valueOf(leaf.getBoolean(3))
        case _ => leaf.getUTF8String(ordinal)
      }
    }
    if (ordinal >= 6) { // rare: cache ordinals keep the full-row semantics
      val full = indexFull(row, key)
      return if (full == null || full.isNullAt(ordinal)) null
             else full.getArray(ordinal)
    }
    if (key == null || row.isNullAt(5)) return errMissPluck(ordinal)
    val idx = key.asInstanceOf[Number].intValue
    parseZ(row.getUTF8String(5)).map(ZValue.unwrap) match {
      case Some(ZValue.VArr(items, _)) =>
        val i = if (idx < 0) items.length + idx else idx
        if (i >= 0 && i < items.length) zvalueFieldAt(items(i), ordinal)
        else errMissPluck(ordinal)
      case Some(ZValue.VMap(es)) =>
        es.find(e => ZValue.unwrap(e._1) match {
          case ZValue.VInt(n, _) => n == idx
          case ZValue.VUint64(n) => n == BigDecimal(idx)
          case ZValue.VFloat(d, _) => d == idx
          case _ => false
        }) match {
          case Some((_, mv)) => zvalueFieldAt(mv, ordinal)
          case None => errMissPluck(ordinal)
        }
      case _ => errMissPluck(ordinal)
    }
  }

  /** One field of getFull's result without materializing it when the
    * native path is taken; the text path materializes then extracts
    * (already off the hot path).
    */
  def fullFieldAt(row: InternalRow, key: Any, ordinal: Int): Any =
    fullFieldAt(row, key, ordinal, null)

  def fullFieldAt(row: InternalRow, key: Any, ordinal: Int,
      hint: Array[Int]): Any = {
    if (row == null) return errMissPluck(ordinal)
    fullFieldAtParts(
      if (row.isNullAt(7)) null else row.getArray(7),
      if (row.isNullAt(8)) null else row.getArray(8),
      if (row.isNullAt(5)) null else row.getUTF8String(5), key, ordinal, hint)
  }

  def fullFieldAtParts(m: ArrayData, d: ArrayData, z: UTF8String, key: Any,
      ordinal: Int): Any = fullFieldAtParts(m, d, z, key, ordinal, null)

  def fullFieldAtParts(m: ArrayData, d: ArrayData, z: UTF8String, key: Any,
      ordinal: Int, hint: Array[Int]): Any = {
    if (m != null) return fieldAt(m, d, key, true, ordinal, hint)
    // text fallback for leaf ordinals: pluck from the parsed ZValue
    // directly — no ZValue→external→Catalyst row per access (the hot
    // per-row cost on cache-stripped record streams)
    if (ordinal < 6) {
      if (key == null || z == null) return errMissPluck(ordinal)
      val field = key.toString
      return parseZ(z).map(ZValue.unwrap) match {
        case Some(ZValue.VRec(fs)) => fs.find(_._1 == field) match {
          case Some((_, fv)) => zvalueFieldAt(fv, ordinal)
          case None => errMissPluck(ordinal)
        }
        case Some(ZValue.VMap(es)) =>
          es.find(e => ZValue.unwrap(e._1) == ZValue.VStr(field)) match {
            case Some((_, mv)) => zvalueFieldAt(mv, ordinal)
            case None => errMissPluck(ordinal)
          }
        case _ => errMissPluck(ordinal)
      }
    }
    val full = getFullParts(m, d, z, key, null)
    if (full == null || full.isNullAt(ordinal)) null
    else ordinal match {
      case 0 => Integer.valueOf(full.getInt(0))
      case 1 => java.lang.Double.valueOf(full.getDouble(1))
      case 3 => java.lang.Boolean.valueOf(full.getBoolean(3))
      case 2 | 4 | 5 => full.getUTF8String(ordinal)
      case _ => full.getArray(ordinal)
    }
  }
}

/** A Spark cast of a boxed variant to a number reads the boxed number:
  * the exact digits in `z` for an integer past double precision, else
  * `n`; a value that is no number casts to null, as any failed cast does
  * here. Without it the analyzer refuses to cast the carrier struct, so a
  * column holding int64 in some rows and float64 in others (a JSON float
  * field that zed prints as `73` where the value is whole) could not be
  * read as one numeric type. Registered as a resolution rule
  * (GraftExtensions).
  */
object VariantNumericCast extends Rule[LogicalPlan] {
  private def part(v: Expression, name: String): Expression =
    GetStructField(v, Het.variantType.fieldIndex(name), Some(name))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveExpressionsWithPruning(_.containsPattern(TreePattern.CAST)) {
      case c @ Cast(v, _: NumericType, _, _)
          if v.resolved && graft.sources.ZsonIO.isVariantType(v.dataType) =>
        val t = part(v, "t")
        val integer = Or(StartsWith(t, Literal("int")), StartsWith(t, Literal("uint")))
        If(And(IsNotNull(part(v, "z")), integer), c.copy(child = part(v, "z")),
          c.copy(child = part(v, "n")))
    }
}

/** Optimizer rule: when only one field of a variant access result is
  * consumed (`get(v,f).n`, `v[i].s`, …), skip materializing the variant
  * row entirely. Two rewrites, applied top-down so the second sees what
  * the first exposes:
  *
  *   1. `GetStructField(CaseWhen(...))` where some branch is a
  *      VariantAccess → push the extraction into every branch (the CASE is
  *      the kind-dispatch ZvOps builds; per-branch extraction is what
  *      Spark's SimplifyExtractValueOps does for CreateNamedStruct).
  *   2. `GetStructField(VariantAccess)` → [[VariantAccessField]] — one
  *      array scan, no row allocation. Ordinals 7/8 return the hit's
  *      deep-derived child caches, so CHAINED accesses collapse level by
  *      level and never leave codegen.
  *
  * Registered via spark.experimental.extraOptimizations (GraftSession).
  */
object CollapseVariantAccess extends Rule[LogicalPlan] {

  /** Push only into CASEs whose branches actually get cheaper: a variant
    * access (row alloc avoided), a struct literal/constructor (field
    * plucked at plan time), or nested such CASEs.
    */
  private def pushable(e: Expression): Boolean = e match {
    case cw: CaseWhen =>
      (cw.branches.map(_._2) ++ cw.elseValue).exists(pushable)
    case _: VariantAccess => true
    case _: VariantGet => true
    case _: CreateNamedStruct => true
    case Literal(null, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case g @ GetStructField(cw: CaseWhen, ord, name)
        if cw.dataType.isInstanceOf[StructType] && pushable(cw) =>
      CaseWhen(
        cw.branches.map { case (c, v) => (c, GetStructField(v, ord, name)) },
        cw.elseValue.map(GetStructField(_, ord, name)))
    case GetStructField(va: VariantAccess, ord, _) =>
      VariantAccessField(va.container, va.deep, va.key, va.byName, ord)
    case GetStructField(vg: VariantGet, ord, _) =>
      VariantGetField(vg.v, vg.key, ord)
    case GetStructField(vi: VariantIndex, ord, _) =>
      VariantIndexField(vi.v, vi.key, ord)
    // literal-keyed CHAINS collapse to one deep-path lookup against the
    // root's d cache (any depth — the batch runs to fixpoint)
    case VariantGetField(VariantGet(x, Literal(k1: UTF8String, StringType)),
        Literal(k2: UTF8String, StringType), ord) if k1 != null && k2 != null =>
      VariantDeepField(x, Literal.create(
        UTF8String.fromString(k1.toString + Het.pathSep + k2.toString),
        StringType), ord)
    case VariantDeepField(VariantGet(x, Literal(k1: UTF8String, StringType)),
        Literal(p: UTF8String, StringType), ord) if k1 != null && p != null =>
      VariantDeepField(x, Literal.create(
        UTF8String.fromString(k1.toString + Het.pathSep + p.toString),
        StringType), ord)
    // fully-collapsed chain over a plain variant: re-express over the m/d/z
    // PARTS so SchemaPruning narrows the scan to the three used subfields
    // (the whole-struct child hid the field usage and forced a full
    // struct<k,n,s,b,t,z,a,m,d> ReadSchema on deep-path queries)
    case VariantDeepField(v, Literal(p: UTF8String, StringType), ord)
        if p != null && !v.isInstanceOf[VariantGet] &&
          graft.sources.ZsonIO.isVariantType(v.dataType) =>
      VariantDeepFieldP(
        GetStructField(v, 7, Some("m")), GetStructField(v, 8, Some("d")),
        GetStructField(v, 5, Some("z")), p.toString, ord)
    // the two collapses SimplifyExtractValueOps would do if it re-ran
    // after the push above (the user-rule batch is the last one)
    case GetStructField(cns: CreateNamedStruct, ord, _) => cns.valExprs(ord)
    case g @ GetStructField(Literal(null, _: StructType), _, _) =>
      Literal(null, g.dataType)
  }
}
