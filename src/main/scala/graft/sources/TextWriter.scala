package graft.sources

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import ZValue._
import ZngIO.ByteBuf

/** The one renderer of each text output format — zson, zeek, json (one
  * value per line), csv/tsv and text — behind every file write and every
  * stream. It runs per partition on the executors over the frame's
  * InternalRows. Each row's shape (its tag, else the schema's zed type)
  * compiles once per partition to a plan whose leaves print typed; a leaf
  * with no typed writer (a boxed variant, a map, a union, a net, …) reads
  * as a ZValue and prints through ZFormat's rules, so those rules stay in
  * one place. ZSON has no typed leaves: each row reads as a ZValue and
  * ZsonFormatter prints it against the plan's type, so the formatter alone
  * decides its decorators. The same plans are the value model's one
  * reading of a frame's rows ([[values]], behind ZFormat.rowValueFn); they
  * drop `error("quiet")` fields, and the caller drops a quiet row.
  *
  * Framing is zed's rule for each format, carried by the renderer: zeek
  * prints the preamble, then `#path` whenever the path changes and
  * `#fields`/`#types` whenever the flattened type changes; csv/tsv print
  * the first record's header and refuse any other shape (CsvShapeError,
  * after the output before it); json and text print no header. Each
  * partition starts with its own header, so a part file is a valid file
  * on its own. A stream reads the rendered parts in order and replaces
  * each part's leading header by the lines that move the header in force
  * to it, so it prints what one sequential writer prints.
  */
private[graft] object TextWriter {

  /** A text format and its header rule: the lines that move the output
    * from header `prev` (null: none yet) to `next`, or an error where the
    * format refuses the change.
    */
  sealed abstract class Fmt(val ext: String) extends Serializable {
    def transition(prev: AnyRef, next: AnyRef): Seq[String] = Nil
  }

  case object Zeek extends Fmt("log") {
    override def transition(prev: AnyRef, next: AnyRef): Seq[String] = {
      val (p, n) = (prev.asInstanceOf[ZeekHead], next.asInstanceOf[ZeekHead])
      (if (p == null) Seq("#separator \\x09", "#set_separator\t,", "#empty_field\t(empty)",
        "#unset_field\t-") else Nil) ++
        (if (p == null && n.path.isEmpty || p != null && p.path == n.path) Nil
         else Seq("#path\t" + (if (n.path.isEmpty) "-" else n.path))) ++
        (if (p != null && p.sig == n.sig) Nil else Seq(n.fields, n.types))
    }
  }

  case object Zson extends Fmt("zson")
  case object Json extends Fmt("json")
  case object Text extends Fmt("txt")

  final case class Csv(sep: Char) extends Fmt(if (sep == '\t') "tsv" else "csv") {
    // zed's csv writer takes the first record's type and fails on any
    // other; the stream attaches the output before it
    override def transition(prev: AnyRef, next: AnyRef): Seq[String] =
      if (prev == null) Seq(next.asInstanceOf[String])
      else if (prev == next) Nil
      else throw new ZFormat.CsvShapeError(Nil)
  }

  def of(format: String): Fmt = format match {
    case "zson" => Zson
    case "zeek" => Zeek
    case "json" => Json
    case "text" => Text
    case "csv" => Csv(',')
    case "tsv" => Csv('\t')
    case other => throw new IllegalArgumentException(s"not a text format: $other")
  }

  /** A zeek header: equal when the path and the flattened type are. */
  private final case class ZeekHead(path: String, sig: Vector[(String, String)])(
      val fields: String, val types: String)

  // ---- compiled shapes -------------------------------------------------------

  private type Put = (ByteBuf, SpecializedGetters, Int) => Unit

  /** A compiled value; `value` is the value model's reading of it from
    * an InternalRow or an external Row.
    */
  private sealed abstract class Node(val zt: ZType) {
    def value(g: SpecializedGetters, i: Int): ZValue
    def value(r: Row, i: Int): ZValue
  }

  /** A record carried by a Spark struct: its fields with their ordinals
    * (-1: the struct has no such field, so it reads null).
    */
  private final class RecN(zt: ZType, val names: Array[String], val ords: Array[Int],
      val kids: Array[Node], width: Int) extends Node(zt) {
    val quoted: Array[Array[Byte]] = names.map(n => (ZFormat.jsonQuote(n) + ":").getBytes(UTF_8))
    /** The type of the records it reads: its fields (a named type when
      * they are the name's).
      */
    val recType: ZType = {
      val r = ZType.Rec(names.toVector.zip(kids.map(_.zt)))
      if (ZType.strip(zt) == r) zt else r
    }
    def struct(g: SpecializedGetters, i: Int): InternalRow = g.getStruct(i, width)
    def value(g: SpecializedGetters, i: Int): ZValue =
      if (g.isNullAt(i)) VNull(zt) else record(struct(g, i), names.length)
    def value(r: Row, i: Int): ZValue =
      if (r.isNullAt(i)) VNull(zt) else record(r.getStruct(i), names.length)
    /** The first `own` fields, then the others that are non-null, less
      * any `error("quiet")` (zed drops one from a record); a named record
      * keeps its name.
      */
    def record(r: InternalRow, own: Int): ZValue =
      build(own, r.isNullAt, k => kids(k).value(r, ords(k)))
    def record(r: Row, own: Int): ZValue =
      build(own, r.isNullAt, k => kids(k).value(r, ords(k)))
    private def build(own: Int, isNull: Int => Boolean, kid: Int => ZValue): ZValue = {
      val v = VRec(names.indices.toVector.flatMap { k =>
        val o = ords(k)
        if (k >= own && isNull(o)) None
        else Some(names(k) -> (if (o < 0) VNull(kids(k).zt) else kid(k))).filterNot(f => isQuiet(f._2))
      })
      zt match { case n: ZType.Named => VTyped(v, n); case _ => v }
    }
  }

  /** A leaf: `put` prints a non-null cell typed (null: it prints through
    * its ZValue, ZValue.fromExternal of the cell).
    */
  private final class Leaf(zt: ZType, dt: DataType, val put: Put) extends Node(zt) {
    private val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    def value(g: SpecializedGetters, i: Int): ZValue =
      if (g.isNullAt(i)) VNull(zt) else ZValue.fromExternal(toScala(g.get(i, dt)), dt, zt)
    def value(r: Row, i: Int): ZValue =
      if (r.isNullAt(i)) VNull(zt) else ZValue.fromExternal(r.get(i), dt, zt)
  }

  /** A value of this type reads as `v` in every row. */
  private final class ConstN(v: ZValue) extends Node(ZValue.typeOf(v)) {
    def value(g: SpecializedGetters, i: Int): ZValue = v
    def value(r: Row, i: Int): ZValue = v
  }

  /** zed's `error("quiet")`: writers drop it as a value and as a field. */
  private def isQuiet(v: ZValue): Boolean = unwrap(v) match {
    case VErr(e) => unwrap(e) == VStr("quiet")
    case _ => false
  }

  private def ascii(o: ByteBuf, s: String): Unit = {
    var k = 0
    while (k < s.length) { o.writeByte(s.charAt(k)); k += 1 }
  }

  private def utf8(o: ByteBuf, s: String): Unit = o.writeBytes(s.getBytes(UTF_8))

  /** Does `u` hold only printable ASCII other than `a`, `b` and `c`? */
  private def plain(u: UTF8String, a: Int, b: Int, c: Int): Boolean = {
    var k = 0
    while (k < u.numBytes) {
      val x = u.getByte(k)
      if (x < 0x20 || x > 0x7e || x == a || x == b || x == c) return false
      k += 1
    }
    true
  }

  private val dash = UTF8String.fromString("-")
  private val emptyMark = UTF8String.fromString("(empty)")
  private val intTypes = Set("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64")

  /** The typed writer of a (zed type, Spark carrier) pair in `fmt` — it
    * prints what ZFormat prints for the ZValue fromExternal builds — or
    * null when the pair has none. `top`: a record's leaf, not a container
    * element.
    */
  private def put(fmt: Fmt, zt: ZType, dt: DataType, top: Boolean): Put = {
    val (json, csv) = (fmt == Json, fmt.isInstanceOf[Csv])
    val sep: Int = fmt match { case Csv(c) => c; case _ => ',' }
    def long(f: Long => String, scale: Long = 1L): Put = (o, g, i) => ascii(o, f(g.getLong(i) * scale))
    def quoted(f: Long => String): Long => String = if (json) ns => "\"" + f(ns) + "\"" else f
    (ZType.strip(zt), dt) match {
      case (t @ (ZType.Prim("string" | "ip") | _: ZType.EnumT), StringType) =>
        val raw = t != ZType.Prim("string") // zeek prints an ip or enum as is
        (o, g, i) => {
          val u = g.getUTF8String(i)
          if (json) {
            if (plain(u, '"', '\\', '\\')) { o.writeByte('"'); u.writeTo(o); o.writeByte('"') }
            else utf8(o, ZFormat.jsonQuote(u.toString))
          } else if (csv) {
            if (plain(u, sep, '"', '"')) u.writeTo(o) else utf8(o, ZFormat.csvQuote(u.toString, sep.toChar))
          } else if (raw || plain(u, '\\', if (top) '\\' else ',', '\\') && !u.equals(dash) &&
              !u.equals(emptyMark)) u.writeTo(o)
          else utf8(o, ZFormat.zeekEscapeString(u.toString, inContainer = !top))
        }
      case (ZType.Prim(p), LongType | IntegerType) if intTypes(p) => (o, g, i) => ascii(o, g.get(i, dt).toString)
      case (ZType.Prim("int8"), ByteType) | (ZType.Prim("int16"), ShortType) =>
        (o, g, i) => ascii(o, g.get(i, dt).toString)
      case (ZType.Prim("uint64"), d: DecimalType) if d.precision == 20 && d.scale == 0 =>
        (o, g, i) => ascii(o, g.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger.toString)
      case (ZType.Prim(p @ ("float64" | "float32")), DoubleType | FloatType)
          if (p == "float64") == (dt == DoubleType) =>
        val bits = if (dt == DoubleType) 64 else 32
        val f: Double => String =
          if (json) ZFormat.jsonFloat(_, bits) else if (csv) ZFormat.csvFloat(_, bits) else ZFormat.goF(_, bits)
        if (bits == 64) (o, g, i) => ascii(o, f(g.getDouble(i)))
        else (o, g, i) => ascii(o, f(g.getFloat(i).toDouble))
      case (ZType.Prim("bool"), BooleanType) =>
        if (json || csv) (o, g, i) => ascii(o, g.getBoolean(i).toString)
        else (o, g, i) => o.writeByte(if (g.getBoolean(i)) 'T' else 'F')
      case (ZType.Prim("time"), TimestampType | LongType) =>
        // json, csv and a text record's leaf print RFC 3339, zeek epoch seconds
        long(quoted(if (json || csv || fmt == Text && top) ZFormat.rfc3339Nano else ZFormat.zeekTime),
          if (dt == TimestampType) 1000L else 1L)
      case (ZType.Prim("duration"), LongType) =>
        long(quoted(if (json || csv) ZFormat.durHuman else ZFormat.zeekTime))
      case (ZType.Arr(e: ZType.Prim), ArrayType(edt, _)) if !csv => array(fmt, e, edt)
      case (ZType.SetT(e: ZType.Prim), ArrayType(edt, _)) if !csv => array(fmt, e, edt)
      case _ => null // csv prints containers as ZSON
    }
  }

  /** A container of plain primitives: its value type is the declared one. */
  private def array(fmt: Fmt, e: ZType, edt: DataType): Put = {
    val each = put(fmt, e, edt, top = false)
    if (each == null) return null
    val (open, nul, close) = if (fmt == Json) ("[", "null", "]") else ("", "-", "")
    (o, g, i) => {
      val a = g.getArray(i)
      if (a.numElements() == 0 && fmt != Json) ascii(o, "(empty)")
      else {
        ascii(o, open)
        var k = 0
        while (k < a.numElements()) {
          if (k > 0) o.writeByte(',')
          if (a.isNullAt(k)) ascii(o, nul) else each(o, a, k)
          k += 1
        }
        ascii(o, close)
      }
    }
  }

  /** `fmt` null: values only, no writers. */
  private def node(fmt: Fmt, zt: ZType, dt: DataType): Node = (ZType.strip(zt), dt) match {
    case (ZType.Rec(fs), st: StructType) if !ZsonIO.isVariantType(st) =>
      val ords = fs.map(f => st.fieldNames.indexOf(f._1)).toArray
      new RecN(zt, fs.map(_._1).toArray, ords, fs.indices.map { k =>
        if (ords(k) < 0) new Leaf(fs(k)._2, NullType, null)
        else node(fmt, fs(k)._2, st.fields(ords(k)).dataType)
      }.toArray, st.length)
    case _ => new Leaf(zt, dt, if (fmt == null) null else put(fmt, zt, dt, top = true))
  }

  /** One printed column of a record row, flattened: a leaf of the row's
    * shape (FlatLeaf) or a value that prints through ZFormat's rules
    * (ValueCol). `zt` is the column's type in a zeek header.
    */
  private sealed abstract class Col(val name: String, val zt: ZType)

  private final class ValueCol(name: String, zt: ZType, val v: ZValue) extends Col(name, zt)

  /** A leaf of a record row: its dotted name, and the records and
    * ordinals on the way to it from the row (a last ordinal of -1: the
    * struct has no such field). `optional`: under a column that prints
    * only when non-null.
    */
  private final class FlatLeaf(name: String, val leaf: Leaf, recs: Array[RecN],
      ords: Array[Int], val optional: Boolean) extends Col(name, leaf.zt) {
    val ord: Int = ords.last
    val top: Int = ords(0)
    val isString: Boolean = ZType.strip(zt) == ZType.Prim("string")
    /** The struct holding the leaf in row `r`; null when it, or a record
      * above it, is null.
      */
    def holder(r: InternalRow): SpecializedGetters = {
      if (ord < 0) return null
      var g: SpecializedGetters = r
      var d = 0
      while (d < ords.length - 1) {
        if (g.isNullAt(ords(d))) return null
        g = recs(d + 1).struct(g, ords(d))
        d += 1
      }
      if (g.isNullAt(ord)) null else g
    }
  }

  /** A record row's columns and the headers they make. */
  private final class Cols(val cols: Array[Col], sep: Char) {
    val pathAt: Int = cols.indexWhere(_.name == "_path")
    lazy val zeekSig: Vector[(String, String)] = cols.map(c => c.name -> ZType.text(c.zt)).toVector
    lazy val zeek: ZeekHead = {
      val own = cols.filterNot(_.name == "_path")
      ZeekHead("", zeekSig)("#fields\t" + own.map(_.name).mkString("\t"),
        "#types\t" + own.map(c => ZFormat.zeekTypeOfNamed(c.zt)).mkString("\t"))
    }
    lazy val csv: String = cols.map(c => ZFormat.csvQuote(c.name, sep)).mkString(sep.toString)
  }

  private def valueCols(leaves: Seq[(String, ZValue)], sep: Char): Cols =
    new Cols(leaves.map { case (n, v) => new ValueCol(n, ZFormat.leafType(v), v): Col }.toArray, sep)

  /** How a row reads: a record over the row's columns (`own` fields, then
    * columns read only when non-null), or a value in column `ord` (a
    * typed null in no column). `zt` is the type of what it reads; the
    * null type when each value is typed by itself.
    */
  private final class Plan(val rec: RecN, val own: Int, node: Node, ord: Int, selfTyped: Boolean = false) {
    val zt: ZType = if (selfTyped) ZType.nullT else if (rec != null) rec.recType else node.zt
    def value(r: InternalRow): ZValue = if (rec != null) rec.record(r, own) else node.value(r, ord)
    def value(r: Row): ZValue = if (rec != null) rec.record(r, own) else node.value(r, ord)
  }

  /** A row's plans: `main`, or `alt` in a row where `useAlt` holds of its
    * null columns.
    */
  private final class Shape(sep: Char, main: Plan, alt: Plan, useAlt: (Int => Boolean) => Boolean) {
    val rec: RecN = main.rec
    val own: Int = main.own

    def plan(r: InternalRow): Plan = if (alt == null || !useAlt(r.isNullAt)) main else alt
    def plan(r: Row): Plan = if (alt == null || !useAlt(r.isNullAt)) main else alt

    /** Does row `r` read through the record's typed leaves? */
    def typed(r: InternalRow): Boolean = rec != null && (plan(r) eq main)

    def value(r: InternalRow): ZValue = plan(r).value(r)
    def value(r: Row): ZValue = plan(r).value(r)

    /** Row `r` in ZSON, or null when it is a quiet error. */
    def zson(r: InternalRow): String = {
      val p = plan(r)
      val v = p.value(r)
      if (isQuiet(v)) null else ZsonFormatter.format(p.zt, v)
    }

    /** A record row's leaves, flattened. */
    private val flat: Array[FlatLeaf] = {
      def go(prefix: String, n: RecN, recs: Array[RecN], ords: Array[Int], opt: Boolean): Seq[FlatLeaf] =
        n.names.indices.flatMap { k =>
          val o = opt || recs.length == 1 && k >= own
          (n.kids(k), n.ords(k)) match {
            case (r: RecN, i) => go(s"$prefix${n.names(k)}.", r, recs :+ r, ords :+ i, o)
            case (l: Leaf, i) => Seq(new FlatLeaf(prefix + n.names(k), l, recs, ords :+ i, o))
            case _ => Nil // a record's fields are records and leaves
          }
        }
      if (rec == null) null else go("", rec, Array(rec), Array.empty, opt = false).toArray
    }

    /** The columns of a shape whose leaves all print typed and print in
      * every row; null when the columns depend on the row.
      */
    val fixed: Cols =
      if (flat == null || flat.exists(l => l.optional || l.leaf.put == null)) null
      else new Cols(flat.toArray[Col], sep)

    /** Row `r`'s columns: a typed leaf as itself, an untyped one as its
      * value, flattened (its type is its value's), and an optional or a
      * quiet column only when non-null and not quiet.
      */
    def cols(r: InternalRow): Cols =
      if (fixed != null) fixed
      else new Cols(flat.flatMap { l =>
        if (l.optional && r.isNullAt(l.top)) Nil
        else if (l.leaf.put != null) Seq(l)
        else {
          val g = l.holder(r)
          val v = if (g == null) VNull(l.zt) else l.leaf.value(g, l.ord)
          if (isQuiet(v)) Nil else valueCols(ZFormat.flatten(VRec(Vector(l.name -> v))), sep).cols.toSeq
        }
      }, sep)
  }

  /** Compiles each distinct shape of one frame as the value model reads
    * it: a tag's record fields (ZngIO.shapeColumns) in shape order, then
    * the frame's columns no shape names, when non-null; a `null(<type>)`
    * tag as a typed null; a non-record tag as the `this` column, in a
    * record with the columns no shape names in a row where one of them is
    * non-null; an untagged frame as its schema's zed type. A record row
    * whose columns other than a boxed `this` carrier are all null reads
    * as the carrier's value, and a frame of a boxed `this` alone reads
    * each row as its boxed value, whatever its tag. A boxed column has
    * no static type (the null type): its value is typed by itself. One
    * per partition.
    */
  private final class Shapes(fmt: Fmt, schema: StructType, typed: Boolean) {
    private val sep = fmt match { case Csv(c) => c; case _ => '\t' }
    private val writers = if (typed && fmt != Zson) fmt else null
    private val fields = schema.fields.toIndexedSeq.zipWithIndex.filterNot { case (f, _) =>
      f.name == graft.operators.Het.typeTag || f.metadata.contains("graft.scopeVar") }
    private def boxed(f: StructField): Boolean = ZsonIO.isVariantType(f.dataType)
    private val thisOnly = if (fields.length == 1 && fields.head._1.name == "this") Some(fields.head) else None
    private val boxedThis = thisOnly.exists(t => boxed(t._1))
    private val tagIdx = if (boxedThis) -1 else schema.fieldNames.indexOf(graft.operators.Het.typeTag)
    private def colType(f: StructField): ZType =
      if (f.metadata.contains("graft.zedType")) {
        val t = f.metadata.getString("graft.zedType")
        try ZsonParser.parseType(t) catch { case _: Exception => ZType.Prim(t) }
      } else zedType(f.dataType)
    /** A Spark carrier's zed type; a boxed value has none (the null type). */
    private def zedType(dt: DataType): ZType = dt match {
      case st: StructType if ZsonIO.isVariantType(st) => ZType.nullT
      case st: StructType => ZType.Rec(st.fields.toVector.map(f => f.name -> colType(f)))
      case d: DecimalType if d.precision == 20 && d.scale == 0 => ZType.Prim("uint64")
      case ArrayType(e, _) => ZType.Arr(zedType(e))
      case MapType(k, v, _) => ZType.MapT(zedType(k), zedType(v))
      case _ => try ZsonParser.parseType(graft.functions.Shaper.zedTypeOf(dt))
                catch { case _: Exception => ZType.Prim("string") }
    }
    private val inShapes: Set[String] =
      (if (tagIdx < 0) Nil else ZngIO.tagShapes(schema)).flatMap { t =>
        try ZType.strip(ZsonParser.parseType(ZType.stripNullWrap(t))) match {
          case ZType.Rec(fs) => fs.map(_._1)
          case _ => Seq("this")
        } catch { case _: Exception => fields.map(_._1.name) }
      }.toSet
    private val untagged: ZType =
      thisOnly.fold[ZType](ZType.Rec(fields.map { case (f, _) => f.name -> colType(f) }.toVector))(t => colType(t._1))

    /** The record plan of `zt`'s fields in columns `own`, then the columns
      * `added` when non-null.
      */
    private def record(zt: ZType, own: Seq[(String, ZType, Int)], added: Seq[(String, ZType, Int)]): Plan = {
      val all = (own ++ added).map { case (n, ft, i) => (n, node(writers, ft, schema.fields(i).dataType), i) }
      new Plan(new RecN(zt, all.map(_._1).toArray, all.map(_._3).toArray, all.map(_._2).toArray,
        schema.length), own.length, null, -1)
    }

    // a boxed `this` beside other columns: a record row with them all
    // null is the carrier's value (a record FIELD named this has live
    // siblings)
    private val (carrier, carrierWins) = fields.collectFirst {
      case (f, i) if f.name == "this" && boxed(f) && fields.length > 1 =>
        val others = fields.map(_._2).filter(_ != i)
        (new Plan(null, 0, node(null, ZType.nullT, f.dataType), i),
          (isNull: Int => Boolean) => !isNull(i) && others.forall(isNull))
    }.getOrElse((null, null))

    private def shapeOf(zt: ZType, cols: Option[Seq[(String, ZType, Int)]] = None): Shape =
      (ZType.strip(zt), fields.find(_._1.name == "this")) match {
        case (ZType.Rec(fs), _) =>
          val own = cols.getOrElse(fs.flatMap { case (n, ft) => fields.find(_._1.name == n).map(c => (n, ft, c._2)) })
          val added = fields.filterNot { case (f, _) => inShapes(f.name) || f.name == "this" ||
            fs.exists(_._1 == f.name) }.map { case (f, i) => (f.name, colType(f), i) }
          new Shape(sep, record(zt, own, added), carrier, carrierWins)
        case (_, Some((f, i))) => bare(zt, f, i)
        case _ => shapeOf(ZType.Rec(fields.map { case (f, _) => f.name -> colType(f) }.toVector))
      }

    /** Column `i` (`this`) as a value of type `zt` (`selfTyped`: each
      * value of its own type, as is an error whose payload type holds a
      * query's union of what the payload may be).
      */
    private def bare(zt: ZType, f: StructField, i: Int, selfTyped: Boolean = false): Shape = {
      val err = ZType.strip(zt).isInstanceOf[ZType.ErrT] && ZType.hasUnion(zt)
      val plan = new Plan(null, 0, node(writers, zt, f.dataType), i, selfTyped || err)
      val extras = fields.filterNot { case (g, _) => g.name == "this" || inShapes(g.name) }
      if (extras.isEmpty) new Shape(sep, plan, null, null)
      else new Shape(sep, plan, record(ZType.Rec(("this" -> zt) +: extras.map(e => e._1.name -> colType(e._1)).toVector),
        Seq(("this", zt, i)), extras.map { case (g, j) => (g.name, colType(g), j) }),
        isNull => extras.exists(e => !isNull(e._2)))
    }

    private def compile(tag: String): Shape =
      // an untagged, unmarked `this` has no static type: its Spark type
      // may merge a null's with other values' (a null stays untyped)
      if (tag == null) thisOnly.fold(shapeOf(untagged))(t =>
        bare(untagged, t._1, t._2, selfTyped = !t._1.metadata.contains("graft.zedType")))
      else if (ZType.isNullWrap(tag)) new Shape(sep, new Plan(null, 0, new ConstN(VNull(
        try ZsonParser.parseType(ZType.stripNullWrap(tag)) catch { case _: Exception => untagged })), -1), null, null)
      else ZngIO.shapeColumns(tag, schema) match {
        case Right((zt, cols)) =>
          val data = fields.map(_._2).toSet
          shapeOf(zt, Some(cols.filter(c => data(c._3))))
        case Left(_) => shapeOf(try ZsonParser.parseType(tag) catch { case _: Exception => untagged })
      }

    private val byTag = new java.util.HashMap[UTF8String, Shape]()
    private var lastTag: UTF8String = null
    private var last: Shape = null
    private lazy val noTag = compile(null)

    def apply(r: InternalRow): Shape =
      if (tagIdx < 0 || r.isNullAt(tagIdx)) noTag else tagged(r.getUTF8String(tagIdx))

    def apply(r: Row): Shape =
      if (tagIdx < 0 || r.isNullAt(tagIdx)) noTag else tagged(UTF8String.fromString(r.getString(tagIdx)))

    private def tagged(t: UTF8String): Shape = {
      if (lastTag == null || !lastTag.equals(t)) {
        lastTag = t.clone() // the scan buffer behind t is reused
        last = byTag.get(lastTag)
        if (last == null) { last = compile(lastTag.toString); byTag.put(lastTag, last) }
      }
      last
    }
  }

  /** The value model's reading of rows of `schema` (tag and scope
    * variables left out); one reader per thread.
    */
  def values(schema: StructType): InternalRow => ZValue = {
    val shapes = new Shapes(null, schema, typed = false)
    r => shapes(r).value(r)
  }

  /** [[values]] for external Rows, read as they are (a row may carry
    * columns past `schema`); one reader per thread.
    */
  def rowValues(schema: StructType): Row => ZValue = {
    val shapes = new Shapes(null, schema, typed = false)
    r => shapes(r).value(r)
  }

  // ---- the per-partition renderer ---------------------------------------------

  /** What a stream needs of a rendered part: its first header and the
    * byte range that header fills, the header in force at its end, and
    * the error that ended it (the output before that row is kept).
    */
  final class Part(val lead: AnyRef, val leadFrom: Int, val leadTo: Int, val end: AnyRef,
      val failure: Throwable) extends Serializable

  private final class Renderer(fmt: Fmt, schema: StructType, out: OutputStream, typed: Boolean) {
    private val shapes = new Shapes(fmt, schema, typed)
    private val line = new ByteBuf(1 << 12)
    private var written = 0L
    private var cur: AnyRef = null
    private var lead: AnyRef = null
    private var leadFrom, leadTo = 0L
    private var curPath = UTF8String.EMPTY_UTF8
    private val (sep, nul) = fmt match {
      case Csv(c) => (c, "")
      case _ => ('\t', "-")
    }

    private def emit(): Unit = {
      line.writeByte('\n')
      line.writeTo(out)
      written += line.size
      line.reset()
    }

    private def head(h: AnyRef): Unit = if (cur != h) {
      val lines = fmt.transition(cur, h)
      val first = lead == null
      if (first) { lead = h; leadFrom = written }
      lines.foreach { l => utf8(line, l); emit() }
      if (first) leadTo = written
      cur = h
    }

    def part(failure: Throwable): Part = new Part(lead, leadFrom.toInt, leadTo.toInt, cur, failure)

    def row(r: InternalRow): Unit = {
      val s = shapes(r)
      if (fmt == Zson) {
        val z = s.zson(r)
        if (z != null) { utf8(line, z); emit() }
      } else if (s.typed(r)) {
        if (fmt == Json) { jsonRec(s.rec, r, s.own); emit() } else record(s.cols(r), r)
      } else {
        val v = s.value(r)
        if (fmt == Json) { if (!isQuiet(v)) { utf8(line, ZFormat.jsonText(v)); emit() } }
        else if (unwrap(v).isInstanceOf[VRec]) record(valueCols(ZFormat.flatten(v), sep), r)
        // zed's zeek writer errors on a non-record and the value prints;
        // its csv writer errors and the row is skipped
        else if (!fmt.isInstanceOf[Csv] && !isQuiet(v)) { utf8(line, ZFormat.zeekFormat(v)); emit() }
      }
    }

    private def jsonRec(n: RecN, r: InternalRow, own: Int): Unit = {
      line.writeByte('{')
      var first = true
      for (k <- n.names.indices) {
        val o = n.ords(k)
        if (k < own || !r.isNullAt(o)) {
          val v = n.kids(k) match {
            case l: Leaf if l.put == null && o >= 0 && !r.isNullAt(o) => l.value(r, o)
            case _ => null
          }
          if (v == null || !isQuiet(v)) {
            if (!first) line.writeByte(',')
            first = false
            line.writeBytes(n.quoted(k))
            if (o < 0 || r.isNullAt(o)) ascii(line, "null")
            else n.kids(k) match {
              case rn: RecN => jsonRec(rn, rn.struct(r, o), rn.names.length)
              case l: Leaf if l.put != null => l.put(line, r, o)
              case _ => utf8(line, ZFormat.jsonText(v))
            }
          }
        }
      }
      line.writeByte('}')
    }

    /** A record row in zeek, csv or text: the header its columns make,
      * then a typed leaf through its writer and any other column through
      * the format's ZFormat rule.
      */
    private def record(c: Cols, r: InternalRow): Unit = {
      fmt match {
        case Zeek =>
          val path = if (c.pathAt < 0) UTF8String.EMPTY_UTF8 else c.cols(c.pathAt) match {
            case l: FlatLeaf if l.isString =>
              val g = l.holder(r)
              if (g == null) UTF8String.EMPTY_UTF8 else g.getUTF8String(l.ord)
            case v: ValueCol => unwrap(v.v) match {
              case VStr(p) => UTF8String.fromString(p)
              case _ => UTF8String.EMPTY_UTF8
            }
            case _ => UTF8String.EMPTY_UTF8
          }
          val h = cur.asInstanceOf[ZeekHead]
          if (h == null || !curPath.equals(path) || (h.sig ne c.zeekSig) && h.sig != c.zeekSig) {
            curPath = path.clone()
            head(ZeekHead(curPath.toString, c.zeekSig)(c.zeek.fields, c.zeek.types))
          }
        case Csv(_) => head(c.csv)
        case _ =>
      }
      var first = true
      for (k <- c.cols.indices if k != c.pathAt || fmt != Zeek) {
        if (!first) line.writeByte(sep)
        first = false
        c.cols(k) match {
          case l: FlatLeaf =>
            val g = l.holder(r)
            if (g == null) ascii(line, nul) else l.leaf.put(line, g, l.ord)
          case v: ValueCol => utf8(line, fmt match {
            case Zeek => ZFormat.zeekFormat(v.v)
            case Csv(_) => ZFormat.csvQuote(ZFormat.csvCell(v.v), sep)
            case _ => ZFormat.cellText(v.v, emptyNullTime = false)
          })
        }
      }
      emit()
    }
  }

  /** Render one partition's rows to `out`. A row the format cannot print
    * ends the part with its error; an error of the rows themselves fails
    * the task as before.
    */
  private def render(fmt: Fmt, schema: StructType, rows: Iterator[InternalRow],
      out: OutputStream, typed: Boolean = true): Part = {
    val r = new Renderer(fmt, schema, out, typed)
    var failure: Throwable = null
    while (failure == null && rows.hasNext) {
      val row = rows.next()
      try r.row(row) catch { case scala.util.control.NonFatal(e) => failure = e }
    }
    r.part(failure)
  }

  /** The header zed's csv writer prints for a frame with no record. */
  private def csvEmpty(fmt: Fmt, schema: StructType): Option[String] = fmt match {
    case Csv(sep) if schema.fields.nonEmpty =>
      Some(schema.fieldNames.filterNot(_ == graft.operators.Het.typeTag).mkString(sep.toString))
    case _ => None
  }

  // ---- files and streams -----------------------------------------------------

  /** The frame as ZSON lines, one per value, rendered per partition on
    * the executors when the dataset runs.
    */
  def zson(df: DataFrame): Dataset[String] = {
    val schema = df.schema
    val lines = df.queryExecution.toRdd.mapPartitions { rows =>
      val shapes = new Shapes(Zson, schema, typed = false)
      rows.flatMap(r => Option(shapes(r).zson(r)))
    }
    df.sparkSession.createDataset(lines)(Encoders.STRING)
  }

  /** One part file per non-empty partition (`part-NNNNN.<ext>`, gzip
    * members when `gzip`). Fails as the stream of the frame fails, after
    * writing the parts.
    */
  def write(df: DataFrame, path: String, fmt: Fmt, gzip: Boolean = false): Unit = {
    HadoopFs.prepareDir(df.sparkSession, path)
    val conf = HadoopFs.confMap(df.sparkSession)
    val schema = df.schema
    val parts = Jobs.all(df.queryExecution.toRdd, new WritePart(fmt, schema, conf, path, gzip))
    var cur: AnyRef = null
    parts.foreach { p =>
      if (p.lead != null) { fmt.transition(cur, p.lead); cur = p.end }
      if (p.failure != null) throw p.failure
    }
    if (cur == null) csvEmpty(fmt, schema).foreach { h =>
      val out = openPart(conf, path, fmt, gzip, 0)
      try out.write((h + "\n").getBytes(UTF_8)) finally out.close()
    }
  }

  private def openPart(conf: Map[String, String], path: String, fmt: Fmt, gzip: Boolean,
      pid: Int): OutputStream = {
    val raw = HadoopFs.create(conf, path, f"part-$pid%05d.${fmt.ext}" + (if (gzip) ".gz" else ""))
    new java.io.BufferedOutputStream(
      if (gzip) new java.util.zip.GZIPOutputStream(raw, 1 << 16) else raw, 1 << 16)
  }

  /** A partition rendered to its part file, opened with the first byte. */
  private final class WritePart(fmt: Fmt, schema: StructType, conf: Map[String, String],
      path: String, gzip: Boolean) extends ((TaskContext, Iterator[InternalRow]) => Part) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Part = {
      var file: OutputStream = null
      val out = new OutputStream {
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, n: Int): Unit = {
          if (file == null) file = openPart(conf, path, fmt, gzip, ctx.partitionId())
          file.write(b, off, n)
        }
      }
      try render(fmt, schema, rows, out) finally if (file != null) file.close()
    }
  }

  /** A partition rendered in memory, for a stream to stitch. */
  private final class RenderPart(fmt: Fmt, schema: StructType, typed: Boolean)
      extends ((TaskContext, Iterator[InternalRow]) => (Part, Array[Byte])) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): (Part, Array[Byte]) = {
      val bytes = new java.io.ByteArrayOutputStream()
      val p = render(fmt, schema, rows, bytes, typed)
      (p, bytes.toByteArray)
    }
  }

  /** The frame's output as one stream of lines, handed to `use` while
    * the frame's own query execution runs. Partitions render on the
    * executors; `oneJob` fetches them all in one job, else they come to
    * the driver one job at a time, in order, for a caller that streams.
    * `typed` false prints every leaf through its value (a check of the
    * typed writers against ZFormat's rules).
    */
  def lines[A](df: DataFrame, fmt: Fmt, oneJob: Boolean = false, typed: Boolean = true)(
      use: Iterator[String] => A): A = {
    val schema = df.schema
    SQLExecution.withNewExecutionId(df.queryExecution, Some("render")) {
      val rows = df.queryExecution.toRdd
      val part = new RenderPart(fmt, schema, typed)
      use(stitch(fmt, schema, if (oneJob) Jobs.all(rows, part).iterator else Jobs.each(rows, part)))
    }
  }

  private def split(b: Array[Byte], from: Int, until: Int): Iterator[String] = {
    val out = Vector.newBuilder[String]
    var s = from
    for (k <- from until until if b(k) == '\n') { out += new String(b, s, k - s, UTF_8); s = k + 1 }
    out.result().iterator
  }

  /** Parts in order as one sequential writer's lines: each part's first
    * header becomes the transition from the header in force.
    */
  private def stitch(fmt: Fmt, schema: StructType,
      parts: Iterator[(Part, Array[Byte])]): Iterator[String] = {
    var cur: AnyRef = null
    parts.flatMap { case (p, b) =>
      val body =
        if (p.lead == null) split(b, 0, b.length)
        else {
          val step = try Right(fmt.transition(cur, p.lead)) catch { case e: ZFormat.CsvShapeError => Left(e) }
          cur = p.end
          split(b, 0, p.leadFrom) ++ step.fold[Iterator[String]](e => throw e, _.iterator) ++
            split(b, p.leadTo, b.length)
        }
      body ++ { if (p.failure != null) throw p.failure; Iterator.empty }
    } ++ { if (cur == null) csvEmpty(fmt, schema).iterator else Iterator.empty }
  }
}
