package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Het

/** Typed ZSON value model: the engine's representation of zed's
  * super-structured data (reference: docs/formats/zson.md grammar §4,
  * zson/ztype values, complex.go TypeUnion :290 / TypeError :42 /
  * TypeEnum :67).
  *
  * Spark-first mapping: a heterogeneous value sequence becomes ONE
  * DataFrame — rows are grouped by their zed type ("shape"), shapes are
  * merged field-wise into a single relational schema, and
  *   - a field whose type agrees across shapes stays a NATIVE Spark column
  *     (full Catalyst/codegen path — the 100 TB case is homogeneous);
  *   - a field with conflicting types (zed union) becomes a Het variant
  *     column;
  *   - error values (zed error(T)) are variant rows with kind=5 carrying
  *     the payload as ZSON text;
  *   - each row keeps its original zed type in the `__type` tag column, so
  *     typeof/has/missing are runtime values, per zed semantics, while
  *     remaining plain string comparisons Catalyst can codegen.
  */
sealed trait ZType
object ZType extends Serializable {
  final case class Prim(name: String) extends ZType
  final case class Rec(fields: Vector[(String, ZType)]) extends ZType
  final case class Arr(elem: ZType) extends ZType
  final case class SetT(elem: ZType) extends ZType
  final case class MapT(key: ZType, value: ZType) extends ZType
  final case class Union(alts: Vector[ZType]) extends ZType
  final case class EnumT(symbols: Vector[String]) extends ZType
  final case class ErrT(inner: ZType) extends ZType
  final case class Named(name: String, inner: ZType) extends ZType

  val nullT: ZType = Prim("null")

  // ^[A-Za-z_][A-Za-z0-9_]*$ as a char scan — fieldName runs per FIELD on
  // the render/type-text paths (a regex engine pass per call showed up in
  // het-fallback profiles)
  private def isIdent(n: String): Boolean = {
    val len = n.length
    if (len == 0) return false
    var i = 0
    while (i < len) {
      val c = n.charAt(i)
      val ok = c == '_' || (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (i > 0 && c >= '0' && c <= '9')
      if (!ok) return false
      i += 1
    }
    true
  }
  def fieldName(n: String): String =
    if (isIdent(n)) n else "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Canonical zed type text (matches Shaper.zedTypeOf conventions). */
  def text(t: ZType): String = t match {
    case Prim(n) => n
    case Rec(fs) => fs.map { case (n, ft) => s"${fieldName(n)}:${text(ft)}" }.mkString("{", ",", "}")
    case Arr(e) => s"[${text(e)}]"
    case SetT(e) => s"|[${text(e)}]|"
    case MapT(k, v) => s"|{${text(k)}:${text(v)}}|"
    case Union(alts) => alts.map(text).mkString("(", ",", ")")
    case EnumT(syms) => syms.mkString("enum(", ",", ")")
    case ErrT(i) => s"error(${text(i)})"
    case Named(n, _) => n
  }

  def strip(t: ZType): ZType = t match { case Named(_, i) => strip(i); case other => other }

  /** Does `p` hold of `t` or of a type inside it? */
  def exists(t: ZType)(p: ZType => Boolean): Boolean = p(t) || (t match {
    case Rec(fs) => fs.exists(f => exists(f._2)(p))
    case Arr(e) => exists(e)(p)
    case SetT(e) => exists(e)(p)
    case MapT(k, v) => exists(k)(p) || exists(v)(p)
    case Union(as) => as.exists(a => exists(a)(p))
    case ErrT(i) => exists(i)(p)
    case Named(_, i) => exists(i)(p)
    case _ => false
  })

  def hasUnion(t: ZType): Boolean = exists(t)(_.isInstanceOf[Union])

  /** zson/zson.go Implied: types whose values never need a decorator. */
  def implied(t: ZType): Boolean = t match {
    case Prim("int64" | "duration" | "time" | "float64" | "bool" | "bytes" |
         "string" | "ip" | "net" | "type" | "null") => true
    case Rec(fs) => fs.forall(f => implied(f._2))
    case Arr(e) => implied(e)
    case SetT(e) => implied(e)
    case MapT(k, v) => implied(k) && implied(v)
    case ErrT(i) => implied(i)
    case _ => false
  }

  /** zson/zson.go SelfDescribing: the named-type decorator can use the
    * abbreviated `(=name)` form because the value alone implies the type.
    */
  def selfDescribing(t: ZType): Boolean = implied(t) || (t match {
    case Rec(_) | Arr(_) | SetT(_) | MapT(_, _) => true
    case Named(_, i) => selfDescribing(i)
    case _ => false
  })

  /** A TOP-LEVEL typed-null record's shape text is "null(<rec>)": the
    * relational row is all-null (indistinguishable from {a:null}); the
    * wrapper in the shape tag is what lets writers re-emit `null` and
    * keeps typeof() reporting the record type (container-types ztest).
    */
  def nullWrap(t: String): String =
    if (t == "null") t else "null(" + t + ")" // null(null) is just null
  def isNullWrap(t: String): Boolean = t.startsWith("null(") && t.endsWith(")")
  def stripNullWrap(t: String): String =
    if (isNullWrap(t)) t.substring(5, t.length - 1) else t

  /** Round-trippable type text: named types print their definition
    * (`port=uint16`) so shape tags can be re-parsed with full structure.
    */
  // fullText is called PER ROW on the typed-decode paths (recordify's
  // shape tag, leafRow's t slot): a homogeneous 2M-row stream rebuilt the
  // same text 2M times — string assembly plus a fieldName regex per field.
  // The memo keys on the ZType tree (structural equality, far cheaper than
  // the rebuild); bounded for exotic type-churn workloads.
  private val fullTextCache = new java.util.concurrent.ConcurrentHashMap[ZType, String]()

  def fullText(t: ZType): String = {
    val cached = fullTextCache.get(t)
    if (cached != null) return cached
    val s = fullTextUncached(t)
    if (fullTextCache.size > 8192) fullTextCache.clear()
    fullTextCache.put(t, s)
    s
  }

  private def fullTextUncached(t: ZType): String = t match {
    case Named(n, i) => s"$n=${fullText(i)}"
    case Prim(n) => n
    case Rec(fs) => fs.map { case (n, ft) => s"${fieldName(n)}:${fullText(ft)}" }.mkString("{", ",", "}")
    case Arr(e) => s"[${fullText(e)}]"
    case SetT(e) => s"|[${fullText(e)}]|"
    case MapT(k, v) => s"|{${fullText(k)}:${fullText(v)}}|"
    case Union(alts) => alts.map(fullText).mkString("(", ",", ")")
    case EnumT(syms) => syms.mkString("enum(", ",", ")")
    case ErrT(i) => s"error(${fullText(i)})"
  }

  /** Union-merge two types the way zed's type context does when a field
    * takes different types across values (complex.go LookupTypeUnion).
    */
  /** zed `fuse` type merge: records merge field-wise (first-seen field
    * order), matching containers merge element-wise, anything else forms
    * a union (the fuse operator's type unification, runtime fuse.go).
    */
  def fuse(a: ZType, b: ZType): ZType = (strip(a), strip(b)) match {
    case (x, y) if x == y => x
    case (Prim("null"), _) => strip(b)
    case (_, Prim("null")) => strip(a)
    case (Rec(xs), Rec(ys)) =>
      val names = (xs.map(_._1) ++ ys.map(_._1)).distinct
      Rec(names.map { n =>
        (xs.find(_._1 == n), ys.find(_._1 == n)) match {
          case (Some((_, x)), Some((_, y))) => n -> fuse(x, y)
          case (Some((_, x)), None) => n -> x
          case (None, Some((_, y))) => n -> y
          case _ => n -> Prim("null")
        }
      })
    case (Arr(x), Arr(y)) => Arr(fuse(x, y))
    case (SetT(x), SetT(y)) => SetT(fuse(x, y))
    case (MapT(kx, vx), MapT(ky, vy)) => MapT(fuse(kx, ky), fuse(vx, vy))
    case (x, y) => unify(x, y)
  }

  def unify(a: ZType, b: ZType): ZType = {
    if (a == b) return a
    (a, b) match {
      case (Prim("null"), y) => y
      case (x, Prim("null")) => x
      // zed containers never merge record types — distinct element types
      // form a union (complex.go LookupTypeUnion); only identical types
      // and untyped nulls collapse. NAMED types stay distinct even under
      // one name bound to different bodies (redefined-named-types ztest:
      // the union keeps both `foo=` alternatives).
      case (Arr(x), Arr(y)) => Arr(unify(x, y))
      case (SetT(x), SetT(y)) => SetT(unify(x, y))
      case (Union(xs), Union(ys)) => mkUnion(xs ++ ys)
      case (Union(xs), y) => mkUnion(xs :+ y)
      case (x, Union(ys)) => mkUnion(x +: ys)
      // same underlying type, one side named: collapse to the first
      // (frames carry one physical column either way)
      case (x, y) if strip(x) == strip(y) => x
      case (x, y) => mkUnion(Vector(x, y))
    }
  }

  /** Canonical union: distinct alternatives in the total type order
    * (complex.go LookupTypeUnion sorts member types).
    */
  private def mkUnion(alts: Vector[ZType]): ZType = {
    val ds = alts.distinct
    if (ds.length == 1) ds.head
    else Union(ds.sortWith((a, b) => ZValue.compareZTypes(a, b) < 0))
  }

  /** Canonical form: union members re-sorted into the total type order —
    * the normalization the reference's type context applies on creation
    * (complex.go LookupTypeUnion), so explicitly-written union type text
    * like `({x:string},{x:int64})` compares equal to its canonical form.
    */
  def canon(t: ZType): ZType = t match {
    case Named(n, i) => Named(n, canon(i))
    case Rec(fs) => Rec(fs.map { case (n, ft) => n -> canon(ft) })
    case Arr(e) => Arr(canon(e))
    case SetT(e) => SetT(canon(e))
    case MapT(k, v) => MapT(canon(k), canon(v))
    case Union(alts) =>
      Union(alts.map(canon).sortWith((a, b) => ZValue.compareZTypes(a, b) < 0))
    case ErrT(i) => ErrT(canon(i))
    case other => other
  }
}

sealed trait ZValue
object ZValue {
  final case class VNull(t: ZType) extends ZValue
  final case class VInt(v: Long, t: String) extends ZValue // int8..64, uint8..32
  final case class VUint64(v: BigDecimal) extends ZValue
  final case class VFloat(v: Double, t: String) extends ZValue // float16/32/64
  final case class VStr(v: String) extends ZValue
  final case class VBool(v: Boolean) extends ZValue
  final case class VBytes(v: Array[Byte]) extends ZValue
  final case class VTime(ns: Long) extends ZValue
  final case class VDur(ns: Long) extends ZValue
  final case class VIp(v: String) extends ZValue
  final case class VNet(v: String) extends ZValue
  final case class VTypeVal(text: String) extends ZValue
  final case class VEnum(sym: String) extends ZValue
  final case class VRec(fields: Vector[(String, ZValue)]) extends ZValue
  final case class VArr(items: Vector[ZValue], isSet: Boolean) extends ZValue
  final case class VMap(entries: Vector[(ZValue, ZValue)]) extends ZValue
  final case class VErr(value: ZValue) extends ZValue
  /** decorator-applied value: the decorator type is authoritative (zson.md §2.2) */
  final case class VTyped(v: ZValue, t: ZType) extends ZValue

  import ZType._

  def errMissing: ZValue = VErr(VStr("missing"))

  /** Net values canonicalize by masking host bits (`1::/8` → `::/8`),
    * matching the reference's netip.Prefix.Masked on decode.
    */
  def netOf(s: String): VNet = VNet(graft.functions.ZedFunctions.canonNetText(s))

  def typeOf(v: ZValue): ZType = v match {
    case VTyped(_, t) => t
    case VNull(t) => t
    case VInt(_, t) => Prim(t)
    case VUint64(_) => Prim("uint64")
    case VFloat(_, t) => Prim(t)
    case VStr(_) => Prim("string")
    case VBool(_) => Prim("bool")
    case VBytes(_) => Prim("bytes")
    case VTime(_) => Prim("time")
    case VDur(_) => Prim("duration")
    case VIp(_) => Prim("ip")
    case VNet(_) => Prim("net")
    case VTypeVal(_) => Prim("type")
    case VEnum(s) => EnumT(Vector(s))
    case VRec(fs) => Rec(fs.map { case (n, fv) => n -> typeOf(fv) })
    case VArr(items, isSet) =>
      val et = items.map(typeOf).foldLeft(nullT)(unify)
      if (isSet) SetT(et) else Arr(et)
    case VMap(es) =>
      MapT(es.map(e => typeOf(e._1)).foldLeft(nullT)(unify),
        es.map(e => typeOf(e._2)).foldLeft(nullT)(unify))
    case VErr(inner) => ErrT(typeOf(inner))
  }

  def unwrap(v: ZValue): ZValue = v match { case VTyped(i, _) => unwrap(i); case other => other }

  /** zed set semantics: dedupe and store in canonical order. The
    * reference sorts by the zcode tag-and-body BYTES (complex.go
    * NormalizeSet:268-288): null (tag 0) first, then shorter encodings
    * before longer (the tag is a length uvarint), then body bytes.
    */
  private val primIds: Map[String, Int] = Map(
    "uint8" -> 0, "uint16" -> 1, "uint32" -> 2, "uint64" -> 3,
    "int8" -> 6, "int16" -> 7, "int32" -> 8, "int64" -> 9,
    "duration" -> 12, "time" -> 13, "float16" -> 14, "float32" -> 15,
    "float64" -> 16, "decimal" -> 17, "bool" -> 23, "bytes" -> 24,
    "string" -> 25, "ip" -> 26, "net" -> 27, "type" -> 28, "null" -> 29)

  private def kindRank(t: ZType): Int = ZType.strip(t) match {
    case ZType.Prim(_) => 0
    case _: ZType.Rec => 1
    case _: ZType.Arr => 2
    case _: ZType.SetT => 3
    case _: ZType.MapT => 4
    case _: ZType.Union => 5
    case _: ZType.EnumT => 6
    case _: ZType.ErrT => 7
  }

  /** Approximation of the reference's total type order (type.go
    * CompareTypes:396-477): kind first, then per-kind structure; a named
    * type orders after its underlying type, two named types by name.
    */
  def compareZTypes(a: ZType, b: ZType): Int = {
    if (ZType.strip(a) == ZType.strip(b)) (a, b) match {
      case (ZType.Named(an, _), ZType.Named(bn, _)) => an.compareTo(bn)
      case (ZType.Named(_, _), _) => 1
      case (_, ZType.Named(_, _)) => -1
      case _ => 0
    } else {
      val kc = Integer.compare(kindRank(a), kindRank(b))
      if (kc != 0) kc
      else (ZType.strip(a), ZType.strip(b)) match {
        case (ZType.Prim(pa), ZType.Prim(pb)) =>
          Integer.compare(primIds.getOrElse(pa, 99), primIds.getOrElse(pb, 99))
        case (ZType.Rec(fa), ZType.Rec(fb)) =>
          val nc = Integer.compare(fa.length, fb.length)
          if (nc != 0) nc
          else {
            fa.zip(fb).foreach { case ((na, _), (nb, _)) =>
              val c = na.compareTo(nb); if (c != 0) return c
            }
            fa.zip(fb).foreach { case ((_, ta), (_, tb)) =>
              val c = compareZTypes(ta, tb); if (c != 0) return c
            }
            0
          }
        case (ZType.Arr(ea), ZType.Arr(eb)) => compareZTypes(ea, eb)
        case (ZType.SetT(ea), ZType.SetT(eb)) => compareZTypes(ea, eb)
        case (ZType.MapT(ka, va), ZType.MapT(kb, vb)) =>
          val c = compareZTypes(ka, kb); if (c != 0) c else compareZTypes(va, vb)
        case (ZType.Union(aa), ZType.Union(ab)) =>
          val nc = Integer.compare(aa.length, ab.length)
          if (nc != 0) nc
          else aa.zip(ab).map { case (x, y) => compareZTypes(x, y) }.find(_ != 0).getOrElse(0)
        case (ZType.EnumT(sa), ZType.EnumT(sb)) =>
          val nc = Integer.compare(sa.length, sb.length)
          if (nc != 0) nc
          else sa.zip(sb).map { case (x, y) => x.compareTo(y) }.find(_ != 0).getOrElse(0)
        case (ZType.ErrT(ia), ZType.ErrT(ib)) => compareZTypes(ia, ib)
        case _ => 0
      }
    }
  }

  /** Order-preserving binary key for SORTING TYPE VALUES: byte-wise
    * comparison of keys reproduces the reference's total type order
    * (type.go CompareTypes:396-477 — kind first, primitives by ID,
    * records by arity/names/field-types, named types after their
    * underlying type then by name). Unions canonicalize (sort members)
    * before encoding, as the reference's type context does on creation.
    */
  def typeSortKey(text: String): Array[Byte] = {
    val parsed =
      try ZType.canon(ZsonParser.parseType(text))
      catch { case _: Exception => return text.getBytes("UTF-8") }
    val out = new java.io.ByteArrayOutputStream()
    def be4(n: Int): Unit = {
      out.write(n >>> 24); out.write((n >>> 16) & 0xff)
      out.write((n >>> 8) & 0xff); out.write(n & 0xff)
    }
    def str0(s: String): Unit = { out.write(s.getBytes("UTF-8")); out.write(0) }
    def enc(t0: ZType): Unit = {
      val named = t0 match { case ZType.Named(n, _) => Some(n); case _ => None }
      ZType.strip(t0) match {
        case ZType.Prim(p) => out.write(0); out.write(primIds.getOrElse(p, 99))
        case ZType.Rec(fs) =>
          out.write(1); be4(fs.length); fs.foreach(f => str0(f._1)); fs.foreach(f => enc(f._2))
        case ZType.Arr(e) => out.write(2); enc(e)
        case ZType.SetT(e) => out.write(3); enc(e)
        case ZType.MapT(k, v) => out.write(4); enc(k); enc(v)
        case ZType.Union(alts) => out.write(5); be4(alts.length); alts.foreach(enc)
        case ZType.EnumT(ss) => out.write(6); be4(ss.length); ss.foreach(str0)
        case ZType.ErrT(i) => out.write(7); enc(i)
        case ZType.Named(_, _) => // unreachable after strip
      }
      named match { case Some(n) => out.write(1); str0(n); case None => out.write(0) }
    }
    enc(parsed)
    out.toByteArray
  }

  /** Order-preserving byte key for sorting RECORD values: the reference
    * comparator falls back to raw zcode byte comparison for records
    * (sort.go compareValues:234 bytes.Compare), where every nested field
    * is tag-length-prefixed — so records with shorter encodings order
    * before longer ones at the first differing field.
    */
  /** Type-rank key for a rendered value: the reference comparator orders
    * values of DIFFERENT types by CompareTypes before comparing content
    * (sort.go compareValues:190) — a record with a null field is a
    * different record type and sorts after (null type id 29).
    */
  def valueTypeKey(zsonText: String): Array[Byte] = {
    val v = try new ZsonParser(zsonText).parseOne()
            catch { case _: Exception => return Array.emptyByteArray }
    typeSortKey(ZType.fullText(typeOf(v)))
  }

  def recordSortKey(zsonText: String): Array[Byte] = {
    val v = try new ZsonParser(zsonText).parseOne()
            catch { case _: Exception => return zsonText.getBytes("UTF-8") }
    val out = new java.io.ByteArrayOutputStream()
    def body(x: ZValue): Array[Byte] = unwrap(x) match {
      case VRec(fs) =>
        val o = new java.io.ByteArrayOutputStream()
        fs.foreach { f =>
          val fb = body(f._2)
          if (fb == null) o.write(0)
          else { o.write(uvarintLE(fb.length + 1)); o.write(fb) }
        }
        o.toByteArray
      case VArr(items, _) =>
        val o = new java.io.ByteArrayOutputStream()
        items.foreach { e =>
          val eb = body(e)
          if (eb == null) o.write(0)
          else { o.write(uvarintLE(eb.length + 1)); o.write(eb) }
        }
        o.toByteArray
      case VMap(es) =>
        val o = new java.io.ByteArrayOutputStream()
        es.foreach { case (k, vv) =>
          Seq(k, vv).foreach { e =>
            val eb = body(e)
            if (eb == null) o.write(0)
            else { o.write(uvarintLE(eb.length + 1)); o.write(eb) }
          }
        }
        o.toByteArray
      case VNull(_) => null
      case other => encKey(other)
    }
    val b = body(v)
    if (b != null) out.write(b)
    out.toByteArray
  }

  /** zed map normalization (complex.go NormalizeMap): entries sort by
    * encoded KEY bytes, duplicate keys keep the LAST value.
    */
  def normMap(es: Vector[(ZValue, ZValue)]): Vector[(ZValue, ZValue)] = {
    // key identity is (TYPE, bytes): 0(int64) and 0(uint64) are distinct
    // keys (complex.go NormalizeMap over tagged encodings)
    val lastWins = scala.collection.mutable.LinkedHashMap.empty[(String, Seq[Byte]), (ZValue, ZValue)]
    es.foreach { case (k, v) =>
      val id =
        if (unwrap(k).isInstanceOf[VNull]) ("null", Seq.empty[Byte]) // nulls collapse
        else (ZType.fullText(typeOf(k)), encKey(k).toSeq)
      lastWins(id) = (k, v) }
    lastWins.toVector.sortWith { case (((ta, a), _), ((tb, b), _)) =>
      val cmp = a.indices.view.map(i =>
        if (i >= b.length) 1
        else java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff))
        .find(_ != 0).getOrElse(Integer.compare(a.length, b.length))
      if (cmp != 0) cmp < 0 else ta < tb
    }.map(_._2)
  }

  def normSet(items: Vector[ZValue]): Vector[ZValue] = {
    // heterogeneous element types form a union: each element's stored
    // encoding is [selector][value] with members in CompareTypes order,
    // which changes the byte order the set normalization sorts by
    val nonNullTypes = items.collect {
      case v if !unwrap(v).isInstanceOf[VNull] => typeOf(v)
    }.distinct
    val members = nonNullTypes.sortWith((a, b) => compareZTypes(a, b) < 0)
    def keyOf(v: ZValue): Array[Byte] =
      if (members.length <= 1 || unwrap(v).isInstanceOf[VNull]) encKey(v)
      else {
        val sel = members.indexOf(typeOf(v)).max(0).toLong
        val selBytes = ZngIO.signedBytes(sel)
        val selTagged =
          if (selBytes.isEmpty) Array[Byte](1)
          else uvarintLE(selBytes.length + 1) ++ selBytes
        val body = selTagged ++ encKey(v)
        uvarintLE(body.length + 1) ++ body
      }
    val keyed = items.map(v => (keyOf(v), v))
    val ord = new Ordering[Array[Byte]] {
      def compare(a: Array[Byte], b: Array[Byte]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(a.length, b.length)
      }
    }
    keyed.sortBy(_._1)(ord)
      .distinctBy(k => k._1.toSeq)
      .map(_._2)
  }

  /** Approximate zcode tag-and-body encoding of a value, for set order. */
  private def encKey(v0: ZValue): Array[Byte] = {
    val v = unwrap(v0)
    def uvarBytes(n0: BigInt): Array[Byte] = {
      var n = n0
      val buf = Array.newBuilder[Byte]
      while (n != 0) { buf += (n & 0xff).toByte; n >>= 8 }
      buf.result()
    }
    def container(vs: Vector[ZValue]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      vs.foreach(x => out.write(encKey(x)))
      out.toByteArray
    }
    val body: Array[Byte] = v match {
      case VNull(_) => null
      case VBool(b) => Array[Byte](if (b) 1 else 0)
      case VInt(n, t) if t.startsWith("uint") => uvarBytes(BigInt(n))
      case VInt(n, _) => ZngIO.signedBytes(n)
      case VUint64(n) => uvarBytes(n.toBigInt)
      case VFloat(d, _) =>
        val bits = java.lang.Double.doubleToLongBits(d)
        Array.tabulate(8)(i => ((bits >>> (8 * i)) & 0xff).toByte)
      case VStr(s) => s.getBytes("UTF-8")
      case VTime(ns) => ZngIO.signedBytes(ns)
      case VDur(ns) => ZngIO.signedBytes(ns)
      case VIp(s) => ZngIO.ipBody(s)
      case VNet(s) =>
        val cut = s.lastIndexOf('/')
        if (cut > 0) ZngIO.ipBody(s.substring(0, cut)) ++ uvarBytes(BigInt(s.substring(cut + 1)))
        else s.getBytes("UTF-8")
      case VBytes(b) => b
      case VEnum(sym) => sym.getBytes("UTF-8")
      case VTypeVal(t) => t.getBytes("UTF-8")
      case r: VRec => container(r.fields.map(_._2))
      case VArr(elems, _) => container(elems)
      case VMap(es) => container(es.flatMap { case (k, x) => Vector(k, x) })
      case VErr(inner) => encKey(inner).drop(0) // error body = payload encoding
      case VTyped(_, _) => null
    }
    if (body == null) Array[Byte](0)
    else {
      val tag = uvarintLE(body.length + 1)
      tag ++ body
    }
  }

  private def uvarintLE(n0: Long): Array[Byte] = {
    var n = n0
    val buf = Array.newBuilder[Byte]
    while ((n & ~0x7fL) != 0) { buf += ((n & 0x7f) | 0x80).toByte; n >>>= 7 }
    buf += n.toByte
    buf.result()
  }

  // ---- canonical ZSON text ---------------------------------------------------

  /** ZSON string escaping (zson/escape.go QuotedString, sans quotes):
    * named escapes for the JSON control set, \u00XX for other ASCII
    * control codes, everything printable verbatim.
    */
  private def escape(s: String): String = {
    // fast path: nothing to escape (the overwhelmingly common case on
    // per-row render paths) — no StringBuilder, no copy
    var j = 0
    while (j < s.length && { val c = s.charAt(j)
        c != '\\' && c != '"' && c >= ' ' }) j += 1
    if (j == s.length) return s
    val sb = new StringBuilder
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  def timeText(ns: Long): String = ZFormat.rfc3339Nano(ns)

  /** Canonical duration text — the reference has ONE formatter
    * (pkg/nano/duration.go String) used for values and map keys alike.
    */
  def durText(ns: Long): String = ZFormat.durHuman(ns)

  /** ZSON float text; `bits` = 32 gives float32's shortest digits. */
  private[sources] def floatText(d: Double, bits: Int = 64): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "+Inf"
    else if (d.isNegInfinity) "-Inf"
    else if (d == Math.floor(d) && Math.abs(d) < 1e15) s"${d.toLong}."
    else {
      // Go strconv 'g' shortest (zson/formatter.go FormatFloat) — the
      // implied-float dot appends only when no '.'/'e' marks it float
      val s = ZFormat.goG(d, bits)
      if (s.exists(c => c == '.' || c == 'e')) s else s + "."
    }

  /** Render a VARIANT ROW (Het.variantType or a 6-slot leaf) to canonical
    * ZSON text — the row-level twin of zsonText, used to reconstruct a
    * container's text from its native caches when the eager `z` shadow
    * was dropped at construction (the lazy-z carrier: text exists only at
    * output/equality/order boundaries, not in storage or shuffles).
    * Containers render from `a`/`m`; members use their leaf payloads,
    * with nested-container members falling back to their own leaf `z`
    * (kept eager one level down).
    */
  // cheap byte-level probes for the verbatim-z fast path below
  private val enumPrefixU = org.apache.spark.unsafe.types.UTF8String.fromString("enum")
  private val typeTextU = org.apache.spark.unsafe.types.UTF8String.fromString("type")

  def renderVariantRow(r: org.apache.spark.sql.catalyst.InternalRow): org.apache.spark.unsafe.types.UTF8String = {
    // verbatim-z fast path: when the stored text IS the canonical render
    // (numbers/times with exact text, containers that kept their eager
    // shadow), return the UTF8String slot directly — the generic path
    // paid a full UTF8String→String→UTF8String round trip per row on
    // render-heavy paths (canonical equality, writers, text fallbacks)
    if (r != null && !r.isNullAt(5)) {
      val k = if (r.isNullAt(0)) -1 else r.getInt(0)
      if (k == 0 || k == 1) return r.getUTF8String(5)
      if (k != 2 && k != 3 && k != 5) {
        val t = if (r.isNullAt(4)) null else r.getUTF8String(4)
        if (t == null || (!t.startsWith(enumPrefixU) && !t.equals(typeTextU)))
          return r.getUTF8String(5)
      }
    }
    if (r == null) return org.apache.spark.unsafe.types.UTF8String.fromString("null")
    // byte-domain render straight to UTF8String — no String round trip
    val sb = renderSb.get()
    sb.reset()
    renderVariantInto(sb, r)
    sb.toUTF8
  }

  private val fixedMicroFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  // bounded type-text → union-typed-field cache for renderVariantStr
  private val unionFieldsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  private def unionFieldsOf(t: String): Map[String, String] = {
    val cached = unionFieldsCache.get(t)
    if (cached != null) return cached
    val computed =
      try ZType.strip(ZsonParser.parseType(t)) match {
        case ZType.Rec(fs) =>
          fs.collect {
            case (n, ft) if ZType.strip(ft).isInstanceOf[ZType.Union] =>
              n -> ZType.fullText(ZType.strip(ft))
          }.toMap
        case _ => Map.empty[String, String]
      } catch { case _: Exception => Map.empty[String, String] }
    if (unionFieldsCache.size() > 4096) unionFieldsCache.clear()
    unionFieldsCache.put(t, computed)
    computed
  }


  /** Growable byte buffer for the render path: variant slots are
    * UTF8String, so rendering in the BYTE domain appends them verbatim —
    * no UTF-16 decode per slot and no final re-encode when the consumer
    * wants a UTF8String (the hot VariantAccess.render case). One instance
    * per thread (render is not reentrant); outputs copy out of the buffer.
    */
  private final class ByteSb {
    private var buf = new Array[Byte](256)
    var len = 0
    def reset(): Unit = {
      len = 0
      if (buf.length > (1 << 20)) buf = new Array[Byte](256)
    }
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length << 1
        while (cap < len + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def byte(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }
    /** ASCII-only input (digits, punctuation, keywords, float/time texts). */
    def ascii(s: String): Unit = {
      val n = s.length; ensure(n); var i = 0
      while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
      len += n
    }
    def str(s: String): Unit = { // general UTF-8 encode (decorator texts)
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ensure(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length
    }
    def utf8(u: org.apache.spark.unsafe.types.UTF8String): Unit = {
      val n = u.numBytes; ensure(n)
      u.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
      len += n
    }
    def toUTF8: org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromBytes(
        java.util.Arrays.copyOf(buf, len))
    override def toString: String =
      new String(buf, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  private val renderSb = new ThreadLocal[ByteSb] {
    override def initialValue(): ByteSb = new ByteSb
  }

  def renderVariantStr(r: org.apache.spark.sql.catalyst.InternalRow): String = {
    if (r == null) return "null"
    val sb = renderSb.get()
    sb.reset()
    renderVariantInto(sb, r)
    sb.toString
  }

  /** Escape-append (zson string escapes) in the byte domain: the escaped
    * characters are all ASCII and bytes < 0x20 are standalone code points
    * in valid UTF-8, so byte-level escaping equals the char-level form;
    * multi-byte sequences pass through verbatim.
    */
  private def appendEscaped(sb: ByteSb, u: org.apache.spark.unsafe.types.UTF8String): Unit = {
    val n = u.numBytes
    var i = 0
    while (i < n) {
      val b = u.getByte(i)
      if (b == '\\') sb.ascii("\\\\")
      else if (b == '"') sb.ascii("\\\"")
      else if (b == '\b') sb.ascii("\\b")
      else if (b == '\f') sb.ascii("\\f")
      else if (b == '\n') sb.ascii("\\n")
      else if (b == '\r') sb.ascii("\\r")
      else if (b == '\t') sb.ascii("\\t")
      else if (b >= 0 && b < ' ') sb.ascii(f"\\u${b.toInt}%04x")
      else sb.byte(b)
      i += 1
    }
  }

  /** fieldName in the byte domain: same ^[A-Za-z_][A-Za-z0-9_]*$ predicate
    * (non-ASCII bytes fail it, as non-ASCII chars did), and the quoted form
    * escapes ONLY backslash and quote, as ZType.fieldName does.
    */
  private def appendFieldName(sb: ByteSb, u: org.apache.spark.unsafe.types.UTF8String): Unit = {
    val n = u.numBytes
    var ident = n > 0
    var i = 0
    while (ident && i < n) {
      val b = u.getByte(i)
      ident = b == '_' || (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
        (i > 0 && b >= '0' && b <= '9')
      i += 1
    }
    if (ident) sb.utf8(u)
    else {
      sb.byte('"')
      i = 0
      while (i < n) {
        val b = u.getByte(i)
        if (b == '\\') sb.ascii("\\\\")
        else if (b == '"') sb.ascii("\\\"")
        else sb.byte(b)
        i += 1
      }
      sb.byte('"')
    }
  }

  private val nullTextU = org.apache.spark.unsafe.types.UTF8String.fromString("null")

  private val floatPrefixU = org.apache.spark.unsafe.types.UTF8String.fromString("float")
  private val decimalTextU = org.apache.spark.unsafe.types.UTF8String.fromString("decimal")
  private val float32TextU = org.apache.spark.unsafe.types.UTF8String.fromString("float32")
  private val setOpenU = org.apache.spark.unsafe.types.UTF8String.fromString("|[")
  private val mapOpenU = org.apache.spark.unsafe.types.UTF8String.fromString("|{")
  private val parenU = org.apache.spark.unsafe.types.UTF8String.fromString("(")

  /** Append the canonical text of a variant/leaf row; returns true iff the
    * appended text was exactly "null" (drives the union-decorator rule).
    * Threading one builder through the tree replaces the previous
    * String-per-member recursion — on render-heavy per-row paths members'
    * s/t/z slots were each materialized as Strings even when unused.
    */
  private def renderVariantInto(
      sb: ByteSb,
      r: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    if (r == null) { sb.ascii("null"); return true }
    val w = r.numFields
    val k = if (r.isNullAt(0)) -1 else r.getInt(0)
    val zU = if (r.isNullAt(5)) null else r.getUTF8String(5)
    val a = if (w < 7 || r.isNullAt(6)) null else r.getArray(6)
    val m = if (w < 8 || r.isNullAt(7)) null else r.getArray(7)
    val sNull = r.isNullAt(2)
    if (r.isNullAt(1) && sNull && r.isNullAt(3) && zU == null && a == null && m == null) {
      sb.ascii("null") // typed null: kind set, every payload absent
      return true
    }
    k match {
      case 5 =>
        sb.ascii("error(")
        if (zU == null) sb.ascii("null") else sb.utf8(zU)
        sb.byte(')')
        false
      case 0 =>
        if (zU != null) sb.utf8(zU)
        else {
          val t = if (r.isNullAt(4)) null else r.getUTF8String(4)
          if (t != null && (t.startsWith(floatPrefixU) || t.equals(decimalTextU)))
            sb.ascii(floatText(r.getDouble(1), if (t.equals(float32TextU)) 32 else 64))
          else sb.ascii(java.lang.Long.toString(r.getDouble(1).toLong))
        }
        false
      case 1 =>
        if (zU != null) sb.utf8(zU)
        else {
          // fixed 6-digit fraction — the format the Column render always
          // used for cache-era time variants (ns-exact times carry z)
          val micros = Math.round(r.getDouble(1) * 1e6)
          sb.ascii(fixedMicroFmt.format(java.time.Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)))
        }
        false
      case 2 =>
        sb.byte('"'); appendEscaped(sb, r.getUTF8String(2)); sb.byte('"')
        false
      case 3 =>
        sb.ascii(if (r.getBoolean(3)) "true" else "false")
        false
      case _ =>
        val t = if (r.isNullAt(4)) null else r.getUTF8String(4)
        if (t != null && t.startsWith(enumPrefixU)) {
          sb.byte('%'); if (!sNull) sb.utf8(r.getUTF8String(2))
          false
        } else if (t != null && t.equals(typeTextU)) {
          sb.byte('<'); if (!sNull) sb.utf8(r.getUTF8String(2)); sb.byte('>')
          false
        } else if (zU != null) {
          sb.utf8(zU)
          zU.equals(nullTextU)
        } else if (a != null) {
          val isSet = t != null && t.startsWith(setOpenU)
          sb.ascii(if (isSet) "|[" else "[")
          var i = 0
          val ne = a.numElements()
          while (i < ne) {
            if (i > 0) sb.byte(',')
            if (a.isNullAt(i)) sb.ascii("null")
            else renderVariantInto(sb, a.getStruct(i, 6))
            i += 1
          }
          sb.ascii(if (isSet) "]|" else "]")
          false
        } else if (m != null) {
          val isMap = t != null && t.startsWith(mapOpenU)
          // union-typed record fields need their member DECORATED in the
          // text (x:"foo"((int64,string))) — the leaf caches alone can't
          // witness the union; resolved from the variant's own t
          val unions =
            if (!isMap && t != null && t.contains(parenU)) unionFieldsOf(t.toString)
            else Map.empty[String, String]
          sb.ascii(if (isMap) "|{" else "{")
          var i = 0
          val ne = m.numElements()
          while (i < ne) {
            val e = m.getStruct(i, 2)
            if (i > 0) sb.byte(',')
            val nameU = if (e.isNullAt(0)) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
              else e.getUTF8String(0)
            if (isMap) { sb.byte('"'); appendEscaped(sb, nameU); sb.byte('"') }
            else appendFieldName(sb, nameU)
            sb.byte(':')
            if (e.isNullAt(1)) sb.ascii("null")
            else {
              val wasNull = renderVariantInto(sb, e.getStruct(1, 6))
              if (!wasNull && unions.nonEmpty) unions.get(nameU.toString).foreach { ut =>
                sb.byte('('); sb.str(ut); sb.byte(')')
              }
            }
            i += 1
          }
          sb.ascii(if (isMap) "}|" else "}")
          false
        } else if (!sNull) {
          val sU = r.getUTF8String(2)
          sb.utf8(sU)
          sU.equals(nullTextU)
        } else { sb.ascii("null"); true }
    }
  }

  /** Serialize a value as ZSON text (decorators omitted — the canonical
    * value form; type info travels in the `__type` tag / variant t field).
    */
  def zsonText(v: ZValue): String = v match {
    case VTyped(i, _) => zsonText(i)
    case VNull(_) => "null"
    case VInt(n, _) => n.toString
    case VUint64(n) => n.toBigInt.toString
    case VFloat(d, t) => floatText(d, if (t == "float32") 32 else 64)
    case VStr(s) => "\"" + escape(s) + "\""
    case VBool(b) => b.toString
    case VBytes(b) => "0x" + b.map(x => f"$x%02x").mkString
    case VTime(ns) => timeText(ns)
    case VDur(ns) => durText(ns)
    case VIp(s) => s
    case VNet(s) => s
    case VTypeVal(t) => s"<$t>" // type VALUES are <…> in zson text
    case VEnum(s) => "%" + s
    case VRec(fs) => fs.map { case (n, fv) => s"${ZType.fieldName(n)}:${zsonText(fv)}" }.mkString("{", ",", "}")
    case VArr(items, false) => items.map(zsonText).mkString("[", ",", "]")
    case VArr(items, true) => items.map(zsonText).mkString("|[", ",", "]|")
    case m @ VMap(es) =>
      // UNION-keyed maps keep non-implied member decorators: entries
      // distinct only by key type (0 vs 0(uint64) vs 0(=t)) would collapse
      // when this text is re-parsed (zson/formatter.go decorated keys);
      // homogeneous maps stay bare — the map type implies the key type
      val unionKeys = ZType.strip(typeOf(m)) match {
        case MapT(k, _) => ZType.strip(k).isInstanceOf[Union]
        case _ => false
      }
      es.map { case (k, x) =>
      val kt = k match {
        case VUint64(n) if unionKeys => n.toBigInt.toString + "(uint64)"
        case VInt(n, t) if unionKeys && t != "int64" => s"$n($t)"
        case VFloat(d, t) if unionKeys && t != "float64" => zsonText(VFloat(d, t)) + s"($t)"
        case VTyped(i, ZType.Named(nm, _)) if unionKeys => zsonText(i) + "(=" + nm + ")"
        case other => zsonText(other)
      }
      // an IPv6 map key needs whitespace before the ':' separator
      // (zson/formatter.go formatMap — `::1:…` would be ambiguous)
      val isIp6 = (k match {
        case VIp(a) => a.contains(":")
        case VTyped(VIp(a), _) => a.contains(":")
        case _ => false
      })
      val sep = if (isIp6 || kt.endsWith(":")) " :" else ":"
      s"$kt$sep${zsonText(x)}"
    }.mkString("|{", ",", "}|")
    case VErr(inner) => s"error(${zsonText(inner)})"
  }

  // ---- Spark mapping ---------------------------------------------------------

  /** Relational type for a zed type. Ints stay Long (zed's widest signed),
    * uint64 needs Decimal(20,0); unions and errors become variant columns.
    */
  def sparkTypeOf(t: ZType): DataType = sparkTypeOf(t, nsTime = false)

  /** With `nsTime` the time carrier is the raw ns long instead of Spark's
    * µs TimestampType — frames escalate when any input time has sub-µs
    * precision (zed is ns end-to-end: nano.Ts, value.go:84; Spark's
    * timestamp would silently truncate). Writers reconstruct VTime from
    * either carrier via the shape's zed type.
    */
  def sparkTypeOf(t: ZType, nsTime: Boolean): DataType = ZType.strip(t) match {
    case Prim("int8") | Prim("int16") | Prim("int32") | Prim("int64") |
         Prim("uint8") | Prim("uint16") | Prim("uint32") => LongType
    case Prim("uint64") => DecimalType(20, 0)
    case Prim("float16") | Prim("float32") | Prim("float64") | Prim("decimal") => DoubleType
    case Prim("bool") => BooleanType
    case Prim("string") => StringType
    case Prim("time") => if (nsTime) LongType else TimestampType
    case Prim("duration") => LongType
    case Prim("bytes") => BinaryType
    case Prim("ip") | Prim("net") | Prim("type") => StringType
    case Prim("null") => NullType
    case EnumT(_) => StringType
    case Rec(fs) => StructType(fs.map { case (n, ft) => StructField(n, sparkTypeOf(ft, nsTime)) })
    case Arr(e) => ArrayType(sparkTypeOf(e, nsTime))
    case SetT(e) => ArrayType(sparkTypeOf(e, nsTime))
    // Spark maps forbid NULL keys — a null-keyed zed map rides as a
    // boxed value instead
    case MapT(k, _) if ZType.strip(k) == Prim("null") => Het.variantType
    case MapT(k, v) => MapType(sparkTypeOf(k, nsTime), sparkTypeOf(v, nsTime))
    case Union(_) | ErrT(_) => Het.variantType
    case Prim(_) => StringType
  }

  /** Does any time value in the tree carry sub-µs precision? (drives the
    * frame's ns-long carrier escalation)
    */
  def hasSubMicroTime(v: ZValue): Boolean = v match {
    case VTime(ns) => ns % 1000L != 0
    case VTyped(i, _) => hasSubMicroTime(i)
    case VErr(i) => hasSubMicroTime(i)
    case VRec(fs) => fs.exists(f => hasSubMicroTime(f._2))
    case VArr(items, _) => items.exists(hasSubMicroTime)
    case VMap(es) => es.exists(e => hasSubMicroTime(e._1) || hasSubMicroTime(e._2))
    case _ => false
  }

  /** Merge the relational schemas of two shapes: agreeing fields stay
    * native, conflicts become variant columns (zed's union type at the
    * column level), missing fields are nullable.
    */
  def mergeSpark(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    // a variant is atomic: merging it with anything non-identical stays a
    // variant (the other side boxes) — field-merging its k/n/s/b/t/z
    // encoding with a record's fields would corrupt both
    case (x: StructType, _) if ZsonIO.isVariantType(x) => Het.variantType
    case (_, y: StructType) if ZsonIO.isVariantType(y) => Het.variantType
    case (x: StructType, y: StructType) =>
      val names = (x.fieldNames ++ y.fieldNames).distinct
      StructType(names.map { n =>
        (x.fields.find(_.name == n), y.fields.find(_.name == n)) match {
          case (Some(f), Some(g)) => StructField(n, mergeSpark(f.dataType, g.dataType))
          case (Some(f), None) => f
          case (None, Some(g)) => g
          case _ => StructField(n, NullType)
        }
      })
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(mergeSpark(x, y))
    case (MapType(kx, vx, _), MapType(ky, vy, _)) =>
      MapType(mergeSpark(kx, ky), mergeSpark(vx, vy))
    case _ => Het.variantType
  }

  /** Variant row encoding of any value (Het.variantType): the scalar leaf
    * {k,n,s,b,t,z} plus the native container caches — `a` for array/set
    * elements, `m` for record fields and string-keyed map entries — that
    * keep one level of index/len/get inside codegen.
    */
  def variantRow(v0: ZValue): Row = {
    val l = leafRow(v0)
    if (l == null) return null
    val (a, m) = unwrap(v0) match {
      case VArr(items, _) => (items.map(leafRow), null)
      case VRec(fs) => (null, fs.map { case (n, fv) => Row(n, leafRow(fv)) })
      case VMap(es) if es.forall(e => unwrap(e._1).isInstanceOf[VStr]) =>
        (null, es.map { case (k1, mv) =>
          Row(unwrap(k1).asInstanceOf[VStr].v, leafRow(mv)) })
      case _ => (null, null)
    }
    // deep cache (Het.variantType doc): NUL-joined record paths of depth
    // ≥2 so chained field access stays native. Children of a null nested
    // record are simply absent (lookups report missing).
    def deepOf(prefix: String, fv: ZValue): Seq[Row] = unwrap(fv) match {
      case VRec(sub) => sub.flatMap { case (nm, sv) =>
        val name = prefix + graft.operators.Het.pathSep + nm
        Row(name, leafRow(sv)) +: deepOf(name, sv)
      }
      case _ => Seq.empty
    }
    val d = unwrap(v0) match {
      case VRec(fs) =>
        val es = fs.flatMap { case (nm, fv) => deepOf(nm, fv) }
        if (es.isEmpty) null else es
      case _ => null
    }
    // lazy-z: a cached container's text reconstructs exactly from a/m
    // (renderVariantStr == zsonText member-by-member), so the eager text
    // shadow is dropped — render/equality re-derive it at boundaries
    val zz = if (a != null || m != null) null else l.get(5)
    Row(l.get(0), l.get(1), l.get(2), l.get(3), l.get(4), zz, a, m, d)
  }

  /** Leaf encoding {k,n,s,b,t,z} of any value (Het.leafType).
    * Kinds: 0 number, 1 time, 2 string, 3 bool, 4 other scalar/container,
    * 5 error — the cross-type total order (type.go CompareTypes).
    */
  def leafRow(v0: ZValue): Row = {
    // the t slot must be a COMPLETE, parseable type: named components
    // render their name=inner form so runtime consumers (fromVariantRow,
    // shapers) can reconstruct the zed type exactly. For a value carrying
    // a UNION decorator, t holds the MEMBER's own type (fromVariantRow's
    // stated contract): the union itself is re-established by the frame/
    // shape type at the boundaries, while the member identity — which the
    // k/n/s payload slots alone cannot witness (an int32 under a nested
    // (int32,string) member would otherwise coerce to a float64 member on
    // rebuild; union-decoration fuzz) — survives only here.
    val tText = v0 match {
      case VTyped(inner, t0) if ZType.strip(t0).isInstanceOf[ZType.Union] =>
        ZType.fullText(typeOf(inner))
      case _ => ZType.fullText(typeOf(v0))
    }
    unwrap(v0) match {
      // typed nulls keep their kind + type with all payloads null, so
      // string functions see k=2 and emit null rather than a type error
      case VNull(t) => ZType.strip(t) match {
        case ZType.Prim("null") => null
        case ZType.Union(_) => null
        case ZType.Prim(p) if p.startsWith("int") || p.startsWith("uint") ||
            p.startsWith("float") || p == "decimal" || p == "duration" =>
          Row(0, null, null, null, p, null)
        case ZType.Prim("time") => Row(1, null, null, null, "time", null)
        case ZType.Prim("string") => Row(2, null, null, null, "string", null)
        case ZType.Prim("bool") => Row(3, null, null, null, "bool", null)
        // a null of error type keeps the error kind with no payload
        case e: ZType.ErrT => Row(5, null, null, null, ZType.text(e), null)
        case other => Row(4, null, null, null, ZType.text(other), null)
      }
      // error(null) is the typed null of type error(null), not an error
      // carrying a null payload (complex.go TypeError)
      case VErr(VNull(_)) => Row(5, null, null, null, tText, null)
      // numbers beyond double precision carry their exact text in z
      // (the render path prefers z); times always do (ns fidelity)
      case VInt(n, t) =>
        // Long.MinValue: math.abs overflows to itself (negative) — it must
        // carry exact text (the neg fast path relies on z==null ⇒ safe)
        Row(0, n.toDouble, null, null, t,
          if (n == Long.MinValue || math.abs(n) > (1L << 53)) n.toString else null)
      case VUint64(n) =>
        Row(0, n.toDouble, null, null, "uint64",
          if (n > BigDecimal(1L << 53)) n.toBigInt.toString else null)
      case VFloat(d, t) => Row(0, d, null, null, t, null)
      case VDur(ns) => Row(0, ns.toDouble / 1e9, null, null, "duration", durText(ns))
      case VTime(ns) => Row(1, ns.toDouble / 1e9, null, null, "time", timeText(ns))
      case VStr(s) => Row(2, null, s, null, "string", null)
      case VBool(b) => Row(3, null, null, b, "bool", null)
      case VIp(s) => Row(4, null, s, null, "ip", null)
      case VNet(s) => Row(4, null, s, null, "net", null)
      case VBytes(b) => Row(4, null, "0x" + b.map(x => f"$x%02x").mkString, null, "bytes", null)
      case VEnum(s) => Row(4, null, s, null, tText, null)
      case VTypeVal(t) => Row(4, null, t, null, "type", null)
      case r: VRec => Row(4, null, null, null, tText, zsonText(r))
      case a: VArr => Row(4, null, null, null, tText, zsonText(a))
      case m: VMap => Row(4, null, null, null, tText, zsonText(m))
      case VErr(inner) => Row(5, null, null, null, tText, zsonText(inner))
      case VTyped(_, _) => null // unreachable after unwrap
    }
  }

  /** Convert a value into Spark's external row representation for the
    * target (merged) data type.
    */
  def toExternal(v0: ZValue, target: DataType): Any = {
    // variant boxing keeps the UNDECORATED value's decorator type — pass
    // the original so typeOf sees VTyped (an empty |[]|(|[string]|) must
    // box with t=|[string]|, not the value-derived |[null]|)
    if (target == Het.variantType) return variantRow(v0)
    val v = unwrap(v0)
    v match {
      case VNull(_) => null
      case VInt(n, _) => target match {
        case LongType => n
        case DoubleType => n.toDouble
        case _: DecimalType => new java.math.BigDecimal(n)
        case StringType => n.toString
        case _ => n
      }
      case VUint64(n) => target match {
        case _: DecimalType => n.bigDecimal
        case LongType => n.toLong
        case DoubleType => n.toDouble
        case _ => n.bigDecimal
      }
      case VFloat(d, _) => target match {
        case DoubleType => d
        case LongType => d.toLong
        case _: DecimalType => java.math.BigDecimal.valueOf(d)
        case _ => d
      }
      case VStr(s) => s
      case VBool(b) => b
      case VBytes(b) => b
      case VTime(ns) => target match {
        case LongType => ns // ns carrier (sub-µs-precision frames)
        case _ =>
          val ts = new java.sql.Timestamp(Math.floorDiv(ns, 1000000L))
          ts.setNanos(Math.floorMod(ns, 1000000000L).toInt)
          ts
      }
      case VDur(ns) => target match {
        case LongType => ns
        case DoubleType => ns.toDouble
        case _ => ns
      }
      case VIp(s) => s
      case VNet(s) => s
      case VTypeVal(t) => t
      case VEnum(s) => s
      case VRec(fs) => target match {
        case st: StructType =>
          Row(st.fields.toIndexedSeq.map { f =>
            fs.find(_._1 == f.name).map(x => toExternal(x._2, f.dataType)).orNull
          }: _*)
        case _ => zsonText(v)
      }
      case VArr(items, _) => target match {
        case ArrayType(et, _) => items.map(toExternal(_, et))
        case _ => zsonText(v)
      }
      case VMap(es) => target match {
        case MapType(kt, vt, _) =>
          es.map { case (k, x) => toExternal(k, kt) -> toExternal(x, vt) }.toMap
        case _ => zsonText(v)
      }
      case VErr(_) => zsonText(v) // only sensible into a string column
      case VTyped(_, _) => null
    }
  }

  /** Rebuild a typed value from a variant row {k,n,s,b,t,z} (the inverse
    * of variantRow, up to float-second time precision in `n`).
    */
  def fromVariantRow(r: Row): ZValue = {
    if (r == null) return VNull(ZType.Prim("null"))
    def parsedT: Option[ZType] = {
      val t = r.getAs[String]("t")
      // a t naming a Spark carrier ("decimal", the variant struct) is not
      // a zed type: the value's own stands
      def carrier(ty: ZType): Boolean = ZType.exists(ty) {
        case ZType.Prim(p) => p == "decimal"
        case ZType.Rec(fs) => fs.map(_._1).startsWith(graft.operators.Het.leafType.fieldNames)
        case _ => false
      }
      if (t == null) None
      else try Some(new ZsonParser(t).parseTypeText()).filterNot(carrier) catch { case _: Exception => None }
    }
    val n = r.getAs[Any]("n"); val s = r.getAs[String]("s")
    val b = r.getAs[Any]("b"); val z = r.getAs[String]("z")
    val k = r.getAs[Any]("k") match { case i: Int => i; case l: Long => l.toInt; case _ => 4 }
    // native caches (absent on 6-slot leaf rows; lazy-z containers carry
    // their value here instead of a text shadow)
    def seqField(name: String): scala.collection.Seq[Row] =
      if (r.schema != null && r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.getAs[scala.collection.Seq[Row]](name)
      else null
    val aCache = seqField("a"); val mCache = seqField("m")
    if (n == null && s == null && b == null && z == null &&
        aCache == null && mCache == null)
      return VNull(parsedT.getOrElse(ZType.Prim("null")))
    // a NAMED type decodes under its base, then re-wraps — keys/values
    // distinct only by their named decorator must survive the round-trip
    // (jsonio map-output: 0(=t) vs 0 vs 0(uint64))
    val namedT = parsedT.collect { case nt: ZType.Named => nt }
    val tName = namedT.map(nt => ZType.text(ZType.strip(nt)))
      .orElse(Option(r.getAs[String]("t"))).getOrElse("")
    val core = k match {
      case 5 =>
        val payload = try new ZsonParser(z).parseOne() catch { case _: Exception => VStr(z) }
        // the error's declared type types its payload (an ns count as a
        // duration), unless it is a query's union of what the payload may
        // be: a value is of its own type, not a member of that union
        parsedT.collect { case et: ZType.ErrT if !ZType.hasUnion(et) => et }
          .flatMap(et => try Some(ZsonParser.retype(VErr(payload), et)) catch { case _: Exception => None })
          .getOrElse(VErr(payload))
      case 0 =>
        val d = n.asInstanceOf[Double]
        tName match {
          case "duration" =>
            if (z != null)
              VDur(graft.functions.ZShaper.parseDurNs(z).getOrElse(math.round(d * 1e9)))
            else VDur(math.round(d * 1e9))
          case t if t.startsWith("float") || t == "decimal" => VFloat(d, if (t == "decimal") "float64" else t)
          case "uint64" =>
            VUint64(if (z != null) BigDecimal(z) else BigDecimal(d))
          case t if t.startsWith("int") || t.startsWith("uint") =>
            VInt(if (z != null) z.toLong else d.toLong, t)
          case _ => if (d == math.floor(d)) VInt(d.toLong, "int64") else VFloat(d, "float64")
        }
      case 1 =>
        if (z != null)
          try VTime(new ZsonParser(z).parseOne() match {
            case VTime(ns) => ns
            case _ => math.round(n.asInstanceOf[Double] * 1e9)
          }) catch { case _: Exception => VTime(math.round(n.asInstanceOf[Double] * 1e9)) }
        else VTime(math.round(n.asInstanceOf[Double] * 1e9))
      case 2 => VStr(s)
      case 3 => VBool(b.asInstanceOf[Boolean])
      case _ =>
        tName match {
          case "ip" => VIp(s)
          case "net" => ZValue.netOf(s)
          case "type" => VTypeVal(s)
          case "bytes" if s != null && s.startsWith("0x") =>
            VBytes(s.drop(2).sliding(2, 2).map(h => Integer.parseInt(h, 16).toByte).toArray)
          case t if t.startsWith("enum") =>
            parsedT.collect { case e: ZType.EnumT => VTyped(VEnum(s), e) }.getOrElse(VEnum(s))
          case _ if z == null && aCache != null =>
            // lazy-z container: rebuild elements from the native cache —
            // leaf t restores widths/named types the text couldn't carry
            val items = aCache.map(l =>
              if (l == null) VNull(ZType.Prim("null")) else fromVariantRow(l)).toVector
            // set-ness comes from the runtime type; a union t resolves to
            // its container member
            def containerOf(ty: ZType): Option[ZType] = ZType.strip(ty) match {
              case a: ZType.Arr => Some(a)
              case st: ZType.SetT => Some(st)
              case ZType.Union(alts) => alts.flatMap(a => containerOf(a)).headOption
              case _ => None
            }
            val declaredC = parsedT.flatMap(containerOf)
            val arr = VArr(items, isSet = tName.startsWith("|[") ||
              declaredC.exists(_.isInstanceOf[ZType.SetT]))
            parsedT match {
              case Some(ty) if ZType.text(typeOf(arr)) != ZType.text(ty) => VTyped(arr, ty)
              case _ => arr
            }
          case _ if z == null && mCache != null =>
            val isMap = tName.startsWith("|{")
            val built: ZValue =
              if (isMap) VMap(mCache.map { e =>
                val key: ZValue = VStr(e.getString(0))
                val value = if (e.isNullAt(1)) VNull(ZType.Prim("null"))
                            else fromVariantRow(e.getStruct(1))
                (key, value)
              }.toVector)
              else VRec(mCache.map { e =>
                e.getString(0) -> (if (e.isNullAt(1)) VNull(ZType.Prim("null")): ZValue
                                   else fromVariantRow(e.getStruct(1)))
              }.toVector)
            parsedT match {
              case Some(ty) if ZType.text(typeOf(built)) != ZType.text(ty) => VTyped(built, ty)
              case _ => built
            }
          case _ =>
            val parsed = try Some(new ZsonParser(z).parseOne()) catch { case _: Exception => None }
            (parsed, parsedT) match {
              case (Some(p), Some(ty)) if ZType.text(typeOf(p)) != ZType.text(ty) => VTyped(p, ty)
              case (Some(p), _) => p
              case (None, ty) => VNull(ty.getOrElse(ZType.Prim("null")))
            }
        }
    }
    namedT match {
      case Some(nt) if !core.isInstanceOf[VTyped] && !core.isInstanceOf[VNull] =>
        VTyped(core, nt)
      case _ => parsedT match {
        // a union t re-wraps so the member identity survives the decode
        case Some(u: ZType.Union)
            if !core.isInstanceOf[VTyped] && !core.isInstanceOf[VNull] =>
          VTyped(core, u)
        case _ => core
      }
    }
  }

  /** Convert a Spark external value back into a typed value, guided by
    * the zed type (the inverse of toExternal; the DataType resolves the
    * physical representation, the ZType restores zed fidelity — named
    * types, uint widths, durations-as-longs, sets).
    */
  def fromExternal(v: Any, dt: DataType, zt: ZType): ZValue = {
    val stripped = ZType.strip(zt)
    def wrap(inner: ZValue): ZValue = zt match {
      case n: ZType.Named => VTyped(unwrap(inner), n)
      case _ => inner
    }
    if (v == null) return VNull(zt)
    dt match {
      case st: StructType if ZsonIO.isVariantType(st) =>
        // re-apply the DECLARED type: a union/named member's identity is
        // not in the carrier (the t slot holds the member's own type)
        val dec = fromVariantRow(v.asInstanceOf[Row])
        return ZType.strip(zt) match {
          case _: ZType.Union if !typeOf(dec).isInstanceOf[ZType.Union] &&
              !(typeOf(dec) match {
                case ZType.Named(_, i) => i.isInstanceOf[ZType.Union]
                case _ => false
              }) =>
            try ZsonParser.retype(dec, zt) catch { case _: Exception => dec }
          case _ => dec
        }
      case _ =>
    }
    val out: ZValue = (dt, stripped) match {
      case (st: StructType, ZType.Rec(fs)) =>
        val row = v.asInstanceOf[Row]
        VRec(fs.map { case (fn, ft) =>
          val idx = try st.fieldIndex(fn) catch { case _: Exception => -1 }
          if (idx < 0 || row.isNullAt(idx)) fn -> VNull(ft)
          else fn -> fromExternal(row.get(idx), st.fields(idx).dataType, ft)
        })
      case (st: StructType, _) =>
        // no zed record type — derive from the Spark schema
        val row = v.asInstanceOf[Row]
        VRec(st.fields.toVector.zipWithIndex.map { case (f, idx) =>
          val fzt = try new ZsonParser(graft.functions.Shaper.zedTypeOf(f.dataType)).parseTypeText()
                    catch { case _: Exception => ZType.Prim("string") }
          if (row.isNullAt(idx)) f.name -> VNull(fzt)
          else f.name -> fromExternal(row.get(idx), f.dataType, fzt)
        })
      case (ArrayType(et, _), ZType.Arr(e)) =>
        val items = v.asInstanceOf[scala.collection.Seq[Any]].toVector.map(x => fromExternal(x, et, e))
        // empty and all-null arrays keep the declared element type via a
        // typed wrapper (the derived element type would collapse to null)
        if (items.isEmpty || items.forall(i => unwrap(i) match {
            case VNull(_) => true; case _ => false }))
          VTyped(VArr(items, false), stripped)
        else VArr(items, false)
      case (ArrayType(et, _), ZType.SetT(e)) =>
        val items = v.asInstanceOf[scala.collection.Seq[Any]].toVector.map(x => fromExternal(x, et, e))
        if (items.isEmpty || items.forall(i => unwrap(i) match {
            case VNull(_) => true; case _ => false }))
          VTyped(VArr(items, true), stripped)
        else VArr(items, true)
      case (ArrayType(et, _), _) =>
        VArr(v.asInstanceOf[scala.collection.Seq[Any]].toVector.map(x =>
          fromExternal(x, et, ZType.Prim("string"))), false)
      case (MapType(kt, vt, _), ZType.MapT(k2, v2)) =>
        val es = v.asInstanceOf[scala.collection.Map[Any, Any]].toVector.map { case (k, x) =>
          (fromExternal(k, kt, k2), fromExternal(x, vt, v2)) }
        // an empty map keeps the declared key/value types, as arrays do
        if (es.isEmpty) VTyped(VMap(es), stripped) else VMap(es)
      case (_, ZType.Prim(p)) => primFromExternal(v, p)
      case (_, e: ZType.EnumT) => v match {
        case s: String => VTyped(VEnum(s), e)
        case other => VStr(other.toString)
      }
      case (_, ZType.ErrT(_)) | (_, ZType.Union(_)) =>
        // physical carrier is a string or variant; parse if possible
        v match {
          case s: String =>
            try new ZsonParser(s).parseOne() catch { case _: Exception => VStr(s) }
          case r: Row => fromVariantRow(r)
          case other => primFromExternal(other, "string")
        }
      case _ => primFromExternal(v, guessPrim(v))
    }
    wrap(out)
  }

  private def guessPrim(v: Any): String = v match {
    case _: Long | _: Int | _: Short | _: Byte => "int64"
    case _: Double | _: Float => "float64"
    case _: Boolean => "bool"
    case _: java.sql.Timestamp | _: java.time.Instant => "time"
    case _: Array[Byte] => "bytes"
    case _ => "string"
  }

  private def primFromExternal(v: Any, p: String): ZValue = (v, p) match {
    case (ts: java.sql.Timestamp, _) =>
      VTime(Math.floorDiv(ts.getTime, 1000L) * 1000000000L + ts.getNanos)
    case (i: java.time.Instant, _) => VTime(i.getEpochSecond * 1000000000L + i.getNano)
    case (n: Long, "duration") => VDur(n)
    case (n: Long, "time") => VTime(n)
    case (s: String, "ip") => VIp(s)
    case (s: String, "net") => ZValue.netOf(s)
    case (s: String, "type") => VTypeVal(s)
    case (n: Long, t) if t.startsWith("int") || t.startsWith("uint") =>
      if (t == "uint64") VUint64(BigDecimal(n)) else VInt(n, t)
    case (n: Int, t) if t.startsWith("int") || t.startsWith("uint") => VInt(n.toLong, t)
    case (d: java.math.BigDecimal, "uint64") => VUint64(BigDecimal(d))
    case (d: java.math.BigDecimal, t) if t.startsWith("float") => VFloat(d.doubleValue, t)
    case (d: java.math.BigDecimal, _) => VUint64(BigDecimal(d))
    case (d: Double, t) if t.startsWith("float") => VFloat(d, t)
    case (f: Float, t) if t.startsWith("float") => VFloat(f.toDouble, t)
    case (d: Double, t) if t.startsWith("int") || t.startsWith("uint") =>
      VInt(d.toLong, t)
    case (b: Boolean, _) => VBool(b)
    case (b: Array[Byte], _) => VBytes(b)
    case (n: Long, _) => VInt(n, "int64")
    case (n: Int, _) => VInt(n.toLong, "int64")
    case (n: Short, _) => VInt(n.toLong, "int16")
    case (n: Byte, _) => VInt(n.toLong, "int8")
    case (d: Double, _) => VFloat(d, "float64")
    case (s: String, "string") => VStr(s)
    case (s: String, "bytes") =>
      if (s.startsWith("0x"))
        VBytes(s.drop(2).sliding(2, 2).map(h => Integer.parseInt(h, 16).toByte).toArray)
      else VBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (s: String, t) if t.startsWith("int") || t.startsWith("uint") ||
        t.startsWith("float") || t == "duration" || t == "time" =>
      // physical string for a numeric zed type (fused frames widen to string)
      try {
        t match {
          case "duration" => VDur(s.toLong)
          case "time" => VTime(s.toLong)
          case "uint64" => VUint64(BigDecimal(s))
          case x if x.startsWith("float") => VFloat(s.toDouble, x)
          case x => VInt(s.toLong, x)
        }
      } catch { case _: Exception => VStr(s) }
    case (s: String, _) => VStr(s)
    case (other, _) => VStr(other.toString)
  }
}

/** Recursive-descent ZSON parser producing typed values. One parser
  * instance is a zed "context": named-type definitions (`(port=uint16)`)
  * persist across values (zson.md §3.3).
  */
final class ZsonParser(s: String,
    // typedef context shared across VALUES of one stream: `(=name)` binds
    // in one value, `(name)` references it in later values (zson.md) — a
    // per-line parser must carry the map forward
    private val names: scala.collection.mutable.Map[String, ZType] =
      scala.collection.mutable.Map.empty[String, ZType]) {
  import ZValue._
  import ZType._

  private var i = 0

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"zson parse at $i: $msg")

  private def ws(): Unit = {
    var go = true
    while (go && i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
      else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '/') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else go = false
    }
  }

  private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
  private def expect(c: Char): Unit =
    if (peek == c) i += 1 else err(s"expected '$c', got '$peek'")

  /** Parse a zed type text (for shape tags / type arguments). */
  def parseTypeText(): ZType = { ws(); typ() }

  def parseAll(): Vector[ZValue] = {
    val out = Vector.newBuilder[ZValue]
    ws()
    while (i < s.length) {
      out += value()
      ws()
    }
    out.result()
  }

  def parseOne(): ZValue = { ws(); val v = value(); v }

  private def value(): ZValue = {
    ws()
    var v: ZValue = peek match {
      case '"' => VStr(quoted())
      case '{' => record()
      case '[' => VArr(items(']'), isSet = false)
      case '|' =>
        if (s.startsWith("|[", i)) {
          i += 1
          val a = VArr(ZValue.normSet(items(']')), isSet = true)
          expect('|')
          a
        } else if (s.startsWith("|{", i)) mapValue()
        else err("bad '|'")
      case '<' => typeValue()
      case '%' => { i += 1; VEnum(if (peek == '"') quoted() else ident()) }
      case _ => scalar()
    }
    // decorators: (type) possibly repeated
    ws()
    while (peek == '(') {
      val t = decorator()
      v = applyType(v, t)
      ws()
    }
    v
  }

  private def quoted(): String = {
    expect('"')
    // fast path: no escapes before the closing quote (the common case on
    // per-row parse paths) — one substring, no StringBuilder
    var j = i
    while (j < s.length && s.charAt(j) != '"' && s.charAt(j) != '\\') j += 1
    if (j < s.length && s.charAt(j) == '"') {
      val out = s.substring(i, j)
      i = j + 1
      return out
    }
    val sb = new StringBuilder
    while (i < s.length && s.charAt(i) != '"') {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case '\\' => sb.append('\\')
          case '"' => sb.append('"')
          case '/' => sb.append('/')
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 4
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    expect('"')
    sb.toString
  }

  private def ident(): String = {
    val start = i
    while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
    if (i == start) err("expected identifier")
    s.substring(start, i)
  }

  /** Named-type name: quoted ("github.com/acme/foo.Bar"), or bare with
    * dots/@ (foo.bar, @foo), or a numeric typedef id (zson.md type defs).
    */
  private def typeName(): String =
    if (peek == '"') quoted()
    else {
      val start = i
      while (i < s.length &&
        (s.charAt(i).isLetterOrDigit || "._@".contains(s.charAt(i)))) i += 1
      if (i == start) err("expected type name")
      s.substring(start, i)
    }

  private def record(): ZValue = {
    expect('{'); ws()
    val fs = Vector.newBuilder[(String, ZValue)]
    var first = true
    var done = false
    while (!done && peek != '}') {
      if (!first) { expect(','); ws() }
      if (peek == '}') done = true // trailing comma tolerated
      else {
        first = false
        val n = if (peek == '"') quoted() else {
          val start = i
          while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == '.')) i += 1
          if (i == start) err("empty field name")
          s.substring(start, i)
        }
        ws(); expect(':')
        fs += (n -> value())
        ws()
      }
    }
    expect('}')
    VRec(fs.result())
  }

  private def items(close: Char): Vector[ZValue] = {
    expect('[' ); ws()
    val out = Vector.newBuilder[ZValue]
    var first = true
    var done = false
    while (!done && peek != close) {
      if (!first) { expect(','); ws() }
      if (peek == close) done = true // trailing comma tolerated
      else {
        first = false
        out += value()
        ws()
      }
    }
    expect(close)
    out.result()
  }

  private def mapValue(): ZValue = {
    i += 2; ws() // consumed "|{"
    val es = Vector.newBuilder[(ZValue, ZValue)]
    var first = true
    var done = false
    while (!done && peek != '}') {
      if (!first) { expect(','); ws() }
      if (peek == '}') done = true // trailing comma tolerated
      else {
        first = false
        val k = value(); ws(); expect(':')
        val v = value(); ws()
        es += (k -> v)
      }
    }
    expect('}'); expect('|')
    VMap(ZValue.normMap(es.result()))
  }

  private def typeValue(): ZValue = {
    // <type> — balanced through nested <...> is not part of the grammar;
    // types contain ()/[]/{}|, scan to the matching '>'
    val start = i
    expect('<')
    var depth = 1
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '<') depth += 1
      else if (c == '>') depth -= 1
      i += 1
    }
    if (depth != 0) err("unterminated type value")
    VTypeVal(s.substring(start + 1, i - 1))
  }

  // one Matcher per pattern per parser, anchored at the cursor with
  // region(i, len).lookingAt() — the previous form substring'd the whole
  // remaining input per scalar AND compiled the seven patterns per parser
  // instance (a per-row cost on the variant text-fallback path, which
  // builds one parser per row)
  private var scalarMs: Array[java.util.regex.Matcher] = _
  private def look(idx: Int): String = {
    if (scalarMs == null)
      scalarMs = ZsonParser.scalarPatterns.map(_.matcher(s))
    val m = scalarMs(idx)
    m.region(i, s.length)
    if (m.lookingAt()) m.group() else null
  }

  /** Is the char at idx a clean token terminator — one that no scalar
    * regex form can extend a plain number across? (',' ']' '}' ')' '('
    * '|' whitespace or end-of-input; NOT ':' '-' '/' '.' 'e' letters,
    * which could continue an ip/time/duration/net/scientific form.)
    */
  private def termAt(idx: Int): Boolean = {
    if (idx >= s.length) return true
    val c = s.charAt(idx)
    c == ',' || c == ']' || c == '}' || c == ')' || c == '(' || c == '|' ||
      c == ' ' || c == '\t' || c == '\n' || c == '\r'
  }

  private def scalar(): ZValue = {
    def take(m: String): String = { i += m.length; m }
    // first-char gate: every regex-recognized scalar form starts with a
    // digit, sign, dot, colon, or hex letter — plain words skip all seven
    val c0 = peek
    val regexable = (c0 >= '0' && c0 <= '9') || c0 == '-' || c0 == '+' ||
      c0 == '.' || c0 == ':' ||
      (c0 >= 'a' && c0 <= 'f') || (c0 >= 'A' && c0 <= 'F')
    if (regexable) {
      // plain int/float fast path: [+-]?digits[.digits]? up to a clean
      // terminator can only be NumP's match (time/ip/date need '-' ':'
      // or more dots, durations/hex/sci need letters) — recognize it
      // directly instead of running 6 failing regexes first. Conservative:
      // any other continuation falls through to the regex path unchanged.
      if (c0 != ':' && !((c0 >= 'a' && c0 <= 'f') || (c0 >= 'A' && c0 <= 'F'))) {
        var j = i
        if (j < s.length && (s.charAt(j) == '-' || s.charAt(j) == '+')) j += 1
        val d0 = j
        while (j < s.length && { val c = s.charAt(j); c >= '0' && c <= '9' }) j += 1
        if (j > d0) {
          var dot = -1
          if (j < s.length && s.charAt(j) == '.') {
            dot = j; j += 1
            while (j < s.length && { val c = s.charAt(j); c >= '0' && c <= '9' }) j += 1
          }
          if (termAt(j)) {
            val start = i
            if (dot < 0) {
              // integer: zero-alloc parse for in-range widths
              i = j
              if (j - start <= 18)
                return VInt(java.lang.Long.parseLong(s, start, j, 10), "int64")
              val nm = s.substring(start, j)
              return try VInt(nm.toLong, "int64")
                     catch { case _: NumberFormatException => VUint64(BigDecimal(nm)) }
            } else if (dot > d0 || j > dot + 1) { // NumP needs a digit on some side
              i = j
              val nm = s.substring(start, j)
              return VFloat(java.lang.Double.parseDouble(
                if (nm.endsWith(".")) nm + "0" else nm), "float64")
            }
          }
        }
      } else if (c0 != ':') {
        // hex-letter start (a-f): of the seven forms only an IPv6 literal
        // can match, and its first ':' must appear within the first 5
        // chars — no early colon means the word path (e.g. "false",
        // "abc") skips all seven regexes
        var j = i
        val lim = math.min(s.length, i + 5)
        while (j < lim && s.charAt(j) != ':') j += 1
        if (j == lim) return wordScalar()
      }
      val tm = look(ZsonParser.TimeP)
      if (tm != null) return VTime(parseTimeNs(take(tm)))
      val i6 = look(ZsonParser.Ip6P)
      if (i6 != null && (i6.contains("::") || i6.count(_ == ':') == 7)) {
        take(i6)
        return if (i6.contains('/')) netOf(i6) else VIp(i6)
      }
      val i4 = look(ZsonParser.Ip4P)
      if (i4 != null) {
        take(i4)
        return if (i4.contains('/')) netOf(i4) else VIp(i4)
      }
      val du = look(ZsonParser.DurP)
      if (du != null && du.exists(_.isLetter) &&
          !ZsonParser.durSciP.matcher(du).lookingAt())
        return VDur(parseDurNs(take(du)))
      val hx = look(ZsonParser.HexP)
      if (hx != null && hx.length > 2) {
        take(hx)
        val hex = hx.drop(2)
        return VBytes(hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray)
      }
      if (s.startsWith("0x", i)) { i += 2; return VBytes(Array.emptyByteArray) }
      val dt = look(ZsonParser.DateP)
      if (dt != null &&
          (i + dt.length >= s.length || s.charAt(i + dt.length) != '.')) {
        take(dt)
        return VTime(java.time.LocalDate.parse(dt).toEpochDay * 86400L * 1000000000L)
      }
      if (s.startsWith("+Inf", i)) { take("+Inf"); return VFloat(Double.PositiveInfinity, "float64") }
      if (s.startsWith("-Inf", i)) { take("-Inf"); return VFloat(Double.NegativeInfinity, "float64") }
      val nm = look(ZsonParser.NumP)
      if (nm != null) {
        take(nm)
        return if (nm.contains('.') || nm.contains('e') || nm.contains('E'))
          VFloat(java.lang.Double.parseDouble(if (nm.endsWith(".")) nm + "0" else nm), "float64")
        else try VInt(nm.toLong, "int64")
        catch { case _: NumberFormatException => VUint64(BigDecimal(nm)) }
      }
    }
    wordScalar()
  }

  // words: null/true/false/NaN/Inf/error(...), else lenient bare string
  private def wordScalar(): ZValue = {
    val start = i
    while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
    val w = s.substring(start, i)
    w match {
      case "null" => VNull(ZType.nullT)
      case "true" => VBool(true)
      case "false" => VBool(false)
      case "NaN" => VFloat(Double.NaN, "float64")
      case "Inf" => VFloat(Double.PositiveInfinity, "float64")
      case "error" if peek == '(' =>
        i += 1
        val inner = value(); ws(); expect(')')
        inner match {
          // error(null(T)) IS the null value of type error(T): the error
          // type's payload is null (quiet ztest prints null(error(string)))
          case VNull(t) => VNull(ErrT(t))
          case _ => VErr(inner)
        }
      case "" => err(s"unexpected character '$peek'")
      case other => VStr(other)
    }
  }

  private def parseTimeNs(text: String): Long = {
    val inst = java.time.OffsetDateTime.parse(text).toInstant
    // saturating ns math: zed times span exactly the int64-ns domain and
    // 1677-09-21T00:12:43.145224192Z is Long.MinValue — plain long
    // multiply would wrap
    val ns = BigInt(inst.getEpochSecond) * 1000000000L + inst.getNano
    if (ns < BigInt(Long.MinValue)) Long.MinValue
    else if (ns > BigInt(Long.MaxValue)) Long.MaxValue
    else ns.toLong
  }

  private def parseDurNs(text: String): Long = {
    val unitNs = Map("ns" -> 1L, "us" -> 1000L, "ms" -> 1000000L, "s" -> 1000000000L,
      "m" -> 60000000000L, "h" -> 3600000000000L, "d" -> 86400000000000L,
      "w" -> 604800000000000L, "y" -> 31536000000000000L)
    val neg = text.startsWith("-")
    val body = if (neg) text.drop(1) else text
    // integer ns accumulation in BigInt: ns-exact fractions (16.854775808s)
    // and Long.MinValue (-292y…808s) survive, unlike double math
    var total = BigInt(0)
    val pm = ZsonParser.durPartP.matcher(body)
    while (pm.find()) {
      val unit = unitNs(pm.group(3))
      total += BigInt(pm.group(1)) * unit
      Option(pm.group(2)).foreach { frac =>
        // fractional part scaled to ns: digits beyond the unit's ns
        // resolution truncate (the reference parses via float but all
        // golden fixtures are ns-exact)
        total += (BigInt(frac) * unit) / BigInt(10).pow(frac.length)
      }
    }
    val signed = if (neg) -total else total
    if (signed < BigInt(Long.MinValue)) Long.MinValue
    else if (signed > BigInt(Long.MaxValue)) Long.MaxValue
    else signed.toLong
  }

  // ---- decorator / type parsing ---------------------------------------------

  private def decorator(): ZType = {
    expect('(')
    ws()
    val t = if (peek == '=') { // (=name) — name this value's implied type
      i += 1
      val n = typeName()
      Named(n, ZType.nullT) // caller resolves against the value's own type
    } else typ()
    ws(); expect(')')
    t
  }

  private def typ(): ZType = {
    ws()
    peek match {
      case '{' =>
        i += 1; ws()
        val fs = Vector.newBuilder[(String, ZType)]
        var first = true
        while (peek != '}') {
          if (!first) { expect(','); ws() }
          first = false
          val n = if (peek == '"') quoted() else ident()
          ws(); expect(':')
          fs += (n -> typ())
          ws()
        }
        expect('}')
        Rec(fs.result())
      case '[' => i += 1; val e = typ(); ws(); expect(']'); Arr(e)
      case '|' =>
        if (s.startsWith("|[", i)) { i += 2; val e = typ(); ws(); expect(']'); expect('|'); SetT(e) }
        else if (s.startsWith("|{", i)) {
          i += 2
          val k = typ(); ws(); expect(':')
          val v = typ(); ws(); expect('}'); expect('|')
          MapT(k, v)
        } else err("bad '|' in type")
      case '(' =>
        i += 1
        val alts = Vector.newBuilder[ZType]
        alts += typ(); ws()
        while (peek == ',') { i += 1; alts += typ(); ws() }
        expect(')')
        val as = alts.result()
        // member order is CANONICAL at type creation — the reference's
        // LookupTypeUnion sorts members on lookup (context.go:200;
        // zson/ztests/container-types.yaml pins `(string,int32)` text
        // reading back as `(int32,string)`), so a declared union in any
        // order resolves to the same type with the same selector space
        if (as.length == 1) as.head else ZType.canon(Union(as))
      case c if c.isDigit =>
        // inline typedef ids are bare integers ((2=[null]), 1(3) — zson.md
        // abbreviated type definitions)
        val start = i
        while (i < s.length && s.charAt(i).isDigit) i += 1
        val n = s.substring(start, i)
        if (peek == '=') {
          i += 1
          val inner = typ()
          names(n) = inner
          inner // numeric typedef ids are abbreviations, not named types
        } else names.getOrElse(n,
          // a reference to an UNDEFINED typedef id is a parse error
          // (zson/parser: "no such type name")
          err(s"""no such type name: "$n""""))
      case '"' =>
        // quoted named-type name ("github.com/acme/foo.Bar"=...)
        val n = quoted()
        ws()
        if (peek == '=') {
          i += 1
          val inner = typ()
          names(n) = inner
          Named(n, inner)
        } else names.get(n).map(Named(n, _)).getOrElse(err(s"unknown named type $n"))
      case c if c.isLetter || c == '_' =>
        var n = ident()
        // dotted named-type names (pools.Config, ksuid.KSUID) — the value
        // parser's decorator path accepts these; the TYPE text parser
        // must round-trip them too
        while (peek == '.' && i + 1 < s.length &&
               (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
          i += 1
          n = n + "." + ident()
        }
        n match {
          case "enum" if peek == '(' =>
            i += 1; ws()
            val syms = Vector.newBuilder[String]
            syms += (if (peek == '"') quoted() else ident()); ws()
            while (peek == ',') { i += 1; ws(); syms += (if (peek == '"') quoted() else ident()); ws() }
            expect(')')
            EnumT(syms.result())
          case "error" if peek == '(' =>
            i += 1; val inner = typ(); ws(); expect(')')
            ErrT(inner)
          case _ if peek == '=' =>
            i += 1
            val inner = typ()
            val named = Named(n, inner)
            names(n) = inner
            named
          case prim if ZsonParser.primitives(prim) => Prim(prim)
          case other => names.get(other).map(Named(other, _)).getOrElse(Prim(other))
        }
      case _ => err("bad type")
    }
  }

  private[sources] def applyTypePublic(v: ZValue, t: ZType): ZValue = applyType(v, t)

  /** Retype a parsed value per its decorator (the decorator wins). */
  private def applyType(v: ZValue, t0: ZType): ZValue = {
    val t = t0 match {
      case Named(n, Prim("null")) => // (=name): name the implied type
        val inner = ZValue.typeOf(v)
        names(n) = inner
        // numeric names are typedef IDS (zson.md abbreviated defs), not
        // named types — the value keeps its plain type
        if (n.forall(_.isDigit)) inner else Named(n, inner)
      case other => other
    }
    // a RECORD decorator must list exactly the value's fields (zson
    // parser: "record decorator fields (N) mismatched with value fields
    // (M)" — import-check ztest)
    (ZValue.unwrap(v), ZType.strip(t)) match {
      case (VRec(fs), Rec(tfs)) if fs.length != tfs.length =>
        throw new IllegalArgumentException(
          s"record decorator fields (${tfs.length}) mismatched with value fields (${fs.length})")
      case _ =>
    }
    val base = (ZValue.unwrap(v), ZType.strip(t)) match {
      case (VNull(_), _) => VNull(t)
      case (VInt(n, _), Prim(p)) if p.startsWith("int") => VInt(n, p)
      case (VInt(n, _), Prim(p)) if p == "uint64" => VUint64(BigDecimal(n))
      case (VInt(n, _), Prim(p)) if p.startsWith("uint") => VInt(n, p)
      case (VInt(n, _), Prim(p)) if p.startsWith("float") || p == "decimal" =>
        VFloat(if (p == "float16") ZFormat.toFloat16(n.toDouble) else n.toDouble, p)
      case (VInt(n, _), Prim("duration")) => VDur(n)
      case (VInt(n, _), Prim("time")) => VTime(n)
      case (VFloat(d, _), Prim(p)) if p.startsWith("float") || p == "decimal" =>
        VFloat(if (p == "float16") ZFormat.toFloat16(d) else if (p == "float32") d.toFloat.toDouble else d, p)
      case (VStr(sv), Prim("ip")) => VIp(sv)
      case (VStr(sv), Prim("net")) => ZValue.netOf(sv)
      case (VStr(sv), Prim("bytes")) => VStr(sv)
      case (VStr(sv), EnumT(syms)) =>
        if (!syms.contains(sv))
          throw new IllegalArgumentException(
            s"""symbol "$sv" not a member of type "${ZType.fullText(t0)}"""")
        VTyped(VEnum(sv), t)
      case (VEnum(sv), EnumT(syms)) =>
        if (!syms.contains(sv))
          throw new IllegalArgumentException(
            s"""symbol "$sv" not a member of type "${ZType.fullText(t0)}"""")
        VTyped(VEnum(sv), t)
      case (inner, Union(alts)) =>
        // fit the value to a MEMBER: the value's OWN type first — checked
        // on v BEFORE unwrap, so a nested-union/named member keeps its
        // identity (convertUnion matches v.TypeOf(), analyzer.go:451) —
        // then coercion attempts in member order (an int64 literal under
        // (bool,int32) lands on int32, not bool). A coercion only claims
        // the member when the STRIPPED type actually represents the value
        // (a bare named wrapper must not swallow foreign values), and a
        // union member fits by recursive membership, never by wrapping.
        // two passes: EXACT membership first — including exact membership
        // of a NESTED union member (an int32 from the carrier must reach
        // (int32,string) before any lossy coercion) — then the coercion
        // pass in member order.
        def memberFit(cand: ZValue, m: ZType, coerce: Boolean): Option[ZValue] =
          if (ZValue.typeOf(cand) == m) Some(cand)
          else ZType.strip(m) match {
            case Union(alts2) => unionFit(cand, alts2, coerce).map(f => VTyped(f, m))
            case bare if coerce =>
              val probe = try applyType(cand, bare) catch { case _: Exception => cand }
              if (ZType.fullText(ZValue.typeOf(probe)) == ZType.fullText(bare))
                Some(m match {
                  case n: Named => VTyped(ZValue.unwrap(probe), n)
                  case _ => probe
                })
              else None
            case _ => None
          }
        def unionFit(cand: ZValue, as: Vector[ZType], coerce: Boolean): Option[ZValue] =
          if (as.contains(ZValue.typeOf(cand))) Some(cand)
          else as.iterator.flatMap(m => memberFit(cand, m, coerce)).nextOption()
        def fitOf(cand: ZValue): Option[ZValue] =
          unionFit(cand, alts, coerce = false)
            .orElse(unionFit(cand, alts, coerce = true))
        val fitted = fitOf(v)
          .orElse(if (inner eq v) None else fitOf(inner))
          .getOrElse(inner)
        VTyped(fitted, t)
      case (VRec(fs), Rec(tfs)) =>
        // push field types down (e.g. {a:1}({a:int32}))
        VRec(fs.map { case (n, fv) =>
          tfs.find(_._1 == n) match {
            case Some((_, ft)) => n -> applyType(fv, ft)
            case None => n -> fv
          }
        })
      case (VArr(itemsV, isSet), Arr(et)) =>
        if (itemsV.isEmpty) VTyped(VArr(itemsV, isSet), ZType.strip(t)) // keep declared elem type
        else VArr(itemsV.map(applyType(_, et)), isSet)
      case (VArr(itemsV, _), SetT(et)) =>
        if (itemsV.isEmpty) VTyped(VArr(itemsV, isSet = true), ZType.strip(t))
        else VArr(ZValue.normSet(itemsV.map(applyType(_, et))), isSet = true)
      case (VMap(es), MapT(kt, vt)) =>
        if (es.isEmpty) VTyped(VMap(es), ZType.strip(t)) // keep declared key/value types
        else VMap(es.map { case (k, x) => (applyType(k, kt), applyType(x, vt)) })
      case (VErr(inner), ErrT(et)) => VErr(applyType(inner, et))
      case (inner, _) => inner
    }
    // a named decorator keeps its name on the value's type (type.go Named)
    t match {
      case n: Named => base match {
        case VTyped(i, _) => VTyped(i, n)
        case other => VTyped(other, n)
      }
      case _ => base
    }
  }
}

object ZsonParser {
  val primitives: Set[String] = Set(
    "uint8", "uint16", "uint32", "uint64", "int8", "int16", "int32", "int64",
    "duration", "time", "float16", "float32", "float64", "decimal",
    "bool", "bytes", "string", "ip", "net", "type", "null")

  // scalar-form patterns, compiled ONCE (a per-parser compile was a
  // per-row cost on paths that build one parser per value); matched with
  // region(cursor).lookingAt(), so no '^' anchor and no substring
  private[sources] final val TimeP = 0
  private[sources] final val Ip6P = 1
  private[sources] final val Ip4P = 2
  private[sources] final val DurP = 3
  private[sources] final val HexP = 4
  private[sources] final val DateP = 5
  private[sources] final val NumP = 6
  private[sources] val scalarPatterns: Array[java.util.regex.Pattern] = Array(
    """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})""",
    """[0-9a-fA-F]{0,4}(:[0-9a-fA-F]{0,4}){2,7}(/\d{1,3})?""",
    """\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(/\d{1,2})?""",
    """-?(\d+(\.\d+)?(ns|us|ms|s|m|h|d|w|y))+""",
    """0x[0-9a-fA-F]*""",
    """\d{4}-\d{2}-\d{2}""",
    """[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?"""
  ).map(java.util.regex.Pattern.compile)
  private[sources] val durSciP =
    java.util.regex.Pattern.compile("""-?\d+[eE].*""")
  private[sources] val durPartP =
    java.util.regex.Pattern.compile("""(\d+)(?:\.(\d+))?(ns|us|ms|s|m|h|d|w|y)""")

  def parseAll(text: String): Vector[ZValue] = new ZsonParser(text).parseAll()

  /** One-entry per-thread VALUE-parse memo, keyed on both text forms.
    *
    * On the variant text-fallback path a row's z text is consumed by
    * SEVERAL ops in one projection (typeof, len, index, get …), some
    * reaching the parser with a String (ScalaUDF boundary), some with the
    * raw UTF8String (native Expression fallbacks). Before this memo each
    * op re-parsed the same text — and the Expression side additionally
    * paid a UTF8String→String copy per op. Now the FIRST op parses and
    * every subsequent op of the same row hits by byte/char equality:
    * one parse and at most one toString per row. Values are immutable, so
    * sharing the parse result across ops is safe; the UTF8String key is
    * CLONED on store because callers' buffers are scan-owned and reused.
    */
  private final class ParseMemo {
    var str: String = null
    var utf: org.apache.spark.unsafe.types.UTF8String = null
    var value: Option[ZValue] = None
  }
  private val parseMemo = new ThreadLocal[ParseMemo] {
    override def initialValue(): ParseMemo = new ParseMemo
  }

  def memoParse(text: String): Option[ZValue] = {
    if (text == null) return None
    val m = parseMemo.get()
    if (m.str != null && m.str == text) return m.value
    val out = try Some(new ZsonParser(text).parseOne())
              catch { case _: Exception => None }
    m.str = text; m.utf = null; m.value = out
    out
  }

  def memoParse(z: org.apache.spark.unsafe.types.UTF8String): Option[ZValue] = {
    if (z == null) return None
    val m = parseMemo.get()
    if (m.utf != null && m.utf.equals(z)) return m.value
    val text = z.toString
    if (m.str != null && m.str == text) { m.utf = z.clone(); return m.value }
    val out = try Some(new ZsonParser(text).parseOne())
              catch { case _: Exception => None }
    m.str = text; m.utf = z.clone(); m.value = out
    out
  }

  private val typeCache = new java.util.concurrent.ConcurrentHashMap[String, ZType]()
  def parseType(text: String): ZType =
    typeCache.computeIfAbsent(text, t => new ZsonParser(t).parseTypeText())

  /** Re-apply a zed type to a parsed value (public face of the parser's
    * decorator application — widths, ip/net/time/enum re-typing).
    */
  def retype(v: ZValue, t: ZType): ZValue = new ZsonParser("").applyTypePublic(v, t)
}

/** Build a DataFrame from a heterogeneous ZSON value stream: shapes merge
  * into one relational schema (conflicts → variant columns) and every row
  * keeps its zed type in the `__type` tag.
  *
  * Two construction paths share one schema algebra:
  *   - `fromValues` (driver-side, golden harness / small inputs);
  *   - `fromRDD` (distributed, the file-scale path): pass 1 discovers the
  *     distinct shape set per partition (type TEXTS only — tiny), the
  *     driver fuses them into the frame schema, pass 2 decodes every row
  *     executor-side straight to that schema. This mirrors the reference's
  *     streaming typed readers (zio/zngio/reader.go, zson/parser.go) in
  *     Spark's two-phase scan idiom (schema inference, then read).
  */
object ZsonReader {
  import ZValue._

  /** Parse a whole ZSON text (driver-side; for the golden harness and
    * other small inputs — file-scale reads go through fromRDD).
    */
  def fromText(spark: SparkSession, text: String, tag: Boolean = true): DataFrame = {
    val values = ZsonParser.parseAll(text)
    fromValues(spark, values, tag)
  }

  /** Record-ify one top-level value into its relational frame row and its
    * shape-tag text. Non-record top-level values live in a `this` column
    * (the engine's relational frame for bare value sequences); an EMPTY
    * record has no columns to land in — it rides in `this` like a bare
    * value (its shape tag "{}" keeps it a record).
    */
  def recordify(v: ZValue): (VRec, String) = unwrap(v) match {
    case r: VRec if r.fields.nonEmpty => (r, ZType.fullText(typeOf(v)))
    case r: VRec => (VRec(Vector("this" -> (r: ZValue))), ZType.fullText(typeOf(v)))
    case n: VNull if ZType.strip(typeOf(v)).isInstanceOf[ZType.Rec] =>
      // top-level typed-null record: all-null row under a wrapped tag
      (VRec(Vector("this" -> (n: ZValue))), ZType.nullWrap(ZType.fullText(typeOf(v))))
    case _ => (VRec(Vector("this" -> v)), ZType.fullText(typeOf(v)))
  }

  /** Type-level twin of `recordify`: the frame row type of a shape text. */
  private def recordifyType(t: ZType): ZType = ZType.strip(t) match {
    case r @ ZType.Rec(fs) if fs.nonEmpty => r
    case _ => ZType.Rec(Vector("this" -> t))
  }

  /** The frame schema for a set of shape texts (first-appearance order):
    * (cleaned row schema, full schema incl. the tag column when tagged).
    */
  def frameSchema(shapeTexts: Seq[String], tag: Boolean): (StructType, StructType) =
    frameSchema(shapeTexts, tag, nsTime = false)

  def frameSchema(shapeTexts: Seq[String], tag: Boolean, nsTime: Boolean): (StructType, StructType) = {
    val rowTypes = shapeTexts.map(t =>
      try recordifyType(ZsonParser.parseType(ZType.stripNullWrap(t)))
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"frameSchema: bad shape text [$t]: ${e.getMessage}") })
    val rowSchemas = rowTypes.map(rt => sparkTypeOf(rt, nsTime).asInstanceOf[StructType])
    val merged = rowSchemas.reduce((a, b) => mergeSpark(a, b).asInstanceOf[StructType])
    // a field whose ZED types conflict across shapes in render-relevant
    // ways (ip vs string, time vs string, …) must be a variant even when
    // the SPARK types agree — otherwise groupBy/sort lose the per-row
    // type and writers re-emit the wrong form (different-key-types ztest)
    val zedFrame = rowTypes.reduce(ZType.fuse)
    def renderClass(t: ZType): String = ZType.strip(t) match {
      case ZType.Prim(p) if p.startsWith("int") || p.startsWith("uint") => "int"
      case ZType.Prim(p) => p
      case other => ZType.text(other)
    }
    val forced: Set[String] = ZType.strip(zedFrame) match {
      case ZType.Rec(fs) => fs.collect {
        case (n, u) if (ZType.strip(u) match {
          case ZType.Union(alts) => alts.map(renderClass).distinct.length > 1
          case _ => false
        }) => n
      }.toSet
      case _ => Set.empty
    }
    val forcedMerged = StructType(merged.fields.map(f =>
      if (forced(f.name) && !ZsonIO.isVariantType(f.dataType))
        StructField(f.name, Het.variantType)
      else f))
    // NullType columns (all-null across every shape) → StringType so parquet/ops work
    val cleaned = StructType(forcedMerged.fields.map(f => StructField(f.name, deNull(f.dataType))))
    // the distinct shape list travels as column metadata on the tag, so the
    // compiler can fold has/missing/typeof presence checks statically
    val md = new MetadataBuilder().putStringArray("shapes", shapeTexts.toArray).build()
    val full = if (tag) cleaned.add(StructField(Het.typeTag, StringType, nullable = false, md)) else cleaned
    (cleaned, full)
  }

  /** Decode one value to an external Row of the frame schema. */
  def rowOf(v: ZValue, cleaned: StructType, tag: Boolean): Row = {
    val (r, t) = recordify(v)
    val base = toExternal(r, cleaned).asInstanceOf[Row]
    if (tag) Row.fromSeq(base.toSeq :+ t) else base
  }

  /** Structured-Streaming source over a growing directory: `schema` is
    * locked from the files present at start (a batch read's frame), and
    * each file that lands is gunzipped when it carries the magic, decoded
    * executor-side by `decode` and fitted into that frame. New fields in
    * late shapes need a restart — the schema is part of the query plan,
    * as with every Structured Streaming file source.
    */
  def tail(spark: SparkSession, path: String, schema: StructType)(
      decode: Array[Byte] => Iterator[ZValue]): DataFrame = {
    import spark.implicits._
    val cleaned = StructType(schema.fields.filterNot(_.name == Het.typeTag))
    spark.readStream.format("binaryFile")
      .schema(new StructType()
        .add("path", StringType).add("modificationTime", TimestampType)
        .add("length", LongType).add("content", BinaryType))
      .load(path)
      .select("content").as[Array[Byte]]
      .flatMap(bytes => decode(Gzip.maybeGunzip(bytes)).map(rowOf(_, cleaned, tag = true)))(
        org.apache.spark.sql.Encoders.row(schema))
      .toDF()
  }

  def fromValues(spark: SparkSession, values0: Seq[ZValue], tag: Boolean): DataFrame = {
    val (full, rows) = localFrame(values0, tag)
    // one partition: createDataFrame's default parallelism split makes
    // downstream writes multi-part, and Spark orders read splits by SIZE
    // — a 2-row stdin frame would come back reordered after a lake
    // round-trip. Driver-materialized values are small by construction.
    spark.createDataFrame(new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), full)
      .coalesce(1)
  }

  /** The schema and external rows `fromValues` builds its frame from. */
  def localFrame(values0: Seq[ZValue], tag: Boolean): (StructType, Seq[Row]) = {
    require(values0.nonEmpty, "empty zson input")
    val shapeTexts = values0.map(v => recordify(v)._2).distinct
    val nsTime = values0.exists(hasSubMicroTime)
    val (cleaned, full) = frameSchema(shapeTexts, tag, nsTime)
    (full, values0.map(rowOf(_, cleaned, tag)))
  }

  /** Distributed typed frame: two passes over the value RDD (shape
    * discovery, then decode), no driver materialization of rows.
    */
  def fromRDD(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[ZValue], tag: Boolean = true): DataFrame = {
    // pass 1: distinct shape texts in stream (first-appearance) order —
    // keyed by (partition, first row index) so the fused schema's field
    // order is deterministic and matches what a serial read would build
    // the "ns" sentinel key piggybacks the sub-µs-precision probe on
    // the same pass (its presence → escalate the time carrier to ns longs)
    val discovered = rdd.mapPartitionsWithIndex((pid, it) => discoverShapes(pid, it).iterator)
      .reduceByKey(math.min).collect()
    fromShapes(spark, rdd, discovered, tag)
  }

  /** Pass 1 over one partition's values: each distinct shape text keyed
    * by its first (partition, row), plus the ns sentinel when a time has
    * sub-µs digits.
    */
  private[sources] def discoverShapes(pid: Int, values: Iterator[ZValue]): Array[(String, Long)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var i = 0L
    values.foreach { v =>
      val t = recordify(v)._2
      if (!seen.contains(t)) seen(t) = (pid.toLong << 40) | i
      if (!seen.contains(nsSentinelKey) && hasSubMicroTime(v)) seen(nsSentinelKey) = Long.MaxValue
      i += 1
    }
    seen.toArray
  }

  /** The key a format-specific pass-1 uses to flag sub-µs time presence in
    * its discovered-shapes map (see fromShapes).
    */
  val nsSentinelKey = "ns"

  /** Build the typed frame from an already-discovered shape map — used by
    * formats (ZNG) whose pass 1 reads only type metadata and value tags,
    * never materializing values. `discovered` maps shape text → min
    * (partition,row) key, with the "ns" sentinel marking sub-µs times.
    */
  def fromShapes(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[ZValue],
      discovered: Array[(String, Long)], tag: Boolean = true): DataFrame = {
    val nsTime = discovered.exists(_._1 == nsSentinelKey)
    val shapeTexts = discovered.filterNot(_._1 == nsSentinelKey)
      .sortBy(_._2).map(_._1).toIndexedSeq
    if (shapeTexts.isEmpty) {
      val empty = StructType(Seq(StructField("this", StringType)))
      val full = if (tag) empty.add(StructField(Het.typeTag, StringType, nullable = false)) else empty
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
    }
    val (cleaned, full) = frameSchema(shapeTexts, tag, nsTime)
    val bcSchema = spark.sparkContext.broadcast(cleaned)
    // pass 2: per-partition typed decode straight to Catalyst InternalRows
    // (RowBridge — the same contract the zeek line decoder uses). The
    // external-Row + row-encoder pass this replaces re-dispatched on every
    // field of every row and re-found each column by name; the decoder
    // compiles the name→ordinal map once per shape per partition.
    val rows = rdd.mapPartitions { it =>
      val dec = new InternalDecoder(bcSchema.value, tag)
      it.map(dec.decode)
    }
    org.apache.spark.sql.graftshim.RowBridge.toDF(spark, rows, full)
  }

  /** Per-partition ZValue → InternalRow decoder: the typed-decode twin of
    * rowOf/toExternal that lands Catalyst values directly — no external Row
    * materialization, no encoder pass. Semantics mirror toExternal followed
    * by the row encoder exactly: shape-missing fields are null, variant
    * columns box via variantRow, the ns-carrier escalation is decided by
    * the target type, map entries keep the scala-Map iteration order (the
    * generic fallback routes through toExternal itself).
    */
  private final class InternalDecoder(schema: StructType, tag: Boolean) {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String

    private val n = schema.length
    private val fields = schema.fields
    // shape text → (schema ordinal → record field ordinal, -1 when absent);
    // one entry per distinct shape seen in the partition
    private val shapeIdx = new java.util.HashMap[String, Array[Int]]()
    private val extConv = new java.util.HashMap[DataType, Any => Any]()

    // exact pre-rewrite behavior for combinations with conversion subtleties
    // (maps, decorated unions, type mismatches): external decode + Catalyst
    // converter — the converter iterates the same scala collections the row
    // encoder did, so values and entry order are unchanged
    private def generic(v0: ZValue, target: DataType): Any = {
      val ext = toExternal(v0, target)
      if (ext == null) return null
      var c = extConv.get(target)
      if (c == null) {
        c = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(target)
        extConv.put(target, c)
      }
      c(ext)
    }

    def decode(v: ZValue): InternalRow = {
      val (r, t) = recordify(v)
      var idx = shapeIdx.get(t)
      if (idx == null) {
        idx = Array.tabulate(n) { i =>
          val name = fields(i).name
          r.fields.indexWhere(_._1 == name)
        }
        shapeIdx.put(t, idx)
      }
      val out = new GenericInternalRow(if (tag) n + 1 else n)
      var i = 0
      while (i < n) {
        val fi = idx(i)
        if (fi >= 0) out.update(i, internalOf(r.fields(fi)._2, fields(i).dataType))
        i += 1
      }
      if (tag) out.update(n, UTF8String.fromString(t))
      out
    }

    private def toDecimal(bd: java.math.BigDecimal, dt: DecimalType): Any = {
      // non-ANSI row-encoder semantics: null on precision overflow
      val d = Decimal(bd)
      if (d.changePrecision(dt.precision, dt.scale)) d else null
    }

    private def internalOf(v0: ZValue, target: DataType): Any = {
      if (target == Het.variantType) return generic(v0, target)
      unwrap(v0) match {
        case VNull(_) => null
        case VInt(x, _) => target match {
          case LongType => x
          case DoubleType => x.toDouble
          case dt: DecimalType => toDecimal(new java.math.BigDecimal(x), dt)
          case StringType => UTF8String.fromString(x.toString)
          case _ => generic(v0, target)
        }
        case VUint64(x) => target match {
          case dt: DecimalType => toDecimal(x.bigDecimal, dt)
          case LongType => x.toLong
          case DoubleType => x.toDouble
          case _ => generic(v0, target)
        }
        case VFloat(d, _) => target match {
          case DoubleType => d
          case LongType => d.toLong
          case dt: DecimalType => toDecimal(java.math.BigDecimal.valueOf(d), dt)
          case _ => generic(v0, target)
        }
        case VStr(s) => target match {
          case StringType => UTF8String.fromString(s)
          case _ => generic(v0, target)
        }
        case VBool(b) => target match {
          case BooleanType => b
          case _ => generic(v0, target)
        }
        case VBytes(b) => target match {
          case BinaryType => b
          case _ => generic(v0, target)
        }
        case VTime(ns) => target match {
          case LongType => ns // ns carrier (sub-µs-precision frames)
          case TimestampType => Math.floorDiv(ns, 1000L) // µs, = encoder's fromJavaTimestamp
          case _ => generic(v0, target)
        }
        case VDur(ns) => target match {
          case LongType => ns
          case DoubleType => ns.toDouble
          case _ => generic(v0, target)
        }
        case VIp(s) => target match {
          case StringType => UTF8String.fromString(s)
          case _ => generic(v0, target)
        }
        case VNet(s) => target match {
          case StringType => UTF8String.fromString(s)
          case _ => generic(v0, target)
        }
        case VTypeVal(t) => target match {
          case StringType => UTF8String.fromString(t)
          case _ => generic(v0, target)
        }
        case VEnum(s) => target match {
          case StringType => UTF8String.fromString(s)
          case _ => generic(v0, target)
        }
        case VRec(fs) => target match {
          case st: StructType =>
            val row = new GenericInternalRow(st.length)
            var i = 0
            while (i < st.length) {
              val f = st.fields(i)
              val m = fs.find(_._1 == f.name)
              if (m.isDefined) row.update(i, internalOf(m.get._2, f.dataType))
              i += 1
            }
            row
          case _ => generic(v0, target)
        }
        case VArr(items, _) => target match {
          case ArrayType(et, _) =>
            val arr = new Array[Any](items.length)
            var i = 0
            while (i < items.length) { arr(i) = internalOf(items(i), et); i += 1 }
            new GenericArrayData(arr)
          case _ => generic(v0, target)
        }
        // maps, errors, decorated leftovers: exact pre-rewrite path
        case _ => generic(v0, target)
      }
    }
  }

  private def deNull(dt: DataType): DataType = dt match {
    case NullType => StringType
    case StructType(fs) => StructType(fs.map(f => StructField(f.name, deNull(f.dataType))))
    case ArrayType(e, n) => ArrayType(deNull(e), n)
    case MapType(k, v, n) => MapType(deNull(k), deNull(v), n)
    case other => other
  }
}
