package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import scala.collection.mutable

/** VNG columnar format in the REFERENCE's own layout (vng/): a 24-byte
  * header, a metadata section holding ONE ZNG-encoded value — the
  * zson-marshaled encoder metadata tree with simple-style named-type
  * decorators (Record/Array/Set/Map/Union/Primitive/Named/Error/Nulls/
  * Const/Dynamic, vng/metadata.go; zson/marshal.go StyleSimple) — and a
  * data section of per-vector segments.
  *
  * Writer parity (vng/encoder.go tree): every vector wraps in a nulls
  * encoder (run-lengths of alternating value/null runs, values first —
  * nulls.go); records decompose per field; arrays/sets into lengths +
  * values; maps into lengths + keys + values; unions into tags + member
  * vectors; primitives into segments of zcode-tagged values. Segments
  * are LZ4-compressed when that shrinks them, raw otherwise (segment.go
  * compressBuffer); the reader decodes both formats from reference- and
  * self-written files, plus dictionary vectors and Const columns.
  */
object VngIO {

  private val Version = 4

  import ZValue._
  import ZType._

  // ---- metadata model (vng/metadata.go) ------------------------------------

  private final case class Seg(offset: Long, length: Long, memLength: Long, format: Int)
  private sealed trait Meta
  private final case class MRecord(length: Long, fields: Vector[(String, Meta)]) extends Meta
  private final case class MArray(length: Long, lengths: Seg, values: Meta, isSet: Boolean) extends Meta
  private final case class MMap(length: Long, lengths: Seg, keys: Meta, values: Meta) extends Meta
  private final case class MUnion(length: Long, tags: Seg, values: Vector[Meta]) extends Meta
  private final case class MPrim(typ: ZType, loc: Seg, dict: Vector[(ZValue, Long)], count: Long) extends Meta
  private final case class MNamed(name: String, values: Meta) extends Meta
  private final case class MError(values: Meta) extends Meta
  private final case class MNulls(runs: Seg, values: Meta, count: Long) extends Meta
  private final case class MConst(value: ZValue, count: Long) extends Meta
  private final case class MDynamic(tags: Seg, values: Vector[Meta], length: Long) extends Meta

  private def metaType(m: Meta): ZType = m match {
    case MRecord(_, fs) => Rec(fs.map { case (n, f) => n -> metaType(f) })
    case MArray(_, _, v, isSet) => if (isSet) SetT(metaType(v)) else Arr(metaType(v))
    case MMap(_, _, k, v) => MapT(metaType(k), metaType(v))
    case MUnion(_, _, vs) => Union(vs.map(metaType))
    case MPrim(t, _, _, _) => t
    case MNamed(n, v) => Named(n, metaType(v))
    case MError(v) => ErrT(metaType(v))
    case MNulls(_, v, _) => metaType(v)
    case MConst(v, _) => ZValue.typeOf(v)
    case MDynamic(_, _, _) => Prim("null") // no single type
  }

  private def metaLen(m: Meta): Long = m match {
    case MRecord(n, _) => n
    case MArray(n, _, _, _) => n
    case MMap(n, _, _, _) => n
    case MUnion(n, _, _) => n
    case MPrim(_, _, _, n) => n
    case MNamed(_, v) => metaLen(v)
    case MError(v) => metaLen(v)
    case MNulls(_, v, n) => n + metaLen(v)
    case MConst(_, n) => n
    case MDynamic(_, _, n) => n
  }

  // ---- writer (vng/encoder.go tree) -----------------------------------------

  private def isNullV(v: ZValue): Boolean = v match {
    case VNull(_) => true
    case VTyped(i, _) => isNullV(i)
    case _ => false
  }

  private sealed trait Enc {
    def write(v: ZValue): Unit
    /** Allocate segments starting at `off`; append bytes to `data`. */
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta)
  }

  private def newEnc(t: ZType): Enc = t match {
    case Named(n, inner) => new NamedEnc(n, newEnc(inner))
    case ErrT(inner) => new ErrorEnc(newEnc(inner))
    case r: Rec => new NullsEnc(new RecordEnc(r))
    case Arr(e) => new NullsEnc(new ArrayEnc(e, isSet = false))
    case SetT(e) => new NullsEnc(new ArrayEnc(e, isSet = true))
    case MapT(k, v) => new NullsEnc(new MapEnc(k, v))
    case u: Union => new NullsEnc(new UnionEnc(u))
    case prim => new NullsEnc(new PrimEnc(prim, useDict = true))
  }

  private final class NamedEnc(name: String, inner: Enc) extends Enc {
    def write(v: ZValue): Unit = inner.write(v)
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      val (o, m) = inner.finish(off, data); (o, MNamed(name, m))
    }
  }

  private final class ErrorEnc(inner: Enc) extends Enc {
    def write(v: ZValue): Unit = v match {
      case VErr(p) => inner.write(p)
      case VTyped(VErr(p), _) => inner.write(p)
      case other => inner.write(other)
    }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      val (o, m) = inner.finish(off, data); (o, MError(m))
    }
  }

  /** Alternating value/null run lengths, VALUES first (nulls.go). */
  private final class NullsEnc(inner: Enc) extends Enc {
    private val runs = new PrimEnc(Prim("int64"))
    private var run = 0L
    private var inNull = false
    private var nulls = 0L
    def write(v: ZValue): Unit =
      if (isNullV(v)) {
        nulls += 1
        if (inNull) run += 1
        else { runs.write(VInt(run, "int64")); run = 1; inNull = true }
      } else {
        if (!inNull) run += 1
        else { runs.write(VInt(run, "int64")); run = 1; inNull = false }
        inner.write(v)
      }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      val (o1, values) = inner.finish(off, data)
      if (nulls == 0) (o1, values)
      else {
        if (run > 0) runs.write(VInt(run, "int64"))
        val (o2, runsMeta) = runs.finish(o1, data)
        (o2, MNulls(runsMeta.asInstanceOf[MPrim].loc, values, nulls))
      }
    }
  }

  private final class RecordEnc(t: Rec) extends Enc {
    private val fields = t.fields.map { case (n, ft) => n -> newEnc(ft) }
    private var count = 0L
    def write(v: ZValue): Unit = {
      count += 1
      val fs: Map[String, ZValue] = ZValue.unwrap(v) match {
        case VRec(fv) => fv.toMap
        case _ => Map.empty
      }
      fields.foreach { case (n, e) =>
        e.write(fs.getOrElse(n, VNull(nullT)))
      }
    }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      var o = off
      val ms = fields.map { case (n, e) =>
        val (o2, m) = e.finish(o, data); o = o2; n -> m
      }
      (o, MRecord(count, ms))
    }
  }

  private final class ArrayEnc(elemT: ZType, isSet: Boolean) extends Enc {
    private val lengths = new PrimEnc(Prim("int64"))
    private val values = newEnc(elemT)
    private var count = 0L
    def write(v: ZValue): Unit = {
      count += 1
      val items = ZValue.unwrap(v) match {
        case VArr(is, _) => is
        case _ => Vector.empty[ZValue]
      }
      lengths.write(VInt(items.length.toLong, "int64"))
      items.foreach(values.write)
    }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      val (o1, lm) = lengths.finish(off, data)
      val (o2, vm) = values.finish(o1, data)
      (o2, MArray(count, lm.asInstanceOf[MPrim].loc, vm, isSet))
    }
  }

  private final class MapEnc(kt: ZType, vt: ZType) extends Enc {
    private val lengths = new PrimEnc(Prim("int64"))
    private val keys = newEnc(kt)
    private val values = newEnc(vt)
    private var count = 0L
    def write(v: ZValue): Unit = {
      count += 1
      val es = ZValue.unwrap(v) match {
        case VMap(e) => e
        case _ => Vector.empty[(ZValue, ZValue)]
      }
      lengths.write(VInt(es.length.toLong, "int64"))
      es.foreach { case (k, x) => keys.write(k); values.write(x) }
    }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      val (o1, lm) = lengths.finish(off, data)
      val (o2, km) = keys.finish(o1, data)
      val (o3, vm) = values.finish(o2, data)
      (o3, MMap(count, lm.asInstanceOf[MPrim].loc, km, vm))
    }
  }

  private final class UnionEnc(t: Union) extends Enc {
    private val tags = new PrimEnc(Prim("int64"))
    private val members = t.alts.map(newEnc)
    private var count = 0L
    def write(v: ZValue): Unit = {
      count += 1
      // ONE-level unwrap of this union's own wrapper: the member may
      // itself be a typed (named / nested-union) value whose identity a
      // full unwrap would discard (matches ZngIO.encodeZBody)
      val one = v match {
        case ZValue.VTyped(i, tv) if ZType.strip(tv) == (t: ZType) => i
        case other => other
      }
      val memberT = ZValue.typeOf(one)
      // Exact match first so unions of distinct NAMED types over the same
      // base keep their member identity (matches ZngIO.encodeZBody);
      // stripped comparison as a fallback; then FIT an unwidened literal
      // to its member (int64 literal under (bool,int32) → int32).
      val idx = t.alts.indexWhere(_ == memberT) match {
        case -1 => t.alts.indexWhere(a => ZType.strip(a) == ZType.strip(memberT))
        case i  => i
      }
      val (idx2, fitted) =
        if (idx >= 0) (idx, one)
        else {
          val fit = t.alts.iterator.zipWithIndex.flatMap { case (a, i) =>
            val out = try ZsonParser.retype(ZValue.unwrap(v), a)
                      catch { case _: Exception => ZValue.unwrap(v) }
            if (ZType.fullText(ZValue.typeOf(out)) == ZType.fullText(a))
              Some((i, ZValue.unwrap(out)))
            else None
          }.nextOption()
          fit.getOrElse(throw new IllegalArgumentException(
            s"vng: value of type $memberT matches no member of union $t"))
        }
      tags.write(VInt(idx2.toLong, "int64"))
      members(idx2).write(fitted)
    }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      val (o1, tm) = tags.finish(off, data)
      var o = o1
      val ms = members.map { e => val (o2, m) = e.finish(o, data); o = o2; m }
      (o, MUnion(count, tm.asInstanceOf[MPrim].loc, ms))
    }
  }

  private final class PrimEnc(t: ZType, useDict: Boolean = false) extends Enc {
    private val buf = new ByteArrayOutputStream()
    private val zt = ZngIO.toZT(ZType.strip(t))
    private var count = 0L
    // dictionary tracking (vng/primitive.go): all primitive types except
    // the already-8-bit uint8/int8/bool; abandoned past MaxDictSize=256
    // distinct values. One distinct value collapses to a Const vector
    // (no data bytes), 2..256 become a byte-per-row index into the
    // value-sorted dict.
    private var ids: mutable.HashMap[String, Int] =
      if (!useDict) null
      else ZType.strip(t) match {
        case Prim("uint8") | Prim("int8") | Prim("bool") => null
        case _ => mutable.HashMap.empty
      }
    private val dvals = mutable.ArrayBuffer.empty[ZValue]
    private val dcounts = mutable.ArrayBuffer.empty[Long]
    private val rowIds = mutable.ArrayBuffer.empty[Int]
    private val scratch = new ByteArrayOutputStream()
    def write(v: ZValue): Unit = {
      count += 1
      scratch.reset()
      ZngIO.encodeZTagged(scratch, v, zt)
      val b = scratch.toByteArray
      buf.write(b, 0, b.length)
      if (ids != null) {
        val key = new String(b, "ISO-8859-1")
        // the dict/Const entry value carries the PRIMITIVE VECTOR's own
        // type (primitive.go: zed.NewValue(p.typ, bytes)) — an incoming
        // value may be wrapped in a Named type the enclosing MNamed node
        // already records; storing it verbatim would double the wrapper
        // in metaType (nm=nm=float64)
        val id = ids.getOrElseUpdate(key, {
          dvals += (if (ZValue.typeOf(v) == t) v
                    else ZngIO.decodeZValue(new ZngIO.Cursor(b, 0), zt))
          dcounts += 0L; dvals.length - 1
        })
        dcounts(id) += 1
        rowIds += id
        if (ids.size > 256) { ids = null; rowIds.clear(); dvals.clear() }
      }
    }
    // the reference dict sorts ascending by VALUE (sortDict with
    // NewValueCompareFn(order.Asc)) — primitive same-type compare
    private def cmpPrim(a0: ZValue, b0: ZValue): Int = {
      import ZValue._
      (unwrap(a0), unwrap(b0)) match {
        case (VNull(_), VNull(_)) => 0
        case (VNull(_), _) => -1 // nullsMax=false: nulls first
        case (_, VNull(_)) => 1
        case (VInt(x, _), VInt(y, _)) => java.lang.Long.compare(x, y)
        case (VUint64(x), VUint64(y)) => x.compare(y)
        case (VFloat(x, _), VFloat(y, _)) => java.lang.Double.compare(x, y)
        case (VBool(x), VBool(y)) => java.lang.Boolean.compare(x, y)
        case (VTime(x), VTime(y)) => java.lang.Long.compare(x, y)
        case (VDur(x), VDur(y)) => java.lang.Long.compare(x, y)
        case (VStr(x), VStr(y)) => x.compareTo(y)
        case (a, b) => ZValue.zsonText(a).compareTo(ZValue.zsonText(b))
      }
    }
    def finish(off: Long, data: ByteArrayOutputStream): (Long, Meta) = {
      if (ids != null && ids.size == 1 && count > 0)
        return (off, MConst(dvals(0), count)) // no data bytes at all
      val (raw, dict) =
        if (ids != null && ids.size >= 2) {
          val order = dvals.indices.sortBy(dvals(_))(Ordering.fromLessThan(
            (a, b) => cmpPrim(a, b) < 0))
          val pos = new Array[Int](dvals.length)
          order.zipWithIndex.foreach { case (old, nw) => pos(old) = nw }
          val vec = new Array[Byte](rowIds.length)
          var i = 0
          while (i < vec.length) { vec(i) = pos(rowIds(i)).toByte; i += 1 }
          (vec, order.map(o => (dvals(o), dcounts(o))).toVector)
        } else (buf.toByteArray, Vector.empty[(ZValue, Long)])
      val memLen = raw.length.toLong
      // LZ4-compress the segment like the reference writer, keeping the
      // compressed form only when it actually shrinks (segment.go
      // compressBuffer: format 1 = LZ4 block, 0 = raw)
      val (bytes, format) =
        if (raw.isEmpty) (raw, 0)
        else {
          // byte-exact reference compressor; dst is inLen-1 so compression
          // "fails" (returns 0) unless strictly smaller, per compressBuffer
          val zbuf = new Array[Byte](raw.length - 1)
          val zlen = Lz4Block.compress(raw, raw.length, zbuf)
          if (zlen > 0) (java.util.Arrays.copyOfRange(zbuf, 0, zlen), 1)
          else (raw, 0)
        }
      data.write(bytes, 0, bytes.length)
      (off + bytes.length, MPrim(t, Seg(off, bytes.length.toLong, memLen, format),
        dict, count))
    }
  }

  private final class DynamicEnc {
    private val tags = new PrimEnc(Prim("int64"))
    private val which = mutable.LinkedHashMap.empty[String, Int]
    private val encs = mutable.ArrayBuffer.empty[Enc]
    private var len = 0L
    def write(v: ZValue): Unit = {
      val t = ZValue.typeOf(v)
      val key = ZType.fullText(t)
      val tag = which.getOrElseUpdate(key, { encs += newEnc(t); encs.length - 1 })
      tags.write(VInt(tag.toLong, "int64"))
      len += 1
      encs(tag).write(v)
    }
    /** (metadata, data bytes) — tags vector only with >1 type (dynamic.go). */
    def finish(): (Meta, Array[Byte]) = {
      val data = new ByteArrayOutputStream()
      if (encs.length == 1) {
        val (_, m) = encs(0).finish(0L, data)
        (m, data.toByteArray)
      } else {
        val (o1, tm) = tags.finish(0L, data)
        var o = o1
        val ms = encs.toVector.map { e => val (o2, m) = e.finish(o, data); o = o2; m }
        (MDynamic(tm.asInstanceOf[MPrim].loc, ms, len), data.toByteArray)
      }
    }
  }

  // ---- metadata (un)marshal: the zson-marshaled Go struct tree --------------

  private def u32(n: Long): ZValue = VInt(n, "uint32")
  private def u64(n: Long): ZValue = VUint64(BigDecimal(n))

  /** Type of a nil Dict: Go's zson marshal reflects []DictEntry where
    * DictEntry.Value is the raw zed.Value struct (vng no-dict ztest).
    */
  private lazy val dictNullType: ZType = ZsonParser.parseType(
    "[DictEntry={Value:{typ:null,base:uint8,len:uint64},Count:uint32}]")

  private def namedRec(name: String, fs: Vector[(String, ZValue)]): ZValue = {
    val rec = VRec(fs)
    VTyped(rec, Named(name, ZValue.typeOf(rec)))
  }

  /** Array with an EXPLICIT element type (single, or a union preserving
    * the members' named types — typeOf's unify would strip them).
    */
  private def typedArr(items: Vector[ZValue]): ZValue = {
    val ts = items.map(ZValue.typeOf)
    val seen = mutable.LinkedHashMap.empty[String, ZType]
    ts.foreach(t => seen.getOrElseUpdate(ZType.fullText(t), t))
    val elemT =
      if (seen.isEmpty) nullT
      else if (seen.size == 1) seen.values.head
      else Union(seen.values.toVector)
    VTyped(VArr(items, isSet = false), Arr(elemT))
  }

  private def segV(s: Seg): ZValue = namedRec("Segment", Vector(
    "Offset" -> u64(s.offset), "Length" -> u64(s.length),
    "MemLength" -> u64(s.memLength), "CompressionFormat" -> VInt(s.format.toLong, "uint8")))

  private def metaV(m: Meta): ZValue = m match {
    case MRecord(n, fs) => namedRec("Record", Vector(
      "Length" -> u32(n),
      "Fields" -> typedArr(fs.map { case (fn, fm) =>
        namedRec("Field", Vector("Name" -> VStr(fn), "Values" -> metaV(fm)))
      })))
    case MArray(n, lens, v, isSet) => namedRec(if (isSet) "Set" else "Array", Vector(
      "Length" -> u32(n), "Lengths" -> segV(lens), "Values" -> metaV(v)))
    case MMap(n, lens, k, v) => namedRec("Map", Vector(
      "Length" -> u32(n), "Lengths" -> segV(lens),
      "Keys" -> metaV(k), "Values" -> metaV(v)))
    case MUnion(n, tags, vs) => namedRec("Union", Vector(
      "Length" -> u32(n), "Tags" -> segV(tags),
      "Values" -> typedArr(vs.map(metaV))))
    case MPrim(t, loc, dict, n) => namedRec("Primitive", Vector(
      "Type" -> VTypeVal(ZType.fullText(t)),
      "Location" -> segV(loc),
      // a dict-less primitive's Dict is a TYPED null — the Go marshal of
      // a nil []DictEntry reflects the zed.Value struct (no-dict ztest)
      "Dict" -> (if (dict.isEmpty) VNull(dictNullType)
        else typedArr(dict.map { case (v, c) =>
          namedRec("DictEntry", Vector("Value" -> v, "Count" -> u32(c))) })),
      "Min" -> VNull(nullT), "Max" -> VNull(nullT),
      "Count" -> u32(n)))
    case MNamed(n, v) => namedRec("Named", Vector(
      "Name" -> VStr(n), "Values" -> metaV(v)))
    case MError(v) => namedRec("Error", Vector("Values" -> metaV(v)))
    case MNulls(runs, v, n) => namedRec("Nulls", Vector(
      "Runs" -> segV(runs), "Values" -> metaV(v), "Count" -> u32(n)))
    case MConst(v, n) => namedRec("Const", Vector("Value" -> v, "Count" -> u32(n)))
    case MDynamic(tags, vs, n) => namedRec("Dynamic", Vector(
      "Tags" -> segV(tags),
      "Values" -> typedArr(vs.map(metaV)),
      "Length" -> u32(n)))
  }

  private def longOf(v: ZValue): Long = ZValue.unwrap(v) match {
    case VInt(n, _) => n
    case VUint64(n) => n.toLong
    case VFloat(d, _) => d.toLong
    case _ => 0L
  }

  private def segOf(v: ZValue): Seg = ZValue.unwrap(v) match {
    case VRec(fs) =>
      val m = fs.toMap
      Seg(m.get("Offset").map(longOf).getOrElse(0L),
        m.get("Length").map(longOf).getOrElse(0L),
        m.get("MemLength").map(longOf).getOrElse(0L),
        m.get("CompressionFormat").map(longOf).getOrElse(0L).toInt)
    case _ => Seg(0, 0, 0, 0)
  }

  private def parseMeta(v: ZValue): Meta = {
    val name = ZValue.typeOf(v) match {
      case Named(n, _) => n
      case _ => throw new IllegalArgumentException(
        "vng: unsupported metadata layout (expected zson-marshaled Metadata " +
          "with simple-style type names — vng/metadata.go)")
    }
    val fs: Map[String, ZValue] = ZValue.unwrap(v) match {
      case VRec(fv) => fv.toMap
      case _ => Map.empty
    }
    def meta(field: String): Meta = parseMeta(fs(field))
    def metas(field: String): Vector[Meta] = ZValue.unwrap(fs(field)) match {
      case VArr(items, _) => items.map(parseMeta)
      case _ => Vector.empty
    }
    name match {
      case "Record" =>
        val fields = ZValue.unwrap(fs("Fields")) match {
          case VArr(items, _) => items.map { f =>
            val ffs = ZValue.unwrap(f) match { case VRec(x) => x.toMap; case _ => Map.empty[String, ZValue] }
            val fname = ZValue.unwrap(ffs("Name")) match { case VStr(s) => s; case _ => "" }
            fname -> parseMeta(ffs("Values"))
          }
          case _ => Vector.empty
        }
        MRecord(longOf(fs("Length")), fields)
      case "Array" => MArray(longOf(fs("Length")), segOf(fs("Lengths")), meta("Values"), isSet = false)
      case "Set" => MArray(longOf(fs("Length")), segOf(fs("Lengths")), meta("Values"), isSet = true)
      case "Map" => MMap(longOf(fs("Length")), segOf(fs("Lengths")), meta("Keys"), meta("Values"))
      case "Union" => MUnion(longOf(fs("Length")), segOf(fs("Tags")), metas("Values"))
      case "Primitive" =>
        val t = ZValue.unwrap(fs("Type")) match {
          case VTypeVal(txt) =>
            try ZsonParser.parseType(txt) catch { case _: Exception => Prim("string") }
          case _ => Prim("string")
        }
        val dict = fs.get("Dict").map(ZValue.unwrap) match {
          case Some(VArr(entries, _)) => entries.map { e =>
            val efs = ZValue.unwrap(e) match { case VRec(x) => x.toMap; case _ => Map.empty[String, ZValue] }
            efs.getOrElse("Value", VNull(nullT)) -> efs.get("Count").map(longOf).getOrElse(0L)
          }
          case _ => Vector.empty
        }
        MPrim(t, segOf(fs("Location")), dict, longOf(fs("Count")))
      case "Named" =>
        val n = ZValue.unwrap(fs("Name")) match { case VStr(s) => s; case _ => "" }
        MNamed(n, meta("Values"))
      case "Error" => MError(meta("Values"))
      case "Nulls" => MNulls(segOf(fs("Runs")), meta("Values"), longOf(fs("Count")))
      case "Const" => MConst(fs("Value"), longOf(fs("Count")))
      case "Dynamic" => MDynamic(segOf(fs("Tags")), metas("Values"), longOf(fs("Length")))
      case other => throw new IllegalArgumentException(s"vng: unknown metadata type $other")
    }
  }

  // ---- readers --------------------------------------------------------------

  private def corrupt(what: String): Nothing =
    throw new IllegalArgumentException(s"vng: corrupt $what")

  private def le64(b: Array[Byte], off: Int): Long =
    (0 until 8).map(i => (b(off + i) & 0xffL) << (8 * i)).sum

  /** One opened object: the header checked against the object's `size`,
    * the parsed metadata, and a segment fetch bounded by the data
    * section. `read(pos, len)` returns `len` bytes at `pos` — a positioned
    * file read or a slice of an in-memory object.
    */
  private final class Handle(read: (Long, Int) => Array[Byte], size: Long,
      name: String, onClose: () => Unit) extends AutoCloseable {
    // header.go: 'V','N','G',0, version u32 LE, metaSize u64 LE, dataSize u64 LE
    private val (metaSize, dataSize) = {
      // shorter than the fixed header: the reference reader surfaces the
      // raw io EOF (vng/object.go ReadHeader), not a format error
      if (size < 24) throw new IllegalArgumentException(s"$name: EOF")
      val head = read(0, 24)
      require(head(0) == 'V' && head(1) == 'N' && head(2) == 'G' && head(3) == 0,
        s"not a VNG file: $name")
      val (m, d) = (le64(head, 8), le64(head, 16))
      if (m < 0 || m > math.min(size - 24, Int.MaxValue.toLong))
        corrupt(s"metadata size $m in a $size-byte object: $name")
      if (d < 0 || d > size - 24 - m) corrupt(s"data size $d in a $size-byte object: $name")
      (m.toInt, d)
    }
    val meta: Meta = parseMeta(
      ZngIO.decodeToZValues(read(24, metaSize), unionKeepsMember = true).nextOption()
        .getOrElse(throw new IllegalArgumentException("vng: empty metadata section")))
    val fetch: Seg => Array[Byte] = s => {
      if (s.offset < 0 || s.length < 0 || s.length > Int.MaxValue || s.offset > dataSize - s.length)
        corrupt(s"segment ${s.offset}+${s.length} past the $dataSize-byte data section: $name")
      val raw = read(24L + metaSize + s.offset, s.length.toInt)
      s.format match {
        case 0 => raw
        case 1 => Lz4Block.decompress(raw, 0, raw.length, s.memLength, "vng")
        case other => throw new IllegalArgumentException(s"vng: unknown compression format $other")
      }
    }
    def close(): Unit = onClose()
  }

  private object Handle {
    def apply(bytes: Array[Byte], name: String): Handle =
      new Handle((pos, len) => java.util.Arrays.copyOfRange(bytes, pos.toInt, pos.toInt + len),
        bytes.length.toLong, name, () => ())

    /** Plain files fetch segments with POSITIONED reads — only the byte
      * ranges of the columns a query needs are ever read, the point of a
      * columnar format on a 100 TB object store. Gzipped files decompress
      * once in memory (gzip streams can't seek); pruning still skips the
      * LZ4 + value decode of unneeded columns.
      */
    def open(conf: Map[String, String], path: String): Handle = {
      val r = new HadoopFs.RangeReader(conf, path)
      val gzipped =
        try r.length >= 2 && { val m = r.read(0, 2); (m(0) & 0xff) == 0x1f && (m(1) & 0xff) == 0x8b }
        catch { case e: Throwable => r.close(); throw e }
      if (gzipped) {
        r.close()
        Handle(Gzip.maybeGunzip(HadoopFs.readAll(conf, path)), path)
      } else
        try new Handle(r.read, r.length, path, () => r.close())
        catch { case e: Throwable => r.close(); throw e }
    }
  }

  private sealed trait Rd { def next(): ZValue }

  private final class PrimRd(t: ZType, bytes: Array[Byte], dict: Vector[(ZValue, Long)]) extends Rd {
    private val c = new ZngIO.Cursor(bytes, 0)
    private val zt = ZngIO.toZT(ZType.strip(t))
    def next(): ZValue =
      if (dict.nonEmpty) {
        val idx = c.u8()
        if (idx < dict.length) dict(idx)._1 else VNull(t)
      } else ZngIO.decodeZValue(c, zt)
  }

  private final class Int64Rd(bytes: Array[Byte]) {
    private val c = new ZngIO.Cursor(bytes, 0)
    def next(): Long = ZValue.unwrap(ZngIO.decodeZValue(c, ZngIO.ZPrim(9))) match {
      case VInt(n, _) => n
      case _ => 0L
    }
  }

  private final class ConstRd(v: ZValue) extends Rd { def next(): ZValue = v }

  private final class NullsRd(runs: Int64Rd, innerT: ZType, child: Rd) extends Rd {
    private var left = runs.next() // first run counts VALUES (nulls.go)
    private var inNull = false
    def next(): ZValue = {
      while (left == 0) { left = runs.next(); inNull = !inNull }
      left -= 1
      if (inNull) VNull(innerT) else child.next()
    }
  }

  private final class RecordRd(fields: Vector[(String, Rd)]) extends Rd {
    def next(): ZValue = VRec(fields.map { case (n, r) => n -> r.next() })
  }

  private final class ArrayRd(lengths: Int64Rd, child: Rd, isSet: Boolean,
      elemT: ZType) extends Rd {
    def next(): ZValue = {
      val n = lengths.next().toInt
      val items = Vector.fill(n)(child.next())
      val arr = VArr(if (isSet) ZValue.normSet(items) else items, isSet)
      // an EMPTY container cannot imply its element type — keep the
      // metadata's declared type via the typed wrapper (fuzz round-trip)
      if (n == 0 && elemT != Prim("null"))
        VTyped(arr, if (isSet) SetT(elemT) else Arr(elemT))
      else arr
    }
  }

  private final class MapRd(lengths: Int64Rd, keys: Rd, values: Rd,
      kT: ZType, vT: ZType) extends Rd {
    def next(): ZValue = {
      val n = lengths.next().toInt
      val m = VMap(ZValue.normMap(Vector.fill(n)(keys.next() -> values.next())))
      if (n == 0 && (kT != Prim("null") || vT != Prim("null")))
        VTyped(m, MapT(kT, vT))
      else m
    }
  }

  private final class UnionRd(t: Union, tags: Int64Rd, members: Vector[Rd]) extends Rd {
    def next(): ZValue = {
      val which = tags.next().toInt
      // keep the member VALUE intact under the union wrapper (unwrap
      // would strip a named/nested-union member's identity, which the
      // carrier payload slots cannot re-derive — container/union fuzz)
      VTyped(members(which).next(), t)
    }
  }

  private final class NamedRd(name: String, innerT: ZType, child: Rd) extends Rd {
    def next(): ZValue = child.next() match {
      case VTyped(i, _) => VTyped(i, Named(name, innerT))
      case VNull(_) => VNull(Named(name, innerT))
      case other => VTyped(other, Named(name, innerT))
    }
  }

  private final class ErrorRd(child: Rd) extends Rd {
    def next(): ZValue = child.next() match {
      case VNull(t) => VNull(ErrT(t))
      case other => VErr(other)
    }
  }

  private def newRd(m: Meta, fetch: Seg => Array[Byte]): Rd = m match {
    case MPrim(t, loc, dict, _) => new PrimRd(t, fetch(loc), dict)
    case MConst(v, _) => new ConstRd(v)
    case MNulls(runs, values, _) =>
      new NullsRd(new Int64Rd(fetch(runs)), metaType(values), newRd(values, fetch))
    case MRecord(_, fs) => new RecordRd(fs.map { case (n, f) => n -> newRd(f, fetch) })
    case MArray(_, lens, v, isSet) =>
      new ArrayRd(new Int64Rd(fetch(lens)), newRd(v, fetch), isSet, metaType(v))
    case MMap(_, lens, k, v) =>
      new MapRd(new Int64Rd(fetch(lens)), newRd(k, fetch), newRd(v, fetch),
        metaType(k), metaType(v))
    case MUnion(_, tags, vs) =>
      new UnionRd(Union(vs.map(metaType)), new Int64Rd(fetch(tags)), vs.map(newRd(_, fetch)))
    case MNamed(n, v) => new NamedRd(n, metaType(v), newRd(v, fetch))
    case MError(v) => new ErrorRd(newRd(v, fetch))
    case MDynamic(_, _, _) => throw new IllegalArgumentException("vng: nested Dynamic")
  }

  // ---- public API -----------------------------------------------------------

  /** Encode one VNG object from typed values. */
  def encodeObject(values: Iterator[ZValue]): Array[Byte] = {
    val dyn = new DynamicEnc
    values.foreach(dyn.write)
    val (meta, data) = dyn.finish()
    val metaBytes = ZngIO.encodeTypedStream(Seq(metaV(meta)))
    val out = new ByteArrayOutputStream()
    // header.go: 'V','N','G',0, version u32 LE, metaSize u64 LE, dataSize u64 LE
    out.write('V'); out.write('N'); out.write('G'); out.write(0)
    out.write(ZngIO.leBytes(Version.toLong, 4), 0, 4)
    out.write(ZngIO.leBytes(metaBytes.length.toLong, 8), 0, 8)
    out.write(ZngIO.leBytes(data.length.toLong, 8), 0, 8)
    out.write(metaBytes, 0, metaBytes.length)
    out.write(data, 0, data.length)
    out.toByteArray
  }

  /** Decode one VNG object to its typed values. */
  def decodeToZValues(bytes: Array[Byte]): Iterator[ZValue] = {
    val h = Handle(bytes, "vng object")
    h.meta match {
      case MDynamic(tags, values, length) =>
        val tagRd = new Int64Rd(h.fetch(tags))
        val rds = values.map(newRd(_, h.fetch))
        Iterator.range(0L, length).map(_ => rds(tagRd.next().toInt).next())
      case single =>
        val rd = newRd(single, h.fetch)
        Iterator.range(0L, metaLen(single)).map(_ => rd.next())
    }
  }

  /** Distributed write: one VNG object file per partition through the
    * Hadoop FileSystem API (shared filesystem on a cluster). Columnar
    * layout requires buffering one partition's vectors before the header
    * is known — the same memory profile as the reference writer.
    */
  def write(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    HadoopFs.prepareDir(df.sparkSession, path)
    val confMap = HadoopFs.confMap(df.sparkSession)
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val toV = TextWriter.values(schema)
      val bytes = encodeObject(rows.map(toV))
      val out = HadoopFs.create(confMap, path, f"part-$pid%05d.vng")
      try out.write(bytes) finally out.close()
      Iterator.empty
    }.count(): Unit
  }

  // ---- meta-only discovery ----------------------------------------------------

  private def rootMembers(m: Meta): Vector[Meta] = m match {
    case MDynamic(_, vs, _) => vs
    case single => Vector(single)
  }

  /** Sub-µs-precision probe over metadata: columnar layout means only
    * TIME columns' segments are fetched — zero extra I/O for time-free
    * schemas (the ns escalation contract of ZsonReader.fromShapes).
    */
  private def hasSubMicroTimeMeta(m: Meta, fetch: Seg => Array[Byte]): Boolean = m match {
    case MPrim(t, loc, dict, count) if ZType.strip(t) == Prim("time") =>
      if (dict.nonEmpty) dict.exists { case (v, _) => ZValue.hasSubMicroTime(v) }
      else {
        val rd = new PrimRd(t, fetch(loc), dict)
        (0L until count).exists(_ => ZValue.hasSubMicroTime(rd.next()))
      }
    case MPrim(_, _, _, _) => false
    case MConst(v, _) => ZValue.hasSubMicroTime(v)
    case MRecord(_, fs) => fs.exists(f => hasSubMicroTimeMeta(f._2, fetch))
    case MArray(_, _, v, _) => hasSubMicroTimeMeta(v, fetch)
    case MMap(_, _, k, v) =>
      hasSubMicroTimeMeta(k, fetch) || hasSubMicroTimeMeta(v, fetch)
    case MUnion(_, _, vs) => vs.exists(hasSubMicroTimeMeta(_, fetch))
    case MNamed(_, v) => hasSubMicroTimeMeta(v, fetch)
    case MError(v) => hasSubMicroTimeMeta(v, fetch)
    case MNulls(_, v, _) => hasSubMicroTimeMeta(v, fetch)
    case MDynamic(_, _, _) => false
  }

  /** Per-file discovery result, derived from header + metadata section
    * only (the data section is untouched except for time columns' ns
    * probe). `shapes` is Some(texts) iff the file is columnar-scan
    * eligible: EVERY root member is a plain non-empty record (no
    * top-level nulls, no bare-primitive stream) — one member for a
    * homogeneous stream, several for a Dynamic (heterogeneous) root, in
    * the stream's first-appearance order.
    */
  private[sources] final case class FileMeta(shapes: Option[Vector[String]], count: Long,
      ns: Boolean)

  private val discovery = new HadoopFs.Discovery[FileMeta](scanFileMeta)

  private def scanFileMeta(conf: Map[String, String], path: String): FileMeta = {
    val h = Handle.open(conf, path)
    try {
      val members = rootMembers(h.meta)
      // Named-wrapped records are shaped too (the text keeps the name, the
      // columnar scan unwraps to the record)
      def recUnder(x: Meta): Option[MRecord] = x match {
        case r: MRecord => Some(r)
        case MNamed(_, v) => recUnder(v)
        case _ => None
      }
      val texts = members.map { m =>
        recUnder(m) match {
          case Some(MRecord(_, fs)) if fs.nonEmpty => ZType.fullText(metaType(m))
          case _ => null
        }
      }
      val shapes = if (texts.contains(null)) None else Some(texts)
      val ns = members.exists(hasSubMicroTimeMeta(_, h.fetch))
      FileMeta(shapes, metaLen(h.meta), ns)
    } finally h.close()
  }

  // ---- columnar (ColumnarBatch) reads ---------------------------------------

  import ZngIO.{WVec, appendNullFor, extAppender, primApp}

  /** One value appended per call — the column-vector twin of Rd. */
  private sealed trait VFill {
    def append(v: WVec): Unit
    /** Null append — struct vectors must use appendStruct(true) so child
      * slots stay aligned; everything else uses the plain null append.
      */
    def appendNull(v: WVec): Unit = { v.appendNull(); () }
  }

  private final class NullsVFill(runs: Int64Rd, inner: VFill) extends VFill {
    private var left = runs.next() // values first (nulls.go)
    private var inNull = false
    def append(v: WVec): Unit = {
      while (left == 0) { left = runs.next(); inNull = !inNull }
      left -= 1
      if (inNull) inner.appendNull(v) else inner.append(v)
    }
    override def appendNull(v: WVec): Unit = inner.appendNull(v)
  }

  /** Struct column: children fill positionally (by-name match against
    * the target struct; unmatched target fields stay null).
    */
  private final class StructVFill(subs: Array[(Int, VFill)],
      nullIdxs: Array[(Int, DataType)]) extends VFill {
    def append(v: WVec): Unit = {
      v.appendStruct(false): Unit
      var i = 0
      while (i < subs.length) { subs(i)._2.append(v.getChild(subs(i)._1)); i += 1 }
      i = 0
      while (i < nullIdxs.length) {
        appendNullFor(v.getChild(nullIdxs(i)._1), nullIdxs(i)._2); i += 1
      }
    }
    override def appendNull(v: WVec): Unit = { v.appendStruct(true); () }
  }

  private final class ConstVFill(app: WVec => Unit) extends VFill {
    def append(v: WVec): Unit = app(v)
  }

  /** Dictionary column: the segment holds u8 indexes into the metadata's
    * dict; entries pre-convert once.
    */
  private final class DictVFill(bytes: Array[Byte],
      entries: Array[WVec => Unit], target: DataType) extends VFill {
    private var i = 0
    def append(v: WVec): Unit = {
      val idx = bytes(i) & 0xff
      i += 1
      if (idx < entries.length) entries(idx)(v) else appendNullFor(v, target)
    }
  }

  /** Plain primitive segment through a `primApp` decoder. */
  private final class PrimVFill(c: ZngIO.Cursor,
      app: (ZngIO.Cursor, WVec, Int) => Unit) extends VFill {
    def append(v: WVec): Unit = {
      val tag = c.uvarint()
      if (tag == 0) { v.appendNull(); () } else app(c, v, (tag - 1).toInt)
    }
  }

  /** Every other (node, column type) pair: the reference decoder's value
    * for the node (Rd), converted like a Const entry — sets (in normSet
    * order), maps, unions, errors, type values and variant columns.
    */
  private final class ValueVFill(rd: Rd, target: DataType) extends VFill {
    private val app = extAppender(target)
    def append(v: WVec): Unit = app(v, ZValue.toExternal(rd.next(), target))
    override def appendNull(v: WVec): Unit = appendNullFor(v, target)
  }

  private def constApp(value: ZValue, target: DataType): WVec => Unit = {
    val ext = ZValue.toExternal(value, target)
    val app = extAppender(target)
    v => app(v, ext)
  }

  /** Array column: lengths segment drives appendArray; elements fill the
    * parent's child vector (offset bookkeeping is appendArray's).
    */
  private final class ArrayVFill(lengths: Int64Rd, elem: VFill) extends VFill {
    def append(v: WVec): Unit = {
      val n = lengths.next().toInt
      v.appendArray(n): Unit
      val child = v.arrayData()
      var i = 0
      while (i < n) { elem.append(child); i += 1 }
    }
  }

  /** The one per-(metadata node, column type) fill decision. */
  private def vecFill(m: Meta, fetch: Seg => Array[Byte], target: DataType): VFill = {
    def value = new ValueVFill(newRd(m, fetch), target)
    (m, target) match {
      // a variant boxes the node's whole value: named, null and union
      // wrappers are part of what it carries
      case _ if ZsonIO.isVariantType(target) => value
      case (MNamed(_, v), _) => vecFill(v, fetch, target)
      case (MNulls(runs, values, _), _) =>
        new NullsVFill(new Int64Rd(fetch(runs)), vecFill(values, fetch, target))
      case (MConst(v, _), _) => new ConstVFill(constApp(v, target))
      case (MArray(_, lens, values, false), ArrayType(et, _)) =>
        new ArrayVFill(new Int64Rd(fetch(lens)), vecFill(values, fetch, et))
      case (MRecord(_, fields), st: StructType) =>
        val byName = fields.toMap
        val subs = Vector.newBuilder[(Int, VFill)]
        val nulls = Vector.newBuilder[(Int, DataType)]
        st.fields.zipWithIndex.foreach { case (f, i) =>
          byName.get(f.name) match {
            case Some(m) => subs += ((i, vecFill(m, fetch, f.dataType)))
            case None => nulls += ((i, f.dataType))
          }
        }
        new StructVFill(subs.result().toArray, nulls.result().toArray)
      case (MPrim(_, loc, dict, _), _) if dict.nonEmpty =>
        new DictVFill(fetch(loc), dict.map { case (v, _) => constApp(v, target) }.toArray, target)
      case (MPrim(t, loc, _, _), _) =>
        val app = primApp(t, target)
        if (app == null) value else new PrimVFill(new ZngIO.Cursor(fetch(loc), 0), app)
      case _ => value
    }
  }

  /** Columnar read of one file: fills OnHeapColumnVectors from the
    * projected columns' segments only, so unrequested columns' segments
    * are never fetched, decompressed or decoded, and a count()-class scan
    * (empty required schema) reads nothing but the metadata section.
    * Spark's codegen'd ColumnarToRow takes over, like the parquet path.
    *
    * Heterogeneous (Dynamic-root) files build one fill set per member and
    * interleave rows by the Dynamic tags stream into the same column
    * vectors — a member lacking a projected column appends nulls, and the
    * shape-tag column appends the row's member type text (reference
    * runtime/vcache/object.go fetches per-type projections the same way).
    */
  private[sources] def columnarBatches(conf: Map[String, String], path: String,
      required: StructType, batchSize: Int = 4096)
      : (Iterator[org.apache.spark.sql.vectorized.ColumnarBatch], () => Unit) = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val h = Handle.open(conf, path)
    try {
      // a Named-wrapped record root fills like the record it wraps (the
      // name only changes the type TAG text, kept from the original meta
      // below); discovery sends no other root here
      def unwrapRec(m: Meta): MRecord = m match {
        case r: MRecord => r
        case MNamed(_, v) => unwrapRec(v)
        case other => throw new IllegalStateException(
          s"vng columnar scan expects record roots, got ${other.getClass.getSimpleName}")
      }
      val members: Vector[(Meta, MRecord)] =
        rootMembers(h.meta).map(m => m -> unwrapRec(m))
      val total = metaLen(h.meta)
      val vectors = required.fields.map(f => new OnHeapColumnVector(batchSize, f.dataType))
      def fillsFor(orig: Meta, rec: MRecord): Array[VFill] = {
        val byName = rec.fields.toMap
        val tagBytes = ZType.fullText(metaType(orig))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        required.fields.map { f =>
          if (f.name == graft.operators.Het.typeTag)
            new ConstVFill(v => { v.appendByteArray(tagBytes, 0, tagBytes.length); () })
          else byName.get(f.name) match {
            case Some(m) => vecFill(m, h.fetch, f.dataType)
            case None =>
              val dt = f.dataType
              new ConstVFill(v => appendNullFor(v, dt))
          }
        }
      }
      val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
        vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])
      var emitted = 0L
      val it = h.meta match {
        case MDynamic(tags, _, _) =>
          val memberFills = members.toArray.map { case (o, r) => fillsFor(o, r) }
          val tagRd = new Int64Rd(h.fetch(tags))
          val width = required.fields.length
          new Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] {
            def hasNext: Boolean = emitted < total
            def next(): org.apache.spark.sql.vectorized.ColumnarBatch = {
              val n = math.min(batchSize.toLong, total - emitted).toInt
              var j = 0
              while (j < width) { vectors(j).reset(); j += 1 }
              var i = 0
              while (i < n) {
                val fills = memberFills(tagRd.next().toInt)
                j = 0
                while (j < width) { fills(j).append(vectors(j)); j += 1 }
                i += 1
              }
              batch.setNumRows(n)
              emitted += n
              batch
            }
          }
        case _ =>
          val fills = (fillsFor _).tupled(members.head)
          new Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] {
            def hasNext: Boolean = emitted < total
            def next(): org.apache.spark.sql.vectorized.ColumnarBatch = {
              val n = math.min(batchSize.toLong, total - emitted).toInt
              var j = 0
              while (j < fills.length) {
                vectors(j).reset()
                var i = 0
                while (i < n) { fills(j).append(vectors(j)); i += 1 }
                j += 1
              }
              batch.setNumRows(n)
              emitted += n
              batch
            }
          }
      }
      (it, () => { batch.close(); h.close() })
    } catch { case e: Throwable => h.close(); throw e }
  }

  /** Structured-Streaming source over a growing directory of VNG
    * objects — the columnar twin of ZngIO.readStream: schema locks from
    * the files present at start, each newly-landed object decodes
    * executor-side into the locked frame.
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    ZsonReader.tail(spark, path, read(spark, path).schema)(decodeToZValues)

  /** Read a VNG file or directory of part files into the typed frame.
    *
    * Discovery is METADATA-ONLY (header + metadata section per file, plus
    * the time columns' ns probe) — never a decode of the data section, so
    * discovering shapes over 100 TB of VNG costs kilobytes per object,
    * not a full second read of the stream (the columnar contract;
    * reference vng/object.go reads metadata first the same way).
    *
    * Record streams, homogeneous or heterogeneous, then scan through the
    * columnar DataSource V2 table, which prunes columns into the segment
    * reader: `cut ts` over a wide VNG stream fetches the `ts` segments and
    * nothing else. Streams with non-record top-level values (bare
    * primitives, typed nulls) have no columns to prune; they decode whole
    * with the two-pass shape discovery.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = discovery(spark, path)
    if (files.isEmpty) // empty directory → empty frame, not a failed load()
      return ZsonReader.fromShapes(spark, spark.sparkContext.emptyRDD[ZValue], Array.empty)
    val metas = files.map(_._3)
    if (metas.forall(_.shapes.isDefined)) {
      // shape texts keep first-appearance order: file order, then member
      // order within the file's Dynamic root
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      metas.foreach(_.shapes.get.foreach(seen.add))
      val shapes = seen.toVector
      val (_, full) = ZsonReader.frameSchema(shapes, tag = true, metas.exists(_.ns))
      spark.read.format(classOf[VngDataSource].getName)
        .schema(full)
        .option("shapes", shapes.mkString("\n"))
        .option("files", files.map(_._1).mkString("\n"))
        // per-file row counts from discovery: count(*) answers from
        // these without touching the files again, and the scan reports
        // them as statistics for join sizing
        .option("counts", metas.map(_.count).mkString("\n"))
        .option("sizes", files.map(_._2).mkString("\n"))
        .load()
    } else
      ZsonReader.fromRDD(spark, spark.read.format("binaryFile").load(files.map(_._1): _*)
        .select("content").as[Array[Byte]].rdd
        .flatMap(bytes => decodeToZValues(Gzip.maybeGunzip(bytes))))
  }
}
