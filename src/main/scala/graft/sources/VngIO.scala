package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  private def decompressSeg(raw: Array[Byte], s: Seg): Array[Byte] = s.format match {
    case 0 => raw
    case 1 =>
      val out = new Array[Byte](s.memLength.toInt)
      net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
        .decompress(raw, 0, out, 0, s.memLength.toInt)
      out
    case other => throw new IllegalArgumentException(s"vng: unknown compression format $other")
  }

  /** Segment slice at a base offset — lets the full-decode path fetch
    * straight from the file buffer instead of first duplicating the whole
    * data section (one near-file-size array per task, pure GC pressure on
    * the 32-way concurrent fallback scan).
    */
  private def segBytesAt(data: Array[Byte], base: Int, s: Seg): Array[Byte] =
    decompressSeg(
      java.util.Arrays.copyOfRange(data, base + s.offset.toInt,
        base + (s.offset + s.length).toInt), s)

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
    require(bytes.length >= 24 && bytes(0) == 'V' && bytes(1) == 'N' &&
      bytes(2) == 'G' && bytes(3) == 0, "not a VNG file")
    def leLong(off: Int, n: Int): Long =
      (0 until n).map(i => (bytes(off + i) & 0xffL) << (8 * i)).sum
    val metaSize = leLong(8, 8).toInt
    val metaBytes = java.util.Arrays.copyOfRange(bytes, 24, 24 + metaSize)
    val metaVal = ZngIO.decodeToZValues(metaBytes, unionKeepsMember = true).toSeq.headOption.getOrElse(
      throw new IllegalArgumentException("vng: empty metadata section"))
    // segments fetch straight from the file buffer (no whole-data-section
    // duplicate per task)
    val dataOff = 24 + metaSize
    val fetch: Seg => Array[Byte] = s => segBytesAt(bytes, dataOff, s)
    parseMeta(metaVal) match {
      case MDynamic(tags, values, length) =>
        val tagRd = new Int64Rd(fetch(tags))
        val rds = values.map(newRd(_, fetch))
        Iterator.range(0L, length).map(_ => rds(tagRd.next().toInt).next())
      case single =>
        val rd = newRd(single, fetch)
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
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val toV = ZFormat.rowValueFn(schema)
      val bytes = encodeObject(rows.map(toV))
      val out = HadoopFs.create(confMap, path, f"part-$pid%05d.vng")
      try out.write(bytes) finally out.close()
      Iterator.empty
    }.count(): Unit
  }

  // ---- meta-only scan + pruned columnar access ------------------------------

  private def leL(b: Array[Byte], off: Int, n: Int): Long =
    (0 until n).map(i => (b(off + i) & 0xffL) << (8 * i)).sum

  private def parseMetaBytes(metaBytes: Array[Byte]): Meta = {
    val metaVal = ZngIO.decodeToZValues(metaBytes, unionKeepsMember = true).toSeq.headOption
      .getOrElse(throw new IllegalArgumentException("vng: empty metadata section"))
    parseMeta(metaVal)
  }

  /** A file opened for columnar access: parsed metadata plus a segment
    * fetcher. Plain files fetch segments with POSITIONED reads — only the
    * byte ranges of the columns a query needs are ever read, the point of
    * a columnar format on a 100 TB object store. Gzipped files decompress
    * once in memory (gzip streams can't seek); pruning still skips the
    * LZ4 + value decode of unneeded columns.
    */
  private final class Handle(conf: Map[String, String], path: String) extends AutoCloseable {
    private val (metaRoot, dataStart, reader, inlineBytes) = {
      val r = new HadoopFs.RangeReader(conf, path)
      val head =
        try r.read(0, 24)
        catch {
          case _: java.io.EOFException =>
            // shorter than the fixed header — not VNG, not a read error
            r.close()
            // shorter than the fixed header: the reference reader surfaces
            // the raw io EOF (vng/object.go ReadHeader)
            throw new IllegalArgumentException(s"$path: EOF")
          case e: Throwable => r.close(); throw e
        }
      if ((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b) {
        r.close()
        val bytes = Gzip.maybeGunzip(HadoopFs.readAll(conf, path))
        require(bytes.length >= 24 && bytes(0) == 'V' && bytes(1) == 'N' &&
          bytes(2) == 'G' && bytes(3) == 0, s"not a VNG file: $path")
        val metaSize = leL(bytes, 8, 8).toInt
        (parseMetaBytes(java.util.Arrays.copyOfRange(bytes, 24, 24 + metaSize)),
          24L + metaSize, null: HadoopFs.RangeReader, bytes)
      } else {
        require(head(0) == 'V' && head(1) == 'N' && head(2) == 'G' && head(3) == 0,
          s"not a VNG file: $path")
        val metaSize = leL(head, 8, 8).toInt
        (parseMetaBytes(r.read(24, metaSize)), 24L + metaSize, r, null: Array[Byte])
      }
    }
    def meta: Meta = metaRoot
    val fetch: Seg => Array[Byte] = s =>
      if (inlineBytes != null)
        decompressSeg(java.util.Arrays.copyOfRange(inlineBytes,
          (dataStart + s.offset).toInt, (dataStart + s.offset + s.length).toInt), s)
      else decompressSeg(reader.read(dataStart + s.offset, s.length.toInt), s)
    def close(): Unit = if (reader != null) reader.close()
  }

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
    * probe). `shapes` is Some(texts) iff the file is pruned-scan
    * eligible: EVERY root member is a plain non-empty record (no
    * top-level nulls, no bare-primitive stream) — one member for a
    * homogeneous stream, several for a Dynamic (heterogeneous) root, in
    * the stream's first-appearance order.
    */
  private[sources] final case class FileMeta(len: Long, mtime: Long,
      shapes: Option[Vector[String]], count: Long, ns: Boolean)

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[String, FileMeta]()

  private def scanFileMeta(conf: Map[String, String], path: String,
      len: Long, mtime: Long): FileMeta = {
    val h = new Handle(conf, path)
    try {
      val members = rootMembers(h.meta)
      // Named-wrapped records are shaped too (the text keeps the name, the
      // readers unwrap to the record) — they previously fell all the way
      // to the full-decode scan
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
      FileMeta(len, mtime, shapes, metaLen(h.meta), ns)
    } finally h.close()
  }

  /** Executor-side pruned columnar read of one file: readers are built
    * ONLY for the requested top-level fields, so unrequested columns'
    * segments are never fetched, decompressed, or decoded — and a
    * count()-class scan (empty required schema) reads nothing but the
    * metadata section. Heterogeneous (Dynamic-root) files build one
    * per-member reader set and interleave rows by the Dynamic tags
    * stream (reference runtime/vcache/object.go fetches per-type
    * projections the same way), so a one-column projection over a
    * multi-shape stream still reads only that column's segments of each
    * member. Returns the row iterator plus a close handle.
    */
  private[sources] def prunedRows(conf: Map[String, String], path: String,
      required: org.apache.spark.sql.types.StructType)
      : (Iterator[org.apache.spark.sql.catalyst.InternalRow], () => Unit) = {
    val h = new Handle(conf, path)
    try {
      // per-field ZValue→Catalyst-internal conversion (no external Row,
      // no whole-row converter pass); merged-frame variant columns box
      // per value exactly like the full-decode path (same toExternal)
      def colsFor(orig: Meta, rec: MRecord): Array[() => Any] = {
        val shapeText = ZType.fullText(metaType(orig))
        val byName = rec.fields.toMap
        required.fields.map { f =>
          if (f.name == graft.operators.Het.typeTag) {
            val tag = org.apache.spark.unsafe.types.UTF8String.fromString(shapeText)
            () => tag
          } else byName.get(f.name) match {
            case Some(m) =>
              val rd = newRd(m, h.fetch)
              val dt = f.dataType
              val conv = ZngIO.extToInternal(dt)
              () => {
                val ext = ZValue.toExternal(rd.next(), dt)
                if (ext == null) null else conv(ext)
              }
            case None => () => null
          }
        }
      }
      val width = required.fields.length
      def rowFrom(cols: Array[() => Any]): org.apache.spark.sql.catalyst.InternalRow = {
        val arr = new Array[Any](width)
        var i = 0
        while (i < width) { arr(i) = cols(i)(); i += 1 }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
      }
      def recOf(m: Meta): MRecord = m match {
        case r: MRecord => r
        case MNamed(_, v) => recOf(v) // named record roots unwrap; tag keeps the name
        case other => throw new IllegalStateException(
          s"vng pruned scan expects record roots, got ${other.getClass.getSimpleName}")
      }
      val it = h.meta match {
        case MDynamic(tags, members, length) =>
          val memberCols = members.map(m => colsFor(m, recOf(m)))
          val tagRd = new Int64Rd(h.fetch(tags))
          Iterator.range(0L, length).map(_ => rowFrom(memberCols(tagRd.next().toInt)))
        case single =>
          val cols = colsFor(single, recOf(single))
          Iterator.range(0L, recOf(single).length).map(_ => rowFrom(cols))
      }
      (it, () => h.close())
    } catch { case e: Throwable => h.close(); throw e }
  }

  // ---- vectorized (ColumnarBatch) reads -------------------------------------

  /** The primitive zed types the vectorized filler handles — everything a
    * typical analytic scan projects. Containers/unions/uint64/type values
    * fall back to the row reader.
    */
  private[sources] def vectorizableType(t: ZType): Boolean = ZType.strip(t) match {
    case Prim("int8") | Prim("int16") | Prim("int32") | Prim("int64") |
         Prim("uint8") | Prim("uint16") | Prim("uint32") |
         Prim("duration") | Prim("time") |
         Prim("float16") | Prim("float32") | Prim("float64") |
         Prim("bool") | Prim("string") | Prim("bytes") |
         Prim("ip") | Prim("net") => true
    case EnumT(_) => true
    // arrays of vectorizable elements fill the child vector (embeddings!);
    // SETS are excluded — their row-path decode normalizes element order
    case Arr(e) => vectorizableType(e)
    // nested records fill struct child vectors (zeek's id record)
    case Rec(fs) => fs.nonEmpty && fs.forall { case (_, ft) => vectorizableType(ft) }
    case _ => false
  }

  private type WVec = org.apache.spark.sql.execution.vectorized.WritableColumnVector

  /** One value appended per call — the column-vector twin of Rd. */
  private sealed trait VFill {
    def append(v: WVec): Unit
    /** Null append — struct vectors must use appendStruct(true) so child
      * slots stay aligned; everything else uses the plain null append.
      */
    def appendNull(v: WVec): Unit = { v.appendNull(); () }
  }

  private def appendNullFor(v: WVec, target: org.apache.spark.sql.types.DataType): Unit =
    target match {
      case _: org.apache.spark.sql.types.StructType => v.appendStruct(true): Unit
      case _ => v.appendNull(): Unit
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
      nullIdxs: Array[(Int, org.apache.spark.sql.types.DataType)]) extends VFill {
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
      entries: Array[WVec => Unit],
      target: org.apache.spark.sql.types.DataType) extends VFill {
    private var i = 0
    def append(v: WVec): Unit = {
      val idx = bytes(i) & 0xff
      i += 1
      if (idx < entries.length) entries(idx)(v) else appendNullFor(v, target)
    }
  }

  /** Plain primitive segment: decodes zng-tagged payloads straight into
    * the vector — no ZValue, no Row, no per-value boxing.
    */
  private final class PrimVFill(c: ZngIO.Cursor, t: ZType,
      target: org.apache.spark.sql.types.DataType) extends VFill {
    import org.apache.spark.sql.types._
    private val utf8 = java.nio.charset.StandardCharsets.UTF_8
    private val enumSyms: Array[Array[Byte]] = ZType.strip(t) match {
      case EnumT(ss) => ss.map(_.getBytes(utf8)).toArray
      case _ => null
    }
    private val app: (WVec, Int) => Unit = ZType.strip(t) match {
      case Prim("int8") | Prim("int16") | Prim("int32") | Prim("int64") |
           Prim("duration") =>
        (v, n) => { v.appendLong(c.signedAt(n)); () }
      case Prim("time") =>
        if (target == LongType) (v, n) => { v.appendLong(c.signedAt(n)); () }
        else (v, n) => { v.appendLong(Math.floorDiv(c.signedAt(n), 1000L)); () }
      case Prim("uint8") | Prim("uint16") | Prim("uint32") =>
        (v, n) => { v.appendLong(c.unsignedAt(n)); () }
      case Prim("float64") =>
        (v, n) => { v.appendDouble(java.lang.Double.longBitsToDouble(c.unsignedAt(n))); () }
      case Prim("float32") =>
        (v, n) => { v.appendDouble(
          java.lang.Float.intBitsToFloat(c.unsignedAt(n).toInt).toDouble); () }
      case Prim("float16") =>
        (v, n) => { v.appendDouble(ZngIO.halfToDouble(c.unsignedAt(n).toInt)); () }
      case Prim("bool") =>
        (v, n) => {
          val b = n > 0 && c.buf(c.pos) == 1
          c.pos += n
          v.appendBoolean(b); ()
        }
      case Prim("string") | Prim("bytes") =>
        (v, n) => { v.appendByteArray(c.buf, c.pos, n); c.pos += n; () }
      case Prim("ip") =>
        (v, n) => {
          val s = ZngIO.ipText(c.bytes(n)).getBytes(utf8)
          v.appendByteArray(s, 0, s.length); ()
        }
      case Prim("net") =>
        (v, n) => {
          val b = c.bytes(n)
          val addr = java.util.Arrays.copyOfRange(b, 0, b.length / 2)
          val mask = java.util.Arrays.copyOfRange(b, b.length / 2, b.length)
          val s = (ZngIO.ipText(addr) + "/" + ZngIO.leadingOnes(mask)).getBytes(utf8)
          v.appendByteArray(s, 0, s.length); ()
        }
      case EnumT(_) =>
        (v, n) => {
          val sym = enumSyms(ZngIO.unsignedOf(c.bytes(n)).toInt)
          v.appendByteArray(sym, 0, sym.length); ()
        }
      case other => throw new IllegalStateException(s"vng vectorized fill: $other")
    }
    def append(v: WVec): Unit = {
      val tag = c.uvarint()
      if (tag == 0) { v.appendNull(); () } else app(v, (tag - 1).toInt)
    }
  }

  /** Appender for an already-converted EXTERNAL value (Const columns,
    * dict entries) — recursive so constant arrays fill the child vector.
    */
  private def extAppender(target: org.apache.spark.sql.types.DataType): (WVec, Any) => Unit =
    target match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        val sub = extAppender(et)
        (v, x) => {
          val s = x.asInstanceOf[scala.collection.Seq[Any]]
          v.appendArray(s.length): Unit
          val child = v.arrayData()
          s.foreach(e => if (e == null) { child.appendNull(); () } else sub(child, e))
        }
      case st: org.apache.spark.sql.types.StructType =>
        val subs = st.fields.map(f => extAppender(f.dataType))
        (v, x) => {
          val r = x.asInstanceOf[org.apache.spark.sql.Row]
          v.appendStruct(false): Unit
          var i = 0
          while (i < subs.length) {
            val e = r.get(i)
            val c = v.getChild(i)
            if (e == null) appendNullFor(c, st.fields(i).dataType) else subs(i)(c, e)
            i += 1
          }
        }
      case _ => (v, x) => x match {
        case n: java.lang.Long => v.appendLong(n): Unit
        case d: java.lang.Double => v.appendDouble(d): Unit
        case b: java.lang.Boolean => v.appendBoolean(b): Unit
        case s: String =>
          val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          v.appendByteArray(bs, 0, bs.length): Unit
        case bs: Array[Byte] => v.appendByteArray(bs, 0, bs.length): Unit
        case ts: java.sql.Timestamp =>
          val inst = ts.toInstant
          v.appendLong(Math.addExact(
            Math.multiplyExact(inst.getEpochSecond, 1000000L),
            (inst.getNano / 1000).toLong)): Unit
        case other =>
          throw new IllegalStateException(s"vng vectorized const: ${other.getClass}")
      }
    }

  private def constApp(value: ZValue,
      target: org.apache.spark.sql.types.DataType): WVec => Unit = {
    val ext = ZValue.toExternal(value, target)
    if (ext == null) v => appendNullFor(v, target)
    else {
      val app = extAppender(target)
      v => app(v, ext)
    }
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

  private def vecFill(m: Meta, fetch: Seg => Array[Byte],
      target: org.apache.spark.sql.types.DataType): VFill = m match {
    case MNamed(_, v) => vecFill(v, fetch, target)
    case MNulls(runs, values, _) =>
      new NullsVFill(new Int64Rd(fetch(runs)), vecFill(values, fetch, target))
    case MConst(v, _) => new ConstVFill(constApp(v, target))
    case MArray(_, lens, values, false) =>
      val et = target match {
        case org.apache.spark.sql.types.ArrayType(e, _) => e
        case other => throw new IllegalStateException(s"vng array fill into $other")
      }
      new ArrayVFill(new Int64Rd(fetch(lens)), vecFill(values, fetch, et))
    case MRecord(_, fields) =>
      val st = target match {
        case x: org.apache.spark.sql.types.StructType => x
        case other => throw new IllegalStateException(s"vng struct fill into $other")
      }
      val byName = fields.toMap
      val subs = Vector.newBuilder[(Int, VFill)]
      val nulls = Vector.newBuilder[(Int, org.apache.spark.sql.types.DataType)]
      st.fields.zipWithIndex.foreach { case (f, i) =>
        byName.get(f.name) match {
          case Some(m) => subs += ((i, vecFill(m, fetch, f.dataType)))
          case None => nulls += ((i, f.dataType))
        }
      }
      new StructVFill(subs.result().toArray, nulls.result().toArray)
    case MPrim(t, loc, dict, _) if dict.nonEmpty =>
      new DictVFill(fetch(loc),
        dict.map { case (v, _) => constApp(v, target) }.toArray, target)
    case MPrim(t, loc, _, _) => new PrimVFill(new ZngIO.Cursor(fetch(loc), 0), t, target)
    case other => throw new IllegalStateException(
      s"vng vectorized fill on non-primitive meta: ${other.getClass.getSimpleName}")
  }

  /** Vectorized pruned read: fills OnHeapColumnVectors straight from the
    * projected columns' segments and emits ColumnarBatches — the scan
    * stays columnar end-to-end (Spark's ColumnarToRow is codegen'd), the
    * parquet-class path for analytic scans over VNG.
    *
    * Heterogeneous (Dynamic-root) files vectorize too: one fill set per
    * member, rows interleaved by the Dynamic tags stream into the same
    * column vectors — a member lacking a projected column appends nulls,
    * and the shape-tag column appends the row's member type text (the
    * columnar twin of prunedRows' per-member readers; reference
    * runtime/vcache/object.go fetches per-type projections the same way).
    */
  private[sources] def columnarBatches(conf: Map[String, String], path: String,
      required: org.apache.spark.sql.types.StructType, shapeText: String,
      batchSize: Int = 4096)
      : (Iterator[org.apache.spark.sql.vectorized.ColumnarBatch], () => Unit) = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val h = new Handle(conf, path)
    try {
      // a Named-wrapped record root vectorizes like the record it wraps
      // (the name only changes the type TAG text, kept from the original
      // meta below); MNulls-wrapped roots (typed-null record rows) cannot
      // — columnarOk rejects their shape texts so they take the row reader
      def unwrapRec(m: Meta): MRecord = m match {
        case r: MRecord => r
        case MNamed(_, v) => unwrapRec(v)
        case other => throw new IllegalStateException(
          s"vng vectorized scan expects record roots, got ${other.getClass.getSimpleName}")
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

  /** Row count of one file from its metadata section alone (count(*)
    * pushdown fallback when the discovery counts weren't passed).
    */
  private[sources] def fileRowCount(conf: Map[String, String], path: String): Long = {
    val h = new Handle(conf, path)
    try metaLen(h.meta) finally h.close()
  }

  /** Schema inference for direct `spark.read.format(VngDataSource)` users
    * (VngIO.read supplies the schema itself after its distributed scan).
    */
  private[sources] def inferSingleShape(spark: SparkSession, files: Seq[String]): org.apache.spark.sql.types.StructType = {
    val conf = HadoopFs.confMap(spark)
    val metas = files.map(f => scanFileMeta(conf, f, -1L, -1L))
    require(metas.forall(_.shapes.isDefined),
      "vng data source handles record-shape streams; use VngIO.read")
    val shapes = metas.flatMap(_.shapes.get).distinct
    ZsonReader.frameSchema(shapes, tag = true, metas.exists(_.ns))._2
  }

  /** Structured-Streaming source over a growing directory of VNG
    * objects — the columnar twin of ZngIO.readStream: schema locks from
    * the files present at start, each newly-landed object decodes
    * executor-side into the locked frame.
    */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = read(spark, path).schema
    val cleaned = StructType(schema.fields.filterNot(_.name == graft.operators.Het.typeTag))
    spark.readStream.format("binaryFile")
      .schema(new StructType()
        .add("path", StringType).add("modificationTime", TimestampType)
        .add("length", LongType).add("content", BinaryType))
      .load(path)
      .select("content").as[Array[Byte]]
      .flatMap(bytes => decodeToZValues(Gzip.maybeGunzip(bytes))
        .map(v => ZsonReader.rowOf(v, cleaned, tag = true)))(
        org.apache.spark.sql.Encoders.row(schema))
      .toDF()
  }

  /** Read a VNG file or directory of part files into the typed frame.
    *
    * Discovery is METADATA-ONLY (header + metadata section per file, plus
    * the time columns' ns probe) — never a decode of the data section, so
    * discovering shapes over 100 TB of VNG costs kilobytes per object,
    * not a full second read of the stream (the columnar contract;
    * reference vng/object.go reads metadata first the same way).
    *
    * Homogeneous record streams (the common case) then scan through a
    * DataSource V2 table that prunes columns into the segment reader:
    * `cut ts` over a wide VNG stream fetches the `ts` segments and
    * nothing else. Heterogeneous streams fall back to full decode with
    * the two-pass shape discovery (`graft.vng.prune=false` forces the
    * fallback everywhere, the bench A/B axis).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val prune = spark.conf.getOption("graft.vng.prune").forall(_.toBoolean)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = HadoopFs.dataFiles(spark, path)
    if (dataFiles.isEmpty) // empty directory → empty frame, not a failed load()
      return ZsonReader.fromShapes(spark, spark.sparkContext.emptyRDD[ZValue], Array.empty)
    val statuses = dataFiles.map { p =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
      (p, st.getLen, st.getModificationTime)
    }
    val missing = statuses.filter { case (p, len, mt) =>
      Option(metaCache.get(p)).forall(m => m.len != len || m.mtime != mt)
    }
    if (missing.nonEmpty) {
      val conf = HadoopFs.confMap(spark)
      val scanned = spark.sparkContext.parallelize(missing, missing.length)
        .map { case (p, len, mt) => (p, scanFileMeta(conf, p, len, mt)) }
        .collect()
      // bound the cache for long-lived sessions (service): evict only
      // entries outside the current file list — a full clear would drop
      // fresh entries that the metas read below still needs
      if (metaCache.size > 200000) {
        val keep = statuses.iterator.map(_._1).toSet
        metaCache.keySet.removeIf(k => !keep.contains(k)): Unit
      }
      scanned.foreach { case (p, m) => metaCache.put(p, m) }
    }
    val metas = statuses.map { case (p, _, _) => metaCache.get(p) }
    // pruned DSv2 scan whenever every root member of every file is a
    // plain record — homogeneous OR heterogeneous; shape texts keep
    // first-appearance order (file order, then member order within the
    // file's Dynamic root). The full-decode fallback remains only for
    // streams with non-record top-level values (bare primitives, typed
    // nulls) — by construction those have no columns to prune.
    val shapeTexts: Option[Vector[String]] =
      if (metas.forall(_.shapes.isDefined)) {
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        metas.foreach(_.shapes.get.foreach(seen.add))
        Some(seen.toVector)
      } else None
    shapeTexts match {
      case Some(shapes) if prune =>
        val (_, full) = ZsonReader.frameSchema(shapes, tag = true, metas.exists(_.ns))
        spark.read.format(classOf[VngDataSource].getName)
          .schema(full)
          .option("shapes", shapes.mkString("\n"))
          .option("files", dataFiles.mkString("\n"))
          // per-file row counts from discovery: count(*) answers from
          // these without touching the files again (VngCountScan), and
          // the scan reports them as statistics for join sizing
          .option("counts", metas.map(_.count).mkString("\n"))
          .option("sizes", statuses.map(_._2).mkString("\n"))
          .load()
      case _ =>
        val rdd = spark.read.format("binaryFile").load(dataFiles: _*)
          .select("content").as[Array[Byte]].rdd
          .flatMap(bytes => decodeToZValues(Gzip.maybeGunzip(bytes)))
        shapeTexts match {
          case Some(shapes) =>
            // full-decode requested (graft.vng.prune=false) but the shapes
            // are already known from the metadata discovery — skip
            // fromRDD's extra shape-discovery pass (it would decode the
            // whole stream a second time just to learn what the metadata
            // section said for kilobytes)
            val discovered = shapes.zipWithIndex
              .map { case (t, i) => (t, i.toLong) } ++
              (if (metas.exists(_.ns))
                 Seq(ZsonReader.nsSentinelKey -> Long.MaxValue)
               else Seq.empty)
            ZsonReader.fromShapes(spark, rdd, discovered.toArray)
          case None => ZsonReader.fromRDD(spark, rdd)
        }
    }
  }
}
