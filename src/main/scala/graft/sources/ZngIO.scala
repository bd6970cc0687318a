package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayOutputStream, OutputStream}

/** ZNG binary format (reference: docs/formats/zng.md, zio/zngio/).
  *
  * Real spec-conformant encoding: typedef frames assigning stream type IDs
  * from 30, values frames of (type-id uvarint + tag-encoded body), signed
  * ints sign-magnitude counted-varint encoded to minimal little-endian
  * bytes (zcode/counted.go), end-of-stream 0xff.
  * The reader additionally handles LZ4-compressed frames (compression.md
  * format 0) and skips control frames.
  *
  * Spark integration: the writer emits one independent ZNG stream per
  * partition (streams concatenate legally per spec §2.4) through one
  * frame writer (FrameWriter); the reader discovers each file's shapes
  * (scanMeta) and decodes the streams DISTRIBUTED through the DSv2 scan,
  * so mixed-type streams fuse into the same tagged/variant frame as any
  * heterogeneous input — with full union/enum/error/named-type fidelity
  * at file scale. Every reader takes its frames from one frame reader
  * (readFrameRaw / inflateFrame / parseTypedefs).
  */
object ZngIO {

  // ---- low-level encoding ----------------------------------------------------

  private[graft] def uvarint(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Signed counted varint (zng.md §2.2.2, zcode/counted.go:59): the
    * magnitude is shifted left one with the sign in the low bit —
    * NOT zigzag — then emitted as minimal little-endian bytes.
    * -1 → 0x03; Long.MinValue overflows to the reserved encoding 0x01.
    */
  private[graft] def signedBytes(n: Long): Array[Byte] = {
    var u = if (n >= 0) n << 1 else ((-n) << 1) | 1L
    val buf = Array.newBuilder[Byte]
    while (u != 0) { buf += (u & 0xff).toByte; u >>>= 8 }
    buf.result()
  }

  private[graft] def leBytes(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >>> (8 * i)) & 0xff).toByte)

  // primitive IDs (zng.md §3)
  private val ID_INT8 = 6; private val ID_INT16 = 7
  private val ID_INT32 = 8; private val ID_INT64 = 9
  private val ID_DURATION = 12; private val ID_TIME = 13
  private val ID_FLOAT32 = 15; private val ID_FLOAT64 = 16
  private val ID_BOOL = 23; private val ID_BYTES = 24
  private val ID_STRING = 25; private val ID_NULL = 29
  private val ID_IP = 26; private val ID_NET = 27

  /** The wire type of a Spark column type: primitives by id (zng.md §3),
    * containers by structure. Nullability and field metadata never reach
    * the wire, so types that differ only there share one typedef.
    */
  private[sources] def ztOf(dt: DataType): ZT = dt match {
    case ByteType => ZPrim(ID_INT8)
    case ShortType => ZPrim(ID_INT16)
    case IntegerType => ZPrim(ID_INT32)
    case LongType => ZPrim(ID_INT64)
    case FloatType => ZPrim(ID_FLOAT32)
    case DoubleType => ZPrim(ID_FLOAT64)
    case BooleanType => ZPrim(ID_BOOL)
    case BinaryType => ZPrim(ID_BYTES)
    case StringType => ZPrim(ID_STRING)
    case TimestampType | TimestampNTZType | DateType => ZPrim(ID_TIME)
    case _: DayTimeIntervalType => ZPrim(ID_DURATION)
    case NullType => ZPrim(ID_NULL)
    // Decimal(20,0) is the engine's FULL-RANGE uint64 carrier (value.go
    // carries uint64 natively; 2^64−1 doesn't fit a long — SURVEY §1.4);
    // other decimals have no zed type and ride as float64
    case dt: DecimalType if dt.precision == 20 && dt.scale == 0 => ZPrim(3)
    case _: DecimalType => ZPrim(ID_FLOAT64)
    // a long marked time is the ns time carrier, as the value route types it
    case st: StructType => ZRecord(st.fields.toSeq.map(f => f.name -> (
      if (f.dataType == LongType && f.metadata.contains("graft.zedType") &&
          f.metadata.getString("graft.zedType") == "time") ZPrim(ID_TIME)
      else ztOf(f.dataType))))
    case ArrayType(et, _) => ZArray(ztOf(et))
    case MapType(kt, vt, _) => ZMap(ztOf(kt), ztOf(vt))
    case other => throw new IllegalArgumentException(s"zng: unsupported type $other")
  }

  private def sizeOfUvarint(v: Long): Int = {
    var n = 1; var x = v >>> 7
    while (x != 0) { n += 1; x >>>= 7 }
    n
  }

  /** Diagnostic CLI knobs (-zng.compress=false / -zng.readmax): frames
    * write raw / reads cap the frame length. Set by the test harness in
    * local mode; cluster data paths keep the defaults.
    */
  @volatile private[graft] var compressFrames: Boolean = true
  @volatile private[graft] var readMaxFrame: Long = Long.MaxValue

  /** Walk the stream's frame headers; fail like the reference reader when
    * one exceeds the -zng.readmax cap (zngio/reader.go ReadPayload).
    */
  private[graft] def checkReadMax(name: String, bytes: Array[Byte]): Unit = {
    if (readMaxFrame == Long.MaxValue) return
    val c = new Cursor(bytes, 0)
    while (!c.done) {
      val code = c.u8()
      if (code != 0xff) {
        val len = ((c.uvarint() << 4) | (code & 0xf).toLong)
        if (len > readMaxFrame)
          throw new IllegalArgumentException(
            s"$name: zngio: frame length ($len) exceeds maximum allowed ($readMaxFrame)")
        c.pos += len.toInt
      }
    }
  }

  /** One block with the reference writer's framing (zngio/writer.go
    * writeBlock): LZ4-compress, keep the compressed form only when it is
    * smaller than the raw payload (pierrec CompressBlock into a buffer of
    * the payload's size), else raw.
    */
  private[sources] def frame(t: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val len = payload.length
    if (len > 0 && compressFrames) {
      // byte-exact reference compressor (Lz4Block): returns 0 when the
      // compressed form wouldn't beat the raw payload, exactly like the
      // reference writer's CompressBlock-into-len(b) fallback
      val zbuf = new Array[Byte](len)
      val zlen = Lz4Block.compress(payload, len, zbuf)
      if (zlen > 0) {
        val total = zlen + 1 + sizeOfUvarint(len.toLong)
        out.write((t << 4) | (total & 0xf) | 0x40)
        uvarint(out, (total >> 4).toLong)
        out.write(0x00) // CompressionFormatLZ4
        uvarint(out, len.toLong)
        out.write(zbuf, 0, zlen)
        return out.toByteArray
      }
    }
    out.write((t << 4) | (len & 0xf)) // V=0, C=0, T, L
    uvarint(out, (len >> 4).toLong)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** The reference writer's FrameThresh (zngio DefaultFrameThresh). */
  private val FrameThresh = 512 * 1024

  /** The one ZNG stream writer's framing: values accumulate in one frame
    * buffer, typedefs the table assigns since the last flush go out as a
    * types frame right before the next values frame, a frame is cut once
    * its values (or the pending typedefs) reach FrameThresh, and `finish`
    * ends the stream with EOS. Callers append `type-id + tagged body` to
    * `values` and call `endValue()` after each value.
    */
  private[sources] final class FrameWriter(out: OutputStream) {
    val table = new ZtTable
    val values = new ByteBuf(1 << 20)

    def endValue(): Unit =
      if (values.size >= FrameThresh || table.defs.size() >= FrameThresh) flush()

    def flush(): Unit = {
      if (table.defs.size() > 0) { out.write(frame(0, table.defs.toByteArray)); table.defs.reset() }
      if (values.size > 0) { out.write(frame(1, values.toByteArray)); values.reset() }
    }

    def finish(): Unit = { flush(); out.write(0xff) }
  }

  /** Distributed write: one ZNG stream file per partition, through the
    * Hadoop FileSystem API so the parts land on the shared filesystem
    * (HDFS/S3A/file:) rather than executor-local disk. Encodes straight
    * from the physical plan's InternalRows (queryExecution.toRdd) — no
    * per-row InternalRow→Row deconversion on the typed routes, strings
    * stay UTF-8 bytes from Tungsten memory to the wire.
    */
  def write(df: DataFrame, path: String): Unit =
    writeParts(df, path, streamEncoder(df.schema, path))

  private def writeParts(df: DataFrame, path: String, encode: StreamEncoder): Unit = {
    HadoopFs.prepareDir(df.sparkSession, path)
    Jobs.all(df.queryExecution.toRdd, new WritePart(HadoopFs.confMap(df.sparkSession), path, encode)): Unit
  }

  /** One partition encoded to its part file (a named class: see [[Jobs]]). */
  private final class WritePart(conf: Map[String, String], path: String, encode: StreamEncoder)
      extends ((org.apache.spark.TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    def apply(ctx: org.apache.spark.TaskContext, rows: Iterator[InternalRow]): Unit = {
      val out = HadoopFs.create(conf, path, f"part-${ctx.partitionId()}%05d.zng")
      try encode(rows, out) finally out.close()
    }
  }

  /** Encodes one partition's internal rows as one ZNG stream (EOS
    * included). Rows may carry columns past the schema the encoder was
    * built for; no encoder reads them.
    */
  private[sources] type StreamEncoder = (Iterator[InternalRow], OutputStream) => Unit

  /** The one route a frame takes to the wire, decided on the driver from
    * its schema; `what` names the frame in the log line of a fallback.
    * TAGGED frames write per-row TYPED values: each row re-types against
    * its shape so zed types (ip/time/named, per-row shapes) hit the wire,
    * and the engine's tag column itself never leaks into the file.
    * Untagged frames carrying RUNTIME-typed (variant) columns — e.g. a
    * boxed het scalar stream (`yield 1,[1,2,3]`) — write each row's
    * runtime value with its own type; the internal encoders would leak the
    * engine's union carrier onto the wire. And a this-only frame is the
    * BARE-VALUE carrier: the wire sees the value itself, never a
    * {this:…} wrapper (zq.md's concat + hexdump doc examples pin both).
    * Every other frame encodes through its schema's internal encoders.
    */
  private[sources] def streamEncoder(schema: StructType, what: String): StreamEncoder = {
    val dataNames = schema.fields.toIndexedSeq
      .filterNot(f => f.metadata.contains("graft.scopeVar")).map(_.name)
    if (schema.fieldNames.contains(graft.operators.Het.typeTag)) taggedEncoder(schema, what)
    else if (dataNames == Seq("this") ||
        schema.fields.exists(f => !f.metadata.contains("graft.scopeVar") &&
          ZsonIO.isVariantType(f.dataType))) valueEncoder(schema)
    else (rows, out) => encodeInternalStreamTo(out, rows, schema)
  }

  /** A frame as ONE ZNG stream held in memory: its rows, coalesced to
    * one partition, encode through the route `write` takes, and each row
    * goes to `probe` as it passes. The first `width` columns are the
    * frame; columns past them ride along for `probe` only. Returns the
    * stream and the probe results in row order. A frame whose rows are
    * already on the driver (see [[driverRows]]) encodes there without a
    * Spark job; any other frame encodes in one job of one task. For small
    * frames: the stream and the results come to the driver.
    */
  private[graft] def encodeInMemory[A: scala.reflect.ClassTag](df: DataFrame, width: Int)(
      probe: InternalRow => A): (Array[Byte], Array[A]) = {
    val encode = streamEncoder(StructType(df.schema.fields.take(width)), "in-memory stream")
    val one = df.coalesce(1)
    val radixSort = df.sparkSession.conf.get(
      org.apache.spark.sql.internal.SQLConf.RADIX_SORT_ENABLED.key).toBoolean
    driverRows(one.queryExecution.optimizedPlan, radixSort) match {
      case Some(rows) => encodeProbed(encode, probe, rows.iterator)
      case None =>
        val Array(out) = one.queryExecution.toRdd
          .mapPartitions(rows => Iterator(encodeProbed(encode, probe, rows))).collect()
        out
    }
  }

  private[graft] def encodeInMemory(df: DataFrame): Array[Byte] =
    encodeInMemory(df, df.schema.length)(_ => ())._1

  private def encodeProbed[A: scala.reflect.ClassTag](encode: StreamEncoder,
      probe: InternalRow => A, rows: Iterator[InternalRow]): (Array[Byte], Array[A]) = {
    val out = new ByteArrayOutputStream()
    val probed = Array.newBuilder[A]
    encode(rows.map { r => probed += probe(r); r }, out)
    (out.toByteArray, probed.result())
  }

  /** The rows of an optimized plan that Spark would run as one partition
    * over rows the driver already holds, evaluated on the driver with
    * Catalyst's own operators: a chain of deterministic projections
    * (`UnsafeProjection`) and partition-local sorts (in the order Spark's
    * sorter gives, see [[sortedAsSpark]]) over a shuffle-free coalesce to
    * one partition of a `LocalRelation`. A sort is taken only above that
    * coalesce (or over at most one row), where its partition is the
    * whole frame. None for any other plan.
    */
  private def driverRows(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      radixSort: Boolean): Option[Seq[InternalRow]] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression, UnsafeProjection}
    import org.apache.spark.sql.catalyst.plans.logical._
    def local(e: Expression): Boolean = e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])
    // (rows, whether they form one partition)
    def rows(p: LogicalPlan): Option[(Seq[InternalRow], Boolean)] = p match {
      case l: LocalRelation if !l.isStreaming => Some((l.data, l.data.length <= 1))
      case Repartition(1, false, child) => rows(child).map { case (rs, _) => (rs, true) }
      case Project(list, child) if list.forall(local) =>
        rows(child).map { case (rs, one) =>
          val project = UnsafeProjection.create(list, child.output)
          (rs.map(r => project(r).copy()), one)
        }
      case Sort(order, false, child, _) if order.forall(local) =>
        rows(child).collect { case (rs, true) => (sortedAsSpark(rs, order, child.output, radixSort), true) }
      case _ => None
    }
    rows(plan).collect { case (rs, true) => rs }
  }

  /** `rows` in the order Spark's sorter (`SortExec`) gives them under
    * `order`. It sorts stably, except in a radix sort (one sort key whose
    * prefix orders it fully): there each row with a null key takes the
    * place of the first non-null row, which moves to the end. The same
    * moves before a stable sort give its order.
    */
  private def sortedAsSpark(rows: Seq[InternalRow],
      order: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
      input: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      radixSort: Boolean): Seq[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering}
    val bound = order.map(BindReferences.bindReference(_, input))
    val arranged =
      if (!(radixSort && bound.length == 1 &&
          org.apache.spark.sql.execution.SortPrefixUtils.canSortFullyWithPrefix(bound.head))) rows
      else {
        val key = bound.head.child
        val nulls = Vector.newBuilder[InternalRow]
        val rest = scala.collection.mutable.Queue.empty[InternalRow]
        rows.foreach { r =>
          if (key.eval(r) != null) rest.enqueue(r)
          else {
            nulls += r
            if (rest.nonEmpty) rest.enqueue(rest.dequeue())
          }
        }
        nulls.result() ++ rest
      }
    arranged.sorted(new InterpretedOrdering(bound))
  }

  private[graft] type FieldEnc = (ByteBuf, SpecializedGetters, Int) => Unit

  /** Typed-shape field encoder over INTERNAL rows: the zed type from the
    * shape drives the wire form (ips as address bytes, ns-long carriers
    * as time, integers at the shape's width and signedness, named types
    * via the type table), the Spark type drives the access. Every pair
    * writes the bytes the value-model route writes for the same value.
    * None = this (shape, carrier) pair needs the value-model route.
    */
  private[graft] def shapeFieldEncoder(zt: ZType, dt: DataType)
      : Option[FieldEnc] = ZType.strip(zt) match {
    case ZType.Prim("ip") if dt == StringType => Some { (out, g, i) =>
      val b = ipBody(g.getUTF8String(i).toString)
      out.writeUvarint(b.length + 1L); out.writeBytes(b)
    }
    case ZType.Prim("net") if dt == StringType => Some { (out, g, i) =>
      val b = netBody(g.getUTF8String(i).toString)
      out.writeUvarint(b.length + 1L); out.writeBytes(b)
    }
    case ZType.Prim("time") if dt == LongType =>
      Some((out, g, i) => out.writeTaggedSigned(g.getLong(i))) // ns carrier
    case ZType.Prim("duration") if dt == LongType =>
      Some((out, g, i) => out.writeTaggedSigned(g.getLong(i)))
    case ZType.Prim(p) if intWidths(p) => intFieldEncoder(p, dt)
    // float16 is 2-byte IEEE half on the wire, not float32 bits
    case ZType.Prim("float16") if dt == FloatType || dt == DoubleType =>
      Some { (out, g, i) =>
        val d = if (dt == FloatType) g.getFloat(i).toDouble else g.getDouble(i)
        out.writeTaggedFixedLE(ZFormat.toHalfBits(d).toLong & 0xffffL, 2)
      }
    case ZType.Prim(p) if Set("float32", "float64", "string",
        "bool", "bytes", "time", "duration", "null")(p) &&
        sparkPrimMatches(p, dt) =>
      Some(internalFieldEncoder(dt))
    case ZType.Rec(fs) => dt match {
      case st: StructType if !ZsonIO.isVariantType(st) &&
          fs.length == st.fields.length =>
        val subs = fs.zip(st.fields).map { case ((_, ft), sf) =>
          shapeFieldEncoder(ft, sf.dataType)
        }
        if (subs.exists(_.isEmpty)) None
        else {
          val encs = subs.map(_.get)
          val inner = new ByteBuf(256)
          Some { (out, g, i) =>
            val row = g.getStruct(i, encs.length)
            inner.reset()
            var k = 0
            while (k < encs.length) {
              if (row.isNullAt(k)) inner.writeNullTag() else encs(k)(inner, row, k)
              k += 1
            }
            out.writeUvarint(inner.size + 1L)
            inner.writeTo(out)
          }
        }
      case _ => None
    }
    case ZType.Arr(et) => dt match {
      case ArrayType(edt, _) =>
        shapeFieldEncoder(et, edt).map { enc =>
          val inner = new ByteBuf(256)
          (out: ByteBuf, g: SpecializedGetters, i: Int) => {
            val arr = g.getArray(i)
            inner.reset()
            var k = 0
            while (k < arr.numElements()) {
              if (arr.isNullAt(k)) inner.writeNullTag() else enc(inner, arr, k)
              k += 1
            }
            out.writeUvarint(inner.size + 1L)
            inner.writeTo(out)
          }
        }
      case _ => None
    }
    case ZType.SetT(et) => dt match {
      // the array encoding with the elements normalized (zcode
      // NormalizeSet, as ZValue.normSet orders the value route's sets):
      // sorted by their tagged bytes, duplicates dropped. ZSON-read sets
      // arrive normalized and cost one compare per element; zeek-read
      // sets are in value order and get sorted here.
      case ArrayType(edt, _) =>
        shapeFieldEncoder(et, edt).map { enc =>
          val inner = new ByteBuf(256)
          var starts = new Array[Int](16)
          (out: ByteBuf, g: SpecializedGetters, i: Int) => {
            val arr = g.getArray(i)
            val n = arr.numElements()
            if (starts.length <= n) starts = new Array[Int](n * 2)
            inner.reset()
            var sorted = true
            var k = 0
            while (k < n) {
              starts(k) = inner.size
              if (arr.isNullAt(k)) inner.writeNullTag() else enc(inner, arr, k)
              if (k > 0 && sorted)
                sorted = inner.compareSlices(starts(k - 1), starts(k), starts(k), inner.size) < 0
              k += 1
            }
            starts(n) = inner.size
            if (!sorted) {
              val elems = Array.tabulate(n)(j => inner.slice(starts(j), starts(j + 1)))
              java.util.Arrays.sort(elems, (a: Array[Byte], b: Array[Byte]) =>
                java.util.Arrays.compareUnsigned(a, b))
              inner.reset()
              k = 0
              while (k < n) {
                if (k == 0 || !java.util.Arrays.equals(elems(k - 1), elems(k))) inner.writeBytes(elems(k))
                k += 1
              }
            }
            out.writeUvarint(inner.size + 1L)
            inner.writeTo(out)
          }
        }
      case _ => None
    }
    case ZType.EnumT(symbols) if dt == StringType =>
      // enums encode as the SYMBOL INDEX (unsigned)
      val index = new java.util.HashMap[UTF8String, java.lang.Long]()
      symbols.zipWithIndex.foreach { case (s, ix) =>
        index.putIfAbsent(UTF8String.fromString(s), ix.toLong) }
      Some { (out, g, i) =>
        val ix = index.get(g.getUTF8String(i))
        if (ix == null) out.writeNullTag() else out.writeTaggedUnsigned(ix)
      }
    case _ => None
  }

  private val intWidths = Set("uint8", "uint16", "uint32", "uint64",
    "int8", "int16", "int32", "int64")

  /** The one integer arm: every (zed width, carrier) pair the readers
    * produce — any integer carrier, and decimal(20,0) under uint64. The
    * carrier's value is written at the shape's signedness and never
    * masked to its width, as the value route writes the carrier's value
    * retyped to the shape: uintN as unsigned minimal little-endian bytes
    * (zcode EncodeUint, no zigzag), intN as the signed counted varint.
    */
  private def intFieldEncoder(p: String, dt: DataType): Option[FieldEnc] =
    if (p.startsWith("u")) dt match {
      case ByteType => Some((out, g, i) => out.writeTaggedUnsigned(g.getByte(i).toLong))
      case ShortType => Some((out, g, i) => out.writeTaggedUnsigned(g.getShort(i).toLong))
      case IntegerType => Some((out, g, i) => out.writeTaggedUnsigned(g.getInt(i).toLong))
      case LongType => Some((out, g, i) => out.writeTaggedUnsigned(g.getLong(i)))
      case d: DecimalType if p == "uint64" && d.precision == 20 && d.scale == 0 =>
        Some(internalFieldEncoder(dt))
      case _ => None
    } else dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(internalFieldEncoder(dt))
      case _ => None
    }

  private def sparkPrimMatches(p: String, dt: DataType): Boolean = (p, dt) match {
    case ("float32", FloatType) |
         ("float64", DoubleType) | ("string", StringType) |
         ("bool", BooleanType) | ("bytes", BinaryType) |
         ("time", TimestampType) | ("time", TimestampNTZType) |
         ("null", NullType) => true
    case _ => false
  }

  /** The address bytes of an IPv4 dotted quad or an IPv6 literal (an
    * IPv4-mapped IPv6 address gives its 4 IPv4 bytes, as InetAddress
    * does), or null when `s` is not one. A literal parse only (Guava's
    * InetAddresses): unlike InetAddress.getByName it never resolves a
    * hostname.
    */
  private[graft] def ipLiteral(s: String): Array[Byte] =
    try com.google.common.net.InetAddresses.forString(s).getAddress
    catch { case _: IllegalArgumentException => null }

  /** The wire body of an ip value: its address bytes, or the text itself
    * when it is not an address literal. Both writer routes use it, so
    * they agree on every cell and never resolve a hostname.
    */
  private[sources] def ipBody(s: String): Array[Byte] = {
    val b = ipLiteral(s)
    if (b != null) b else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The wire body of a net value `addr/bits`: the masked address bytes
    * then the mask bytes (the value route's nets are masked by
    * ZValue.netOf), or the text itself when it is not a prefix literal.
    */
  private[sources] def netBody(s: String): Array[Byte] = {
    val slash = s.lastIndexOf('/')
    val addr = if (slash < 0) null else ipLiteral(s.substring(0, slash))
    val bits = if (addr == null) -1
      else try s.substring(slash + 1).toInt catch { case _: NumberFormatException => -1 }
    if (bits < 0 || bits > addr.length * 8)
      return s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](addr.length * 2)
    var k = 0
    while (k < addr.length) {
      val keep = math.max(0, math.min(8, bits - k * 8))
      val mask = if (keep == 0) 0 else (0xff << (8 - keep)) & 0xff
      out(k) = (addr(k) & mask).toByte
      out(addr.length + k) = mask.toByte
      k += 1
    }
    out
  }

  /** The shape list a het-tagged frame carries on its tag column. */
  private[graft] def tagShapes(schema: StructType): Seq[String] = {
    val f = schema(graft.operators.Het.typeTag)
    if (f.metadata.contains("shapes")) f.metadata.getStringArray("shapes").toSeq
    else Seq.empty
  }

  /** Compile every shape of a tagged frame to its wire type and its typed
    * internal-row field encoders (column index, encoder) in shape field
    * order. Left names why the first shape that doesn't compile fails —
    * the shape, the field and its (zed type, Spark type) pair; the frame
    * then takes the value-model route. Encoders hold scratch ByteBufs, so
    * each partition compiles its own.
    */
  private[graft] def shapeEncoders(shapes: Seq[String], sch: StructType)
      : Either[String, Map[String, (ZT, Array[(Int, FieldEnc)])]] =
    if (shapes.isEmpty) Left("the frame carries no shapes")
    else {
      val built = shapes.map(tag => compileShape(tag, sch).left.map(why => s"shape $tag: $why"))
      built.collectFirst { case Left(why) => why }
        .toLeft(shapes.zip(built.collect { case Right(e) => e }).toMap)
    }

  /** A record shape's fields in shape order, each with its zed type and
    * its column's ordinal in `sch` (-1: no column). Left names why the tag
    * is not one. The ZNG encoders and the text renderer (TextWriter) both
    * compile shapes from it.
    */
  private[graft] def shapeColumns(tag: String, sch: StructType)
      : Either[String, (ZType, Vector[(String, ZType, Int)])] =
    try {
      val zt0 = ZsonParser.parseType(ZType.stripNullWrap(tag))
      ZType.strip(zt0) match {
        case ZType.Rec(fs) => Right(zt0 -> fs.map { case (n, ft) => (n, ft, sch.fieldNames.indexOf(n)) })
        case _ => Left("not a record")
      }
    } catch { case e: Exception => Left(s"does not compile: ${e.getMessage}") }

  private def compileShape(tag: String, sch: StructType)
      : Either[String, (ZT, Array[(Int, FieldEnc)])] =
    try shapeColumns(tag, sch).flatMap { case (zt0, fs) =>
      val colEncs = fs.map { case (n, ft, ci) =>
        if (ci < 0) Left(s"field $n has no column")
        else {
          val dt = sch.fields(ci).dataType
          shapeFieldEncoder(ft, dt).map(ci -> _).toRight(encoderGap(n, ft, dt))
        }
      }
      colEncs.collectFirst { case Left(why) => why }
        .toLeft(toZT(zt0) -> colEncs.collect { case Right(e) => e }.toArray)
    } catch { case e: Exception => Left(s"does not compile: ${e.getMessage}") }

  /** The innermost field under `name` whose (zed type, Spark type) pair
    * has no typed encoder, for the fallback reason.
    */
  private def encoderGap(name: String, zt: ZType, dt: DataType): String = {
    def here = s"field $name: no typed encoder for (${ZType.fullText(zt)}, ${dt.simpleString})"
    (ZType.strip(zt), dt) match {
      case (ZType.Rec(fs), st: StructType) if fs.length == st.fields.length =>
        fs.zip(st.fields).collectFirst {
          case ((n, ft), sf) if shapeFieldEncoder(ft, sf.dataType).isEmpty =>
            encoderGap(s"$name.$n", ft, sf.dataType)
        }.getOrElse(here)
      case (ZType.Arr(et), ArrayType(edt, _)) => encoderGap(s"$name[]", et, edt)
      case (ZType.SetT(et), ArrayType(edt, _)) => encoderGap(s"$name[]", et, edt)
      case _ => here
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.sources.ZngIO")

  /** The tagged-frame encoder. FAST route: every shape compiles to typed
    * internal-row encoders (shapeEncoders) — one pass over internal rows,
    * no external Row and no per-row value. Frames read from Zeek or from
    * ZNG take it: every scalar zeek type, the dotted id record, sets and
    * vectors of numbers, addresses and strings. Any other frame (maps,
    * unions, errors, zeek vectors with string-element carriers) takes the
    * value-model route, and the driver logs why once per frame at INFO.
    */
  private def taggedEncoder(schema: StructType, what: String): StreamEncoder = {
    val tagIdx = schema.fieldIndex(graft.operators.Het.typeTag)
    val shapes = tagShapes(schema)
    shapeEncoders(shapes, schema) match {
      case Left(why) =>
        log.info(s"zng write $what: value-model route: $why")
        return valueEncoder(schema)
      case Right(_) =>
    }
    (rows, out) => {
      val encMap = shapeEncoders(shapes, schema).toOption.get
      val fw = new FrameWriter(out)
      // tag dispatch stays in the byte domain: the String-keyed form
      // re-decoded and re-hashed the tag text per ROW (toString + two
      // map lookups). UTF8String keys hash the bytes, the id is folded
      // into the entry, and a last-tag inline cache turns the
      // homogeneous-stream case into one byte-equals per row.
      // (idOf assignment iterates encMap, so type ids and the defs-frame
      // bytes follow the map's order.)
      type Encs = Array[(Int, FieldEnc)]
      val encByTag = new java.util.HashMap[UTF8String, (Long, Encs)]()
      encMap.foreach { case (tag, (t, encs)) =>
        encByTag.put(UTF8String.fromString(tag), (fw.table.idOf(t).toLong, encs))
      }
      var lastTag: UTF8String = null
      var lastE: (Long, Encs) = null
      val buf = new ByteBuf(1 << 12)
      rows.foreach { r =>
        val tagU = r.getUTF8String(tagIdx)
        if (lastTag == null || !lastTag.equals(tagU)) {
          val e = encByTag.get(tagU)
          if (e == null) throw new NoSuchElementException(tagU.toString)
          lastTag = tagU.clone() // the scan buffer behind tagU is reused
          lastE = e
        }
        val encs = lastE._2
        fw.values.writeUvarint(lastE._1)
        buf.reset()
        var k = 0
        while (k < encs.length) {
          val (ci, enc) = encs(k)
          if (r.isNullAt(ci)) buf.writeNullTag() else enc(buf, r, ci)
          k += 1
        }
        fw.values.writeUvarint(buf.size + 1L)
        buf.writeTo(fw.values)
        fw.endValue()
      }
      fw.finish()
    }
  }

  /** Row → typed value for the value-model routes: rebuilds each row's
    * runtime value over its data columns (tag and scope variables left
    * out). A tagged row is re-typed against its shape; an untagged
    * this-only frame unwraps the bare-value carrier. The writer and the
    * lake tiebreak (ZngBody) share it, so the tiebreak sorts on the bytes
    * the writer stores. The Row→ZValue converter rebuilds lazily per
    * executor, and each distinct shape tag parses once per instance.
    */
  private[sources] final class RowValue(schema: StructType) extends Serializable {
    private val tagIdx = schema.fieldNames.indexOf(graft.operators.Het.typeTag)
    private val dataIdxs = schema.fields.indices.filter(i => i != tagIdx &&
      !schema.fields(i).metadata.contains("graft.scopeVar")).toArray
    private val dataF = StructType(dataIdxs.map(schema.fields(_)))
    // this-only frames convert the single column directly (variant
    // columns carry their runtime type; static ones use the column's zed
    // type, honoring type-valued metadata)
    private val thisType: Option[ZType] =
      if (tagIdx >= 0 || dataF.fieldNames.toSeq != Seq("this")) None
      else {
        val f = dataF.fields.head
        Some(
          if (f.metadata.contains("graft.zedType"))
            ZType.Prim(f.metadata.getString("graft.zedType"))
          // a boxed variant carrier has no static zed type — its Spark
          // struct is the engine's union carrier ({k,n,s,...}), never a
          // record shape; null rows must be null(null), not the carrier
          else if (ZsonIO.isVariantType(f.dataType)) ZType.Prim("null")
          else try ZsonParser.parseType(graft.functions.Shaper.zedTypeOf(f.dataType))
          catch { case _: Exception => ZType.Prim("string") })
      }
    @transient private lazy val fn = ZFormat.rowValueFn(dataF)
    // tag text → its parsed type (None: it doesn't parse, and the row
    // keeps its untyped value); tasks that share this instance share it
    @transient private lazy val tagTypes =
      new java.util.concurrent.ConcurrentHashMap[String, Option[ZType]]()

    def apply(row: Row): ZValue = thisType match {
      case Some(zt) =>
        val i = dataIdxs(0)
        if (row.isNullAt(i)) ZValue.VNull(zt)
        else ZValue.fromExternal(row.get(i), dataF.fields(0).dataType, zt)
      case None =>
        val base = fn(Row.fromSeq(dataIdxs.toIndexedSeq.map(row.get)))
        if (tagIdx < 0) base else retype(row.getString(tagIdx), base)
    }

    // re-type against the row's shape; non-record shapes unwrap their
    // `this` carrier
    private def retype(tag: String, base: ZValue): ZValue = {
      val parsed = tagTypes.computeIfAbsent(tag, t =>
        try Some(ZsonParser.parseType(ZType.stripNullWrap(t)))
        catch { case _: Exception => None })
      if (parsed.isEmpty) base
      else try {
        val zt0 = parsed.get
        // a null(<type>) tag means the whole row IS a typed null — the
        // physical columns are merge artifacts
        if (ZType.isNullWrap(tag)) ZValue.VNull(zt0)
        else {
          val subject = (ZType.strip(zt0), base) match {
            // record shape in a MERGED frame: restrict to the shape's own
            // fields — sibling columns are other shapes' nulls (the fast
            // encoders read only the shape's columns)
            case (rec: ZType.Rec, ZValue.VRec(fs)) =>
              val byName = fs.toMap
              ZValue.VRec(rec.fields.flatMap { case (n, _) => byName.get(n).map(n -> _) })
            case (_: ZType.Rec, _) => base
            // non-record shape in a MERGED frame: the value rides the
            // `this` carrier; sibling columns are other shapes' nulls
            case (_, ZValue.VRec(fs)) if fs.exists(_._1 == "this") =>
              fs.collectFirst { case ("this", inner) => inner }.get
            case _ => base
          }
          ZsonParser.retype(subject, zt0)
        }
      } catch { case _: Exception => base }
    }
  }

  /** The value-model route: each row becomes one typed ZValue (RowValue)
    * written with its own type. Serves untagged frames with runtime-typed
    * columns, this-only frames, and tagged frames whose shapes don't
    * compile to the typed encoders. Internal rows become external Rows
    * through the frame's row deserializer, the one `Dataset.rdd` runs.
    */
  private def valueEncoder(schema: StructType): StreamEncoder = {
    val toValue = new RowValue(schema)
    val rowEnc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema).resolveAndBind()
    (rows, out) => {
      val toRow = rowEnc.createDeserializer()
      val fw = new FrameWriter(out)
      rows.foreach { r =>
        val v = toValue(toRow(r))
        val t = toZT(ZValue.typeOf(v))
        fw.values.writeUvarint(fw.table.idOf(t).toLong)
        encodeZTagged(fw.values, v, t)
        fw.endValue()
      }
      fw.finish()
    }
  }

  /** `write` forced onto the value-model route; the specs use it as the
    * oracle of the typed routes' bytes.
    */
  private[graft] def writeValues(df: DataFrame, path: String): Unit =
    writeParts(df, path, valueEncoder(df.schema))

  // ---- InternalRow-native encoding (the data-path writer) -------------------

  /** Compile one field's wire encoder over Catalyst internal values — the
    * write side of the internal decode path; the wire type is ztOf(dt).
    * Container encoders own one reusable inner buffer each (schemas are
    * finite trees, calls are sequential within a partition).
    */
  private def internalFieldEncoder(dt: DataType): FieldEnc = dt match {
    case ByteType => (out, g, i) => out.writeTaggedSigned(g.getByte(i).toLong)
    case ShortType => (out, g, i) => out.writeTaggedSigned(g.getShort(i).toLong)
    case IntegerType => (out, g, i) => out.writeTaggedSigned(g.getInt(i).toLong)
    case LongType => (out, g, i) => out.writeTaggedSigned(g.getLong(i))
    case FloatType => (out, g, i) =>
      out.writeTaggedFixedLE(java.lang.Float.floatToIntBits(g.getFloat(i)).toLong & 0xffffffffL, 4)
    case DoubleType => (out, g, i) =>
      out.writeTaggedFixedLE(java.lang.Double.doubleToLongBits(g.getDouble(i)), 8)
    case BooleanType => (out, g, i) => {
      out.writeUvarint(2L); out.writeByte(if (g.getBoolean(i)) 1 else 0)
    }
    case StringType => (out, g, i) => {
      val b = g.getUTF8String(i).getBytes
      out.writeUvarint(b.length + 1L); out.writeBytes(b)
    }
    case BinaryType => (out, g, i) => {
      val b = g.getBinary(i)
      out.writeUvarint(b.length + 1L); out.writeBytes(b)
    }
    // uint64 carrier: the unscaled value's low 64 bits ARE the uint64's
    // bits (values ≥ 2^63 included), written unsigned minimal-LE
    case dt: DecimalType if dt.precision == 20 && dt.scale == 0 => (out, g, i) =>
      out.writeTaggedUnsigned(g.getDecimal(i, 20, 0).toJavaBigDecimal.unscaledValue.longValue)
    case d: DecimalType => (out, g, i) =>
      out.writeTaggedFixedLE(java.lang.Double.doubleToLongBits(
        g.getDecimal(i, d.precision, d.scale).toDouble), 8)
    // internal timestamps are epoch micros; the wire carries ns
    case TimestampType | TimestampNTZType => (out, g, i) =>
      out.writeTaggedSigned(Math.multiplyExact(g.getLong(i), 1000L))
    case DateType => (out, g, i) =>
      out.writeTaggedSigned(g.getInt(i) * 86400L * 1000000000L)
    case _: DayTimeIntervalType => (out, g, i) =>
      out.writeTaggedSigned(Math.multiplyExact(g.getLong(i), 1000L))
    case st: StructType =>
      val n = st.fields.length
      val encs = st.fields.map(f => internalFieldEncoder(f.dataType))
      val inner = new ByteBuf()
      (out, g, i) => {
        val r = g.getStruct(i, n)
        inner.reset()
        var j = 0
        while (j < n) {
          if (r.isNullAt(j)) inner.writeNullTag() else encs(j)(inner, r, j)
          j += 1
        }
        out.writeUvarint(inner.size + 1L); inner.writeTo(out)
      }
    case ArrayType(et, _) =>
      val enc = internalFieldEncoder(et)
      val inner = new ByteBuf()
      (out, g, i) => {
        val a = g.getArray(i)
        inner.reset()
        var j = 0
        while (j < a.numElements()) {
          if (a.isNullAt(j)) inner.writeNullTag() else enc(inner, a, j)
          j += 1
        }
        out.writeUvarint(inner.size + 1L); inner.writeTo(out)
      }
    case MapType(kt, vt, _) =>
      val kEnc = internalFieldEncoder(kt)
      val vEnc = internalFieldEncoder(vt)
      (out, g, i) => {
        // normalized: entries sorted by encoded key bytes (§2.2.3)
        val m = g.getMap(i)
        val ka = m.keyArray(); val va = m.valueArray()
        val entries = (0 until m.numElements()).map { j =>
          val kb = new ByteBuf(64)
          if (ka.isNullAt(j)) kb.writeNullTag() else kEnc(kb, ka, j)
          val vb = new ByteBuf(64)
          if (va.isNullAt(j)) vb.writeNullTag() else vEnc(vb, va, j)
          (kb.toByteArray, vb.toByteArray)
        }.sortWith((a, b) => java.util.Arrays.compare(a._1, b._1) < 0)
        val inner = new ByteBuf(256)
        entries.foreach { case (kb, vb) => inner.writeBytes(kb); inner.writeBytes(vb) }
        out.writeUvarint(inner.size + 1L); inner.writeTo(out)
      }
    case NullType => (out, _, _) => out.writeNullTag()
    case other => throw new IllegalArgumentException(s"zng: unsupported type $other")
  }

  /** Stream-encode internal rows of one schema: one types frame first
    * (fully determined by the schema), then bounded values frames as rows
    * arrive — at most one frame is buffered, never the partition.
    */
  def encodeInternalStreamTo(out: java.io.OutputStream,
      rows: Iterator[InternalRow],
      schema: StructType): Unit = {
    val fw = new FrameWriter(out)
    val topId = fw.table.idOf(ztOf(schema)).toLong
    fw.flush() // the types frame leads, even when no row follows
    val encs = schema.fields.map(f => internalFieldEncoder(f.dataType))
    val n = encs.length
    val body = new ByteBuf(1 << 12)
    rows.foreach { r =>
      fw.values.writeUvarint(topId)
      body.reset()
      var i = 0
      while (i < n) {
        if (r.isNullAt(i)) body.writeNullTag() else encs(i)(body, r, i)
        i += 1
      }
      fw.values.writeUvarint(body.size + 1L)
      body.writeTo(fw.values)
      fw.endValue()
    }
    fw.finish()
  }

  // ---- decoding --------------------------------------------------------------

  private[sources] sealed trait ZT
  private[sources] case class ZPrim(id: Int) extends ZT
  private[sources] case class ZRecord(fields: Seq[(String, ZT)]) extends ZT
  private[sources] case class ZArray(elem: ZT) extends ZT
  private[sources] case class ZSet(elem: ZT) extends ZT
  private[sources] case class ZMap(k: ZT, v: ZT) extends ZT
  private[sources] case class ZUnion(alts: Seq[ZT]) extends ZT
  private[sources] case class ZEnum(symbols: Seq[String]) extends ZT
  private[sources] case class ZError(inner: ZT) extends ZT
  private[sources] case class ZNamed(name: String, inner: ZT) extends ZT

  /** The type a named type wraps (named types share their inner's tag). */
  private def unnamed(t: ZT): ZT = t match { case ZNamed(_, i) => unnamed(i); case o => o }

  /** Split a zng stream into its typedef payload and the raw per-value
    * slices (`type-id uvarint + tag + body`, exactly as they sit in the
    * values frames) plus each value's body length. The lake's size pass
    * RE-frames a single-stream object into per-stride streams with
    * byte-exact lengths from it (reference lake/data/writer.go cuts
    * streams with zngio EndStream; each stream re-emits its types frame).
    */
  private[graft] def parseStream(bytes: Array[Byte]): (Array[Byte], Seq[(Array[Byte], Int)]) = {
    val types = new ByteArrayOutputStream()
    val values = Vector.newBuilder[(Array[Byte], Int)]
    foreachFrame(bytes, p => types.write(p, 0, p.length)) { (payload, _) =>
      val vc = new Cursor(payload, 0)
      while (!vc.done) {
        val start = vc.pos
        vc.uvarint() // type id
        val tag = vc.uvarint()
        val bodyLen = if (tag > 0) (tag - 1).toInt else 0
        vc.pos += bodyLen
        values += java.util.Arrays.copyOfRange(payload, start, vc.pos) -> bodyLen
      }
    }
    (types.toByteArray, values.result())
  }

  private[sources] final class Cursor(val buf: Array[Byte], var pos: Int) {
    def u8(): Int = { val b = buf(pos) & 0xff; pos += 1; b }
    def uvarint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do { b = u8(); v |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      v
    }
    def bytes(n: Int): Array[Byte] = {
      val r = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; r
    }
    // allocation-free decode of counted bodies in place (the hot path)
    def unsignedAt(n: Int): Long = {
      var u = 0L; var i = pos + n - 1
      while (i >= pos) { u = (u << 8) | (buf(i) & 0xffL); i -= 1 }
      pos += n; u
    }
    def signedAt(n: Int): Long = {
      val u = unsignedAt(n)
      if ((u & 1L) == 0) u >>> 1
      else { val m = u >>> 1; if (m == 0) Long.MinValue else -m }
    }
    def done: Boolean = pos >= buf.length
  }

  /** Unsynchronized growable byte buffer for the wire encoders —
    * ByteArrayOutputStream's per-write monitor is real cost on JDK 17
    * (no biased locking) at tens of millions of field writes. It is an
    * OutputStream so the value-model encoders write into frames directly.
    */
  private[graft] final class ByteBuf(initial: Int = 1 << 12) extends OutputStream {
    private var buf = new Array[Byte](initial)
    private var len = 0
    def size: Int = len
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit = if (len + n > buf.length) {
      var cap = buf.length * 2
      while (cap < len + n) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
    def writeByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    def writeBytes(b: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(b, off, buf, len, n); len += n
    }
    def writeBytes(b: Array[Byte]): Unit = writeBytes(b, 0, b.length)
    def writeUvarint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) { buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      buf(len) = v.toByte; len += 1
    }
    /** Counted signed varint with its length tag — same bytes as
      * tagged(signedBytes(n)) without the intermediate array.
      */
    def writeTaggedSigned(n: Long): Unit = {
      var u = if (n >= 0) n << 1 else ((-n) << 1) | 1L // MinValue → reserved 0x01
      val nb = if (u == 0) 0 else (71 - java.lang.Long.numberOfLeadingZeros(u)) / 8
      writeUvarint(nb + 1L)
      ensure(nb)
      var i = 0
      while (i < nb) { buf(len) = (u & 0xff).toByte; u >>>= 8; len += 1; i += 1 }
    }
    /** Counted UNSIGNED minimal little-endian bytes — the wire form for
      * uintN (reference zcode: EncodeUint). No zigzag.
      */
    def writeTaggedUnsigned(n: Long): Unit = {
      var u = n
      val nb = if (u == 0) 0 else (71 - java.lang.Long.numberOfLeadingZeros(u)) / 8
      writeUvarint(nb + 1L)
      ensure(nb)
      var i = 0
      while (i < nb) { buf(len) = (u & 0xff).toByte; u >>>= 8; len += 1; i += 1 }
    }
    def writeTaggedFixedLE(v: Long, n: Int): Unit = {
      writeUvarint(n + 1L)
      ensure(n)
      var i = 0
      while (i < n) { buf(len) = ((v >>> (8 * i)) & 0xff).toByte; len += 1; i += 1 }
    }
    def writeNullTag(): Unit = writeByte(0)
    /** Unsigned lexicographic order of two slices (a prefix sorts first). */
    def compareSlices(a0: Int, a1: Int, b0: Int, b1: Int): Int =
      java.util.Arrays.compareUnsigned(buf, a0, a1, buf, b0, b1)
    def slice(from: Int, until: Int): Array[Byte] = java.util.Arrays.copyOfRange(buf, from, until)
    override def write(b: Int): Unit = writeByte(b)
    override def write(b: Array[Byte], off: Int, n: Int): Unit = writeBytes(b, off, n)
    def writeTo(out: OutputStream): Unit = out.write(buf, 0, len)
    def writeTo(other: ByteBuf): Unit = other.writeBytes(buf, 0, len)
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ---- column-vector fills (the ZNG and VNG scans share these) -------------

  private[sources] type WVec = org.apache.spark.sql.execution.vectorized.WritableColumnVector

  /** Null append that respects the vector's type: struct vectors must use
    * appendStruct(true) so child vectors stay aligned — plain appendNull
    * asserts against StructType and, with assertions off, silently skews
    * every later nested value.
    */
  private[sources] def appendNullFor(v: WVec, target: DataType): Unit = target match {
    case _: StructType => v.appendStruct(true): Unit
    case _ => v.appendNull(): Unit
  }

  private val TwoTo64 = java.math.BigInteger.ONE.shiftLeft(64)

  /** The one (zed primitive, column type) decode table of the columnar
    * scans: decodes one tagged primitive body of `n` bytes (its non-null
    * tag already read) straight into the vector — no ZValue, no Row, no
    * per-value boxing. Null for every other pair, which the caller fills
    * through the value model.
    */
  private[sources] def primApp(t: ZType, target: DataType): (Cursor, WVec, Int) => Unit = {
    import ZType.{EnumT, Prim}
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    (ZType.strip(t), target) match {
      case (Prim("int8") | Prim("int16") | Prim("int32") | Prim("int64") | Prim("duration"),
            LongType) =>
        (c, v, n) => { v.appendLong(c.signedAt(n)); () }
      // the column type names the time carrier: ns longs in sub-µs frames
      case (Prim("time"), LongType) => (c, v, n) => { v.appendLong(c.signedAt(n)); () }
      case (Prim("time"), TimestampType) =>
        (c, v, n) => { v.appendLong(Math.floorDiv(c.signedAt(n), 1000L)); () }
      case (Prim("uint8") | Prim("uint16") | Prim("uint32"), LongType) =>
        (c, v, n) => { v.appendLong(c.unsignedAt(n)); () }
      // decimal(20,0) stores the unscaled value's big-endian bytes
      case (Prim("uint64"), dt) if dt == DecimalType(20, 0) =>
        (c, v, n) => {
          val u = java.math.BigInteger.valueOf(c.unsignedAt(n))
          val b = (if (u.signum < 0) u.add(TwoTo64) else u).toByteArray
          v.appendByteArray(b, 0, b.length); ()
        }
      case (Prim("float64"), DoubleType) =>
        (c, v, n) => { v.appendDouble(java.lang.Double.longBitsToDouble(c.unsignedAt(n))); () }
      case (Prim("float32"), DoubleType) =>
        (c, v, n) => { v.appendDouble(
          java.lang.Float.intBitsToFloat(c.unsignedAt(n).toInt).toDouble); () }
      case (Prim("float16"), DoubleType) =>
        (c, v, n) => { v.appendDouble(halfToDouble(c.unsignedAt(n).toInt)); () }
      case (Prim("bool"), BooleanType) =>
        (c, v, n) => {
          val b = n > 0 && c.buf(c.pos) == 1
          c.pos += n
          v.appendBoolean(b); ()
        }
      case (Prim("string"), StringType) | (Prim("bytes"), BinaryType) =>
        (c, v, n) => { v.appendByteArray(c.buf, c.pos, n); c.pos += n; () }
      case (Prim("ip"), StringType) =>
        (c, v, n) => {
          val s = ipText(c.bytes(n)).getBytes(utf8)
          v.appendByteArray(s, 0, s.length); ()
        }
      case (Prim("net"), StringType) =>
        (c, v, n) => {
          val b = c.bytes(n)
          val addr = java.util.Arrays.copyOfRange(b, 0, b.length / 2)
          val mask = java.util.Arrays.copyOfRange(b, b.length / 2, b.length)
          val s = (ipText(addr) + "/" + leadingOnes(mask)).getBytes(utf8)
          v.appendByteArray(s, 0, s.length); ()
        }
      case (EnumT(ss), StringType) =>
        val syms = ss.map(_.getBytes(utf8)).toArray
        (c, v, n) => {
          val sym = syms(c.unsignedAt(n).toInt)
          v.appendByteArray(sym, 0, sym.length); ()
        }
      case _ => null
    }
  }

  /** Appender for an already-converted EXTERNAL value (ZValue.toExternal's
    * output for `target`; null appends a null) — recursive so containers
    * fill their child vectors.
    */
  private[sources] def extAppender(target: DataType): (WVec, Any) => Unit = {
    val app: (WVec, Any) => Unit = target match {
      case ArrayType(et, _) =>
        val sub = extAppender(et)
        (v, x) => {
          val s = x.asInstanceOf[scala.collection.Seq[Any]]
          v.appendArray(s.length): Unit
          val child = v.arrayData()
          s.foreach(sub(child, _))
        }
      // a map vector is an array of entries over a keys and a values child
      case MapType(kt, vt, _) =>
        val (ks, vs) = (extAppender(kt), extAppender(vt))
        (v, x) => {
          val m = x.asInstanceOf[scala.collection.Map[Any, Any]]
          v.appendArray(m.size): Unit
          val (keys, values) = (v.getChild(0), v.getChild(1))
          m.foreach { case (k, e) => ks(keys, k); vs(values, e) }
        }
      case st: StructType =>
        val subs = st.fields.map(f => extAppender(f.dataType))
        (v, x) => {
          val r = x.asInstanceOf[Row]
          v.appendStruct(false): Unit
          var i = 0
          while (i < subs.length) { subs(i)(v.getChild(i), r.get(i)); i += 1 }
        }
      case LongType => (v, x) => v.appendLong(x.asInstanceOf[Number].longValue): Unit
      case IntegerType => (v, x) => v.appendInt(x.asInstanceOf[Number].intValue): Unit
      case DoubleType => (v, x) => v.appendDouble(x.asInstanceOf[Number].doubleValue): Unit
      case BooleanType => (v, x) => v.appendBoolean(x.asInstanceOf[Boolean]): Unit
      case StringType =>
        (v, x) => {
          val bs = x.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          v.appendByteArray(bs, 0, bs.length): Unit
        }
      case BinaryType =>
        (v, x) => { val bs = x.asInstanceOf[Array[Byte]]; v.appendByteArray(bs, 0, bs.length): Unit }
      case TimestampType =>
        (v, x) => {
          val inst = x.asInstanceOf[java.sql.Timestamp].toInstant
          v.appendLong(Math.addExact(
            Math.multiplyExact(inst.getEpochSecond, 1000000L),
            (inst.getNano / 1000).toLong)): Unit
        }
      case dt: DecimalType =>
        (v, x) => v.putDecimal(v.appendNotNull(),
          Decimal(x.asInstanceOf[java.math.BigDecimal], dt.precision, dt.scale), dt.precision)
      case other => (_, x) =>
        throw new IllegalStateException(s"column fill: ${x.getClass} into $other")
    }
    (v, x) => if (x == null) appendNullFor(v, target) else app(v, x)
  }

  private[graft] def signedOf(b: Array[Byte]): Long = {
    var u = 0L
    for (i <- b.indices.reverse) u = (u << 8) | (b(i) & 0xffL)
    if ((u & 1L) == 0) u >>> 1
    else { val m = u >>> 1; if (m == 0) Long.MinValue else -m }
  }
  private[sources] def unsignedOf(b: Array[Byte]): Long = {
    var u = 0L
    for (i <- b.indices.reverse) u = (u << 8) | (b(i) & 0xffL)
    u
  }

  /** IPv4 dotted quad / IPv6 RFC 5952 compressed text from 4/16 raw bytes. */
  private[sources] def ipText(b: Array[Byte]): String =
    if (b.length == 4) b.map(_ & 0xff).mkString(".")
    else {
      val groups = Array.tabulate(8)(i => ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
      // find longest run of zero groups (length >= 2) for '::'
      var bestStart = -1; var bestLen = 0; var i = 0
      while (i < 8) {
        if (groups(i) == 0) {
          var j = i; while (j < 8 && groups(j) == 0) j += 1
          if (j - i > bestLen) { bestStart = i; bestLen = j - i }
          i = j
        } else i += 1
      }
      if (bestLen < 2) groups.map(Integer.toHexString).mkString(":")
      else {
        val pre = groups.take(bestStart).map(Integer.toHexString).mkString(":")
        val post = groups.drop(bestStart + bestLen).map(Integer.toHexString).mkString(":")
        pre + "::" + post
      }
    }

  private[sources] def leadingOnes(mask: Array[Byte]): Int = {
    var n = 0; var i = 0; var stop = false
    while (i < mask.length && !stop) {
      val b = mask(i) & 0xff
      if (b == 0xff) n += 8
      else { n += Integer.numberOfLeadingZeros(~(b << 24)); stop = true }
      i += 1
    }
    n
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")

  /** Decode one tag-encoded value of type t to ZSON text. */
  private[sources] def decodeValue(c: Cursor, t: ZT): String = {
    val tag = c.uvarint()
    if (tag == 0) return "null"
    val n = (tag - 1).toInt
    t match {
      case ZNamed(_, inner) => { c.pos -= sizeOfTag(tag); decodeValue(c, inner) }
      case ZPrim(id) =>
        val b = c.bytes(n)
        id match {
          case i if i >= 0 && i <= 5 => java.lang.Long.toUnsignedString(unsignedOf(b)) // uintN
          case i if (i >= 6 && i <= 11) || i == 12 => signedOf(b).toString
          case ID_TIME =>
            val ns = signedOf(b)
            val inst = java.time.Instant.ofEpochSecond(
              Math.floorDiv(ns, 1000000000L), Math.floorMod(ns, 1000000000L))
            java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
              .withZone(java.time.ZoneOffset.UTC).format(inst)
          case ID_FLOAT32 =>
            ZValue.floatText(java.lang.Float.intBitsToFloat(unsignedOf(b).toInt).toDouble, 32)
          case ID_FLOAT64 => ZValue.floatText(java.lang.Double.longBitsToDouble(unsignedOf(b)))
          case ID_BOOL => if (b.nonEmpty && b(0) == 1) "true" else "false"
          case ID_BYTES => "0x" + b.map(x => f"${x & 0xff}%02x").mkString
          case ID_STRING => "\"" + esc(new String(b, "UTF-8")) + "\""
          case ID_NULL => "null"
          case ID_IP => ipText(b)
          case ID_NET =>
            // addr bytes then mask bytes (primitive.go DecodeNet)
            val addr = java.util.Arrays.copyOfRange(b, 0, b.length / 2)
            val mask = java.util.Arrays.copyOfRange(b, b.length / 2, b.length)
            ipText(addr) + "/" + leadingOnes(mask)
          case other =>
            throw new IllegalArgumentException(
              s"zng: primitive type id $other (float16/128/256, decimal, type) not supported")
        }
      case ZRecord(fields) =>
        val inner = new Cursor(c.bytes(n), 0)
        val parts = fields.map { case (name, ft) =>
          val quoted = if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) name else "\"" + esc(name) + "\""
          s"$quoted:${decodeValue(inner, ft)}"
        }
        parts.mkString("{", ",", "}")
      case ZArray(et) =>
        val inner = new Cursor(c.bytes(n), 0)
        val items = Iterator.continually(())
          .takeWhile(_ => !inner.done).map(_ => decodeValue(inner, et)).toSeq
        items.mkString("[", ",", "]")
      case ZSet(et) =>
        val inner = new Cursor(c.bytes(n), 0)
        val items = Iterator.continually(())
          .takeWhile(_ => !inner.done).map(_ => decodeValue(inner, et)).toSeq
        items.mkString("|[", ",", "]|")
      case ZMap(kt, vt) =>
        val inner = new Cursor(c.bytes(n), 0)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (!inner.done) {
          val k = decodeValue(inner, kt)
          val v = decodeValue(inner, vt)
          entries += s"$k:$v"
        }
        entries.mkString("|{", ",", "}|")
      case ZUnion(alts) =>
        // selector is a signed counted varint (complex.go BuildUnion/EncodeInt)
        val inner = new Cursor(c.bytes(n), 0)
        val which = {
          val t2 = inner.uvarint(); val m = (t2 - 1).toInt
          signedOf(inner.bytes(m)).toInt
        }
        decodeValue(inner, alts(which))
      case ZEnum(symbols) =>
        val idx = unsignedOf(c.bytes(n)).toInt
        "\"" + esc(symbols(idx)) + "\""
      case ZError(inner) =>
        val ic = new Cursor(c.bytes(n), 0)
        decodeValue(ic, inner)
    }
  }

  private[sources] def sizeOfTag(tag: Long): Int = {
    var v = tag; var n = 1
    while ((v & ~0x7fL) != 0) { v >>>= 7; n += 1 }
    n
  }

  /** Decode a full ZNG byte stream (possibly several concatenated streams)
    * to ZSON text lines.
    */
  def decodeToZson(bytes: Array[Byte]): Iterator[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    foreachValue(bytes)((t, c) => out += decodeValue(c, t))
    out.iterator
  }

  /** Walk a whole ZNG byte sequence (possibly several concatenated
    * streams) frame by frame through the one frame reader: each types
    * frame extends the stream's type table and is handed to `onTypes`,
    * each values frame goes to `onValues` with the id→type lookup, control
    * frames are skipped, and an end-of-stream resets the type context.
    */
  private def foreachFrame(bytes: Array[Byte], onTypes: Array[Byte] => Unit = _ => ())(
      onValues: (Array[Byte], Int => ZT) => Unit): Unit = {
    val c = new Cursor(bytes, 0)
    val types = scala.collection.mutable.ArrayBuffer.empty[ZT]
    val typeOfId = (id: Int) => if (id < 30) ZPrim(id) else types(id - 30)
    while (!c.done) {
      val code = c.u8()
      if (code == 0xff) types.clear()
      else readFrame(c, code) match {
        case (0, payload) => parseTypedefs(payload, types); onTypes(payload)
        case (1, payload) => onValues(payload, typeOfId)
        case _ => // control frame: skip (spec allows)
      }
    }
  }

  /** Walk a ZNG stream calling f(type, cursor) positioned at each value. */
  private def foreachValue(bytes: Array[Byte])(f: (ZT, Cursor) => Unit): Unit =
    foreachFrame(bytes) { (payload, typeOfId) =>
      val vc = new Cursor(payload, 0)
      while (!vc.done) f(typeOfId(vc.uvarint().toInt), vc)
    }

  // ---- typed decode (ZT → ZType / ZValue) ------------------------------------

  private val primNames: Map[Int, String] = Map(
    0 -> "uint8", 1 -> "uint16", 2 -> "uint32", 3 -> "uint64",
    6 -> "int8", 7 -> "int16", 8 -> "int32", 9 -> "int64",
    12 -> "duration", 13 -> "time", 14 -> "float16", 15 -> "float32",
    16 -> "float64", 23 -> "bool", 24 -> "bytes", 25 -> "string",
    26 -> "ip", 27 -> "net", 28 -> "type", 29 -> "null")

  private[sources] def zTypeOf(t: ZT): ZType = t match {
    case ZPrim(id) => ZType.Prim(primNames.getOrElse(id,
      throw new IllegalArgumentException(s"zng: unsupported primitive id $id")))
    case ZRecord(fields) => ZType.Rec(fields.iterator.map { case (n, ft) => n -> zTypeOf(ft) }.toVector)
    case ZArray(e) => ZType.Arr(zTypeOf(e))
    case ZSet(e) => ZType.SetT(zTypeOf(e))
    case ZMap(k, v) => ZType.MapT(zTypeOf(k), zTypeOf(v))
    case ZUnion(alts) => ZType.Union(alts.iterator.map(zTypeOf).toVector)
    case ZEnum(symbols) => ZType.EnumT(symbols.toVector)
    case ZError(inner) => ZType.ErrT(zTypeOf(inner))
    case ZNamed(name, inner) => ZType.Named(name, zTypeOf(inner))
  }

  private val primIdByName: Map[String, Int] = primNames.map(_.swap)

  /** Inverse of zTypeOf: the wire type of a value-model type. */
  private[sources] def toZT(t: ZType): ZT = t match {
    case ZType.Prim(name) => ZPrim(primIdByName.getOrElse(name,
      if (name == "decimal") ID_FLOAT64
      else throw new IllegalArgumentException(s"zng: unsupported primitive $name")))
    case ZType.Rec(fs) => ZRecord(fs.map { case (n, ft) => n -> toZT(ft) })
    case ZType.Arr(e) => ZArray(toZT(e))
    case ZType.SetT(e) => ZSet(toZT(e))
    case ZType.MapT(k, v) => ZMap(toZT(k), toZT(v))
    case ZType.Union(alts) => ZUnion(alts.map(toZT))
    case ZType.EnumT(symbols) => ZEnum(symbols)
    case ZType.ErrT(inner) => ZError(toZT(inner))
    case ZType.Named(n, inner) => ZNamed(n, toZT(inner))
  }

  // ---- type VALUES (reference type.go AppendTypeValue; opcodes 30-38) ------

  private[sources] def appendTypeValue(out: OutputStream, t: ZType,
      defs: scala.collection.mutable.Map[String, ZType]): Unit = {
    def counted(s: String): Unit = {
      val b = s.getBytes("UTF-8"); uvarint(out, b.length.toLong); out.write(b, 0, b.length)
    }
    t match {
      case ZType.Named(name, inner) =>
        val isRef = defs.get(name).contains(inner)
        out.write(if (isRef) 38 else 37)
        counted(name)
        if (!isRef) { appendTypeValue(out, inner, defs); defs(name) = inner }
      case ZType.Rec(fs) =>
        out.write(30); uvarint(out, fs.length.toLong)
        fs.foreach { case (n, ft) => counted(n); appendTypeValue(out, ft, defs) }
      case ZType.Arr(e) => out.write(31); appendTypeValue(out, e, defs)
      case ZType.SetT(e) => out.write(32); appendTypeValue(out, e, defs)
      case ZType.MapT(k, v) =>
        out.write(33); appendTypeValue(out, k, defs); appendTypeValue(out, v, defs)
      case ZType.Union(alts) =>
        out.write(34); uvarint(out, alts.length.toLong)
        alts.foreach(appendTypeValue(out, _, defs))
      case ZType.EnumT(symbols) =>
        out.write(35); uvarint(out, symbols.length.toLong); symbols.foreach(counted)
      case ZType.ErrT(inner) => out.write(36); appendTypeValue(out, inner, defs)
      case ZType.Prim(name) =>
        out.write(primIdByName.getOrElse(name, 29))
    }
  }

  private[sources] def decodeTypeValue(c: Cursor,
      defs: scala.collection.mutable.Map[String, ZType]): ZType = {
    def counted(): String = { val n = c.uvarint().toInt; new String(c.bytes(n), "UTF-8") }
    c.u8() match {
      case 30 =>
        val nf = c.uvarint().toInt
        ZType.Rec((0 until nf).iterator.map(_ => counted() -> decodeTypeValue(c, defs)).toVector)
      case 31 => ZType.Arr(decodeTypeValue(c, defs))
      case 32 => ZType.SetT(decodeTypeValue(c, defs))
      case 33 =>
        val k = decodeTypeValue(c, defs); ZType.MapT(k, decodeTypeValue(c, defs))
      case 34 =>
        val na = c.uvarint().toInt
        ZType.Union((0 until na).iterator.map(_ => decodeTypeValue(c, defs)).toVector)
      case 35 =>
        val ns = c.uvarint().toInt
        ZType.EnumT((0 until ns).iterator.map(_ => counted()).toVector)
      case 36 => ZType.ErrT(decodeTypeValue(c, defs))
      case 37 =>
        val name = counted(); val inner = decodeTypeValue(c, defs)
        defs(name) = inner; ZType.Named(name, inner)
      case 38 =>
        val name = counted()
        ZType.Named(name, defs.getOrElse(name, ZType.nullT))
      case prim => ZType.Prim(primNames.getOrElse(prim, "null"))
    }
  }

  // ---- typed VALUE encoder (full type system; used by VNG metadata) --------

  /** Type table over wire types with every typedef opcode (zng spec §2.1). */
  private[sources] final class ZtTable {
    val defs = new ByteArrayOutputStream()
    private var next = 30
    private val ids = scala.collection.mutable.Map.empty[ZT, Int]
    private def counted(s: String): Unit = {
      val b = s.getBytes("UTF-8"); uvarint(defs, b.length.toLong); defs.write(b, 0, b.length)
    }
    def idOf(t: ZT): Int = t match {
      case ZPrim(id) => id
      case _ => ids.getOrElseUpdate(t, define(t))
    }
    private def define(t: ZT): Int = {
      val body: () => Unit = t match {
        case ZRecord(fs) =>
          val fids = fs.map(f => idOf(f._2))
          () => {
            defs.write(0x00); uvarint(defs, fs.length.toLong)
            fs.zip(fids).foreach { case ((n, _), id) => counted(n); uvarint(defs, id.toLong) }
          }
        case ZArray(e) => val i = idOf(e); () => { defs.write(0x01); uvarint(defs, i.toLong) }
        case ZSet(e) => val i = idOf(e); () => { defs.write(0x02); uvarint(defs, i.toLong) }
        case ZMap(k, v) =>
          val ki = idOf(k); val vi = idOf(v)
          () => { defs.write(0x03); uvarint(defs, ki.toLong); uvarint(defs, vi.toLong) }
        case ZUnion(alts) =>
          val ais = alts.map(idOf)
          () => { defs.write(0x04); uvarint(defs, alts.length.toLong); ais.foreach(i => uvarint(defs, i.toLong)) }
        case ZEnum(symbols) =>
          () => { defs.write(0x05); uvarint(defs, symbols.length.toLong); symbols.foreach(counted) }
        case ZError(inner) => val i = idOf(inner); () => { defs.write(0x06); uvarint(defs, i.toLong) }
        case ZNamed(name, inner) =>
          val i = idOf(inner); () => { defs.write(0x07); counted(name); uvarint(defs, i.toLong) }
        case ZPrim(id) => () => ()
      }
      body()
      val id = next; next += 1; id
    }
  }

  /** Encode one typed value's BODY (no outer tag) per its wire type. */
  private[sources] def encodeZBody(out: OutputStream, v0: ZValue, t: ZT): Unit = {
    import ZValue._
    val v = v0 match { case VTyped(i, _) => i; case other => other }
    (v, t) match {
      case (_, ZNamed(_, inner)) => encodeZBody(out, v0, inner)
      // union slots FIRST: every member kind needs its selector, so the
      // generic primitive cases below must not swallow them
      case (_, ZUnion(alts)) =>
        // member tag + tagged member value (§2.2.5); the member type is
        // the ORIGINAL value's type unless that is the union itself
        // (possibly under a name)
        val declared = toZT(ZValue.typeOf(v0))
        val isSelf = declared == t ||
          (declared match { case ZNamed(_, i) => i == t; case _ => false })
        val memberT = if (isSelf) toZT(ZValue.typeOf(v)) else declared
        val which = {
          val exact = alts.indexWhere(_ == memberT)
          if (exact >= 0) exact
          else {
            // inexact member (empty container / unwidened literal): match
            // by container kind, and for primitives by VALUE CLASS so an
            // int never lands on a bool member
            def primClass(z: ZT): Int = zTypeOf(z) match {
              case ZType.Prim(p)
                  if p.startsWith("int") || p.startsWith("uint") ||
                    p.startsWith("float") || p == "decimal" => 1
              case ZType.Prim("bool") => 2
              case ZType.Prim("string") => 3
              case ZType.Prim("time") | ZType.Prim("duration") => 4
              case _ => 5
            }
            val byKind = alts.indexWhere(a => a.getClass == memberT.getClass &&
              (!memberT.isInstanceOf[ZPrim] || primClass(a) == primClass(memberT)))
            // no silent tag-0 default: encoding under a wrong member
            // produces undetectable wire corruption (VngIO's twin throws)
            if (byKind < 0)
              throw new IllegalStateException(
                s"zng union encode: no member of $t fits value type $memberT")
            byKind
          }
        }
        encodeZTagged(out, VInt(which.toLong, "int64"), ZPrim(9))
        encodeZTagged(out, v, alts(which))
      case (VInt(n, _), ZPrim(id)) =>
        if (id <= 3) { // unsigned: little-endian minimal bytes
          var x = n
          while (x != 0) { out.write((x & 0xff).toInt); x >>>= 8 }
        } else { val sb = signedBytes(n); out.write(sb, 0, sb.length) }
      case (VUint64(n), _) =>
        var x = n.toBigInt
        while (x != 0) { out.write((x & 0xff).toInt); x >>= 8 }
      case (VDur(ns), _) => out.write(signedBytes(ns), 0, signedBytes(ns).length)
      case (VTime(ns), _) => out.write(signedBytes(ns), 0, signedBytes(ns).length)
      case (VFloat(d, _), ZPrim(14)) => // float16: 2-byte IEEE half
        out.write(leBytes(ZFormat.toHalfBits(d).toLong & 0xffffL, 2), 0, 2)
      case (VFloat(d, _), ZPrim(ID_FLOAT32)) =>
        out.write(leBytes(java.lang.Float.floatToIntBits(d.toFloat).toLong & 0xffffffffL, 4), 0, 4)
      case (VFloat(d, _), _) =>
        out.write(leBytes(java.lang.Double.doubleToLongBits(d), 8), 0, 8)
      case (VBool(b), _) => out.write(if (b) 1 else 0)
      case (VStr(s), _) =>
        val b = s.getBytes("UTF-8"); out.write(b, 0, b.length)
      case (VBytes(b), _) => out.write(b, 0, b.length)
      case (VIp(s), _) => val b = ipBody(s); out.write(b, 0, b.length)
      case (VNet(s), _) => val b = netBody(s); out.write(b, 0, b.length)
      case (VTypeVal(text), _) =>
        val t2 = try new ZsonParser(text).parseTypeText() catch { case _: Exception => ZType.nullT }
        appendTypeValue(out, t2, scala.collection.mutable.Map.empty)
      case (VEnum(sym), ZEnum(symbols)) =>
        val idx = math.max(0, symbols.indexOf(sym)).toLong
        var x = idx; if (x == 0) () else { while (x != 0) { out.write((x & 0xff).toInt); x >>>= 8 } }
      case (VRec(fs), ZRecord(fts)) =>
        var k = 0
        fts.foreach { case (n, ft) =>
          // values usually list their fields in the type's order
          val fv = if (k < fs.length && fs(k)._1 == n) fs(k)._2
            else fs.find(_._1 == n).map(_._2).getOrElse(VNull(ZType.nullT))
          encodeZTagged(out, fv, ft)
          k += 1
        }
      case (VArr(items, _), ZArray(et)) => items.foreach(encodeZTagged(out, _, et))
      case (VArr(items, _), ZSet(et)) => items.foreach(encodeZTagged(out, _, et))
      case (VMap(es), ZMap(kt, vt)) =>
        es.foreach { case (k, x) => encodeZTagged(out, k, kt); encodeZTagged(out, x, vt) }
      case (VErr(inner), ZError(it)) => encodeZTagged(out, inner, it)
      case (other, _) =>
        val b = ZValue.zsonText(other).getBytes("UTF-8"); out.write(b, 0, b.length)
    }
  }

  private[sources] def encodeZTagged(out: OutputStream, v: ZValue, t: ZT): Unit = {
    import ZValue._
    v match {
      case VNull(_) => out.write(0)
      case VTyped(VNull(_), _) => out.write(0)
      case _ =>
        val body = new ByteBuf(64)
        encodeZBody(body, v, t)
        uvarint(out, body.size + 1L)
        body.writeTo(out)
    }
  }

  /** One self-contained ZNG stream of typed values (types frame, values
    * frame, end-of-stream) — the encoder twin of decodeToZValues.
    */
  def encodeTypedStream(values: Seq[ZValue]): Array[Byte] = {
    val table = new ZtTable
    val body = new ByteArrayOutputStream()
    values.foreach { v =>
      val t = toZT(ZValue.typeOf(v))
      val id = table.idOf(t)
      uvarint(body, id.toLong)
      encodeZTagged(body, v, t)
    }
    val out = new ByteArrayOutputStream()
    if (table.defs.size() > 0) out.write(frame(0, table.defs.toByteArray))
    out.write(frame(1, body.toByteArray))
    out.write(0xff)
    out.toByteArray
  }

  /** IEEE 754 half-precision bits → double (primitive.go DecodeFloat16). */
  private[sources] def halfToDouble(bits: Int): Double = {
    val s = (bits >> 15) & 1; val e = (bits >> 10) & 0x1f; val m = bits & 0x3ff
    val v =
      if (e == 0) m * math.pow(2, -24)
      else if (e == 0x1f) { if (m == 0) Double.PositiveInfinity else Double.NaN }
      else (m + 1024) * math.pow(2, e - 25)
    if (s == 1) -v else v
  }

  /** Decode one tag-encoded value of type t into the typed value model —
    * wrapping (named/union/enum/empty-container) matches what ZsonParser
    * produces for the same value, so zng file reads fuse into identical
    * frames as harness text reads.
    */
  private[sources] def decodeZValue(c: Cursor, t: ZT): ZValue =
    decodeZValue(c, t, unionKeepsMember = false)

  /** With `unionKeepsMember`, a union value decodes to its MEMBER's typed
    * value (named types intact) instead of re-tagging with the union —
    * what an unmarshaler of interface-valued fields needs (VNG metadata).
    */
  private[sources] def decodeZValue(c: Cursor, t: ZT, unionKeepsMember: Boolean): ZValue = {
    import ZValue._
    val tag = c.uvarint()
    if (tag == 0) return VNull(zTypeOf(t))
    val n = (tag - 1).toInt
    t match {
      case ZNamed(name, inner) =>
        c.pos -= sizeOfTag(tag)
        val nt = ZType.Named(name, zTypeOf(inner))
        decodeZValue(c, inner, unionKeepsMember) match {
          case VTyped(i, _) => VTyped(i, nt)
          case other => VTyped(other, nt)
        }
      case ZPrim(id) =>
        val b = c.bytes(n)
        id match {
          case 0 | 1 | 2 => VInt(unsignedOf(b), primNames(id))
          case 3 => VUint64(BigDecimal(java.lang.Long.toUnsignedString(unsignedOf(b))))
          case 6 | 7 | 8 | 9 => VInt(signedOf(b), primNames(id))
          case 12 => VDur(signedOf(b))
          case ID_TIME => VTime(signedOf(b))
          case 14 => VFloat(halfToDouble(unsignedOf(b).toInt), "float16")
          case ID_FLOAT32 => VFloat(java.lang.Float.intBitsToFloat(unsignedOf(b).toInt).toDouble, "float32")
          case ID_FLOAT64 => VFloat(java.lang.Double.longBitsToDouble(unsignedOf(b)), "float64")
          case ID_BOOL => VBool(b.nonEmpty && b(0) == 1)
          case ID_BYTES => VBytes(b)
          case ID_STRING => VStr(new String(b, "UTF-8"))
          case ID_IP => VIp(ipText(b))
          case ID_NET =>
            val addr = java.util.Arrays.copyOfRange(b, 0, b.length / 2)
            val mask = java.util.Arrays.copyOfRange(b, b.length / 2, b.length)
            VNet(ipText(addr) + "/" + leadingOnes(mask))
          case ID_NULL => VNull(ZType.Prim("null"))
          case 28 => // type VALUE (type.go AppendTypeValue encoding)
            val tv = decodeTypeValue(new Cursor(b, 0), scala.collection.mutable.Map.empty)
            VTypeVal(ZType.fullText(tv))
          case other =>
            throw new IllegalArgumentException(
              s"zng: primitive type id $other (decimal) not supported")
        }
      case ZRecord(fields) =>
        val inner = new Cursor(c.bytes(n), 0)
        VRec(fields.iterator.map { case (name, ft) => name -> decodeZValue(inner, ft, unionKeepsMember) }.toVector)
      case ZArray(et) =>
        val inner = new Cursor(c.bytes(n), 0)
        val items = Iterator.continually(())
          .takeWhile(_ => !inner.done).map(_ => decodeZValue(inner, et, unionKeepsMember)).toVector
        if (items.isEmpty) VTyped(VArr(items, isSet = false), ZType.Arr(zTypeOf(et)))
        else VArr(items, isSet = false)
      case ZSet(et) =>
        val inner = new Cursor(c.bytes(n), 0)
        val items = Iterator.continually(())
          .takeWhile(_ => !inner.done).map(_ => decodeZValue(inner, et, unionKeepsMember)).toVector
        if (items.isEmpty) VTyped(VArr(items, isSet = true), ZType.SetT(zTypeOf(et)))
        else VArr(ZValue.normSet(items), isSet = true)
      case ZMap(kt, vt) =>
        val inner = new Cursor(c.bytes(n), 0)
        val entries = Vector.newBuilder[(ZValue, ZValue)]
        while (!inner.done) {
          val k = decodeZValue(inner, kt, unionKeepsMember)
          val v = decodeZValue(inner, vt, unionKeepsMember)
          entries += (k -> v)
        }
        val es = entries.result()
        if (es.isEmpty) VTyped(VMap(es), ZType.MapT(zTypeOf(kt), zTypeOf(vt)))
        else VMap(ZValue.normMap(es))
      case ZUnion(alts) =>
        val inner = new Cursor(c.bytes(n), 0)
        val which = {
          val t2 = inner.uvarint(); val m = (t2 - 1).toInt
          signedOf(inner.bytes(m)).toInt
        }
        val member = decodeZValue(inner, alts(which), unionKeepsMember)
        if (unionKeepsMember) member
        // keep the member VALUE intact under the union wrapper: unwrap
        // here would strip a named/nested-union member's identity, which
        // the k/n/s payload slots cannot re-derive (container/union fuzz)
        else VTyped(member, ZType.Union(alts.iterator.map(zTypeOf).toVector))
      case ZEnum(symbols) =>
        val idx = unsignedOf(c.bytes(n)).toInt
        VTyped(VEnum(symbols(idx)), ZType.EnumT(symbols.toVector))
      case ZError(inner) =>
        VErr(decodeZValue(new Cursor(c.bytes(n), 0), inner, unionKeepsMember))
    }
  }

  /** Parse one types frame's typedefs into the stream's type table. */
  private def parseTypedefs(payload: Array[Byte], types: scala.collection.mutable.ArrayBuffer[ZT]): Unit = {
    def typeOfId(id: Int): ZT = if (id < 30) ZPrim(id) else types(id - 30)
    val tc = new Cursor(payload, 0)
    def readCounted(): String = {
      val n = tc.uvarint().toInt
      new String(tc.bytes(n), "UTF-8")
    }
    while (!tc.done) {
      tc.u8() match {
        case 0x00 =>
          val nf = tc.uvarint().toInt
          types += ZRecord((0 until nf).map { _ =>
            val name = readCounted(); name -> typeOfId(tc.uvarint().toInt)
          })
        case 0x01 => types += ZArray(typeOfId(tc.uvarint().toInt))
        case 0x02 => types += ZSet(typeOfId(tc.uvarint().toInt))
        case 0x03 =>
          val k = typeOfId(tc.uvarint().toInt)
          types += ZMap(k, typeOfId(tc.uvarint().toInt))
        case 0x04 =>
          val nt = tc.uvarint().toInt
          types += ZUnion((0 until nt).map(_ => typeOfId(tc.uvarint().toInt)))
        case 0x05 =>
          val ne = tc.uvarint().toInt
          types += ZEnum((0 until ne).map(_ => readCounted()))
        case 0x06 => types += ZError(typeOfId(tc.uvarint().toInt))
        case 0x07 =>
          val name = readCounted()
          types += ZNamed(name, typeOfId(tc.uvarint().toInt))
        case other =>
          throw new IllegalArgumentException(s"zng: unknown typedef code $other")
      }
    }
  }

  /** Read the next frame's (type, decompressed payload) at the cursor. */
  private def readFrame(c: Cursor, code: Int): (Int, Array[Byte]) = {
    val (t, raw, compressed) = readFrameRaw(c, code)
    (t, inflateFrame(raw, compressed))
  }

  /** Frame header + raw (possibly still-compressed) body — lets the scan
    * DROP a frame before paying LZ4 decompression (stream-level field
    * pruning, fieldnamefinder.go analog). Every reader reads its frames
    * here, so each rejects the version bit and frame type 3 alike.
    */
  private def readFrameRaw(c: Cursor, code: Int): (Int, Array[Byte], Boolean) = {
    require((code & 0x80) == 0, "zng: unsupported version bit")
    val compressed = (code & 0x40) != 0
    val t = (code >> 4) & 0x3
    if (t == 3) throw new IllegalArgumentException("zng: unexpected frame type 3 inside stream")
    val len = ((c.uvarint() << 4) | (code & 0xf).toLong).toInt
    (t, c.bytes(len), compressed)
  }

  private def inflateFrame(raw: Array[Byte], compressed: Boolean): Array[Byte] =
    if (!compressed) raw
    else {
      val pc = new Cursor(raw, 0)
      val format = pc.u8()
      require(format == 0, s"zng: unknown compression format $format")
      val usize = pc.uvarint()
      Lz4Block.decompress(raw, pc.pos, raw.length - pc.pos, usize, "zng")
    }

  /** Lazily decode a ZNG byte stream (possibly several concatenated
    * streams) to typed values — one values frame buffered at a time,
    * never the whole file's rows.
    */
  def decodeToZValues(bytes: Array[Byte]): Iterator[ZValue] =
    decodeToZValues(bytes, unionKeepsMember = false)

  private[sources] def decodeToZValues(bytes: Array[Byte], unionKeepsMember: Boolean): Iterator[ZValue] = new Iterator[ZValue] {
    private val c = new Cursor(bytes, 0)
    private val types = scala.collection.mutable.ArrayBuffer.empty[ZT]
    private var queue: Iterator[ZValue] = Iterator.empty
    private def typeOfId(id: Int): ZT = if (id < 30) ZPrim(id) else types(id - 30)
    private def fill(): Unit = {
      while (!queue.hasNext && !c.done) {
        val code = c.u8()
        if (code == 0xff) types.clear()
        else readFrame(c, code) match {
          case (0, payload) => parseTypedefs(payload, types)
          case (1, payload) =>
            val vc = new Cursor(payload, 0)
            val out = Vector.newBuilder[ZValue]
            while (!vc.done) {
              val tid = vc.uvarint().toInt
              out += decodeZValue(vc, typeOfId(tid), unionKeepsMember)
            }
            queue = out.result().iterator
          case _ => // control frame: skip (spec allows)
        }
      }
    }
    def hasNext: Boolean = { if (!queue.hasNext) fill(); queue.hasNext }
    def next(): ZValue = { if (!hasNext) throw new NoSuchElementException; queue.next() }
  }

  /** Pass-1 metadata scan of a ZNG stream: shape texts in first-appearance
    * order (with per-file first-row index) plus the sub-µs-time probe and
    * the row count — WITHOUT materializing values. ZNG is typed, so shapes
    * come from the type table; value bodies are skipped via their length
    * tags, except time leaves, whose varint is decoded for the ns probe.
    * This is what makes the two-pass distributed ingest cheap: pass 1 is
    * I/O + tag arithmetic, only pass 2 builds rows.
    */
  private[graft] def scanMeta(bytes: Array[Byte], startIdx: Long)
      : (Seq[(String, Long)], Long, Boolean) = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val textMemo = scala.collection.mutable.HashMap.empty[ZT, String]
    val timeMemo = scala.collection.mutable.HashMap.empty[ZT, Boolean]
    var ns = false
    var i = startIdx
    def hasTimeM(t: ZT): Boolean = timeMemo.getOrElseUpdate(t, t match {
      case ZPrim(id) => id == ID_TIME
      case ZRecord(fs) => fs.exists(f => hasTimeM(f._2))
      case ZArray(e) => hasTimeM(e)
      case ZSet(e) => hasTimeM(e)
      case ZMap(k, v) => hasTimeM(k) || hasTimeM(v)
      case ZUnion(alts) => alts.exists(hasTimeM)
      case ZError(inner) => hasTimeM(inner)
      case ZNamed(_, inner) => hasTimeM(inner)
      case ZEnum(_) => false
    })
    // consume exactly one value, decoding only time leaves
    def probe(c: Cursor, t: ZT): Unit = t match {
      case ZNamed(_, inner) => probe(c, inner) // named shares the inner tag
      case _ if ns || !hasTimeM(t) =>
        val tag = c.uvarint(); if (tag != 0) c.pos += (tag - 1).toInt
      case ZPrim(_) => // time (the only time-bearing prim here)
        val tag = c.uvarint()
        if (tag != 0) {
          val v = signedOf(c.bytes((tag - 1).toInt))
          if (v % 1000L != 0) ns = true
        }
      case ZRecord(fields) =>
        val tag = c.uvarint()
        if (tag != 0) {
          val inner = new Cursor(c.bytes((tag - 1).toInt), 0)
          fields.foreach { case (_, ft) => probe(inner, ft) }
        }
      case ZArray(e) => probeElems(c, Seq(e))
      case ZSet(e) => probeElems(c, Seq(e))
      case ZMap(k, v) => probeElems(c, Seq(k, v))
      case ZUnion(alts) =>
        val tag = c.uvarint()
        if (tag != 0) {
          val inner = new Cursor(c.bytes((tag - 1).toInt), 0)
          val wTag = inner.uvarint()
          val which = signedOf(inner.bytes((wTag - 1).toInt)).toInt
          probe(inner, alts(which))
        }
      case ZError(innerT) =>
        val tag = c.uvarint()
        if (tag != 0) probe(new Cursor(c.bytes((tag - 1).toInt), 0), innerT)
      case _ =>
        val tag = c.uvarint(); if (tag != 0) c.pos += (tag - 1).toInt
    }
    def probeElems(c: Cursor, ts: Seq[ZT]): Unit = {
      val tag = c.uvarint()
      if (tag != 0) {
        val inner = new Cursor(c.bytes((tag - 1).toInt), 0)
        while (!inner.done) ts.foreach(t => probe(inner, t))
      }
    }
    foreachValue(bytes) { (t, c) =>
      val base = textMemo.getOrElseUpdate(t, ZType.fullText(zTypeOf(t)))
      // a top-level NULL record value (tag byte 0) registers under the
      // null(<rec>) wrapped shape, matching recordify on the decode pass
      val text =
        if (unnamed(t).isInstanceOf[ZRecord] && c.pos < c.buf.length && c.buf(c.pos) == 0)
          ZType.nullWrap(base)
        else base
      if (!seen.contains(text)) seen(text) = i
      probe(c, t)
      i += 1
    }
    (seen.toSeq, i - startIdx, ns)
  }

  // ---- columnar decoding (the DSv2 scan path) -------------------------------

  /** Per-partition scan counters — surfaced as DSv2 custom metrics
    * (Spark UI); the frame counts are also summed JVM-wide for local-mode
    * assertions. `valueFills` counts the cells (and non-record rows) that
    * decoded through the value model instead of the primitive table.
    */
  final class FrameStats {
    @volatile var skipped: Long = 0L
    @volatile var read: Long = 0L
    @volatile var valueFills: Long = 0L
  }
  val totalFramesSkipped = new java.util.concurrent.atomic.LongAdder
  val totalFramesRead = new java.util.concurrent.atomic.LongAdder

  /** The one per-(wire type, column type) fill decision of the ZNG scan:
    * reads one tagged value off the cursor and appends ONE slot to `vec`.
    * Total over all types — primitives take the shared primitive table,
    * arrays and name-aligned records fill child vectors, and everything
    * else (sets in normSet order, maps, unions, errors, type values,
    * decimals, variant columns) converts the reference decoder's value.
    */
  private def vecAppender(t: ZT, target: DataType, vec: WVec,
      stats: FrameStats): Cursor => Unit = {
    def value: Cursor => Unit = {
      val app = extAppender(target)
      // a null converts to null in every column but a variant, which
      // boxes the null's type too
      val boxesNull = ZsonIO.isVariantType(target)
      c => {
        if (!boxesNull && c.buf(c.pos) == 0) { c.pos += 1; appendNullFor(vec, target) }
        else {
          stats.valueFills += 1
          app(vec, ZValue.toExternal(decodeZValue(c, t, unionKeepsMember = false), target))
        }
      }
    }
    (t, target) match {
      // a variant boxes the whole value: named and union wrappers are
      // part of what it carries
      case _ if ZsonIO.isVariantType(target) => value
      case (ZNamed(_, inner), _) => vecAppender(inner, target, vec, stats) // no own tag
      case (_: ZPrim | _: ZEnum, _) =>
        val app = primApp(zTypeOf(t), target)
        if (app == null) value
        else c => {
          val tag = c.uvarint()
          if (tag == 0) appendNullFor(vec, target) else app(c, vec, (tag - 1).toInt)
        }
      case (ZArray(e), ArrayType(et, _)) =>
        // elements fill the child vector; the wire carries no length, so
        // a tag-skip pre-pass counts elements for appendArray's offsets
        val elem = vecAppender(e, et, vec.arrayData(), stats)
        c => {
          val tag = c.uvarint()
          if (tag == 0) { vec.appendNull(); () }
          else {
            val end = c.pos + (tag - 1).toInt
            val probe = new Cursor(c.buf, c.pos)
            var n = 0
            while (probe.pos < end) {
              val t2 = probe.uvarint()
              if (t2 != 0) probe.pos += (t2 - 1).toInt
              n += 1
            }
            vec.appendArray(n): Unit
            var i = 0
            while (i < n) { elem(c); i += 1 }
            c.pos = end
          }
        }
      // nested records fill struct child vectors; field order is
      // positional on the wire, so names must line up
      case (ZRecord(fields), st: StructType) if fields.length == st.fields.length &&
          fields.iterator.map(_._1).sameElements(st.fields.iterator.map(_.name)) =>
        val apps = fields.zip(st.fields.toIndexedSeq).zipWithIndex.map {
          case (((_, ft), sf), i) => vecAppender(ft, sf.dataType, vec.getChild(i), stats)
        }.toArray
        c => {
          val tag = c.uvarint()
          if (tag == 0) { vec.appendStruct(true); () }
          else {
            val end = c.pos + (tag - 1).toInt
            vec.appendStruct(false): Unit
            var i = 0
            while (i < apps.length) { apps(i)(c); i += 1 }
            c.pos = end
          }
        }
      case _ => value
    }
  }

  /** Decode a stream straight into ColumnarBatches of `required` (a pruned
    * subset of the cleaned-plus-tag frame) — the DSv2 scan body. Each
    * shape gets one appender filling the column vectors: a record shape
    * projects its fields BY NAME (fields outside `required` skip by their
    * length tag, fields the shape lacks append null, the tag column
    * appends the shape's constant bytes); any other shape fills through
    * one value-model row. Batches span frames.
    */
  private[sources] def decodeToColumnarBatches(bytes: Array[Byte],
      cleaned: StructType, required: StructType,
      prefilter: Option[BufferFilter], stats: FrameStats, batchSize: Int = 4096)
      : (Iterator[org.apache.spark.sql.vectorized.ColumnarBatch], () => Unit) = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val vectors = required.fields.map(f => new OnHeapColumnVector(batchSize, f.dataType))
    val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
      vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])
    val tagIdx = required.fieldNames.indexOf(graft.operators.Het.typeTag)
    val dataIdxs = required.fields.indices.filter(_ != tagIdx).toArray

    val it = new Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val c = new Cursor(bytes, 0)
      private var types = scala.collection.mutable.ArrayBuffer.empty[ZT]
      private var frame: Cursor = null // current values frame (null = need next)
      private val memo = scala.collection.mutable.HashMap.empty[ZT, Cursor => Unit]
      private def typeOfId(id: Int): ZT = if (id < 30) ZPrim(id) else types(id - 30)
      // id-indexed front cache over `memo`: the tree-keyed lookup hashed
      // the whole ZT per ROW. Ids are dense ints, append-only within a
      // stream; cleared with `types` on the 0xff stream reset.
      private var appsById = new Array[Cursor => Unit](64)
      private def appenderOfId(id: Int): Cursor => Unit = {
        if (id >= appsById.length)
          appsById = java.util.Arrays.copyOf(appsById, math.max(id + 1, appsById.length << 1))
        var app = appsById(id)
        if (app == null) {
          val t = typeOfId(id)
          app = memo.getOrElseUpdate(t, appenderOf(t))
          appsById(id) = app
        }
        app
      }

      private def appenderOf(t: ZT): Cursor => Unit = {
        val shapeText = ZType.fullText(zTypeOf(t))
        val tagVal = shapeText.getBytes("UTF-8")
        // a top-level null record is all-null relationally but its tag
        // must carry the null wrapper (writers re-emit `null`)
        val nullTagVal = ZType.nullWrap(shapeText).getBytes("UTF-8")
        unnamed(t) match {
          case ZRecord(fields) if fields.nonEmpty &&
              fields.forall { case (n, _) => cleaned.fieldNames.contains(n) } =>
            // fields past the last required one are never decoded: the
            // outer tag skips the rest of the body (all of it when no
            // field is required — count(*)-class and tag-only reads)
            val last = fields.lastIndexWhere(f => required.fieldNames.contains(f._1))
            val acts: Array[Cursor => Unit] = fields.take(last + 1).map { case (name, ft) =>
              val out = required.fieldNames.indexOf(name)
              if (out < 0) { (cc: Cursor) =>
                val tag = cc.uvarint(); if (tag != 0) cc.pos += (tag - 1).toInt
              } else vecAppender(ft, required.fields(out).dataType, vectors(out), stats)
            }.toArray
            val covered = fields.map(_._1).toSet
            val absent = dataIdxs.filter(i => !covered.contains(required.fields(i).name))
            cc => {
              val tag = cc.uvarint()
              if (tagIdx >= 0) {
                val tv = if (tag == 0) nullTagVal else tagVal
                vectors(tagIdx).appendByteArray(tv, 0, tv.length): Unit
              }
              if (tag == 0) {
                var i = 0
                while (i < dataIdxs.length) {
                  val d = dataIdxs(i)
                  appendNullFor(vectors(d), required.fields(d).dataType); i += 1
                }
              } else {
                val end = cc.pos + (tag - 1).toInt
                var i = 0
                while (i < acts.length) { acts(i)(cc); i += 1 }
                cc.pos = end
                i = 0
                while (i < absent.length) {
                  val a = absent(i)
                  appendNullFor(vectors(a), required.fields(a).dataType); i += 1
                }
              }
            }
          case _ =>
            // any other shape (non-record root, empty record): one
            // value-model row over cleaned+tag, its required slots appended
            val srcIdx = required.fields.map { f =>
              if (f.name == graft.operators.Het.typeTag) cleaned.fields.length
              else cleaned.fieldIndex(f.name)
            }
            val apps = required.fields.map(f => extAppender(f.dataType))
            cc => {
              stats.valueFills += 1
              val r = ZsonReader.rowOf(decodeZValue(cc, t, unionKeepsMember = false),
                cleaned, tag = true)
              var i = 0
              while (i < apps.length) { apps(i)(vectors(i), r.get(srcIdx(i))); i += 1 }
            }
        }
      }

      // memoized id → top-level field-name set for the field-NAME frame
      // finder (BfFieldName); reset with the type context at EOS
      private var fieldMemo = new java.util.HashMap[Int, java.util.Set[String]]()
      private def fieldsOf(id: Int): java.util.Set[String] = {
        val hit = fieldMemo.get(id)
        if (hit != null) return if (hit.isEmpty) null else hit
        val fs: java.util.Set[String] =
          try unnamed(typeOfId(id)) match {
            case ZRecord(fields) =>
              val set = new java.util.HashSet[String]()
              fields.foreach(f => set.add(f._1): Unit)
              set
            case _ => java.util.Collections.emptySet[String]()
          } catch { case _: Exception => java.util.Collections.emptySet[String]() }
        fieldMemo.put(id, fs)
        if (fs.isEmpty) null else fs
      }

      // stream-level field pruning: when NO type defined so far in this
      // stream carries every required field, values frames drop before
      // LZ4 decompression (typedefs always precede use, so this is sound)
      private val requiredNames: Set[String] =
        prefilter.map(BufferFilter.requiredNamesIn).getOrElse(Set.empty)
      private var fieldCheckLen = -1
      private var streamCanMatch = true
      private def streamHasFields(): Boolean = {
        if (requiredNames.isEmpty) return true
        if (types.length != fieldCheckLen) {
          fieldCheckLen = types.length
          streamCanMatch = types.exists(t => unnamed(t) match {
            case ZRecord(fields) =>
              val names = fields.map(_._1).toSet
              requiredNames.forall(names.contains)
            case _ => false
          })
        }
        streamCanMatch
      }

      private def advanceFrame(): Boolean = {
        while ((frame == null || frame.done) && !c.done) {
          val code = c.u8()
          if (code == 0xff) {
            types = scala.collection.mutable.ArrayBuffer.empty[ZT]
            appsById = new Array[Cursor => Unit](64)
            fieldMemo = new java.util.HashMap[Int, java.util.Set[String]]()
            fieldCheckLen = -1
          }
          else readFrameRaw(c, code) match {
            case (1, _, _) if !streamHasFields() =>
              // drop the whole values frame WITHOUT decompressing
              stats.skipped += 1; totalFramesSkipped.increment()
            case (t0, raw, comp) => (t0, inflateFrame(raw, comp)) match {
            case (0, payload) =>
              parseTypedefs(payload, types)
              fieldMemo = new java.util.HashMap[Int, java.util.Set[String]]()
            case (1, payload) =>
              // BufferFilter prefilter (ref bufferfilter.go +
              // fieldnamefinder.go): when the pushed predicate's literal
              // can't appear in this frame's bytes, OR no type in the
              // frame has the required fields, skip the whole decode
              if (prefilter.exists(!_.matchesTyped(payload, payload.length, fieldsOf))) {
                stats.skipped += 1; totalFramesSkipped.increment()
              } else {
                stats.read += 1; totalFramesRead.increment()
                frame = new Cursor(payload, 0)
              }
            case _ => // control frame: skip
            }
          }
        }
        frame != null && !frame.done
      }

      def hasNext: Boolean = advanceFrame()

      def next(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        var j = 0
        while (j < vectors.length) { vectors(j).reset(); j += 1 }
        var n = 0
        while (n < batchSize && advanceFrame()) {
          appenderOfId(frame.uvarint().toInt)(frame)
          n += 1
        }
        batch.setNumRows(n)
        batch
      }
    }
    (it, () => batch.close())
  }

  /** Per-file discovery result: shapes with their first value index,
    * value count, sub-µs time presence, and the stream start offsets (the
    * split points; one split for gzip). Cached per file by [[discovery]],
    * so a re-read skips the pass-1 I/O for unchanged files — without it,
    * every read of 100 TB costs 200 TB of I/O.
    */
  private final case class FileMeta(shapes: Vector[(String, Long)], count: Long,
      ns: Boolean, streams: Vector[Long], gz: Boolean)

  private val discovery = new HadoopFs.Discovery[FileMeta]((conf, p) => {
    val raw = HadoopFs.readAll(conf, p)
    val gz = raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b
    val bytes = Gzip.maybeGunzip(raw)
    checkReadMax(p.substring(p.lastIndexOf('/') + 1), bytes)
    val (shapes, count, fileNs) = scanMeta(bytes, 0L)
    // gzip can't be range-read — such a file stays one split
    FileMeta(shapes.toVector, count, fileNs, if (gz) Vector(0L) else streamOffsets(bytes), gz)
  })

  /** Byte offsets where an independent stream starts (0, and after each
    * end-of-stream marker with data remaining) — the split points a huge
    * concatenated zng object parallelizes at. Header arithmetic only: no
    * decompression, no type parsing.
    */
  private[sources] def streamOffsets(bytes: Array[Byte]): Vector[Long] = {
    val c = new Cursor(bytes, 0)
    val out = Vector.newBuilder[Long]
    var atStart = true
    while (!c.done) {
      if (atStart) { out += c.pos.toLong; atStart = false }
      val code = c.u8()
      if (code == 0xff) atStart = true
      else {
        val len = ((c.uvarint() << 4) | (code & 0xf).toLong).toInt
        c.pos += len
      }
    }
    out.result()
  }

  /** Structured-Streaming source over a GROWING directory of zng part
    * files ("tail the stream" — the service side of zed's continuous
    * load). The frame schema locks from the files present at start
    * (normal discovery); each new file then decodes executor-side into
    * that frame as it lands (new fields in late shapes would need a
    * restart — the schema is part of the query plan, as with every
    * Structured Streaming file source). Compose with StreamOps
    * (watermarks, windowed `every`, dedup, commit-per-batch load).
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    ZsonReader.tail(spark, path, read(spark, path).schema)(decodeToZValues)

  /** Read a ZNG file or directory of part files into a typed DataFrame —
    * per-file typed decode on the executors (streams are self-contained,
    * so files distribute one task each), fused into the same
    * tagged/variant frame the in-memory harness builds. Pass 1 (schema
    * discovery) reads only type frames and value tags via scanMeta; pass 2
    * is the one full decode — the DSv2 scan, wire → column vectors for
    * every shape, the value model only for exotic leaves and non-record
    * roots.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = discovery(spark, path)
    // merge per-file results in file order — exact global
    // first-appearance ordering of shapes across the stream set
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var nsTime = false
    var offset = 0L
    files.foreach { case (_, _, m) =>
      m.shapes.foreach { case (t, idx) =>
        if (!seen.contains(t)) seen(t) = offset + idx
      }
      nsTime ||= m.ns
      offset += m.count
    }
    val shapeTexts = seen.toArray.sortBy(_._2).map(_._1).toIndexedSeq
    // no files, or no values in them → empty frame, not a failed load()
    if (shapeTexts.isEmpty)
      ZsonReader.fromShapes(spark, spark.sparkContext.emptyRDD[ZValue], Array.empty)
    else {
      // every stream — homogeneous or heterogeneous — scans through the
      // DataSource V2 table: wire→column-vector decode (each record shape
      // gets its own appender projecting by name into the merged frame)
      // with column pruning into the decoder (unread fields skip by
      // length tag). The frame's time columns name their carrier (ns
      // longs when nsTime), so the scan needs no ns flag of its own.
      val (_, full) = ZsonReader.frameSchema(shapeTexts, tag = true, nsTime)
      // group each file's independent streams (EOS boundaries, recorded
      // during discovery) into ~maxPartitionBytes read splits: one huge
      // concatenated zng object parallelizes across executors instead of
      // serializing behind a single task. A chunk always starts at a
      // stream boundary (types reset there); gzip files stay whole.
      val maxPart = {
        val v = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
          .getOrElse((128L << 20).toString)
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
        catch { case _: Exception => 128L << 20 }
      }
      val splits = files.map { case (_, len, m) =>
        if (m.gz) "-1"
        else if (m.streams.length <= 1) "0"
        else {
          val bounds = m.streams :+ len
          val starts = Vector.newBuilder[Long]
          var acc = 0L
          m.streams.zipWithIndex.foreach { case (off, i) =>
            val sz = bounds(i + 1) - off
            if (acc == 0L || acc + sz > maxPart) { starts += off; acc = 0L }
            acc += sz
          }
          starts.result().mkString(";")
        }
      }.mkString("\n")
      spark.read.format(classOf[ZngDataSource].getName)
        .schema(full)
        .option("shapes", shapeTexts.mkString("\n"))
        .option("files", files.map(_._1).mkString("\n"))
        .option("splits", splits)
        // per-file row counts from discovery: count(*) answers from these
        // without touching the data again (count pushdown), and the scan
        // reports them as statistics so Catalyst sizes joins correctly
        // (small zng dims broadcast instead of defaulting to "huge")
        .option("counts", files.map(_._3.count).mkString("\n"))
        .option("sizes", files.map(_._2).mkString("\n"))
        .load()
    }
  }
}
