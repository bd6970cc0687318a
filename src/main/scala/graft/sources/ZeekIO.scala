package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Zeek TSV log format (reference: zio/zeekio/ — parser.go header
  * directives, format.go value syntax; the reference performance baseline
  * runs over exactly this data).
  *
  * Reader: when all files share one header (#separator/#fields/#types/
  * #path/…; `#open` dates may differ) and no data line follows a change
  * of that header (a later `#close` or repeated identical header is
  * fine), the header is parsed once on the driver and data lines decode
  * DISTRIBUTED by one byte-level splitter straight into InternalRows —
  * `-` (unset) → null, `(empty)` → empty, `time` as epoch seconds with µs
  * fraction and `interval` to ns, both parsed exactly (epochUnits), sets and vectors split on the set_separator; separators of
  * any length and script match as their UTF-8 bytes. Other inputs decode
  * per file through the value model. `_path` materializes as the leading
  * column like the reference.
  *
  * Writer: zed's zeek writer, rendered per partition by TextWriter.
  */
object ZeekIO {

  private final case class Header(
      separator: String,
      setSeparator: String,
      unset: String,
      empty: String,
      path: Option[String],
      fields: Seq[String],
      types: Seq[String])

  /** Cumulative directive state (zeekio parser.go): the separator starts
    * as a SPACE until `#separator` declares one; `#fields`/`#types`
    * replace the schema; `#path -` clears the path; directives may appear
    * anywhere in the stream and persist until overridden.
    */
  private final class DirectiveState {
    var sep = " "; var setSep = ","; var unset = "-"; var empty = "(empty)"
    var path: Option[String] = None
    var fields = Seq.empty[String]; var types = Seq.empty[String]
    def update(l: String): Unit = {
      if (l.startsWith("#separator")) {
        // written as one \xNN escape per byte (`\x09`, `\x7c\x7c`)
        sep = unescapeZeek(l.drop(10).trim)
        require(sep.nonEmpty, "zeek: #separator is empty")
        return
      }
      val t = l.drop(1).split(sepPattern(sep))
      t.head match {
        case "set_separator" =>
          setSep = if (t.length > 1) t(1) else ""
          require(setSep.nonEmpty, "zeek: #set_separator is empty")
        case "unset_field" => unset = t(1)
        case "empty_field" => empty = t(1)
        case "path" => path = if (t(1) == "-") None else Some(t(1))
        case "fields" =>
          fields = t.tail.toSeq
          if (types.length != fields.length) types = fields.map(_ => "string")
        case "types" =>
          types = t.tail.toSeq
          if (fields.length != types.length) fields = types.indices.map(i => s"c$i")
        case _ => // open/close dates etc.
      }
    }
    /** Everything a data line reads under, as one comparable value. */
    def key: AnyRef = (sep, setSep, unset, empty, path, fields, types)
    def header: Header = {
      require(fields.nonEmpty && fields.length == types.length,
        "zeek: missing or mismatched #fields/#types")
      Header(sep, setSep, unset, empty, path, fields, types)
    }
  }

  /** Literal separator → split pattern that keeps java.util.regex's
    * single-char fast path: Pattern.quote's \\Q…\\E wrapper forces a full
    * Pattern.compile PER CALL inside String.split, once per row of an
    * interleaved-directive log.
    */
  private def sepPattern(sep: String): String =
    if (sep.length == 1 && ".$|()[{^?*+\\".indexOf(sep.charAt(0)) < 0) sep
    else java.util.regex.Pattern.quote(sep)

  private def parseHeader(lines: Seq[String]): Header = {
    val st = new DirectiveState
    lines.takeWhile(_.startsWith("#")).foreach(st.update)
    st.header
  }

  /** zeek string unescaping (zio/zeekio/escape.go): `\xNN` hex bytes and
    * the named escapes; the result must stay valid UTF-8, else the
    * original escaped text is kept (zed strings are unicode).
    */
  private[sources] def unescapeZeek(s: String): String = {
    if (!s.contains("\\")) return s
    val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    def unhex(b: Byte): Int = {
      val c = b.toChar
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else 255
    }
    while (i < in.length) {
      val c = in(i)
      if (c == '\\' && i + 1 < in.length) {
        if (in(i + 1) == 'x' && i + 3 < in.length && unhex(in(i + 2)) < 16 && unhex(in(i + 3)) < 16) {
          out.write((unhex(in(i + 2)) << 4) | unhex(in(i + 3))); i += 4
        } else {
          val named: Int = in(i + 1).toChar match {
            case '\\' => '\\'; case '"' => '"'; case 'b' => '\b'; case 'f' => '\f'
            case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'; case _ => -1
          }
          if (named >= 0) { out.write(named); i += 2 }
          else { out.write(c.toInt); i += 1 }
        }
      } else { out.write(c.toInt); i += 1 }
    }
    val bytes = out.toByteArray
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    val text =
      try {
        dec.onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      } catch { case _: Exception =>
        // invalid UTF-8: per Zeek's JSON convention only the INVALID or
        // unprintable bytes re-escape as literal \xNN text; printable
        // runes stay (zio/zeekio/escape.go EscapeZeekHex + builder.go)
        escapeZeekHex(bytes)
      }
    // the reference NFC-normalizes every zeek string (builder.go norm.NFC)
    java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
  }

  /** EscapeZeekHex (zio/zeekio/escape.go): decode runes; a malformed byte
    * or unprintable rune renders as literal backslash-x-hh text, valid
    * printable runes pass through.
    */
  private def escapeZeekHex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      val len =
        if (b < 0x80) 1
        else if ((b & 0xe0) == 0xc0) 2
        else if ((b & 0xf0) == 0xe0) 3
        else if ((b & 0xf8) == 0xf0) 4
        else 0
      val valid = len > 0 && i + len <= bytes.length && {
        val slice = java.util.Arrays.copyOfRange(bytes, i, i + len)
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        dec.onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        try { dec.decode(java.nio.ByteBuffer.wrap(slice)); true }
        catch { case _: Exception => false }
      }
      val printable = valid && {
        val cp = new String(bytes, i, len, java.nio.charset.StandardCharsets.UTF_8).codePointAt(0)
        !Character.isISOControl(cp) && Character.isDefined(cp)
      }
      if (printable) { sb.append(new String(bytes, i, len, java.nio.charset.StandardCharsets.UTF_8)); i += len }
      else { sb.append(f"\\x$b%02x"); i += 1 }
    }
    sb.toString
  }

  /** zeek → zed type text (for the shape tag of a decoded frame). */
  private def zedTypeText(zeekType: String): String = zeekType match {
    case "time" => "time"
    case "interval" => "duration"
    case "addr" => "ip"
    case "subnet" => "net"
    case "count" => "uint64"
    case "int" => "int64"
    case "port" => "port=uint16"
    case "enum" => "zenum=string" // zeekio named-type convention
    case "double" => "float64"
    case "bool" => "bool"
    case t if t.startsWith("set[") =>
      s"|[${zedTypeText(t.dropWhile(_ != '[').drop(1).takeWhile(_ != ']'))}]|"
    case t if t.startsWith("vector[") =>
      s"[${zedTypeText(t.dropWhile(_ != '[').drop(1).takeWhile(_ != ']'))}]"
    case _ => "string"
  }

  /** Shape tag text from a header: nested record per the dotted #fields. */
  private def shapeText(h: Header, withPath: Boolean): String = {
    // fold dotted names into a nested structure preserving field order
    sealed trait N
    final case class Leaf(t: String) extends N
    final case class Node(fs: scala.collection.mutable.LinkedHashMap[String, N]) extends N
    val root = Node(scala.collection.mutable.LinkedHashMap.empty)
    def insert(node: Node, parts: List[String], t: String): Unit = parts match {
      case last :: Nil => node.fs(last) = Leaf(t)
      case head :: rest =>
        val child = node.fs.getOrElseUpdate(head,
          Node(scala.collection.mutable.LinkedHashMap.empty)) match {
          case n: Node => n
          case _ => val n = Node(scala.collection.mutable.LinkedHashMap.empty); node.fs(head) = n; n
        }
        insert(child, rest, t)
      case Nil =>
    }
    if (withPath) root.fs("_path") = Leaf("string")
    h.fields.zip(h.types).foreach { case (f, t) =>
      insert(root, f.split('.').toList, zedTypeText(t))
    }
    def text(n: N): String = n match {
      case Leaf(t) => t
      case Node(fs) => fs.map { case (k, v) => s"$k:${text(v)}" }.mkString("{", ",", "}")
    }
    text(root)
  }

  // ---- row-level typed decode (the interleaved-directive path) -------------

  /** One zeek cell → typed value (format.go value syntax, executor-side). */
  private def cellValue(raw0: String, zeekType: String, h: Header): ZValue = {
    import ZValue._
    val zt = try ZsonParser.parseType(zedTypeText(zeekType))
             catch { case _: Exception => ZType.Prim("string") }
    if (raw0 == h.unset) return VNull(zt)
    def epochNs(s: String): Option[Long] =
      Option(epochUnits(UTF8String.fromString(s), 9)).map(_.longValue)
    zeekType match {
      case "time" => epochNs(raw0).fold[ZValue](VNull(zt))(VTime(_))
      case "interval" => epochNs(raw0).fold[ZValue](VNull(zt))(VDur(_))
      case "count" => VUint64(BigDecimal(raw0))
      case "int" => VInt(raw0.toLong, "int64")
      case "port" => VTyped(VInt(raw0.toLong, "uint16"), ZType.Named("port", ZType.Prim("uint16")))
      case "double" => VFloat(raw0.toDouble, "float64")
      case "bool" => VBool(raw0 == "T")
      case "addr" => VIp(raw0)
      case "subnet" => ZValue.netOf(raw0)
      case t if t.startsWith("set[") || t.startsWith("vector[") =>
        val inner = t.dropWhile(_ != '[').drop(1).takeWhile(_ != ']')
        val isSet = t.startsWith("set[")
        if (raw0 == h.empty) VTyped(VArr(Vector.empty, isSet), zt)
        else {
          val items = raw0.split(sepPattern(h.setSeparator), -1)
            .toVector.map(c => cellValue(c, inner, h))
          VArr(if (isSet) ZValue.normSet(items) else items, isSet)
        }
      case _ => VStr(unescapeZeek(raw0))
    }
  }

  /** One data line → typed record (dotted #fields nest — reader.go). */
  private def lineValue(line: String, h: Header): ZValue = {
    import ZValue._
    val cells = line.split(sepPattern(h.separator), -1)
    sealed trait N
    final case class Leaf(v: ZValue) extends N
    final case class Node(fs: scala.collection.mutable.LinkedHashMap[String, N]) extends N
    val root = Node(scala.collection.mutable.LinkedHashMap.empty)
    def insert(node: Node, parts: List[String], v: ZValue): Unit = parts match {
      case last :: Nil => node.fs(last) = Leaf(v)
      case head :: rest =>
        val child = node.fs.getOrElseUpdate(head,
          Node(scala.collection.mutable.LinkedHashMap.empty)) match {
          case n: Node => n
          case _ => val n = Node(scala.collection.mutable.LinkedHashMap.empty); node.fs(head) = n; n
        }
        insert(child, rest, v)
      case Nil =>
    }
    if (h.path.isDefined && !h.fields.contains("_path"))
      root.fs("_path") = Leaf(VStr(h.path.get))
    h.fields.zip(h.types).zipWithIndex.foreach { case ((f, t), i) =>
      val raw = if (i < cells.length) cells(i) else h.unset
      insert(root, f.split('.').toList, cellValue(raw, t, h))
    }
    def build(n: N): ZValue = n match {
      case Leaf(v) => v
      case Node(fs) => VRec(fs.toVector.map { case (k, v) => k -> build(v) })
    }
    build(root)
  }

  /** Segment an interleaved-directive zeek TEXT into typed values —
    * cumulative directive state is per-FILE (parser.go), so a file is the
    * parallelism unit; runs on the executor that holds the file bytes.
    */
  private[sources] def interleavedValues(text: String): Iterator[ZValue] =
    interleavedValues(text.linesIterator)

  private[sources] def interleavedValues(lines: Iterator[String]): Iterator[ZValue] = {
    val st = new DirectiveState
    lines.flatMap { l =>
      if (l.startsWith("#")) { st.update(l); Iterator.empty }
      else if (l.isEmpty) Iterator.empty
      else Iterator.single(lineValue(l, st.header))
    }
  }

  /** A file's bytes, gunzipped when its first two bytes are the gzip
    * magic — streaming, never a whole-file buffer.
    */
  private def openMaybeGzip(conf: Map[String, String], file: String): java.io.InputStream = {
    val raw = new java.io.BufferedInputStream(HadoopFs.open(conf, file), 1 << 16)
    raw.mark(2)
    val m0 = raw.read(); val m1 = raw.read()
    raw.reset()
    if (m0 == 0x1f && m1 == 0x8b) new java.util.zip.GZIPInputStream(raw, 1 << 16)
    else raw
  }

  /** Executor-side buffered line reader with gzip auto-detection. */
  private def lineReader(conf: Map[String, String],
      file: String): java.io.BufferedReader =
    new java.io.BufferedReader(new java.io.InputStreamReader(openMaybeGzip(conf, file),
      java.nio.charset.StandardCharsets.UTF_8), 1 << 16)

  /** One file's discovery record: its leading directive block, the
    * header its data reads under (DirectiveState.key: `#open` and other
    * dates are not part of it, so logs Zeek rotated share it), and
    * whether every data line reads under that header. A directive
    * after data — `#close`, `#open`, a repeated identical header (two
    * logs joined with `cat`) — keeps the file uniform; a data line after a
    * change of separators, unset/empty marks, path, fields or types does
    * not.
    */
  private final case class FileHead(lead: Vector[String], key: AnyRef, uniform: Boolean)

  /** One buffered BYTE scan of a file for its [[FileHead]]. Data lines
    * are skipped byte-by-byte without materializing a String per line;
    * only directive lines build text. Empty lines are ignored (they
    * neither end the leading block nor read a header), a line "is a
    * directive" iff its first byte is '#', and \r, \n, \r\n all terminate
    * a line.
    * The scan stops at the first data line read under a changed header:
    * once that line clears `uniform`, neither loop reads another byte, so
    * a later return to the leading header cannot set it again.
    */
  private def fileHead(conf: Map[String, String], file: String): FileHead = {
    val in = openMaybeGzip(conf, file)
    val lead = Vector.newBuilder[String]
    val st = new DirectiveState // the state the next data line reads under
    var leadKey: AnyRef = null  // st's header at the first data line
    var changed = false         // a directive came after data
    var uniform = true
    var started = false         // current line has seen its first byte
    var directive = false       // current line is a directive
    val line = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    def endLine(): Unit = {
      if (directive) {
        val l = new String(line.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        st.update(l)
        if (leadKey == null) lead += l else changed = true
      }
      started = false; directive = false; line.reset()
    }
    try {
      var n = in.read(buf)
      while (n > 0 && uniform) {
        var i = 0
        while (i < n && uniform) {
          val b = buf(i)
          if (b == '\n' || b == '\r') { if (started) endLine() }
          else {
            if (!started) {
              started = true
              if (b == '#') directive = true
              else if (leadKey == null) leadKey = st.key
              else if (changed) { uniform = st.key == leadKey; changed = false }
            }
            if (directive) line.write(b.toInt)
          }
          i += 1
        }
        n = in.read(buf)
      }
      if (started && uniform) endLine()
    } finally in.close()
    FileHead(lead.result(), if (leadKey != null) leadKey else st.key, uniform)
  }

  private val discovery = new HadoopFs.Discovery[FileHead](fileHead)

  /** Structured-Streaming source tailing a growing directory of zeek
    * logs — the canonical zeek deployment (a live zeek writes and
    * rotates log files into one directory). Schema locks from the files
    * present at start; each newly-landed file decodes executor-side
    * through the same per-file directive-state parser.
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    ZsonReader.tail(spark, path, read(spark, path).schema)(bytes =>
      interleavedValues(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))

  /** When every file is uniform ([[FileHead]]) and all share one header
    * — the normal shape of a written log set — the header is
    * parsed once on the driver and data lines decode in one byte-level
    * pass straight to InternalRows, no value-model detour. Other inputs
    * take the two-pass typed route. Discovery is one streaming byte scan
    * per file (constant memory per task; never a whole-file array, since
    * multi-GB rotated logs are normal), cached per file.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.textFile(path)
    val files = discovery(spark, path)
    val uniform = files.nonEmpty &&
      files.forall { case (_, _, h) => h.uniform && h.key == files.head._3.key }
    if (uniform) decodeBlockNative(spark, parseHeader(files.head._3.lead), lines)
    else {
      // directives interleave with data (schema/path changes mid-stream —
      // zeekio parser.go keeps cumulative state). A file is the
      // parallelism unit: rows decode EXECUTOR-side through the value
      // model, one task per file, fused by the two-pass shape discovery —
      // no driver materialization (concatenated multi-schema zeek streams
      // are common in the wild).
      val conf = HadoopFs.confMap(spark)
      val rdd = spark.sparkContext
        .parallelize(files.map(_._1), math.max(1, files.length))
        .flatMap { f =>
          // streamed per line; close on drain AND on task completion so an
          // early-terminating consumer (limit/take) or a decode exception
          // can't leak the Hadoop stream + GZIP buffer
          val rdr = lineReader(conf, f)
          var closed = false
          def closeOnce(): Unit = if (!closed) { closed = true; rdr.close() }
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => closeOnce()))
          val lines = Iterator.continually(rdr.readLine()).takeWhile { l =>
            if (l == null) closeOnce(); l != null
          }
          interleavedValues(lines)
        }
      ZsonReader.fromRDD(spark, rdd)
    }
  }

  /** A zeek epoch-decimal cell (`[+-]sec[.frac]`, surrounding blanks
    * allowed) in units of 10^-digits s, read from its bytes in long
    * arithmetic: fraction digits past `digits` are cut, as the value is
    * truncated toward zero. Null when the cell is not one, or its seconds
    * would not fit.
    */
  private def epochUnits(u: UTF8String, digits: Int): java.lang.Long = {
    var unit = 1L
    var k = 0
    while (k < digits) { unit *= 10; k += 1 }
    var i = 0
    var n = u.numBytes
    while (i < n && u.getByte(i) <= ' ') i += 1
    while (n > i && u.getByte(n - 1) <= ' ') n -= 1
    val neg = i < n && u.getByte(i) == '-'
    if (i < n && (neg || u.getByte(i) == '+')) i += 1
    var sec = 0L
    var seen = 0
    while (i < n && u.getByte(i) >= '0' && u.getByte(i) <= '9') {
      sec = sec * 10 + (u.getByte(i) - '0')
      if (sec >= Long.MaxValue / unit) return null
      seen += 1; i += 1
    }
    var frac = 0L
    var scale = unit
    if (i < n && u.getByte(i) == '.') {
      i += 1
      while (i < n && u.getByte(i) >= '0' && u.getByte(i) <= '9') {
        if (scale > 1) { scale /= 10; frac += (u.getByte(i) - '0') * scale }
        seen += 1; i += 1
      }
    }
    if (i < n || seen == 0) return null
    val v = sec * unit + frac
    java.lang.Long.valueOf(if (neg) -v else v)
  }

  /** A separator longer than one byte, past the decoder's scan for its
    * first byte: from `e` (that byte, or `nb`), the index of the first
    * whole `sep` (its UTF-8 bytes) in `u`, or `nb` when none follows.
    * UTF-8 is self-synchronizing, so a byte match of a whole separator is
    * a match of its characters.
    */
  private def wholeSepFrom(u: UTF8String, e0: Int, nb: Int, sep: Array[Byte]): Int = {
    var e = e0
    while (e < nb && !restAt(u, e, nb, sep)) {
      e += 1
      while (e < nb && u.getByte(e) != sep(0)) e += 1
    }
    e
  }

  /** Does all of `sep` sit at `e` in `u`'s first `nb` bytes? (its first byte does) */
  private def restAt(u: UTF8String, e: Int, nb: Int, sep: Array[Byte]): Boolean =
    e + sep.length <= nb && {
      var k = 1
      while (k < sep.length && u.getByte(e + k) == sep(k)) k += 1
      k == sep.length
    }

  /** Uniform-header decode: one pass per line straight into InternalRows
    * (same contract as the zng DataSource V2 scan). Lines stay UTF8String
    * end-to-end — no UTF-16 decode, no substring per cell; cells are
    * zero-copy VIEWS into the scan buffer, and only stored strings clone
    * their bytes (the scan's UnsafeRow buffer is reused across rows).
    *
    * Semantics mirror the zeek value syntax (zio/zeekio/format.go) with
    * Spark's non-ANSI cast edges: unset (`-`) → null anywhere, `(empty)`
    * → ""/empty container, `T`/`F` bools, time as epoch-seconds to µs
    * timestamps, intervals to ns longs, sets deduped + sorted, malformed
    * numerics → null (UTF8String.toLong / parseDouble — the exact
    * utilities Spark's cast uses).
    */
  private def decodeBlockNative(
      spark: SparkSession,
      h: Header,
      lines: org.apache.spark.sql.Dataset[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData

    val withPath = h.path.isDefined && !h.fields.contains("_path")
    def innerOf(t: String): String = t.dropWhile(_ != '[').drop(1).takeWhile(_ != ']')
    def elemType(inner: String): DataType =
      if (Set("count", "int", "port")(inner)) LongType
      else if (inner == "double") DoubleType else StringType
    def sqlTypeOf(t: String): DataType = t match {
      case "time" => TimestampType // µs carrier
      case "interval" => LongType // seconds → ns (zed duration domain)
      case "count" | "int" | "port" => LongType
      case "double" => DoubleType
      case "bool" => BooleanType
      case c if c.startsWith("set[") || c.startsWith("vector[") =>
        ArrayType(elemType(innerOf(c)))
      case _ => StringType // string/addr/enum…
    }
    // the zeek types become the frame's shape tag, so typeof/len/zeek
    // re-emission see ip/duration/port instead of the relational widths
    val tagText = shapeText(h, withPath)
    val md = new MetadataBuilder().putStringArray("shapes", Array(tagText)).build()
    val fieldsArr = h.fields.toArray
    val typesArr = h.types.toArray
    val schema = StructType(
      (if (withPath) Seq(StructField("_path", StringType, nullable = false)) else Nil) ++
        fieldsArr.indices.map(i => StructField(fieldsArr(i), sqlTypeOf(typesArr(i)))) ++
        Seq(StructField(graft.operators.Het.typeTag, StringType, nullable = false, md)))

    val unset = h.unset
    val emptyMark = h.empty
    val pathStr = if (withPath) h.path.get else null
    val nFields = fieldsArr.length
    val sepB = h.separator.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val setSepB = h.setSeparator.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val rdd = lines.queryExecution.toRdd.mapPartitions { iter =>
      val tagU = UTF8String.fromString(tagText)
      val pathU = if (pathStr != null) UTF8String.fromString(pathStr) else null
      val base = if (pathU != null) 1 else 0
      val width = base + nFields + 1
      val longWrap = new UTF8String.LongWrapper
      val unsetU = UTF8String.fromString(unset)
      val emptyU = UTF8String.fromString(emptyMark)
      val tU = UTF8String.fromString("T")
      val fU = UTF8String.fromString("F")
      val sep0 = sepB(0); val sepLen = sepB.length
      val setSep0 = setSepB(0); val setSepLen = setSepB.length

      def view(u: UTF8String, s: Int, e: Int): UTF8String =
        UTF8String.fromAddress(u.getBaseObject, u.getBaseOffset + s, e - s)

      def toLongOrNull(cu: UTF8String): Any =
        if (cu.toLong(longWrap)) java.lang.Long.valueOf(longWrap.value) else null
      // Spark's castToDouble: scala toDouble, then the special literals
      def toDoubleOrNull(s: String): Any =
        try java.lang.Double.valueOf(s.trim.toDouble)
        catch {
          case _: NumberFormatException =>
            s.trim.toLowerCase match {
              case "inf" | "+inf" | "infinity" | "+infinity" =>
                java.lang.Double.valueOf(Double.PositiveInfinity)
              case "-inf" | "-infinity" => java.lang.Double.valueOf(Double.NegativeInfinity)
              case "nan" => java.lang.Double.valueOf(Double.NaN)
              case _ => null
            }
        }
      def stringCell(cu: UTF8String): UTF8String =
        if (cu.equals(emptyU)) UTF8String.EMPTY_UTF8
        else {
          var i = 0; val nb = cu.numBytes; var esc = false
          while (i < nb && !esc) { if (cu.getByte(i) == '\\') esc = true; i += 1 }
          if (esc) UTF8String.fromString(unescapeZeek(cu.toString)) else cu.clone()
        }
      def containerDecoder(inner: String, isSet: Boolean): UTF8String => Any = {
        val elem: UTF8String => Any =
          if (inner == "count" || inner == "int" || inner == "port") toLongOrNull
          else if (inner == "double") cu => toDoubleOrNull(cu.toString)
          else cu => cu.clone() // raw: elements don't unescape
        cu => {
          if (cu.equals(emptyU)) new GenericArrayData(Array.empty[Any])
          else {
            val nb = cu.numBytes
            var n = 1; var i = 0
            while (i < nb) {
              if (cu.getByte(i) != setSep0 || !(setSepLen == 1 || restAt(cu, i, nb, setSepB))) i += 1
              else { n += 1; i += setSepLen }
            }
            val items = new Array[Any](n)
            var start = 0; var k = 0
            while (k < n) {
              var e = start
              while (e < nb && cu.getByte(e) != setSep0) e += 1
              if (setSepLen > 1) e = wholeSepFrom(cu, e, nb, setSepB)
              val p = view(cu, start, e)
              items(k) = if (p.equals(unsetU)) null else elem(p)
              k += 1; start = e + setSepLen
            }
            if (isSet) {
              // zed set values are deduped + ordered (zson.md §2.5.2):
              // array_distinct keeps one null, array_sort puts it last
              val seen = new java.util.LinkedHashSet[Any]
              var hasNull = false
              items.foreach(v => if (v == null) hasNull = true else seen.add(v))
              val sorted = seen.toArray.sortWith { (a, b) =>
                a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
              }
              new GenericArrayData(if (hasNull) sorted :+ (null: Any) else sorted)
            } else new GenericArrayData(items)
          }
        }
      }
      // per-column decoders compiled once — no per-cell type-string match
      val decoders: Array[UTF8String => Any] = typesArr.map {
        case "time" => epochUnits(_, 6)
        case "interval" => epochUnits(_, 9)
        case "count" | "int" | "port" => toLongOrNull _
        case "double" => cu => toDoubleOrNull(cu.toString)
        case "bool" => cu =>
          if (cu.equals(tU)) java.lang.Boolean.TRUE
          else if (cu.equals(fU)) java.lang.Boolean.FALSE else null
        case c if c.startsWith("set[") => containerDecoder(innerOf(c), isSet = true)
        case c if c.startsWith("vector[") => containerDecoder(innerOf(c), isSet = false)
        case _ => stringCell _
      }

      iter.flatMap { row =>
        val u = row.getUTF8String(0)
        val nb = u.numBytes
        if (nb == 0 || u.getByte(0) == '#') None
        else {
          val values = new Array[Any](width)
          if (pathU != null) values(0) = pathU
          var start = 0; var ci = 0
          // split-with-trailing-empties semantics: cells = separators + 1;
          // columns past the line's last cell stay null (as before)
          while (ci < nFields && start <= nb) {
            var e = start
            while (e < nb && u.getByte(e) != sep0) e += 1
            if (sepLen > 1) e = wholeSepFrom(u, e, nb, sepB)
            val cu = view(u, start, e)
            values(base + ci) = if (cu.equals(unsetU)) null else decoders(ci)(cu)
            ci += 1; start = e + sepLen
          }
          values(width - 1) = tagU
          Some(new GenericInternalRow(values): InternalRow)
        }
      }
    }
    val flat = org.apache.spark.sql.graftshim.RowBridge.toDF(spark, rdd, schema)
    // dotted #fields names are nested records in zed (zeekio reader.go
    // "shared context": id.orig_h → {id:{orig_h:…}})
    if (h.fields.exists(_.contains("."))) graft.functions.Shaper.nestDotted(flat)
    else flat
  }

  // ---- writer ----------------------------------------------------------------

  /** zed's zeek writer (zio/zeekio/writer.go) through the one text
    * renderer (TextWriter): one part file per partition, each opening with
    * its own directive header — zeek tooling and this reader (a repeated
    * identical header keeps the byte-level route) accept multi-file logs,
    * so the write stays fully parallel. Nested records flatten to dotted
    * `#fields`; each record type and `_path` gets its header when it
    * changes.
    */
  def write(df: DataFrame, path: String): Unit = TextWriter.write(df, path, TextWriter.Zeek)

  /** Gzip-compressed twin of [[write]] — the reader auto-detects gzip
    * per file (lineReader), so a compressed log set reads back through
    * the same path. Used where the text form would exceed disk (the
    * sf10 scale smoke's 30 GB fixture).
    */
  def writeGzip(df: DataFrame, path: String): Unit =
    TextWriter.write(df, path, TextWriter.Zeek, gzip = true)
}
