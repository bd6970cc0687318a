package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The zed text rules of the reference's human-facing output formats —
  * zeek, text, table, csv and json — over typed values. The semantics
  * mirror the PUBLIC writers:
  *   - zeek/text/table share zeekio's value formatter
  *     (zio/zeekio/format.go formatAny: T/F bools, base64 bytes,
  *     epoch-decimal times, `-` nulls, `(empty)` containers, \xNN escapes)
  *   - text/table/csv flatten nested records to dotted leaf columns
  *     (runtime/sam/expr flattener) and print times as RFC3339Nano
  *   - csv uses Go-style shortest 'g' floats (zson.FormatPrimitive with
  *     the trailing '.' trimmed, zio/csvio/writer.go)
  *   - json keeps every field, humanizes durations, renders error values
  *     as {"error":…} and maps via decorated-key text (zio/jsonio/writer.go)
  *
  * The one renderer of zeek, text, csv/tsv and json (TextWriter) runs per
  * partition on the executors and prints through these rules wherever a
  * value has no typed writer; the stream names below are its driver-side
  * entry points. The table writer, which — like the reference's tabwriter
  * — must buffer a block to compute column widths, renders here.
  */
object ZFormat {
  import ZValue._
  import ZType._

  /** Multi-shape input to the single-type csv writer (zio/csvio). */
  final class CsvShapeError(val partial: Seq[String]) extends RuntimeException(
    "CSV output requires uniform records but multiple types encountered (consider 'fuse')")

  // ---- per-row typed values ----------------------------------------------------

  /** A serializable Row => ZValue for rows of `schema` (a row may carry
    * columns past it): the value model's one reading of a frame's rows,
    * through the shape plans of TextWriter.values — per-row shape from
    * the __type tag when present (operator-added columns appended when
    * non-null, mirroring ZsonIO.toZson), else the Spark schema's zed type.
    * Each thread reads through its own compiled shapes.
    */
  def rowValueFn(schema: StructType): Row => ZValue = new RowValues(schema)

  private final class RowValues(schema: StructType) extends (Row => ZValue) with Serializable {
    @transient private lazy val reader =
      ThreadLocal.withInitial[Row => ZValue](() => TextWriter.rowValues(schema))
    def apply(row: Row): ZValue = reader.get()(row)
  }

  // ---- number / time formatting --------------------------------------------

  /** Shortest decimal digits + decimal exponent that round-trip d at the
    * given width (Go strconv shortest). Returns (digits, exp10, negative)
    * where value = 0.digits * 10^exp10.
    */
  /** Digits and decimal exponent of the JDK shortest form: value =
    * 0.digits × 10^exp10, digits with no leading zero. This is the SAME
    * FloatingDecimal digit string java.util.Formatter's %.Ne rounds from
    * (it rounds the shortest string HALF_UP, not the exact binary
    * expansion — verified: %.0e of 0.15 is 2e-01 though the exact value
    * is 0.1499…), so string-rounding these digits reproduces the former
    * String.format probe byte-for-byte.
    */
  private def toStringDigits(a: Double): (String, Int) = {
    val s = java.lang.Double.toString(a)
    val eIdx = s.indexOf('E')
    val ex = if (eIdx < 0) 0 else s.substring(eIdx + 1).toInt
    val mant = if (eIdx < 0) s else s.substring(0, eIdx)
    val dot = mant.indexOf('.')
    val m = if (dot < 0) mant else mant.substring(0, dot) + mant.substring(dot + 1)
    val intLen = if (dot < 0) mant.length else dot
    var lead = 0
    while (lead < m.length - 1 && m.charAt(lead) == '0') lead += 1
    var end = m.length
    while (end > lead + 1 && m.charAt(end - 1) == '0') end -= 1
    (m.substring(lead, end), intLen - lead + ex)
  }

  /** Round the digit string to p digits HALF_UP (Formatter's rule);
    * returns (digits, exp10 bump) — an all-9s carry becomes "1"/+1.
    */
  private def roundDigits(dd: String, p: Int): (String, Int) = {
    if (p >= dd.length) return (dd, 0)
    val up = dd.charAt(p) >= '5'
    if (!up) return (dd.substring(0, p), 0)
    val cs = dd.substring(0, p).toCharArray
    var i = p - 1
    var carry = true
    while (carry && i >= 0) {
      if (cs(i) == '9') cs(i) = '0'
      else { cs(i) = (cs(i) + 1).toChar; carry = false }
      i -= 1
    }
    if (carry) ("1" + new String(cs, 0, p - 1), 1) else (new String(cs), 0)
  }

  /** Shortest HALF_UP rounding of the JDK digits that round-trips at
    * `bits`: (digits, decimal exponent, negative). `linear` scans every
    * precision from 1 — the reference the binary search must agree with.
    */
  private[graft] def shortestDigits(d: Double, bits: Int,
      linear: Boolean = false): (String, Int, Boolean) = {
    val neg = d < 0 || (d == 0.0 && 1.0 / d < 0)
    val a = math.abs(d)
    if (a == 0.0) return ("0", 1, neg)
    val (dd, e10) = toStringDigits(a)
    // minimal p whose HALF_UP rounding still round-trips; p = dd.length
    // always passes (the JDK string parses back exactly), and a binary
    // search over [1, len] finds it when the predicate is monotone in p —
    // checked after the search, since HALF_UP rounding of rounded digits
    // need not be
    def ok(p: Int): Boolean = {
      if (p >= dd.length) return true
      val (cand, bump) = roundDigits(dd, p)
      val text = cand + "E" + (e10 + bump - cand.length)
      if (bits == 32) java.lang.Float.parseFloat(text) == a.toFloat
      else java.lang.Double.parseDouble(text) == a
    }
    def scan(): Int = (1 to dd.length).find(ok).get
    var lo = 1
    var hi = dd.length
    while (!linear && lo < hi) {
      val mid = (lo + hi) / 2
      if (ok(mid)) hi = mid else lo = mid + 1
    }
    // a shorter precision that still passes means the predicate was not
    // monotone here: the linear scan finds the true minimum
    val p = if (linear || (hi > 1 && ok(hi - 1))) scan() else hi
    val (cand, bump) = roundDigits(dd, p)
    var end = cand.length
    while (end > 1 && cand.charAt(end - 1) == '0') end -= 1
    (cand.substring(0, end), e10 + bump, neg)
  }

  /** Go strconv.FormatFloat(d, 'g', -1, bits): shortest round-trip digits,
    * scientific when exp10-1 < -4 or >= 6 (shortest mode eprec), plain
    * decimal otherwise; Inf/NaN in Go spelling.
    */
  def goG(d: Double, bits: Int = 64): String = {
    if (d.isNaN) return "NaN"
    if (d.isPosInfinity) return "+Inf"
    if (d.isNegInfinity) return "-Inf"
    val (digits, exp10, neg) = shortestDigits(d, bits)
    val exp = exp10 - 1
    val sign = if (neg) "-" else ""
    if (exp < -4 || exp >= 6) {
      val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
      val es = if (exp < 0) "-" else "+"
      val ea = math.abs(exp)
      sign + mant + "e" + es + (if (ea < 10) "0" + ea else ea.toString)
    } else if (exp >= digits.length - 1) {
      sign + digits + "0" * (exp - digits.length + 1)
    } else if (exp >= 0) {
      sign + digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
    } else {
      sign + "0." + "0" * (-exp - 1) + digits
    }
  }

  /** Go strconv.FormatFloat(d, 'f', -1, bits): shortest, never scientific. */
  def goF(d: Double, bits: Int = 64): String = {
    if (d.isNaN) return "NaN"
    if (d.isPosInfinity) return "+Inf"
    if (d.isNegInfinity) return "-Inf"
    val (digits, exp10, neg) = shortestDigits(d, bits)
    val exp = exp10 - 1
    val sign = if (neg) "-" else ""
    if (exp >= digits.length - 1) sign + digits + "0" * (exp - digits.length + 1)
    else if (exp >= 0) sign + digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
    else sign + "0." + "0" * (-exp - 1) + digits
  }

  /** IEEE half-precision bits of a double (round to nearest even) — the
    * 2-byte wire form for float16 columns.
    */
  def toHalfBits(d: Double): Int = {
    val f = d.toFloat
    if (f.isNaN) return 0x7e00
    if (f.isInfinite) return if (f > 0) 0x7c00 else 0xfc00
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    var e = ((bits >>> 23) & 0xff) - 127 + 15
    var m = bits & 0x7fffff
    val h: Int =
      if (e >= 0x1f) sign | 0x7c00 // overflow → ±Inf
      else if (e <= 0) {
        if (e < -10) sign // underflow → ±0
        else {
          m |= 0x800000
          val shift = 14 - e
          val lsb = 1 << shift
          val half = lsb >> 1
          val q = m >>> shift
          val rem = m & (lsb - 1)
          val up = rem > half || (rem == half && (q & 1) == 1)
          sign | (q + (if (up) 1 else 0))
        }
      } else {
        val q = m >>> 13
        val rem = m & 0x1fff
        val up = rem > 0x1000 || (rem == 0x1000 && (q & 1) == 1)
        val q2 = q + (if (up) 1 else 0)
        if (q2 == 0x400) { // mantissa overflow bumps exponent
          if (e + 1 >= 0x1f) sign | 0x7c00 else sign | ((e + 1) << 10)
        } else sign | (e << 10) | q2
      }
    h
  }

  /** Round a double through IEEE half precision (for float16 columns):
    * float → half (round to nearest even) → float.
    */
  def toFloat16(d: Double): Double = {
    if (d.isNaN || d.isInfinite) return d.toFloat.toDouble
    val h = toHalfBits(d)
    // expand half back to float
    val hs = h & 0x8000; val he = (h >>> 10) & 0x1f; val hm = h & 0x3ff
    val fbits =
      if (he == 0x1f) (hs << 16) | 0x7f800000 | (hm << 13)
      else if (he == 0) {
        if (hm == 0) hs << 16
        else {
          var e2 = 0; var m2 = hm
          while ((m2 & 0x400) == 0) { m2 <<= 1; e2 += 1 }
          (hs << 16) | ((127 - 15 + 1 - e2) << 23) | ((m2 & 0x3ff) << 13)
        }
      } else (hs << 16) | ((he - 15 + 127) << 23) | (hm << 13)
    java.lang.Float.intBitsToFloat(fbits).toDouble
  }

  /** Go time.RFC3339Nano of a ns timestamp: trailing fractional zeros
    * trimmed, always 'Z'.
    */
  def rfc3339Nano(ns: Long): String = {
    val sec = Math.floorDiv(ns, 1000000000L)
    val nano = Math.floorMod(ns, 1000000000L)
    val base = rfc3339Seconds.format(java.time.Instant.ofEpochSecond(sec, 0))
    if (nano == 0) base + "Z"
    else {
      val frac = f"$nano%09d".reverse.dropWhile(_ == '0').reverse
      base + "." + frac + "Z"
    }
  }

  private val rfc3339Seconds = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Zeek epoch-decimal time (zio/zeekio/time.go formatTime): precision 6,
    * raised to 9 when sub-microsecond precision would be lost; the digits
    * are the exact ones, in integer arithmetic.
    */
  def zeekTime(ns0: Long): String = {
    val sec = math.abs(ns0 / 1000000000L)
    val ns = math.abs(ns0 % 1000000000L)
    val (frac, width) = if (ns % 1000 == 0) (ns / 1000, 6) else (ns, 9)
    val digits = frac.toString
    val sb = new StringBuilder(32)
    if (ns0 < 0) sb.append('-')
    sb.append(sec).append('.')
    var k = digits.length
    while (k < width) { sb.append('0'); k += 1 }
    sb.append(digits).toString
  }

  /** Compound duration text (pkg/nano/duration.go String): y/d/h/m units
    * then a fixed-point seconds/ms/us/ns tail; Long.MinValue is pinned.
    */
  def durHuman(ns0: Long): String = {
    if (ns0 == Long.MinValue) return "-292y171d23h47m16.854775808s"
    if (ns0 == 0) return "0s"
    val sb = new StringBuilder
    var ns = ns0
    if (ns < 0) { ns = -ns; sb.append('-') }
    val units = Seq("y" -> 365L * 86400 * 1000000000L, "d" -> 86400L * 1000000000L,
      "h" -> 3600L * 1000000000L, "m" -> 60L * 1000000000L)
    for ((name, size) <- units) {
      if (ns >= size) {
        val n = ns / size; ns -= n * size
        if (n > 0) { sb.append(n).append(name) }
        if (ns == 0) return sb.toString
      }
    }
    def fixedPoint(v: Long, scale0: Long): Unit = {
      var rem = v
      val whole = rem / scale0; rem -= whole * scale0
      sb.append(whole).append('.')
      var scale = scale0 / 10
      while (rem > 0) {
        val digit = rem / scale
        sb.append(('0' + digit.toInt).toChar)
        rem -= digit * scale
        scale /= 10
      }
    }
    if (ns % 1000000000L == 0) sb.append(ns / 1000000000L).append("s")
    else if (ns > 1000000000L) { fixedPoint(ns, 1000000000L); sb.append("s") }
    else if (ns % 1000000L == 0) sb.append(ns / 1000000L).append("ms")
    else if (ns > 1000000L) { fixedPoint(ns, 1000000L); sb.append("ms") }
    else if (ns % 1000L == 0) sb.append(ns / 1000L).append("us")
    else if (ns > 1000L) { fixedPoint(ns, 1000L); sb.append("us") }
    else sb.append(ns).append("ns")
    sb.toString
  }

  // ---- zeek value formatting (zio/zeekio/format.go) ------------------------

  def zeekTypeOf(t: ZType): String = ZType.strip(t) match {
    case Arr(e) => s"vector[${zeekTypeOf(e)}]"
    case SetT(e) => s"set[${zeekTypeOf(e)}]"
    case Prim("uint8") | Prim("int8") | Prim("int16") | Prim("int32") |
         Prim("int64") | Prim("uint16") | Prim("uint32") => "int"
    case Prim("uint64") => "count"
    case Prim("float16") | Prim("float32") | Prim("float64") => "double"
    case Prim("ip") => "addr"
    case Prim("net") => "subnet"
    case Prim("duration") => "interval"
    case Prim("bool") => "bool"
    case Prim("string") => "string"
    case Prim("time") => "time"
    case EnumT(_) => "enum"
    case other => // unions, nested containers, maps (zeekio/writer.go)
      throw new RuntimeException(
        s"type ${ZType.text(other)} cannot be represented in zeek format")
  }

  /** Named-type zeek header names: port stays port, zenum stays enum. */
  def zeekTypeOfNamed(t: ZType): String = t match {
    case Named("port", _) => "port"
    case Named("zenum", _) => "enum"
    case Named(_, i) => zeekTypeOfNamed(i)
    case other => zeekTypeOf(other)
  }

  private[sources] def zeekEscapeString(s: String, inContainer: Boolean): String = {
    if (s == "-") return "\\x2d"
    if (s == "(empty)") return "\\x28empty)"
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val l = Character.charCount(cp)
      if (cp == '\\') sb.append("\\\\")
      else if (!isPrintable(cp) || cp == '\t' || (cp == ',' && inContainer)) {
        var code = java.lang.Long.toHexString(cp.toLong)
        if ((code.length & 1) != 0) code = "0" + code
        code.grouped(2).foreach(h => sb.append("\\x").append(h))
      } else sb.append(s.substring(i, i + l))
      i += l
    }
    sb.toString
  }

  private def isPrintable(cp: Int): Boolean = {
    // unicode.IsPrint: letters, marks, numbers, punct, symbols + ASCII space
    if (cp == ' ') return true
    if (Character.isISOControl(cp)) return false
    Character.getType(cp) match {
      case Character.CONTROL | Character.FORMAT | Character.SURROGATE |
           Character.UNASSIGNED | Character.PRIVATE_USE |
           Character.LINE_SEPARATOR | Character.PARAGRAPH_SEPARATOR |
           Character.SPACE_SEPARATOR => false
      case _ => true
    }
  }

  /** zeekio.FormatValue: null → "-", else formatAny. */
  def zeekFormat(v0: ZValue): String = unwrap(v0) match {
    case VNull(_) => "-"
    case v => zeekAny(v, inContainer = false)
  }

  private def zeekAny(v0: ZValue, inContainer: Boolean): String = unwrap(v0) match {
    case VNull(_) => "-"
    case VBool(b) => if (b) "T" else "F"
    case VBytes(b) => java.util.Base64.getEncoder.encodeToString(b)
    case VDur(ns) => zeekTime(ns)
    case VTime(ns) => zeekTime(ns)
    case VEnum(s) => s // decoded enums carry the symbol; reference prints selector of uint64
    case VFloat(d, t) => goF(d, if (t == "float64") 64 else 32)
    case VInt(n, _) => n.toString
    case VUint64(n) => n.toBigInt.toString
    case VIp(s) => s
    case VNet(s) => s
    case VRec(fs) =>
      fs.map { case (_, fv) => unwrap(fv) match {
        case VNull(_) => "-"
        case x => zeekAny(x, inContainer = false)
      }}.mkString(",")
    case VArr(items, _) =>
      if (items.isEmpty) "(empty)"
      else items.map {
        case VNull(_) => "-"
        case x => zeekAny(x, inContainer = true)
      }.mkString(",")
    case VMap(es) =>
      "[" + es.map { case (k, x) => zeekAny(k, true) + zeekAny(x, true) }.mkString + "]"
    case VStr(s) => zeekEscapeString(s, inContainer)
    case VTypeVal(t) => "<" + t + ">"
    case VErr(inner) => unwrap(inner) match {
      case VStr(s) => s
      case other => s"error(${zsonText(other)})"
    }
    case VTyped(i, _) => zeekAny(i, inContainer)
  }

  // ---- record flattening (runtime/sam/expr flattener) ----------------------

  /** Flatten nested records into dotted leaves; null nested records expand
    * to typed-null leaves. Non-record leaves (arrays, maps, unions) stay.
    */
  def flatten(v: ZValue): Vector[(String, ZValue)] = {
    def go(prefix: String, x: ZValue): Vector[(String, ZValue)] = unwrap(x) match {
      case VRec(fs) =>
        fs.toVector.flatMap { case (n, fv) => go(s"$prefix$n.", fv) }
      case VNull(t) => ZType.strip(t) match {
        case Rec(fs) => fs.toVector.flatMap { case (n, ft) => go(s"$prefix$n.", VNull(ft)) }
        case _ => Vector(prefix.dropRight(1) -> x)
      }
      case _ => Vector(prefix.dropRight(1) -> x) // keep typed wrappers on leaves
    }
    unwrap(v) match {
      case VRec(fs) => fs.toVector.flatMap { case (n, fv) => go(s"$n.", fv) }
      case _ => Vector("this" -> v)
    }
  }

  private[sources] def leafType(v: ZValue): ZType = v match {
    case VNull(t) => t
    case VTyped(_, t) => t
    case other => ZValue.typeOf(other)
  }

  /** One text/table cell: times as RFC3339Nano (the writers' override),
    * everything else zeek-formatted.
    */
  private[sources] def cellText(v: ZValue, emptyNullTime: Boolean): String = unwrap(v) match {
    case VTime(ns) => rfc3339Nano(ns)
    case VNull(t) if ZType.strip(t) == Prim("time") => if (emptyNullTime) "" else "-"
    case other => zeekFormat(other)
  }

  // ---- text and zeek streams (TextWriter renders them) ------------------------

  /** `df` in text format `format` (zeek, json, csv, tsv or text) as one
    * stream of lines, handed to `use` while the frame's query runs: each
    * partition renders on the executors, and the parts come to the driver
    * one at a time, in order, stitched as one sequential writer's output.
    */
  def lines[A](df: DataFrame, format: String)(use: Iterator[String] => A): A =
    TextWriter.lines(df, TextWriter.of(format))(use)

  /** All of `df`'s lines in `format`, rendered in one job. */
  private def allLines[A](df: DataFrame, format: String)(use: Iterator[String] => A): A =
    TextWriter.lines(df, TextWriter.of(format), oneJob = true)(use)

  /** text (zio/textio/writer.go): flattened leaves joined by tabs. */
  def textLines(df: DataFrame): Seq[String] = allLines(df, "text")(_.toVector)

  /** zeek (zio/zeekio/writer.go): one preamble, `#path` on a path change,
    * `#fields`/`#types` on a flattened-type change, `_path` not a column.
    */
  def zeekLines(df: DataFrame): Seq[String] = allLines(df, "zeek")(_.toVector)

  // ---- table writer (zio/tableio/writer.go) --------------------------------

  /** Header + aligned columns, handed to `use` as one stream of lines; a
    * new header per flattened-type change and every 999 rows, Go
    * tabwriter alignment (width = block max + 1, last column unpadded).
    * Alignment is sequential (widths are block maxima), so rows pass the
    * driver, one block in memory at a time. Non-record values are skipped
    * (the reference errors on them). Human-facing format; not a data path.
    */
  def tableLines[A](df: DataFrame)(use: Iterator[String] => A): A = {
    val fn = rowValueFn(df.schema)
    val recs = scala.jdk.CollectionConverters.IteratorHasAsScala(df.toLocalIterator()).asScala
      .map(fn).collect { case rec @ VRec(_) =>
        val leaves = flatten(rec)
        (leaves.map { case (name, lv) => name -> ZType.text(leafType(lv)) }, leaves)
      }.buffered
    def aligned(block: Seq[Vector[String]]): Seq[String] = {
      val widths = (0 until block.map(_.length).max).map { i =>
        block.map(r => if (i < r.length) r(i).length else 0).max
      }
      block.map(r => r.zipWithIndex.map { case (cell, i) =>
        if (i == r.length - 1) cell else cell.padTo(widths(i) + 1, ' ')
      }.mkString.replaceAll("\\s+$", ""))
    }
    def cells(leaves: Vector[(String, ZValue)]): Vector[String] =
      leaves.map(f => cellText(f._2, emptyNullTime = true))
    use(Iterator.continually(recs).takeWhile(_.hasNext).flatMap { it =>
      val (sig, first) = it.next()
      val block = scala.collection.mutable.ArrayBuffer(first.map(_._1), cells(first))
      while (block.length < 1000 && it.hasNext && it.head._1 == sig) block += cells(it.next()._2)
      aligned(block.toSeq)
    })
  }

  // ---- csv (zio/csvio/writer.go): the stream and the cell rules ---------------

  /** csv/tsv: the first record's header, then its rows; another record
    * type ends the output with CsvShapeError carrying the lines before it.
    */
  def csvLines(df: DataFrame, sep: String = ","): Seq[String] = {
    val out = Vector.newBuilder[String]
    try allLines(df, if (sep == "\t") "tsv" else "csv")(_.foreach(out += _))
    catch { case _: CsvShapeError => throw new CsvShapeError(out.result()) }
    out.result()
  }

  /** One csv cell's text, before quoting. */
  private[sources] def csvCell(v: ZValue): String = unwrap(v) match {
    case VNull(_) => ""
    case VBytes(b) if b.isEmpty => ""
    case VStr(s) => s
    case VFloat(d, t) => csvFloat(d, if (t == "float64") 64 else 32)
    case VInt(n, _) => n.toString
    case VUint64(n) => n.toBigInt.toString
    case VBool(b) => b.toString
    case VTime(ns) => rfc3339Nano(ns)
    case VDur(ns) => durHuman(ns)
    case VBytes(b) => "0x" + b.map(x => f"$x%02x").mkString
    case VIp(s) => s
    case VNet(s) => s
    case VEnum(s) => s
    case VTypeVal(t) => s"<$t>"
    case other => zsonText(other) // complex values as zson (FormatValue)
  }

  /** Go-style shortest 'g' with the trailing '.' trimmed. */
  private[sources] def csvFloat(d: Double, bits: Int): String = {
    val s = goG(d, bits)
    if (s.endsWith(".")) s.dropRight(1) else s
  }

  private[sources] def csvQuote(s: String, sep: Char): String =
    if (s.indexOf(sep) >= 0 || s.contains("\"") || s.contains("\n") || s.contains("\r"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  // ---- json (zio/jsonio/writer.go): the value rules and the stream ----------

  def jsonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }

  /** json text of one value (compact; pretty handled by the caller's canon). */
  def jsonText(v0: ZValue): String = unwrap(v0) match {
    case VNull(_) => "null"
    case VBool(b) => b.toString
    case VInt(n, _) => n.toString
    case VUint64(n) => n.toBigInt.toString
    case VFloat(d, t) => jsonFloat(d, if (t == "float64") 64 else 32)
    case VStr(s) => jsonQuote(s)
    case VTime(ns) => jsonQuote(rfc3339Nano(ns))
    case VDur(ns) => jsonQuote(durHuman(ns))
    case VBytes(b) => jsonQuote("0x" + b.map(x => f"$x%02x").mkString)
    case VIp(s) => jsonQuote(s)
    case VNet(s) => jsonQuote(s)
    case VEnum(s) => jsonQuote(s)
    case VTypeVal(t) => jsonQuote(s"<$t>")
    case VRec(fs) =>
      fs.map { case (n, fv) => jsonQuote(n) + ":" + jsonText(fv) }.mkString("{", ",", "}")
    case VArr(items, _) => items.map(jsonText).mkString("[", ",", "]")
    case m @ VMap(es) =>
      val unionKeys = ZType.strip(ZValue.typeOf(m)) match {
        case ZType.MapT(kt, _) => ZType.strip(kt).isInstanceOf[ZType.Union]
        case _ => false
      }
      es.map { case (k, x) =>
        jsonQuote(jsonMapKey(k, unionKeys)) + ":" + jsonText(x) }.mkString("{", ",", "}")
    case VErr(inner) => "{" + jsonQuote("error") + ":" + jsonText(inner) + "}"
    case VTyped(i, _) => jsonText(i)
  }

  /** A json number: the shortest digits of `d` at its width `bits`. */
  private[sources] def jsonFloat(d: Double, bits: Int): String =
    if (d.isNaN || d.isInfinity) jsonQuote(goG(d)) // json can't carry non-finite
    else {
      val a = math.abs(d)
      if (a != 0 && (a < 1e-6 || a >= 1e21)) goG(d, bits) else goF(d, bits)
    }

  /** Map keys: strings bare, other primitives in zson primitive text,
    * complex keys as decorated zson (jsonio writer.go mapKey).
    */
  private def jsonMapKey(k: ZValue, unionKey: Boolean = false): String = unwrap(k) match {
    case VStr(s) =>
      // a string key that READS as any other zson value (number, bool,
      // ip, time, bytes, …) is zson-quoted to disambiguate ("0" vs 0,
      // "1.2.3.4" vs the ip — jsonio writer.go mapKey)
      val ambiguous = s.isEmpty || {
        try {
          val vs = ZsonParser.parseAll(s)
          vs.length == 1 && !ZValue.unwrap(vs.head).isInstanceOf[VStr]
        } catch { case _: Exception => false }
      }
      if (ambiguous) "\"" + s + "\"" else s
    case VNull(_) => "null"
    case VEnum(s) => s
    case VTypeVal(t) => s"<$t>"
    case other => k match {
      case VTyped(i, _) if unwrap(i).isInstanceOf[VStr] =>
        jsonMapKey(unwrap(i)) // named STRING keys stay bare
      case VTyped(i, ZType.Named(n, _)) => zsonText(i) + "(=" + n + ")"
      case VTyped(i, t) => zsonText(i) + "(" + ZType.text(t) + ")"
      // union-member keys keep non-implied numeric decorators so entries
      // distinct only by type stay distinct (jsonio writer.go); the
      // homogeneous case never reaches here decorated — see jsonText
      case VUint64(n) if unionKey => n.toBigInt.toString + "(uint64)"
      case VInt(n, t) if unionKey && t != "int64" => s"$n($t)"
      case VFloat(d, t) if unionKey && t != "float64" => zsonText(VFloat(d, t)) + s"($t)"
      case _ => zsonText(other)
    }
  }

  def jsonLines(df: DataFrame): Seq[String] = allLines(df, "json")(_.toVector)

  /** Incremental form of [[jsonLines]]: rendered partitions reach the
    * driver one at a time, so a large response can stream chunked instead
    * of materializing on the driver.
    */
  def jsonIter[A](df: DataFrame)(use: Iterator[String] => A): A = lines(df, "json")(use)

  /** Pretty-print one compact ZSON value with the reference's `-Z` layout
    * (zson/formatter.go, pretty=tab): containers expand one element per
    * line, record fields as `name: value`, decorators inline with a
    * leading space, `error(...)` as a constructor. Colons inside time/ip
    * literals are preserved — only the first colon after a record key is
    * a separator. Type values `<...>` and decorators stay inline.
    */
  def prettyZson(line: String, tab: Int = 4): String = {
    val sb = new StringBuilder
    val n = line.length
    var i = 0
    var depth = 0
    var inStr = false
    var parenDepth = 0
    var angleDepth = 0
    // container stack: 'r' record (with key/value state), 'm' map, 'v' vector/set
    val kinds = scala.collection.mutable.Stack[Char]()
    val atKey = scala.collection.mutable.Stack[Boolean]()
    def pad(d: Int): Unit = { var k = 0; while (k < d * tab) { sb.append(' '); k += 1 } }
    def isErrorCtor(j: Int): Boolean =
      j >= 5 && line.substring(j - 5, j) == "error" &&
        (j == 5 || { val p = line.charAt(j - 6); !p.isLetterOrDigit && p != '_' && p != '.' })
    while (i < n) {
      val c = line.charAt(i)
      if (inStr) {
        sb.append(c)
        if (c == '\\' && i + 1 < n) { sb.append(line.charAt(i + 1)); i += 1 }
        else if (c == '"') inStr = false
        i += 1
      } else if (parenDepth > 0 || angleDepth > 0) {
        c match {
          case '"' => inStr = true
          case '(' => parenDepth += 1
          case ')' => parenDepth -= 1
          case '<' => angleDepth += 1
          case '>' => if (angleDepth > 0) angleDepth -= 1
          case _ =>
        }
        sb.append(c); i += 1
      } else c match {
        case '"' => inStr = true; sb.append(c); i += 1
        case '<' => angleDepth += 1; sb.append(c); i += 1
        case '(' =>
          if (isErrorCtor(i)) sb.append(c)
          else {
            if (sb.nonEmpty && sb.last != ' ') sb.append(' ')
            parenDepth += 1; sb.append(c)
          }
          i += 1
        case ')' => sb.append(c); i += 1 // closes an error(...) constructor
        case '{' =>
          if (i + 1 < n && line.charAt(i + 1) == '}') { sb.append("{}"); i += 2 }
          else {
            sb.append('{'); depth += 1; kinds.push('r'); atKey.push(true)
            sb.append('\n'); pad(depth); i += 1
          }
        case '[' =>
          if (i + 1 < n && line.charAt(i + 1) == ']') { sb.append("[]"); i += 2 }
          else {
            sb.append('['); depth += 1; kinds.push('v')
            sb.append('\n'); pad(depth); i += 1
          }
        case '|' if i + 1 < n && (line.charAt(i + 1) == '[' || line.charAt(i + 1) == '{') =>
          val oc = line.charAt(i + 1)
          if (oc == '[' && line.startsWith("]|", i + 2)) { sb.append("|[]|"); i += 4 }
          else if (oc == '{' && line.startsWith("}|", i + 2)) {
            // empty map renders `|{` newline `}|` (formatter.go formatMap)
            sb.append("|{"); sb.append('\n'); pad(depth); sb.append("}|"); i += 4
          } else {
            sb.append('|').append(oc); depth += 1
            kinds.push(if (oc == '{') 'm' else 'v')
            sb.append('\n'); pad(depth); i += 2
          }
        case '}' | ']' =>
          depth -= 1
          if (kinds.nonEmpty) { if (kinds.pop() == 'r') atKey.pop(): Unit }
          sb.append('\n'); pad(depth)
          if (i + 1 < n && line.charAt(i + 1) == '|') { sb.append(c).append('|'); i += 2 }
          else { sb.append(c); i += 1 }
        case ',' =>
          if (kinds.nonEmpty && kinds.top == 'r') { atKey.pop(); atKey.push(true) }
          sb.append(','); sb.append('\n'); pad(depth); i += 1
        case ':' =>
          if (kinds.nonEmpty && kinds.top == 'r' && atKey.top) {
            atKey.pop(); atKey.push(false); sb.append(": ")
          } else sb.append(':')
          i += 1
        case _ => sb.append(c); i += 1
      }
    }
    sb.toString
  }
}
