package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ZSON text format read/write (reference: docs/formats/zson.md, zio/zsonio/).
  *
  * Writer: the one text renderer (TextWriter, per partition on the
  * executors): each row reads through its shape's plan as a ZValue and
  * ZsonFormatter prints it, decorating what its type does not imply
  * (zson/formatter.go). `zsonOf`/`zsonOfTyped` are Catalyst columns of a
  * value's ZSON text for the compiler's in-query text (string conversion
  * of a value, not output).
  *
  * Reader: typed per-partition parsing of the text scan into the tagged
  * frame `ZsonReader` builds (see `read`).
  */
object ZsonIO {

  // ---- writer ----------------------------------------------------------------

  private def escape(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")

  /** True when a struct type is the Het variant encoding (compare by
    * field names — nullability may drift through operators).
    */
  def isVariantType(dt: DataType): Boolean = dt match {
    case st: StructType =>
      st.fieldNames.sameElements(graft.operators.Het.variantType.fieldNames)
    case _ => false
  }

  /** Format one column as ZSON text (recursive over the data type). */
  def zsonOf(c: Column, dt: DataType): Column = {
    val formatted: Column = dt match {
      case st: StructType if isVariantType(st) => graft.operators.Het.render(c)
      case StringType => concat(lit("\""), escape(c), lit("\""))
      case LongType => c.cast(StringType)
      case IntegerType => concat(c.cast(StringType), lit(" (int32)"))
      case ShortType => concat(c.cast(StringType), lit(" (int16)"))
      case ByteType => concat(c.cast(StringType), lit(" (int8)"))
      case DoubleType =>
        // float64 is implied by a decimal point (zson.md §2.3.1): integral
        // doubles print with a trailing dot; non-finite as zed's
        // NaN/+Inf/-Inf spellings; the rest in Go strconv 'g' form
        // (1.52e+09, not Java's 1.52E9)
        when(isnan(c), lit("NaN"))
          .when(c === lit(Double.PositiveInfinity), lit("+Inf"))
          .when(c === lit(Double.NegativeInfinity), lit("-Inf"))
          .when(c === floor(c) && abs(c) < 1e15,
            concat(c.cast(LongType).cast(StringType), lit(".")))
          .otherwise(graft.functions.Bridge.column(graft.functions.GoFloatText(graft.functions.Bridge.expression(c))))
      case FloatType =>
        concat(when(isnan(c), lit("NaN"))
          .when(c === lit(Float.PositiveInfinity), lit("+Inf"))
          .when(c === lit(Float.NegativeInfinity), lit("-Inf"))
          .when(c.cast(DoubleType) === floor(c.cast(DoubleType)) && abs(c) < 1e7,
            concat(c.cast(LongType).cast(StringType), lit(".")))
          .otherwise(graft.functions.Bridge.column(graft.functions.GoFloatText(graft.functions.Bridge.expression(c)))), lit(" (float32)"))
      case dt: DecimalType if dt.precision == 20 && dt.scale == 0 =>
        // the full-range uint64 carrier: exact digits + its zed decorator
        concat(c.cast(StringType), lit("(uint64)"))
      case _: DecimalType => concat(c.cast(StringType), lit(" (float64)"))
      case BooleanType => c.cast(StringType)
      case TimestampType | TimestampNTZType =>
        // zed trims trailing fraction zeros (and the dot when zero) —
        // 00:00:00.000000Z renders 00:00:00Z (zson time format)
        regexp_replace(
          date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), "\\.?0*Z$", "Z")
      case DateType => date_format(c, "yyyy-MM-dd'T'00:00:00'Z'")
      case BinaryType => concat(lit("0x"), lower(hex(c)))
      case ArrayType(et, _) =>
        concat(lit("["),
          array_join(transform(c, x => zsonOf(x, et)), ","),
          lit("]"))
      case MapType(kt, vt, _) =>
        concat(lit("|{"),
          array_join(transform(map_entries(c), e =>
            concat(zsonOf(e.getField("key"), kt), lit(":"),
              zsonOf(e.getField("value"), vt))), ","),
          lit("}|"))
      case st: StructType =>
        concat(lit("{"),
          concat_ws(",", st.fields.toIndexedSeq.map { f =>
            concat(lit(zsonName(f.name) + ":"), zsonOf(c.getField(f.name), f.dataType))
          }: _*),
          lit("}"))
      case NullType => lit("null")
      case other => concat(lit("\""), escape(c.cast(StringType)), lit("\""))
    }
    when(c.isNull, lit("null")).otherwise(formatted)
  }

  private val identRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
  private val timeLitRe =
    """\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?)?""".r
  // IPv6 literals contain ':' — must lex greedily before the scalar stop
  // set. Shape: hex groups separated by ':' (empty group = '::'), needing
  // either a '::' or a full 8-group form to qualify.
  private val ip6Re =
    """[0-9a-fA-F]{0,4}(:[0-9a-fA-F]{0,4}){2,7}(/\d{1,3})?""".r
  private def zsonName(n: String): String =
    if (identRe.matches(n)) n else "\"" + n.replace("\"", "\\\"") + "\""

  /** Number types whose values never imply themselves (zson spec:
    * 371(uint16)) — they always carry their decorator.
    */
  private val decoratedNums = Set("uint8", "uint16", "uint32", "uint64",
    "int8", "int16", "int32", "float16", "float32")

  /** zed-type-aware ZSON text of a column, as a field's value: the
    * optional ZType refines the Spark carrier (sets vs arrays,
    * durations/time on longs, type values, decorators); an empty
    * container decorates like a null (formatter.go formatVector).
    */
  def zsonOfTyped(c: Column, dt: DataType, zt: Option[ZType]): Column = {
    val base = zsonOfTyped0(c, dt, zt)
    zt match {
      // a typed NULL riding a variant carrier still decorates (null(int64));
      // non-null variant values render canonically
      case Some(t) if isVariantType(dt) =>
        val stripped = ZType.strip(t)
        if (stripped == ZType.Prim("null")) base
        else {
          // a non-implied primitive keeps its width decorator even on the
          // variant carrier (glob-mul: {s:7(int32)} after a variant
          // filter); null variants decorate with the full type
          val primDecor = stripped match {
            case ZType.Prim(p) => decoratedNums(p)
            case _ => false
          }
          // a null variant may be a present carrier with empty slots —
          // test the rendered text, not just column nullness
          val nullCase = when(c.isNull || base.isNull || base === lit("null"),
            lit(s"null(${ZType.fullText(t)})"))
          if (primDecor)
            nullCase.otherwise(concat(base, lit(s"(${ZType.fullText(t)})")))
          else nullCase.otherwise(base)
        }
      case Some(t) =>
        val stripped = ZType.strip(t)
        val txt = ZType.fullText(t)
        // non-implied primitives carry their decorator (zson spec:
        // 371(uint16)); every typed null is decorated (null(string))
        val nonImplied = stripped match {
          // uint64 on the exact decimal carrier self-decorates in zsonOf
          case ZType.Prim("uint64") => !dt.isInstanceOf[DecimalType]
          case ZType.Prim(p) => Set("uint8", "uint16", "uint32",
            "int8", "int16", "int32", "float16", "float32")(p)
          case _ => false
        }
        val named = txt.contains('=') && (stripped match {
          case ZType.Prim(_) => true
          case _ => false
        })
        // a named type over a self-describing value uses the abbreviated
        // `(=name)` typedef (zson/formatter.go decorate / SelfDescribing)
        val namedSelf = t match {
          case ZType.Named(n, _) if ZType.selfDescribing(t) => Some(n)
          case _ => None
        }
        namedSelf match {
          case Some(n) =>
            when(c.isNull, lit(s"null($txt)"))
              .otherwise(concat(base, lit(s"(=$n)")))
          case None =>
            if (nonImplied || named)
              when(c.isNull, lit(s"null($txt)")).otherwise(concat(base, lit(s"($txt)")))
            else stripped match {
              case ZType.Prim("null") => base
              case _: ZType.EnumT => base // %sym form carries no null deco
              // an EMPTY container cannot imply its type — it decorates
              // like a null (zson/formatter.go formatVector null return)
              case (ZType.Arr(_) | ZType.SetT(_)) if dt.isInstanceOf[ArrayType] =>
                when(c.isNull, lit(s"null($txt)"))
                  .when(size(c) === 0, concat(base, lit(s"($txt)")))
                  .otherwise(base)
              case ZType.MapT(_, _) if dt.isInstanceOf[MapType] =>
                when(c.isNull, lit(s"null($txt)"))
                  .when(size(map_keys(c)) === 0, concat(base, lit(s"($txt)")))
                  .otherwise(base)
              case _ => when(c.isNull, lit(s"null($txt)")).otherwise(base)
            }
        }
      case _ => base
    }
  }

  private def zsonOfTyped0(c: Column, dt: DataType, zt: Option[ZType]): Column =
    (dt, zt.map(ZType.strip)) match {
      case (LongType, Some(ZType.Prim("duration"))) =>
        // an ns-count carrier prints zed's duration text (1s, 1h2m3.5s)
        when(c.isNull, lit("null")).otherwise(graft.functions.Bridge.column(
          graft.functions.DurationText(graft.functions.Bridge.expression(c))))
      case (LongType, Some(ZType.Prim("time"))) =>
        // ns-domain long carrier → ISO with trailing zeros trimmed
        val secs = graft.functions.Bridge.intDiv(c, lit(1000000000L))
        val frac = regexp_replace(
          lpad((c % 1000000000L).cast(StringType), 9, "0"), "0+$", "")
        when(c.isNull, lit("null")).otherwise(concat(
          date_format(timestamp_seconds(secs), "yyyy-MM-dd'T'HH:mm:ss"),
          when(frac === "", lit("")).otherwise(concat(lit("."), frac)),
          lit("Z")))
      case (DoubleType, Some(ZType.Prim("float32"))) =>
        // a float32 riding the double carrier prints float32's shortest
        // digits (3e+38, not the widened double's 3.0000000054977558e+38)
        when(c === floor(c) && abs(c) < 1e15, zsonOf(c, DoubleType))
          .otherwise(graft.functions.Bridge.column(graft.functions.GoFloatText(
            graft.functions.Bridge.expression(c.cast(FloatType)))))
      case (StringType, Some(ZType.Prim("ip" | "net" | "time"))) =>
        // ip/net (and ISO-text time carriers, e.g. lake :objects
        // ranges) are bare in zson (no quotes)
        when(c.isNull, lit("null")).otherwise(c)
      case (StringType, Some(ZType.Prim("type"))) =>
        when(c.isNull, lit("null")).otherwise(concat(lit("<"), c, lit(">")))
      case (StringType, Some(ZType.EnumT(_))) =>
        when(c.isNull, lit("null")).otherwise(concat(lit("%"), c))
      case (st: StructType, Some(ZType.Rec(zfs))) if !isVariantType(st) =>
        // render the SHAPE's fields (in shape order): the Spark struct
        // may be a union of several nested shapes' fields, and fields
        // outside this row's shape must not surface as nulls. Fields an
        // operator added under this record (absent from the shape tag)
        // append when NON-null — concat_ws drops null legs
        val shapeNames = zfs.map(_._1).toSet
        val legs: Seq[Column] =
          zfs.collect { case (n, ft) if st.fieldNames.contains(n) =>
            concat(lit(zsonName(n) + ":"),
              zsonOfTyped(c.getField(n), st(n).dataType, Some(ft)))
          } ++ st.fields.toIndexedSeq.collect {
            case f if !shapeNames.contains(f.name) =>
              when(c.getField(f.name).isNotNull,
                concat(lit(zsonName(f.name) + ":"),
                  zsonOfTyped(c.getField(f.name), f.dataType, None)))
          }
        val inner = concat_ws(",", legs: _*)
        when(c.isNull, lit("null")).otherwise(concat(lit("{"), inner, lit("}")))
      case (ArrayType(et, _), Some(ZType.Arr(zet))) =>
        when(c.isNull, lit("null")).otherwise(concat(lit("["),
          array_join(transform(c, x => zsonOfTyped(x, et, Some(zet))), ","), lit("]")))
      case (ArrayType(et, _), Some(ZType.SetT(zet))) =>
        when(c.isNull, lit("null")).otherwise(concat(lit("|["),
          array_join(transform(c, x => zsonOfTyped(x, et, Some(zet))), ","), lit("]|")))
      case (MapType(kt, vt, _), Some(ZType.MapT(zk, zv))) =>
        // a key ending in ':' (e.g. the ip ::) needs a space before the
        // map separator (zsonio writer)
        when(c.isNull, lit("null")).otherwise(concat(lit("|{"),
          array_join(transform(map_entries(c), e => {
            val k = zsonOfTyped(e.getField("key"), kt, Some(zk))
            concat(k, when(k.endsWith(":"), lit(" ")).otherwise(lit("")),
              lit(":"), zsonOfTyped(e.getField("value"), vt, Some(zv)))
          }), ","),
          lit("}|")))
      case _ => zsonOf(c, dt)
    }

  /** The frame's values as ZSON lines, one per value, in each row's own
    * shape (the `__type` tag and scope variables are engine metadata, not
    * data; a bare `this` column is the top-level value). Rendered per
    * partition by the one text renderer, TextWriter.
    */
  def toZson(df: DataFrame): Dataset[String] = TextWriter.zson(df)

  /** One ZSON part file per non-empty partition (TextWriter.write). */
  def write(df: DataFrame, path: String): Unit = TextWriter.write(df, path, TextWriter.Zson)

  // ---- reader ----------------------------------------------------------------

  /** Convert one ZSON value text to JSON (decorators dropped, field names
    * quoted, sets→arrays, maps→objects, time literals→strings). Throws on
    * malformed input with position context.
    */
  private[graft] def zsonLineToJson(line: String): String = {
    val sb = new StringBuilder
    val s = line
    var i = 0
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"zson parse at $i: $msg in: $line")
    def ws(): Unit = {
      var go = true
      while (go && i < s.length) {
        val c = s.charAt(i)
        if (c == ' ' || c == '\t') i += 1
        else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '/') i = s.length
        else go = false
      }
    }
    // skip a type decorator: balanced ( ... ), possibly repeated
    def skipDecorators(): Unit = {
      ws()
      while (i < s.length && s.charAt(i) == '(') {
        var depth = 0
        var stop = false
        while (!stop && i < s.length) {
          val c = s.charAt(i)
          if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) stop = true }
          i += 1
        }
        ws()
      }
    }
    def str(): Unit = {
      sb.append('"'); i += 1
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) { sb.append(c).append(s.charAt(i + 1)); i += 2 }
        else { sb.append(c); i += 1 }
      }
      if (i >= s.length) err("unterminated string")
      sb.append('"'); i += 1
    }
    def name(): Unit = {
      ws()
      if (s.charAt(i) == '"') str()
      else {
        val start = i
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == '.')) i += 1
        if (i == start) err("empty field name")
        sb.append('"').append(s.substring(start, i)).append('"')
      }
    }
    def scalar(): Unit = {
      // time and IPv6 literals contain ':' — match them greedily first
      val rest = s.substring(i)
      val timeM = timeLitRe.findPrefixOf(rest)
      val ip6M = ip6Re.findPrefixOf(rest).filter(m => m.contains("::") ||
        m.count(_ == ':') == 7)
      val tok = (timeM, ip6M) match {
        case (Some(t), _) if t.length >= 10 => i += t.length; t
        case (_, Some(a)) => i += a.length; a
        case _ =>
          val start = i
          while (i < s.length && !",:]}() \t".contains(s.charAt(i))) i += 1
          s.substring(start, i)
      }
      if (tok.isEmpty) err("empty value")
      if (tok == "null" || tok == "true" || tok == "false") sb.append(tok)
      else if (tok.matches("""[+-]?\d+""")) sb.append(tok)
      else if (tok.matches("""[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?""")) {
        // float with possible trailing dot (ZSON implied float64)
        if (tok.endsWith(".")) sb.append(tok).append('0') else sb.append(tok)
      } else if (tok.startsWith("0x")) sb.append('"').append(tok).append('"')
      else sb.append('"').append(tok).append('"') // time literal, ip, enum…
    }
    def value(): Unit = {
      ws()
      if (i >= s.length) err("missing value")
      s.charAt(i) match {
        case '"' => str()
        case '{' => record()
        case '[' => arr("[", "]")
        case '|' =>
          if (s.startsWith("|[", i)) { i += 1; arr("[", "]"); expect('|') }
          else if (s.startsWith("|{", i)) { i += 1; mapv() }
          else err("bad |")
        case _ => scalar()
      }
      skipDecorators()
    }
    def expect(c: Char): Unit = {
      if (i < s.length && s.charAt(i) == c) i += 1 else err(s"expected '$c'")
    }
    def record(): Unit = {
      sb.append('{'); i += 1; ws()
      var first = true
      while (i < s.length && s.charAt(i) != '}') {
        if (!first) { expect(','); sb.append(','); ws() }
        first = false
        name(); ws(); expect(':'); sb.append(':')
        value(); ws()
      }
      expect('}'); sb.append('}')
    }
    def arr(open: String, close: String): Unit = {
      sb.append('['); i += 1; ws()
      var first = true
      while (i < s.length && s.charAt(i) != close.charAt(0)) {
        if (!first) { expect(','); sb.append(','); ws() }
        first = false
        value(); ws()
      }
      expect(close.charAt(0)); sb.append(']')
    }
    def mapv(): Unit = {
      // |{k:v,...}| → JSON object (keys coerced to strings)
      sb.append('{'); i += 1; ws()
      var first = true
      while (i < s.length && s.charAt(i) != '}') {
        if (!first) { expect(','); sb.append(','); ws() }
        first = false
        ws()
        if (s.charAt(i) == '"') str()
        else {
          val start = i
          while (i < s.length && !":".contains(s.charAt(i))) i += 1
          sb.append('"').append(s.substring(start, i).trim).append('"')
        }
        ws(); expect(':'); sb.append(':')
        value(); ws()
      }
      expect('}'); expect('|'); sb.append('}')
    }
    ws()
    value()
    sb.toString
  }

  /** Read a ZSON text file/directory into a typed DataFrame — the same
    * tagged/variant frame the in-memory harness builds, produced fully
    * distributed (reference: zson/parser.go streams typed values).
    *
    * Machine-written ZSON (zq's `-z` and this engine's writer) is one
    * value per line, so the default route is Spark's splittable text scan
    * with per-partition typed parsing. ONE Spark job (`scanLines` over
    * every partition) decides the route and discovers the line route's
    * shapes: the file is line-oriented iff its first non-blank,
    * non-comment line parses alone and no line holds a typedef `(=`.
    * A line-oriented read then builds its frame from the discovered
    * shapes, so the query's scan is the only other pass. Pretty-printed
    * (`-Z`) and typedef-bearing files decode whole, one task per file.
    * A line-oriented partition the scan could not parse (a syntax error,
    * a value spanning a split) re-runs the two-pass line route, which
    * surfaces the parse error or decodes the spanning value.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.textFile(path).rdd
    val scans =
      try Some(lines.mapPartitionsWithIndex((pid, it) => Iterator(scanLines(pid, it))).collect())
      catch { case scala.util.control.NonFatal(_) => None } // a read error: the line route surfaces it
    // typedef-bearing files ((=name) definitions referenced by later
    // values) must decode as ONE stream per file — a text split could
    // separate a reference from its definition. Parallelism across FILES
    // is kept; only within-file splitting is given up.
    val lineOriented = scans.forall(ss =>
      ss.flatMap(_.firstParses).headOption.forall(identity) && !ss.exists(_.typedefs))
    if (lineOriented) {
      val values = lines.mapPartitions(parseLineIter)
      scans.filter(_.forall(_.shapes.isDefined)) match {
        case Some(ss) =>
          // each shape keeps its first (partition, row) key
          val discovered = ss.flatMap(_.shapes.get).groupMapReduce(_._1)(_._2)(math.min)
          ZsonReader.fromShapes(spark, values, discovered.toArray)
        case None => ZsonReader.fromRDD(spark, values)
      }
    } else {
      // not line-oriented: confirm the head actually parses as (multi-
      // line) zson before shipping a whole-file decode to executors —
      // an undetectable file fails fast with the reference's message
      // (stop-on-error ztest: "bad.zson: format detection error")
      val head = try spark.read.textFile(path).head(512).mkString("\n")
                 catch { case _: Exception => "" }
      // a pretty value can legitimately span more lines than the probe
      // window, so a failed FULL parse only means "not zson" when the
      // text doesn't even START like a zson value — otherwise assume a
      // truncated pretty value and let the executor-side decode surface
      // any real error
      val headParses =
        try { ZsonParser.parseAll(head); true }
        catch { case _: Exception => false }
      val firstCh = head.linesIterator
        .map(_.trim).filterNot(l => l.isEmpty || l.startsWith("//"))
        .flatMap(_.headOption).nextOption()
      // container/quote/number starts can be truncated pretty values;
      // bare prose cannot (only true/false/null/NaN keywords open with
      // a letter, and those parse fully above)
      val plausibleStart = firstCh.exists(c =>
        c == '{' || c == '[' || c == '|' || c == '<' || c == '"' ||
        c == '-' || c == '+' || c == '(' || c.isDigit)
      if (head.trim.nonEmpty && !headParses && !plausibleStart)
        throw new IllegalArgumentException(
          new java.io.File(path).getName + ": format detection error")
      ZsonReader.fromRDD(spark, perFile(spark, path)(ZsonParser.parseAll(_).iterator))
    }
  }

  /** The values of a ZSON text held in memory, parsed on the driver as
    * `ZsonReader.fromText` parses them, when a file of it would read as
    * one text split: Spark's split size for one file of its length
    * (`FilePartition.maxSplitBytes`, the open cost of 4 MiB at default
    * settings), so the driver decode gives up no parallelism a file read
    * had. None for a larger text, and for one that does not parse in
    * whole: `read` over a file of it decodes it or reports its error.
    */
  private[graft] def valuesInMemory(spark: SparkSession, bytes: Array[Byte]): Option[Vector[ZValue]] =
    if (bytes.length > splitBytes(spark, bytes.length)) None
    else try Some(ZsonParser.parseAll(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** The largest text split Spark cuts a file of `len` bytes into. */
  private def splitBytes(spark: SparkSession, len: Long): Long = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
    val file = new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L,
      new org.apache.hadoop.fs.Path("/in.zson"))
    FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty, Array(file))))
  }

  /** Whether a frame `read` returned holds any value: its discovery
    * records a shape for every value it sees, so only an empty read
    * comes back without the tag column's shape list.
    */
  def readHasValues(df: DataFrame): Boolean =
    df.schema.find(_.name == graft.operators.Het.typeTag)
      .exists(_.metadata.contains("shapes"))

  /** What `read`'s one discovery pass learns about one text partition.
    * `firstParses`: whether its first non-blank, non-comment line parses
    * alone (None when it has none). `typedefs`: some line holds `(=`.
    * `shapes`: the line route's shape texts keyed by first (partition,
    * row), plus the ns sentinel when a time has sub-µs digits; None when
    * the line parse threw, or was skipped because the first line does not
    * parse alone.
    */
  private final case class LineScan(firstParses: Option[Boolean], typedefs: Boolean,
      shapes: Option[Array[(String, Long)]])

  private def scanLines(pid: Int, lines0: Iterator[String]): LineScan = {
    var typedefs = false
    // every line, parsed or skipped, passes the typedef check
    val lines = lines0.map { l => if (l.contains("(=")) typedefs = true; l }.buffered
    def content(l: String): Boolean = { val t = l.trim; t.nonEmpty && !t.startsWith("//") }
    while (lines.hasNext && !content(lines.head)) lines.next()
    val firstParses = lines.headOption.map(l =>
      try { ZsonParser.parseAll(l); true } catch { case _: Exception => false })
    // a typedef routes the whole read to whole-file decode: stop parsing
    val shapes =
      if (!firstParses.forall(identity)) None
      else try Some(ZsonReader.discoverShapes(pid, parseLineIter(lines).takeWhile(_ => !typedefs)))
           catch { case scala.util.control.NonFatal(_) => None }
    while (!typedefs && lines.hasNext) lines.next()
    LineScan(firstParses, typedefs, shapes)
  }

  /** Parse a partition's lines into values, accumulating continuation
    * lines so multi-line values inside a partition still decode (text
    * splits are line-aligned, so only a value spanning >1 split breaks —
    * `read` routes files whose first line is not a whole value to
    * whole-file decode instead).
    */
  private[sources] def parseLineIter(lines: Iterator[String]): Iterator[ZValue] = new Iterator[ZValue] {
    private var queue: Iterator[ZValue] = Iterator.empty
    // typedef context carried ACROSS values in this partition: `(=name)`
    // on one line binds `(name)` references on later lines (zson.md)
    private val ctx = scala.collection.mutable.Map.empty[String, graft.sources.ZType]
    private def parseCtx(text: String): Vector[ZValue] =
      new ZsonParser(text, ctx).parseAll()
    private def fill(): Unit = {
      val buf = new StringBuilder
      while (!queue.hasNext && lines.hasNext) {
        val l = lines.next()
        val t = l.trim
        if (buf.isEmpty && (t.isEmpty || t.startsWith("//"))) () // skip blanks/comments
        else {
          if (buf.nonEmpty) buf.append('\n')
          buf.append(l)
          try queue = parseCtx(buf.toString).iterator
          catch { case _: Exception => } // incomplete — keep accumulating
        }
      }
      if (!queue.hasNext && buf.nonEmpty)
        queue = parseCtx(buf.toString).iterator // surface the real error
    }
    def hasNext: Boolean = { if (!queue.hasNext) fill(); queue.hasNext }
    def next(): ZValue = { if (!hasNext) throw new NoSuchElementException; queue.next() }
  }

  /** Whole-file typed decode, one task per file: `decode` reads one
    * file's text as one stream (pretty-printed ZSON whose values span
    * line splits; a ZJSON stream whose type ids are defined once).
    */
  private[sources] def perFile(spark: SparkSession, path: String)(
      decode: String => Iterator[ZValue]): org.apache.spark.rdd.RDD[ZValue] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(if (HadoopFs.isDirectory(spark, path)) s"$path/*" else path)
      .select("content").as[Array[Byte]].rdd
      .flatMap(bytes => decode(new String(Gzip.maybeGunzip(bytes), "UTF-8")))
  }
}
