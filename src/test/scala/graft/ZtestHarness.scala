package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

import graft.sources.{ZValue, ZsonParser, ZsonReader, ZsonIO, ZeekIO}
import graft.lang.{Graft, Parser, Pipeline, Stage}

/** Shared machinery for executing the reference's golden tests (ztests):
  * extraction with input/output format flags, typed ZSON ingestion,
  * format-correct output, and canonical comparison — ordered when the
  * program implies an order (zed is an ordered sequence,
  * docs/language/pipeline-model.md:6-16), multiset otherwise.
  */
object ZtestHarness {

  final case class ZCase(file: String, zed: String, input: String,
                         inputFlags: String, output: String, outputFlags: String)

  def extractCases(): Seq[ZCase] = {
    val out = Vector.newBuilder[ZCase]
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("/root/reference"))
      .iterator().asScala
      .filter(p => p.toString.contains("ztests") && p.toString.endsWith(".yaml"))
    for (f <- files) {
      val lines = java.nio.file.Files.readAllLines(f).asScala
      def block(key: String): Option[String] = {
        val idx = lines.indexWhere(_.startsWith(s"$key: |"))
        if (idx < 0) None
        else {
          val b = lines.drop(idx + 1)
            .takeWhile(l => l.startsWith("  ") || l.trim.isEmpty)
            .map(_.stripPrefix("  "))
          Some(b.mkString("\n").stripLineEnd)
        }
      }
      def inline(key: String): Option[String] =
        lines.find(l => l.startsWith(s"$key: ") && !l.startsWith(s"$key: |")).map { l =>
          var q = l.drop(key.length + 2).trim
          if ((q.startsWith("'") && q.endsWith("'") && q.length > 1) ||
              (q.startsWith("\"") && q.endsWith("\"") && q.length > 1))
            q = q.substring(1, q.length - 1)
          q
        }
      for {
        zed <- block("zed").orElse(inline("zed"))
        in <- block("input")
        outp <- block("output")
        if zed.trim.nonEmpty && in.trim.nonEmpty && outp.trim.nonEmpty
      } out += ZCase(f.toString, zed.trim, in,
        inline("input-flags").getOrElse(""), outp,
        inline("output-flags").getOrElse(""))
    }
    out.result()
  }

  // ---- input ---------------------------------------------------------------

  private def tempDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("ztest")

  private def writeTemp(text: String, name: String): String = {
    val d = tempDir()
    val p = d.resolve(name)
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  // the text-ingestion path ships in main (graft.sources.TextInput) —
  // it serves the CLI's stdin reads as well as these golden tests
  def buildInput(spark: SparkSession, c: ZCase): DataFrame =
    graft.sources.TextInput.build(spark, c.input, c.inputFlags, c.file)

  // ---- output --------------------------------------------------------------

  /** Run the case; return output lines in the case's output format. */
  def run(spark: SparkSession, c: ZCase): Seq[String] = {
    val df = buildInput(spark, c)
    val res = Graft.queryOn(df, c.zed)
    val f = c.outputFlags
    if (f.contains("-f csv")) graft.sources.ZFormat.csvLines(res)
    else if (f.contains("-f zeek")) graft.sources.ZFormat.zeekLines(res)
    else if (f.contains("-f zjson")) graft.sources.ZjsonIO.typedLines(res)
    else if (f.contains("-f json")) graft.sources.ZFormat.jsonLines(res)
    else if (f.contains("-f table")) graft.sources.ZFormat.tableLines(res)(_.toVector)
    else if (f.contains("-f text")) graft.sources.ZFormat.textLines(res)
    else ZsonIO.toZson(res).collect().toSeq
  }

  private def variantText(r: org.apache.spark.sql.Row): String = {
    if (r == null) return ""
    val k = r.getAs[Any]("k")
    val t = Option(r.getAs[String]("t")).getOrElse("")
    val z = r.getAs[String]("z")
    k match {
      case 5 => s"error($z)"
      case 0 =>
        if (z != null) z
        else {
          val n = r.getAs[Double]("n")
          if (!t.startsWith("float") && n == Math.floor(n)) n.toLong.toString else n.toString
        }
      case 1 =>
        if (z != null) z
        else {
          val n = r.getAs[Double]("n")
          java.time.Instant.ofEpochSecond(n.toLong, ((n - n.toLong) * 1e9).toLong).toString
        }
      case 2 => r.getAs[String]("s")
      case 3 => r.getAs[Boolean]("b").toString
      case _ => Option(z).orElse(Option(r.getAs[String]("s"))).getOrElse("")
    }
  }

  private def csvLines(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types._
    val het = graft.operators.Het
    // per-column zed types from the first shape (for type/<…> wrapping)
    val zedTypes: Map[String, graft.sources.ZType] =
      df.schema.fields.find(_.name == het.typeTag)
        .filter(_.metadata.contains("shapes"))
        .flatMap(f => f.metadata.getStringArray("shapes").headOption)
        .flatMap { t =>
          try {
            graft.sources.ZType.strip(graft.sources.ZsonParser.parseType(t)) match {
              case r: graft.sources.ZType.Rec => Some(r.fields.toMap)
              case _ => None
            }
          } catch { case _: Exception => None }
        }.getOrElse(Map.empty)
    // flatten nested records to dotted columns (csvio writer.go)
    def leaves(prefix: String, dt: DataType): Seq[(String, DataType)] = dt match {
      case st: StructType if !ZsonIO.isVariantType(st) =>
        st.fields.toIndexedSeq.flatMap(f => leaves(s"$prefix.${f.name}", f.dataType))
      case other => Seq((prefix, other))
    }
    val dataFields = df.schema.fields.toIndexedSeq
      .filterNot(f => f.name == het.typeTag || f.name == "this")
      .flatMap(f => leaves(f.name, f.dataType))
    val cols = if (dataFields.nonEmpty) dataFields
      else df.schema.fields.toIndexedSeq.filterNot(_.name == het.typeTag)
        .flatMap(f => leaves(f.name, f.dataType))
    val tagged = df.columns.contains(het.typeTag)
    val selection = cols.map(c => org.apache.spark.sql.functions.col(c._1)) ++
      (if (tagged) Seq(org.apache.spark.sql.functions.col(het.typeTag)) else Seq.empty)
    def cell(v: Any, name: String): String = {
      def zp(p: String) = zedTypes.get(name.split('.').head)
        .map(graft.sources.ZType.strip).contains(graft.sources.ZType.Prim(p))
      val raw = v match {
        case null => ""
        case r: org.apache.spark.sql.Row => variantText(r)
        case d: Double => if (d == Math.floor(d) && Math.abs(d) < 1e15) d.toLong.toString else d.toString
        case ts: java.sql.Timestamp => ts.toInstant.toString
        case n: Long if zp("duration") => humanDur(n)
        case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
        case s: String => if (zp("type")) s"<$s>" else s
        case other => other.toString
      }
      if (raw.contains(",") || raw.contains("\"") || raw.contains("\n"))
        "\"" + raw.replace("\"", "\"\"") + "\""
      else raw
    }
    val header = cols.map(_._1).mkString(",")
    val rows = df.select(selection: _*).collect().toIndexedSeq
      // non-record values cannot be csv rows (csvio writer errors on them)
      .filter(r => !tagged || {
        val t = r.getString(r.length - 1)
        t == null || t.startsWith("{") || t.contains("=")
      })
      .map(r => cols.indices.map(i => cell(r.get(i), cols(i)._1)).mkString(","))
    header +: rows
  }

  /** zed duration text: compound y/d/h/m/s with a sub-second tail
    * (nano.go Duration.String).
    */
  def humanDur(ns0: Long): String = {
    if (ns0 == 0) return "0s"
    val sign = if (ns0 < 0) "-" else ""
    var ns = Math.abs(ns0)
    val sb = new StringBuilder(sign)
    val units = Seq(
      "y" -> 365L * 86400 * 1000000000L, "d" -> 86400L * 1000000000L,
      "h" -> 3600L * 1000000000L, "m" -> 60L * 1000000000L)
    for ((u, size) <- units) {
      if (ns >= size) { sb.append(ns / size).append(u); ns %= size }
    }
    if (ns > 0) {
      if (ns % 1000000000L == 0) sb.append(ns / 1000000000L).append("s")
      else if (ns >= 1000000000L) sb.append(ns.toDouble / 1e9).append("s")
      else if (ns % 1000000L == 0) sb.append(ns / 1000000L).append("ms")
      else if (ns % 1000L == 0) sb.append(ns / 1000L).append("us")
      else sb.append(ns).append("ns")
    }
    sb.toString
  }

  /** zed's JSON writer conventions (zio/jsonio/writer.go): times as
    * trimmed ISO strings, durations humanized, types in <>, error values
    * as {"error":…}, null fields dropped, per-row shape respected.
    */
  private def jsonLines(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types._
    val het = graft.operators.Het
    val zedTypes: Map[String, graft.sources.ZType] =
      df.schema.fields.find(_.name == het.typeTag)
        .filter(_.metadata.contains("shapes"))
        .flatMap(f => f.metadata.getStringArray("shapes").headOption)
        .flatMap { t =>
          try graft.sources.ZType.strip(graft.sources.ZsonParser.parseType(t)) match {
            case r: graft.sources.ZType.Rec => Some(r.fields.toMap)
            case _ => None
          } catch { case _: Exception => None }
        }.getOrElse(Map.empty)
    def q(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t") + "\""
    def render(v: Any, dt: DataType, zt: Option[graft.sources.ZType]): String = {
      val zs = zt.map(graft.sources.ZType.strip)
      (v, dt) match {
        case (null, _) => "null"
        case (r: org.apache.spark.sql.Row, st: StructType) if ZsonIO.isVariantType(st) =>
          val k = r.getAs[Any]("k")
          if (k == 5) {
            val payload = r.getAs[String]("z")
            val inner = try ZsonParser.parseAll(payload).headOption
              .map(pv => render2(pv)).getOrElse(q(payload))
              catch { case _: Exception => q(payload) }
            s"""{"error":$inner}"""
          } else if (k == 0 || k == 3) variantText(r) // numbers/bools unquoted
          else q(variantText(r))
        case (r: org.apache.spark.sql.Row, st: StructType) =>
          val fs = st.fields.toIndexedSeq.zipWithIndex.flatMap { case (f, i) =>
            val fv = r.get(i)
            if (fv == null) None
            else {
              val fzt = zs.collect { case graft.sources.ZType.Rec(fields) =>
                fields.find(_._1 == f.name).map(_._2)
              }.flatten
              Some(q(f.name) + ":" + render(fv, f.dataType, fzt))
            }
          }
          fs.mkString("{", ",", "}")
        case (s: Iterable[_], ArrayType(et, _)) =>
          s.map(x => render(x, et, zs.collect { case graft.sources.ZType.Arr(e) => e
            case graft.sources.ZType.SetT(e) => e })).mkString("[", ",", "]")
        case (m: Map[_, _], MapType(_, vt, _)) =>
          m.map { case (kk, vv) => q(kk.toString) + ":" + render(vv, vt, None) }
            .mkString("{", ",", "}")
        case (ts: java.sql.Timestamp, _) => q(ts.toInstant.toString)
        case (d: Double, _) =>
          if (d == Math.floor(d) && Math.abs(d) < 1e15) d.toLong.toString else d.toString
        case (n: Long, _) if zs.contains(graft.sources.ZType.Prim("duration")) =>
          q(humanDur(n))
        case (s: String, _) if zs.contains(graft.sources.ZType.Prim("type")) => q(s"<$s>")
        case (s: String, _) => q(s)
        case (b: Boolean, _) => b.toString
        case (other, _) => other.toString
      }
    }
    def render2(pv: graft.sources.ZValue): String = {
      import graft.sources.ZValue._
      unwrap(pv) match {
        case VStr(s) => q(s)
        case VInt(n, _) => n.toString
        case other => q(graft.sources.ZValue.zsonText(other))
      }
    }
    val fields = df.schema.fields.toIndexedSeq
      .filterNot(f => f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
    df.collect().toIndexedSeq.map { r =>
      if (fields.map(_.name) == Seq("this"))
        render(r.getAs[Any]("this"), fields.head.dataType, zedTypes.get("this"))
      else {
        val cells = fields.flatMap { f =>
          val v = r.getAs[Any](f.name)
          if (v == null) None
          else Some(q(f.name) + ":" + render(v, f.dataType, zedTypes.get(f.name)))
        }
        cells.mkString("{", ",", "}")
      }
    }
  }

  private def zeekLines(df: DataFrame): Seq[String] = {
    val dir = tempDir().resolve("zeek")
    ZeekIO.write(df.coalesce(1), dir.toString)
    val part = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.headOption
    part.map(p => java.nio.file.Files.readAllLines(p).asScala.toSeq).getOrElse(Seq.empty)
  }

  // ---- comparison ----------------------------------------------------------

  /** Does the program imply a deterministic output order? True for pure
    * order-preserving pipelines (zed preserves input order) and for
    * pipelines whose tail re-establishes order (sort/top/merge).
    */
  def orderImplied(zed: String): Boolean = {
    def pipelineOrdered(p: Pipeline): Boolean =
      p.stages.foldLeft(true) { (ordered, s) =>
        s match {
          case _: Stage.Sort | _: Stage.Top | _: Stage.Merge => true
          case _: Stage.Where | _: Stage.Cut | _: Stage.Put | _: Stage.Drop |
               _: Stage.Rename | _: Stage.Head | _: Stage.Tail | _: Stage.Yield |
               Stage.Pass | _: Stage.Assert | _: Stage.Uniq => ordered
          case _ => false
        }
      }
    try pipelineOrdered(Parser.parse(zed)) catch { case _: Exception => false }
  }

  /** Canonical comparison text of one zed value: decorators/typed-null
    * widths dropped, record keys sorted + null fields dropped (missing ≡
    * explicit null under canon — both render invisibly in zson), times
    * and durations numeric, enum symbols bare.
    */
  def canonZ(v0: ZValue): String = {
    import ZValue._
    unwrap(v0) match {
      case VNull(_) => "null"
      case VInt(n, _) => n.toString
      case VUint64(n) => n.toBigInt.toString
      case VFloat(d, _) =>
        if (d.isNaN) "NaN"
        else if (d.isInfinity) (if (d > 0) "+Inf" else "-Inf")
        else if (d == Math.floor(d) && Math.abs(d) < 1e15) d.toLong.toString
        else d.toString
      case VStr(s) =>
        // the engine carries ip/net/time/duration as native strings (tag
        // holds the zed type); canon such strings as their typed value
        if (ipLike.matches(s)) s
        else if (timeLike.matches(s))
          try { val i = java.time.OffsetDateTime.parse(s).toInstant
                (i.getEpochSecond * 1000000000L + i.getNano).toString + "t" }
          catch { case _: Exception => "\"" + s + "\"" }
        else "\"" + s + "\""
      case VBool(b) => b.toString
      case VBytes(b) => "0x" + b.map(x => f"$x%02x").mkString
      case VTime(ns) => ns.toString + "t"
      case VDur(ns) => ns.toString + "d"
      case VIp(s) => s
      case VNet(s) => s
      case VTypeVal(t) =>
        // type values canon as their normalized text, comparable with the
        // engine's string-typed typeof()
        val norm = try graft.sources.ZType.fullText(
            graft.sources.ZType.canon(ZsonParser.parseType(t)))
          catch { case _: Exception => t }
        "\"" + norm + "\""
      case VEnum(s) => "\"" + s + "\""
      case VRec(fs) =>
        fs.filterNot(f => unwrap(f._2).isInstanceOf[VNull])
          .sortBy(_._1)
          .map { case (n, fv) => s""""$n":${canonZ(fv)}""" }
          .mkString("{", ",", "}")
      case VArr(items, true) => items.map(canonZ).sorted.mkString("[", ",", "]")
      case VArr(items, false) => items.map(canonZ).mkString("[", ",", "]")
      case VMap(es) => es.map { case (k, x) => s"${canonZ(k)}:${canonZ(x)}" }
        .sorted.mkString("|{", ",", "}|")
      case VErr(inner) => s"error(${canonZ(inner)})"
      case VTyped(_, _) => "null" // unreachable after unwrap
    }
  }

  private val ipLike =
    ("""\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(/\d{1,2})?""" +
     """|[0-9a-fA-F]{0,4}(:[0-9a-fA-F]{0,4}){2,7}(/\d{1,3})?""").r
  private val timeLike =
    """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})""".r

  /** Parse a ZSON text (many values) to canon strings; None on bad text. */
  def canonAll(text: String): Option[Seq[String]] =
    try Some(ZsonParser.parseAll(text).map(canonZ)) catch { case _: Exception => None }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def canonJson(n: com.fasterxml.jackson.databind.JsonNode): String = {
    if (n == null || n.isNull) "null"
    else if (n.isObject)
      n.properties().asScala.toSeq
        .filterNot(_.getValue.isNull)
        .sortBy(_.getKey)
        .map(e => "\"" + e.getKey + "\":" + canonJson(e.getValue))
        .mkString("{", ",", "}")
    else if (n.isArray) (0 until n.size()).map(i => canonJson(n.get(i))).mkString("[", ",", "]")
    else if (n.isNumber) {
      val d = n.asDouble()
      if (d == Math.floor(d) && Math.abs(d) < 1e15) d.toLong.toString else d.toString
    } else n.toString
  }

  /** Compare got vs want per the case's output format. */
  def matches(c: ZCase, got: Seq[String]): Boolean = {
    val f = c.outputFlags
    val textual = f.contains("-f csv") || f.contains("-f zeek") ||
      f.contains("-f table") || f.contains("-f text")
    if (textual) {
      def clean(ls: Seq[String]) = ls.map(_.replaceAll("\\s+$", ""))
        .filterNot(l => l.startsWith("#open") || l.startsWith("#close"))
        .filterNot(_.isEmpty)
      clean(c.output.linesIterator.toSeq) == clean(got)
    } else if (f.contains("-f json") || f.contains("-f zjson")) {
      // parse as a STREAM of json values (pretty output spans lines)
      def canon(ls: Seq[String]): Option[Seq[String]] =
        try {
          val it = mapper.readerFor(classOf[com.fasterxml.jackson.databind.JsonNode])
            .readValues[com.fasterxml.jackson.databind.JsonNode](ls.mkString("\n"))
          val out = Vector.newBuilder[String]
          while (it.hasNext) out += canonJson(it.next())
          Some(out.result())
        } catch { case _: Exception => None }
      (canon(c.output.linesIterator.toSeq), canon(got)) match {
        case (Some(w), Some(g)) => w == g && w.nonEmpty
        case _ => false
      }
    } else {
      (canonAll(c.output), canonAll(got.mkString("\n"))) match {
        case (Some(w), Some(g)) =>
          if (w.isEmpty) false
          else if (orderImplied(c.zed)) w == g
          else w.sorted == g.sorted
        case _ => false
      }
    }
  }
}
