package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.GraftSession

/** One renderer per text format: a file written with `Formats.write` and
  * the stream of the same frame (`ZFormat.lines`, which the CLI and the
  * service print) hold the same bytes in zson, zeek, json, csv, tsv and text. A
  * multi-partition stream is its part files stitched: a part's leading
  * header lines drop when they repeat the header already in force. The
  * typed leaf writers print what ZFormat's value rules print for the same
  * leaves.
  */
class WriterParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private lazy val root: Path = Files.createTempDirectory("graft-writer-parity")
  private var n = 0

  private val formats = Seq("zson", "zeek", "json", "csv", "tsv", "text")

  private def frame(zson: String): DataFrame = ZsonReader.fromText(spark, zson).coalesce(1)

  /** One conn-like record type whose leaves all have typed writers: a
    * nested `id`, escapes, an empty string, sub-µs times and durations,
    * typed nulls, empty and non-empty sets and vectors, ip, port and enum
    * values.
    */
  private val conn = Seq(
    """{_path:"conn",ts:2024-01-01T00:00:00.123456789Z,id:{orig_h:10.0.0.1,orig_p:80(port=uint16),resp_h:10.0.0.2,resp_p:443(port=uint16)},proto:"tcp"(=zenum),dur:1.000000001s,n:null(int64),s:"a\tb\nc\\d\u0001",e:"",tags:|["a","b,c"]|,sizes:[1,2],none:[]([int64]),f:1.5,ok:true,bytes:18446744073709551615(uint64),color:"red"(enum(red,green)),peer:null(ip)}""",
    """{_path:"conn",ts:2024-01-01T00:00:01Z,id:null({orig_h:ip,orig_p:port=uint16,resp_h:ip,resp_p:port}),proto:"udp"(=zenum),dur:64.594478s,n:3,s:"-",e:"(empty)",tags:|[]|(|[string]|),sizes:[1,null],none:null([int64]),f:-0.25,ok:false,bytes:0(uint64),color:"green"(enum(red,green)),peer:::1}""",
    """{_path:"conn",ts:2023-12-31T23:59:59.5Z,id:{orig_h:10.0.0.3,orig_p:1(port=uint16),resp_h:10.0.0.4,resp_p:2(port=uint16)},proto:"icmp"(=zenum),dur:-1.5s,n:null(int64),s:"plain",e:"x",tags:null(|[string]|),sizes:[]([int64]),none:[7],f:1e300,ok:null(bool),bytes:null(uint64),color:null(enum(red,green)),peer:10.1.1.1}""")

  private val dns = """{_path:"dns",ts:2024-01-01T00:00:02Z,query:"h.example.com",rcode:0(uint64)}"""

  /** A boxed variant column: `v` changes type per row. */
  private val variant = """{v:1} {v:"x"} {v:2}"""

  /** Typed leaves beside leaves with no typed writer (net, a set of nets;
    * bytes and a map, which zeek cannot print, in `noZeek`).
    */
  private val untyped =
    """{_path:"weird",name:"a\tb",net:10.0.0.0/8,nets:|[10.0.0.0/8,::/0]|,n:1} """ +
      """{_path:"weird",name:"-",net:null(net),nets:|[]|(|[net]|),n:null(int64)}"""
  private val noZeek =
    """{name:"a,b",b:0x0102,m:|{"k":1}|,n:1} {name:"",b:null(bytes),m:|{}|(|{string:int64}|),n:null(int64)}"""

  /** A variant holding a record in one row: its fields flatten. */
  private val variantRecord = """{v:1,n:1} {v:{a:1,b:"y"},n:2} {v:"x",n:3}"""

  /** `df` written with Formats.write: its part files in name order. */
  private def parts(df: DataFrame, format: String): Seq[String] = {
    n += 1
    val dir = root.resolve(s"w$n-$format").toString
    Formats.write(df, dir, format)
    Files.list(Path.of(dir)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .map(p => new String(Files.readAllBytes(p), UTF_8))
  }

  private def stream(df: DataFrame, format: String): String =
    ZFormat.lines(df, format)(_.map(_ + "\n").mkString)

  test("a one-partition file and the stream hold the same bytes in every format") {
    val frames = Seq(
      "conn" -> (conn.mkString("\n"), formats),
      "conn and dns" -> ((conn :+ dns).mkString("\n"), Seq("zson", "zeek", "json", "text")),
      "variant" -> (variant, formats),
      "untyped leaves" -> (untyped, formats),
      "bytes and a map" -> (noZeek, formats.filter(_ != "zeek")),
      "a variant record" -> (variantRecord, Seq("zson", "zeek", "json", "text")))
    for ((name, (zson, fs)) <- frames; f <- fs) {
      val df = frame(zson)
      val file = parts(df, f)
      assert(file.length == 1, s"$name $f")
      assert(file.head == stream(df, f), s"$name $f")
    }
    val zeek = stream(frame((conn :+ dns).mkString("\n")), "zeek").split("\n").toSeq
    assert(zeek.count(_.startsWith("#separator")) == 1)
    assert(zeek.filter(_.startsWith("#path")) == Seq("#path\tconn", "#path\tdns"))
    assert(zeek.contains("#fields\tts\tid.orig_h\tid.orig_p\tid.resp_h\tid.resp_p\tproto\tdur\tn\ts\te\t" +
      "tags\tsizes\tnone\tf\tok\tbytes\tcolor\tpeer"))
    assert(zeek.contains("#types\ttime\taddr\tport\taddr\tport\tenum\tinterval\tint\tstring\tstring\t" +
      "set[string]\tvector[int]\tvector[int]\tdouble\tbool\tcount\tenum\taddr"))
    assert(zeek.contains("1704067200.123456789\t10.0.0.1\t80\t10.0.0.2\t443\ttcp\t1.000000001\t-\t" +
      "a\\x09b\\x0ac\\\\d\\x01\t\ta,b\\x2cc\t1,2\t(empty)\t1.5\tT\t18446744073709551615\tred\t-"))
    assert(zeek.contains("1704067201.000000\t-\t-\t-\t-\tudp\t64.594478\t3\t\\x2d\t\\x28empty)\t" +
      "(empty)\t1,-\t-\t-0.25\tF\t0\tgreen\t::1"))
    val json = stream(frame(conn.head), "json")
    assert(json.startsWith("""{"_path":"conn","ts":"2024-01-01T00:00:00.123456789Z","id":{"orig_h":"10.0.0.1","""))
    assert(json.contains("\"dur\":\"1.000000001s\",\"n\":null,\"s\":\"a\\tb\\nc\\\\d\\u0001\",\"e\":\"\","))
    assert(!json.contains("__type"))
    assert(stream(frame(conn.head), "csv").startsWith("_path,ts,id.orig_h,id.orig_p,id.resp_h,id.resp_p,"))
  }

  /** The parts as one stream, by the header rule: a leading directive
    * (zeek) or header line (csv/tsv) of a later part drops when it repeats
    * the one in force.
    */
  private def stitched(format: String, files: Seq[String]): String = {
    val inForce = scala.collection.mutable.Map.empty[String, String]
    val out = new StringBuilder
    for ((text, k) <- files.zipWithIndex) {
      var leading = true
      for ((l, i) <- text.split("\n").zipWithIndex) {
        val head = if (format == "zeek") l.startsWith("#") else format.endsWith("sv") && i == 0
        leading &&= head
        val key = if (format == "zeek") l.split("[\t ]")(0) else "header"
        if (!(leading && k > 0 && inForce.get(key).contains(l))) out.append(l).append('\n')
        if (head) inForce(key) = l
      }
    }
    out.toString
  }

  test("a multi-partition stream is its part files stitched") {
    val zson = (conn ++ conn :+ dns).mkString("\n")
    for (f <- formats) {
      val df = (if (f.endsWith("sv")) frame((conn ++ conn).mkString("\n")) else frame(zson)).repartition(3)
      val files = parts(df, f)
      assert(files.length == 3, f)
      assert(stream(df, f) == stitched(f, files), f)
    }
  }

  /** `df` in `format` with every leaf printed through its value. */
  private def byValue(df: DataFrame, format: String): String =
    TextWriter.lines(df, TextWriter.of(format), typed = false)(_.map(_ + "\n").mkString)

  test("the typed leaf writers print what ZFormat's value rules print") {
    val frames = Seq(
      "conn" -> (conn.mkString("\n"), formats),
      "conn and dns" -> ((conn :+ dns).mkString("\n"), Seq("zson", "zeek", "json", "text")),
      "untyped leaves" -> (untyped, formats),
      "bytes and a map" -> (noZeek, formats.filter(_ != "zeek")))
    for ((name, (zson, fs)) <- frames; f <- fs) {
      val df = frame(zson)
      assert(stream(df, f) == byValue(df, f), s"$name $f")
    }
  }

  test("a json float column printed with whole values reads back as zed's numbers") {
    n += 1
    val dir = root.resolve(s"w$n-json.json").toString
    Formats.write(frame("{f:73.,n:1} {f:1.5,n:2}"), dir, "json")
    assert(Files.readString(Path.of(dir, "part-00000.json")) == "{\"f\":73,\"n\":1}\n{\"f\":1.5,\"n\":2}\n")
    // zed's reader types each number by its own text (reader.go:58-64)
    val back = Formats.read(spark, dir)
    assert(ZsonIO.toZson(back).collect().toSeq == Seq("{f:73,n:1}", "{f:1.5,n:2}"))
    assert(back.select(col("f").cast("double")).collect().map(_.getDouble(0)).toSeq == Seq(73.0, 1.5))
    // an int64 past double precision stays exact, in the value and in a cast
    val big = JsonIO.fromText(spark, """{"id":9007199254740993} {"id":1.5}""")
    assert(ZsonIO.toZson(big).collect().toSeq == Seq("{id:9007199254740993}", "{id:1.5}"))
    assert(big.select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq == Seq(9007199254740993L, 1L))
  }

  test("a float32 prints its own shortest digits in json, in a file and in a stream") {
    val df = frame("{f:0.1(float32),g:0.1}")
    assert(parts(df, "json") == Seq("{\"f\":0.1,\"g\":0.1}\n"))
    assert(stream(df, "json") == "{\"f\":0.1,\"g\":0.1}\n")
    assert(stream(frame("{v:0.1(float32)} {v:\"x\"}"), "json") == "{\"v\":0.1}\n{\"v\":\"x\"}\n")
  }

  test("a table render leaves no spool file behind") {
    val tmp = Path.of(System.getProperty("java.io.tmpdir"))
    def spools(): Set[String] = Files.list(tmp).toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith("graft-table-")).toSet
    val before = spools()
    val lines = ZFormat.tableLines(frame(conn.mkString("\n")))(_.toVector)
    assert(lines.head.startsWith("_path"))
    assert(spools() == before)
  }

  test("csv refuses a second record type after the output before it") {
    val df = frame((conn.head +: dns +: conn.tail).mkString("\n"))
    val partial = intercept[ZFormat.CsvShapeError](ZFormat.csvLines(df)).partial
    assert(partial.length == 3) // the header and the first row, whose string holds a newline
    assert(partial.head.startsWith("_path,ts,id.orig_h,"))
    n += 1
    val dir = root.resolve(s"w$n-csv").toString
    intercept[ZFormat.CsvShapeError](Formats.write(df, dir, "csv"))
    val file = Files.list(Path.of(dir)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(file.map(p => new String(Files.readAllBytes(p), UTF_8)) == Seq(partial.map(_ + "\n").mkString))
  }
}
