package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.GraftSession
import graft.lang.Graft

/** ZSON output through the one text renderer: each row reads through its
  * shape's plan as a value, and ZsonFormatter alone decides decoration.
  * Pins the outputs that changed when the Catalyst ZSON writer went (each
  * to what zed's formatter prints) and the rules the shape plans carry for
  * every writer: quiet errors drop, a variant `this` carrier row is its
  * carrier's value, a boxed value with no static type is typed by itself.
  */
class ZsonWriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private def zson(df: DataFrame): Seq[String] = ZsonIO.toZson(df).collect().toSeq

  private def out(text: String, q: String): Seq[String] =
    zson(Graft.queryOn(ZsonReader.fromText(spark, text), q))

  test("an empty map decorates like an empty array, with its declared type") {
    assert(out("{m:|{}|}", "pass") == Seq("{m:|{}|(|{null:null}|)}"))
    assert(out("{a:[]}", "pass") == Seq("{a:[]([null])}"))
    assert(out("{m:|{}|(|{string:int64}|)}", "pass") == Seq("{m:|{}|(|{string:int64}|)}"))
    assert(out("{m:|{}|(|{string:int64}|)}", "yield typeof(m)") == Seq("<|{string:int64}|>"))
  }

  test("a null boxed column prints null, not its carrier's struct") {
    val mixed = "{a:1,n:1}\n{a:\"x\",n:2}\n{n:3}"
    for (q <- Seq("yield {r:a}", "cut a", "count() by a | sort n")) {
      val lines = out(mixed, q)
      assert(lines.nonEmpty && !lines.exists(_.contains("{k:int32")), s"$q: $lines")
    }
    assert(out(mixed, "cut a") == Seq("{a:1}", "{a:\"x\"}", "{a:error(\"missing\")}"))
  }

  test("put over a non-record prints the value's own type in the error") {
    assert(out("1\n\"x\"\n{a:1}", "put x:=1") == Seq(
      "error({message:\"put: not a record\",on:1})",
      "error({message:\"put: not a record\",on:\"x\"})",
      "{a:1,x:1}"))
    // an error's declared payload type applies: an ns count is a duration
    assert(out("1s\nnull(duration)", "put x:=1") == Seq(
      "error({message:\"put: not a record\",on:1s})",
      "error({message:\"put: not a record\",on:null(duration)})"))
  }

  test("quiet errors drop, as a value and as a field, in every writer") {
    val in = "{x:1,y:1}\n{y:2}"
    assert(out(in, "yield quiet(x)") == Seq("1"))
    assert(out(in, "yield {a:quiet(x),y}") == Seq("{a:1,y:1}", "{y:2}"))
    val df = Graft.queryOn(ZsonReader.fromText(spark, in), "yield {a:quiet(x),y}")
    assert(ZFormat.jsonLines(df) == Seq("{\"a\":1,\"y\":1}", "{\"y\":2}"))
  }

  private def boxed(vs: ZValue*): Seq[Row] = vs.map(v => Row(ZValue.variantRow(v)))
  private val box = StructField("this", graft.operators.Het.variantType)

  test("a boxed value with no static type is typed by itself") {
    val v = StructType(Seq(box.copy(name = "v"), StructField("n", LongType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(ZValue.variantRow(ZValue.VInt(80, "uint16")), 1L),
      Row(ZValue.variantRow(ZValue.VStr("x")), 2L), Row(null, 3L)), v)
    assert(zson(df) == Seq("{v:80(uint16),n:1}", "{v:\"x\",n:2}", "{v:null,n:3}"))
    // a frame of a boxed `this` alone: each row is its boxed value
    val thisOnly = spark.createDataFrame(java.util.List.of(boxed(ZValue.VInt(80, "uint16"),
      ZValue.VStr("x"), ZValue.VErr(ZValue.VStr("quiet"))) :+ Row(null): _*), StructType(Seq(box)))
    assert(zson(thisOnly) == Seq("80(uint16)", "\"x\"", "null"))
  }

  test("a row whose columns beside a boxed this are all null is the carrier's value") {
    val s = StructType(Seq(box, StructField("a", LongType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(ZValue.variantRow(ZValue.VInt(80, "uint16")), null),
      Row(null, 5L), Row(ZValue.variantRow(ZValue.VStr("x")), 6L)), s)
    assert(zson(df) == Seq("80(uint16)", "{this:null,a:5}", "{this:\"x\",a:6}"))
    assert(ZFormat.jsonLines(df) == Seq("80", "{\"this\":null,\"a\":5}", "{\"this\":\"x\",\"a\":6}"))
  }

  test("canonical text: time trims its fraction, strings escape tabs, members decorate") {
    assert(out("{t:2024-01-01T00:00:00.5Z,s:\"a\\tb\"}", "yield [this]") ==
      Seq("[{t:2024-01-01T00:00:00.5Z,s:\"a\\tb\"}]"))
    assert(out("{s:\"a\\tb\"}", "pass") == Seq("{s:\"a\\tb\"}"))
    assert(out("{f:3e38(float32)}\n{f:\"x\"}", "fuse") ==
      Seq("{f:3e+38(float32)((float32,string))}", "{f:\"x\"((float32,string))}"))
    assert(out("{b:[1(int32),null]}", "pass") == Seq("{b:[1(int32),null(int32)]}"))
  }

  test("-persist keeps a matching typedef across values") {
    val sup = new graft.cli.SuperCmd(spark, new graft.cli.SuperCmd.Host {
      def env(name: String): Option[String] = None
      def cwd: java.nio.file.Path = java.nio.file.Paths.get(".")
      def workDir: java.nio.file.Path = cwd
      def serviceRoot: Option[String] = None
      def serviceAuthEnabled: Boolean = false
      def stderr(text: String): Unit = ()
    })
    val in = "{p:80(port=uint16)}\n{p:443(port=uint16)}\n"
    assert(sup.query(Seq("-z", "pass", "-"), Some(in)) ==
      "{p:80(port=uint16)}\n{p:443(port=uint16)}\n")
    assert(sup.query(Seq("-z", "-persist", "port", "pass", "-"), Some(in)) ==
      "{p:80(port=uint16)}\n{p:443(port)}\n")
  }

  test("a file write and the stream hold the same ZSON") {
    val df = ZsonReader.fromText(spark, "{p:80(port=uint16)}\n\"bare\"\n{m:|{}|}").repartition(2)
    val dir = java.nio.file.Files.createTempDirectory("graft-zson").resolve("out").toString
    ZsonIO.write(df, dir)
    val files = java.nio.file.Files.list(java.nio.file.Path.of(dir)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    assert(files.map(_.getFileName.toString).forall(_.endsWith(".zson")))
    assert(files.map(java.nio.file.Files.readString).mkString == zson(df).map(_ + "\n").mkString)
    assert(zson(ZsonIO.read(spark, dir)).sorted == zson(df).sorted)
  }
}
