package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{ZsonIO, ZsonReader, ZsonParser, ZValue, ZType}
import graft.operators.Het

/** Typed ZSON ingestion and the heterogeneous value model: the 100 TB
  * contract is that HOMOGENEOUS data stays fully native (no variant
  * boxing, plain Catalyst columns) while genuinely mixed shapes get
  * variants + the shape tag, and error values flow to the writer.
  */
class TypedZsonSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("single-shape streams decode to native columns (fast path)") {
    val df = ZsonReader.fromText(spark,
      """{a:1,s:"x",t:2024-01-01T00:00:00Z}
        |{a:2,s:"y",t:2024-01-02T00:00:00Z}""".stripMargin)
    val dataFields = df.schema.fields.filterNot(_.name == Het.typeTag)
    assert(dataFields.map(_.dataType).toSeq == Seq(LongType, StringType, TimestampType))
    assert(!dataFields.exists(f => ZsonIO.isVariantType(f.dataType)))
    // a filter on the native column is an ordinary Catalyst predicate
    assert(df.filter(col("a") > 1).count() == 1)
  }

  test("conflicting field types become ONE variant column, others stay native") {
    val df = ZsonReader.fromText(spark, "{a:1,b:2}\n{a:\"one\",b:3}")
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(ZsonIO.isVariantType(byName("a")))
    assert(byName("b") == LongType)
    // cross-type sort: numbers before strings (CompareTypes kind order)
    val sorted = df.orderBy(Het.compareKey(col("a"))).select("b").collect().map(_.getLong(0))
    assert(sorted.toSeq == Seq(2L, 3L))
  }

  test("union decorators, errors and typed nulls round-trip the writer") {
    val df = ZsonReader.fromText(spark,
      """{v:1((int64,string))}
        |{v:"x"((int64,string))}
        |{v:error("missing")((int64,string,error(string)))}""".stripMargin)
    // the writer decorates union values on output, matching the reference
    // (runtime/ztests/expr/dot.yaml: `1((int64,string))`)
    val out = ZsonIO.toZson(df).collect().toSet
    assert(out.contains("{v:1((int64,string))}"), out.mkString(" | "))
    assert(out.contains("{v:\"x\"((int64,string))}"), out.mkString(" | "))
    assert(out.exists(s => s.startsWith("{v:error(\"missing\")((") &&
      s.contains("error(string)")), out.mkString(" | "))
  }

  test("float32 values print float32's shortest digits, bare and boxed") {
    for ((text, digits) <- Seq("3e38(float32)" -> "3e+38", "0.1(float32)" -> "0.1")) {
      val v = ZsonParser.parseAll(text).head
      assert(ZValue.zsonText(v) == digits)
      assert(ZsonParser.parseAll(s"$digits(float32)").head == v)
    }
    def out(df: org.apache.spark.sql.DataFrame, q: String): Seq[String] =
      ZsonIO.toZson(graft.lang.Graft.queryOn(df, q)).collect().toSeq
    val native = ZsonReader.fromText(spark, "{f:3e38(float32)}\n{f:0.1(float32)}")
    assert(out(native, "yield this") == Seq("{f:3e+38(float32)}", "{f:0.1(float32)}"))
    assert(out(native, "yield f") == Seq("3e+38(float32)", "0.1(float32)"))
    // a union field boxes its float32 member into a variant
    val boxed = ZsonReader.fromText(spark, "{f:3e38(float32)}\n{f:\"x\"}\n{f:0.1(float32)}")
    assert(ZsonIO.isVariantType(boxed.schema("f").dataType))
    assert(out(boxed, "yield f") == Seq("3e+38(float32)", "\"x\"", "0.1(float32)"))
  }

  test("a bare float32 stream keeps its type through yield this, bare and in arrays") {
    val dir = java.nio.file.Files.createTempDirectory("graft-float32")
    def yielded(text: String): Seq[String] = {
      val f = dir.resolve(s"f${text.hashCode}.zson")
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      ZsonIO.toZson(graft.lang.Graft.queryOn(ZsonIO.read(spark, f.toString), "yield this"))
        .collect().toSeq
    }
    assert(yielded("3e38(float32)\n0.1(float32)\n") == Seq("3e+38(float32)", "0.1(float32)"))
    assert(yielded("[3e38(float32),0.1(float32)]\n") == Seq("[3e+38(float32),0.1(float32)]"))
    assert(yielded("|[3e38(float32)]|\n") == Seq("|[3e+38(float32)]|"))
  }

  /** Each query's ZSON lines over `text` read as a ZSON file. */
  private def zsonOut(text: String, queries: String*): Seq[Seq[String]] = {
    val f = java.nio.file.Files.createTempFile("graft-typed", ".zson")
    java.nio.file.Files.write(f, text.getBytes("UTF-8"))
    val in = ZsonIO.read(spark, f.toString)
    queries.map(q => ZsonIO.toZson(graft.lang.Graft.queryOn(in, q)).collect().toSeq)
  }

  test("a keys-only by is key-sorted like a keyed aggregate") {
    val ttl = "{ttl:2(uint16),x:1}\n{ttl:1(uint16),x:2}\n{ttl:2(uint16),x:3}\n"
    val Seq(keysOnly, keyed) = zsonOut(ttl, "by ttl", "count() by ttl | cut ttl")
    assert(keysOnly == Seq("{ttl:1(uint16)}", "{ttl:2(uint16)}"))
    assert(keysOnly == keyed)
  }

  test("group-by keys keep narrow and named zed types") {
    val ttl = "{ttl:2(uint16),x:1}\n{ttl:1(uint16),x:2}\n{ttl:2(uint16),x:3}\n"
    assert(zsonOut(ttl, "count() by ttl", "sum(x) by ttl") == Seq(
      Seq("{ttl:1(uint16),count:1(uint64)}", "{ttl:2(uint16),count:2(uint64)}"),
      Seq("{ttl:1(uint16),sum:2}", "{ttl:2(uint16),sum:4}")))
    assert(zsonOut(ttl, "by ttl").head.toSet == Set("{ttl:1(uint16)}", "{ttl:2(uint16)}"))
    assert(zsonOut("{p:443(port=uint16)}\n{p:80(port=uint16)}\n{p:80(port=uint16)}\n",
      "count() by p") == Seq(Seq(
        "{p:80(port=uint16),count:2(uint64)}", "{p:443(port=uint16),count:1(uint64)}")))
    assert(zsonOut("{f:1.5(float32)}\n{f:0.1(float32)}\n", "count() by f") == Seq(Seq(
      "{f:0.1(float32),count:1(uint64)}", "{f:1.5(float32),count:1(uint64)}")))
    // a shape without the key groups it as error("missing"), untyped
    assert(zsonOut("{ttl:1(uint16),x:1}\n{x:2}\n", "count() by ttl").head.toSet == Set(
      "{ttl:error(\"missing\"),count:1(uint64)}", "{ttl:1(uint16),count:1(uint64)}"))
  }

  test("durations print zed's duration text, bare and in records") {
    val values = Seq("1s", "2ms", "0s", "-1500ms", "1h2m3.5s", "null(duration)")
    val text = Seq("1s", "2ms", "0s", "-1.5s", "1h2m3.5s", "null(duration)")
    assert(zsonOut(values.mkString("", "\n", "\n"), "pass", "yield this") == Seq(text, text))
    val records = text.map(t => s"{d:$t}")
    assert(zsonOut(values.map(v => s"{d:$v}").mkString("", "\n", "\n"), "pass", "yield this") ==
      Seq(records, records))
  }

  test("a typed null beside a value keeps its type through yield this") {
    assert(zsonOut("null(int64)\n1\n", "pass", "yield this") ==
      Seq(Seq("null(int64)", "1"), Seq("null(int64)", "1")))
    // an untyped null is of type null: it stays bare
    assert(zsonOut("null\n1\n", "yield this") == Seq(Seq("null", "1")))
  }

  test("union member order is canonical at type creation (LookupTypeUnion)") {
    // context.go:200 sorts members with CompareTypes on every lookup, so
    // declared (string,int32) IS (int32,string) — same type, same
    // selector space (zson/ztests/container-types.yaml pins the text)
    val a = ZsonParser.parseType("(string,int32)")
    val b = ZsonParser.parseType("(int32,string)")
    assert(a == b)
    assert(ZType.text(a) == "(int32,string)")
  }

  test("zjson fits a doubly-decorated value into its nested union member") {
    // 123(int32)((string,int32))((…)) is NOT a direct member of the outer
    // union — the analyzer fits it into the nested (int32,string) member
    // (zson/analyzer.go convertUnion), selector pair ["3",["0","123"]];
    // the reference python client then decodes it as int 123
    val df = ZsonReader.fromText(spark,
      """{union:"hello"((string,[int32],[string],(string,int32)))}
        |{union:123(int32)((string,int32))((string,[int32],[string],(string,int32)))}""".stripMargin)
    val lines = graft.sources.ZjsonIO.typedLines(df)
    val l123 = lines.find(_.contains("123")).getOrElse(fail("123 row missing"))
    assert(l123.contains("""["3",["0","123"]]"""), l123)
  }

  test("per-shape output: each row re-emits in its own shape") {
    val df = ZsonReader.fromText(spark, "\"bare\"\n{s:\"rec\"}")
    val out = ZsonIO.toZson(df).collect().toSet
    assert(out == Set("\"bare\"", "{s:\"rec\"}"))
  }

  test("shape tag drives has/missing/typeof per row through the language") {
    val df = ZsonReader.fromText(spark, "{x:1}\n{y:2}")
    val got = ZsonIO.toZson(
      graft.lang.Graft.queryOn(df, "yield {hx:has(x), t:typeof(this)}")).collect().toSet
    assert(got == Set(
      "{hx:true,t:\"{x:int64}\"}",
      "{hx:false,t:\"{y:int64}\"}"))
  }

  test("missing field in an output position is the error value") {
    val df = ZsonReader.fromText(spark, "{x:1}\n{y:2}")
    val got = ZsonIO.toZson(graft.lang.Graft.queryOn(df, "yield x")).collect().toSet
    assert(got == Set("1", "error(\"missing\")"))
  }

  test("zson parser handles sets, maps, durations, named types, trailing commas") {
    val vs = ZsonParser.parseAll(
      "|[3,1,2,1]|\n|{\"k\":1,}|\n1h30m\n1076(port=uint16)\n{a:1,}")
    assert(vs.length == 5)
    assert(ZValue.zsonText(vs(0)) == "|[1,2,3]|") // deduped + ordered
    assert(ZValue.zsonText(vs(2)) == "1h30m") // nano.Duration.String units
    assert(ZType.fullText(ZValue.typeOf(vs(3))) == "port=uint16")
  }

  test("FILE reads are distributed typed decode — same frame as the harness, no driver rows") {
    val text =
      """{a:1,u:1((int64,string))}
        |{a:2,u:"two"((int64,string))}
        |{a:3,u:error("boom")}
        |{a:4,u:1076(port=uint16)}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-dist-zson").toFile
    val f = new java.io.File(dir, "het.zson")
    java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
    val fromFile = ZsonIO.read(spark, f.getAbsolutePath)
    val fromHarness = ZsonReader.fromText(spark, text)
    // identical frame: schema, shape-tag metadata, and every row
    assert(fromFile.schema.fields.map(x => (x.name, x.dataType)).toSeq ==
      fromHarness.schema.fields.map(x => (x.name, x.dataType)).toSeq)
    assert(fromFile.collect().map(_.toString).sorted.toSeq ==
      fromHarness.collect().map(_.toString).sorted.toSeq)
    // union/error/named fidelity survives the file path
    val tags = fromFile.select(Het.typeTag).collect().map(_.getString(0)).toSet
    assert(tags.exists(_.contains("(int64,string)")) && tags.exists(_.contains("error")))
    // and the scan is an RDD scan (executor-side decode), NOT a
    // LocalTableScan of driver-materialized rows
    val plan = fromFile.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"))
    // multi-line (pretty-printed) zson routes through whole-file decode
    val pretty = new java.io.File(dir, "pretty.zson")
    java.nio.file.Files.write(pretty.toPath,
      "{\n    a: 1,\n    s: \"x\"\n}\n{\n    a: 2,\n    s: \"y\"\n}\n".getBytes("UTF-8"))
    val pdf = ZsonIO.read(spark, pretty.getAbsolutePath)
    assert(pdf.count() == 2 &&
      pdf.select(sum(col("a"))).collect()(0).getLong(0) == 3L)
    // zng file path: typed decode preserves the union exactly
    val zngDir = new java.io.File(dir, "het_zng")
    graft.sources.ZngIO.write(fromHarness.drop(Het.typeTag)
      .select(col("a")), zngDir.getAbsolutePath)
    val zback = graft.sources.ZngIO.read(spark, zngDir.getAbsolutePath)
    assert(zback.select(sum(col("a"))).collect()(0).getLong(0) == 10L)
    assert(!zback.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }
}
