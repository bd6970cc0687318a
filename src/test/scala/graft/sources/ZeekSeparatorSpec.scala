package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame

import graft.GraftSession
import graft.operators.Het

/** A Zeek log reads the same whatever its separators are: one log written
  * with a tab, with the two-byte `||` (set separator `;;`) and with the
  * non-ASCII `¦` (set separator `·`) reads to the same rows, schema and
  * shape tag. The `¦` variant's cells hold `¬`, and `·` shares its first
  * UTF-8 byte with `¦` too, so a separator that matches only on its first
  * byte would split them. The corpus covers unset and `(empty)` cells,
  * escapes, sets, vectors, a time, an interval, a bool, a trailing empty
  * cell and a short row.
  */
class ZeekSeparatorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private lazy val dir: Path = Files.createTempDirectory("graft-zeeksep")

  private def write(name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def write(name: String, text: String): String = write(name, text.getBytes("UTF-8"))

  private val fields = Seq(
    "ts" -> "time", "uid" -> "string", "id.orig_h" -> "addr", "id.resp_p" -> "port",
    "dur" -> "interval", "ok" -> "bool", "tags" -> "set[string]", "ports" -> "set[count]",
    "sizes" -> "vector[count]", "ratios" -> "vector[double]", "note" -> "string",
    "n" -> "int", "d" -> "double", "trail" -> "string")

  // a cell is its text, or a container's elements (joined by the set separator)
  private val rows: Seq[Seq[Any]] = Seq(
    Seq("1425565514.419939", "C\\x41a", "10.0.0.1", "80", "1.500000", "T",
      Seq("b", "a|x", "b"), Seq("3", "1", "3"), Seq("5", "-", "7"), Seq("1.5", "2"),
      "caf\\xc3\\xa9 \\t a|b ¬c", "-12", "3.25", "x"),
    Seq("1425565515.000001", "Cb", "-", "-", "0.000123", "F", "(empty)", Seq("-", "9"),
      "(empty)", "-", "(empty)", "-", "-", ""),
    Seq("-", "Cc", "fe80::1", "443", "-", "-", Seq("ü", "-", "¬a"), "-", Seq("0"),
      Seq("-1e3"), "über\\\\slash", "7", "inf", ""),
    Seq("1425565516.5", "Cd"))

  private def log(sep: String, sepDirective: String, setSep: String): String = {
    def cell(c: Any): String = c match {
      case xs: Seq[_] => xs.mkString(setSep)
      case s => s.toString
    }
    (Seq(
      s"#separator $sepDirective",
      s"#set_separator$sep$setSep",
      s"#empty_field$sep(empty)",
      s"#unset_field$sep-",
      s"#path${sep}conn",
      s"#open${sep}2015-03-05-14-25-14",
      "#fields" + sep + fields.map(_._1).mkString(sep),
      "#types" + sep + fields.map(_._2).mkString(sep)) ++
      rows.map(_.map(cell).mkString(sep))).mkString("", "\n", "\n")
  }

  private def rowTexts(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  test("a log reads the same with a tab, a two-byte and a non-ASCII separator") {
    val tab = ZeekIO.read(spark, write("tab.log", log("\t", "\\x09", ",")))
    val tabRows = rowTexts(tab)
    assert(tab.columns.toSeq == Seq("_path", "ts", "uid", "id", "dur", "ok", "tags",
      "ports", "sizes", "ratios", "note", "n", "d", "trail", Het.typeTag))
    val byUid = tab.orderBy("uid").collect()
    assert(byUid.map(_.getAs[String]("uid")).toSeq == Seq("CAa", "Cb", "Cc", "Cd"))
    val a = byUid(0)
    assert(a.getAs[java.sql.Timestamp]("ts").toInstant.getEpochSecond == 1425565514L)
    assert(a.getAs[Long]("dur") == 1500000000L)
    assert(a.getAs[Boolean]("ok"))
    assert(a.getSeq[Any](a.fieldIndex("tags")) == Seq("a|x", "b"))
    assert(a.getSeq[Any](a.fieldIndex("ports")) == Seq(1L, 3L))
    assert(a.getSeq[Any](a.fieldIndex("sizes")) == Seq(5L, null, 7L))
    assert(a.getAs[String]("note") == "café \t a|b ¬c")
    assert(a.getAs[String]("trail") == "x")
    val b = byUid(1)
    assert(b.isNullAt(b.fieldIndex("n")) && b.getAs[String]("note") == "")
    assert(b.getSeq[Any](b.fieldIndex("ports")) == Seq(9L, null))
    assert(b.getSeq[Any](b.fieldIndex("tags")) == Seq.empty && b.getAs[String]("trail") == "")
    val c = byUid(2)
    assert(c.getSeq[Any](c.fieldIndex("tags")) == Seq("¬a", "ü", null))
    assert(c.getAs[String]("note") == "über\\slash")
    assert(c.getAs[Double]("d") == Double.PositiveInfinity)
    val d = byUid(3)
    assert(d.isNullAt(d.fieldIndex("dur")) && d.isNullAt(d.fieldIndex("trail")))

    for ((name, sep, setSep) <- Seq(("pipes", "||", ";;"), ("broken-bar", "¦", "·"),
        ("broken-bar-comma", "¦", ","))) {
      val other = ZeekIO.read(spark, write(s"$name.log", log(sep, sep, setSep)))
      assert(other.schema == tab.schema, name)
      assert(rowTexts(other) == tabRows, name)
    }
  }

  test("a multi-byte separator splits left to right, and a partial one stays in its cell") {
    val text = "#separator ||\n#fields||a||b\n#types||string||string\nx|||y|\np|\n"
    val got = ZeekIO.read(spark, write("partial.log", text)).orderBy("a").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    assert(got == Seq(("p|", null), ("x", "|y|")))
  }

  test("a #separator written as one hex escape per byte reads like its literal form") {
    val tab = rowTexts(ZeekIO.read(spark, write("tab-again.log", log("\t", "\\x09", ","))))
    for ((name, sep, escaped, setSep) <- Seq(("pipes-hex", "||", "\\x7c\\x7c", ";;"),
        ("broken-bar-hex", "¦", "\\xc2\\xa6", "·")))
      assert(rowTexts(ZeekIO.read(spark, write(s"$name.log", log(sep, escaped, setSep)))) == tab, name)
  }

  test("a gzip'd interleaved-directive log reads like its plain twin") {
    val text =
      "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n" +
        "#path\ta\n#fields\tts\tn\n#types\ttime\tcount\n" +
        "10.5\t1\n11.25\t-\n" +
        "#path\tb\n#fields\tts\ts\n#types\ttime\tstring\n" +
        "12.5\tx\\x41\n" +
        "#close\t2019-10-10-08-30-35\n"
    val gz = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(gz)
    out.write(text.getBytes("UTF-8")); out.close()
    val plain = ZeekIO.read(spark, write("interleaved.log", text))
    val zipped = ZeekIO.read(spark, write("interleaved-gz.log", gz.toByteArray))
    assert(plain.count() == 3)
    assert(zipped.schema == plain.schema)
    assert(rowTexts(zipped) == rowTexts(plain))
  }

  test("an empty #set_separator is rejected when the header is parsed") {
    val e = intercept[Exception](ZeekIO.read(spark,
      write("empty-setsep.log", "#separator \\x09\n#set_separator\t\n#fields\ta\n#types\tset[string]\nx\n")))
    assert(e.getMessage.contains("#set_separator"))
  }
}
