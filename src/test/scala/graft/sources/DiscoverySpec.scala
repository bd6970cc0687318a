package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkJobs}
import graft.operators.Het

/** Per-file discovery (`HadoopFs.Discovery`) for ZNG, VNG and Zeek reads:
  * a cold read runs one discovery job, a warm read of unchanged files runs
  * none, and a rewritten file is scanned again. A Zeek log keeps the
  * byte-level route through directives that leave its header unchanged
  * (`#close`, a repeated identical header) and leaves it on a mid-file
  * `#fields` change.
  */
class DiscoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private lazy val root: Path = Files.createTempDirectory("graft-discovery")

  private def fresh(name: String): String = root.resolve(name).toString

  private def jobs(body: => Unit): Int = SparkJobs.during(spark)(body).jobs

  private def rowTexts(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def shapes(df: DataFrame): Seq[String] =
    df.schema(Het.typeTag).metadata.getStringArray("shapes").toSeq

  private def parts(dir: String, ext: String): Seq[Path] =
    Files.list(Path.of(dir)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(ext)).sortBy(_.toString)

  /** Replace a part file (and drop the writer's checksum beside it). */
  private def rewrite(p: Path, bytes: Array[Byte]): Unit = {
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    Files.write(p, bytes)
  }

  private def values(from: Int, until: Int): Seq[ZValue] =
    (from until until).map(i => ZsonParser.parseAll(s"""{id:$i,s:"u$i"}""").head)

  test("a 4-part ZNG dir runs 1 discovery job cold, 0 warm, 1 after a rewrite") {
    val dir = fresh("zng")
    ZngIO.write(spark.range(0, 40).selectExpr("id", "concat('u', id) as s").repartition(4), dir)
    assert(parts(dir, ".zng").length == 4)
    var df: DataFrame = null
    assert(jobs { df = ZngIO.read(spark, dir) } == 1)
    assert(df.count() == 40)
    assert(jobs { df = ZngIO.read(spark, dir) } == 0)
    // a rewrite must change the length: the cache keys on (length, mtime)
    rewrite(parts(dir, ".zng").head, ZngIO.encodeTypedStream(values(100, 150)))
    assert(jobs { df = ZngIO.read(spark, dir) } == 1)
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.size == df.count() && (100L until 150L).forall(ids.contains))
    assert(jobs { ZngIO.read(spark, dir) } == 0)
  }

  test("a VNG dir runs 1 discovery job cold, 0 warm, 1 after a rewrite") {
    val dir = fresh("vng")
    VngIO.write(spark.range(0, 30).selectExpr("id", "concat('u', id) as s").repartition(2), dir)
    val files = parts(dir, ".vng")
    assert(files.length == 2)
    var df: DataFrame = null
    assert(jobs { df = VngIO.read(spark, dir) } == 1)
    assert(df.count() == 30)
    assert(jobs { df = VngIO.read(spark, dir) } == 0)
    rewrite(files.head, VngIO.encodeObject(values(100, 160).iterator))
    assert(jobs { df = VngIO.read(spark, dir) } == 1)
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.size == df.count() && (100L until 160L).forall(ids.contains))
  }

  private val header =
    "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n" +
      "#path\tconn\n#open\t2019-10-10-08-30-35\n" +
      "#fields\tts\tuid\tn\ttags\n#types\ttime\tstring\tcount\tset[string]\n"

  private def body(from: Int, until: Int): String =
    (from until until).map(i => s"${10 + i}.5\tC$i\t$i\ta,b\n").mkString

  private val close = "#close\t2019-10-10-08-31-00\n"

  private def zeekFile(name: String, text: String): String = {
    val p = root.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    p.toString
  }

  test("a 2-file Zeek dir runs 1 discovery job cold, 0 warm, 1 after a rewrite") {
    zeekFile("zeek2/a.log", header + body(0, 5))
    zeekFile("zeek2/b.log", header + body(5, 9))
    val dir = fresh("zeek2")
    var df: DataFrame = null
    assert(jobs { df = ZeekIO.read(spark, dir) } == 1)
    assert(df.count() == 9)
    assert(jobs { df = ZeekIO.read(spark, dir) } == 0)
    zeekFile("zeek2/b.log", header + body(5, 20))
    assert(jobs { df = ZeekIO.read(spark, dir) } == 1)
    assert(df.count() == 20)
  }

  test("a trailing #close and a repeated identical header keep the byte-level route") {
    val plain = ZeekIO.read(spark, zeekFile("plain.log", header + body(0, 6)))
    val closed = zeekFile("closed.log", header + body(0, 6) + close)
    var df: DataFrame = null
    assert(jobs { df = ZeekIO.read(spark, closed) } == 1)
    assert(df.schema == plain.schema)
    assert(shapes(df) == shapes(plain))
    assert(rowTexts(df) == rowTexts(plain))
    assert(jobs { ZeekIO.read(spark, closed) } == 0)

    // two same-header logs joined with `cat`
    val twice = ZeekIO.read(spark, {
      zeekFile("twice/a.log", header + body(0, 6))
      zeekFile("twice/b.log", header + body(0, 6))
      fresh("twice")
    })
    val joined = zeekFile("joined.log", header + body(0, 6) + close + header + body(0, 6) + close)
    assert(jobs { df = ZeekIO.read(spark, joined) } == 1)
    assert(df.schema == plain.schema)
    assert(shapes(df) == shapes(plain))
    assert(rowTexts(df) == rowTexts(twice))
    assert(jobs { ZeekIO.read(spark, joined) } == 0)
  }

  test("a mid-file #fields change takes the value route") {
    val log = zeekFile("mixed.log", "#separator \\x09\n#fields\ta\tb\n#types\tint\tstring\n" +
      "1\tx\n2\t-\n#fields\tc\n#types\tcount\n7\n" + close)
    var df: DataFrame = null
    assert(jobs { df = ZeekIO.read(spark, log) } == 2) // file discovery, then shape discovery
    assert(rowTexts(df) == Seq(
      "[1,x,null,{a:int64,b:string}]",
      "[2,null,null,{a:int64,b:string}]",
      "[null,null,7,{c:uint64}]"))
    assert(jobs { df = ZeekIO.read(spark, log) } == 1) // shape discovery only
  }

  test("a return to the leading header after a mid-file change still takes the value route") {
    val a = "#fields\ta\tb\n#types\tint\tstring\n"
    val log = zeekFile("abaa.log", "#separator \\x09\n" + a + "1\tx\n" +
      "#fields\tc\n#types\tcount\n7\n" + a + "3\ty\n")
    var df: DataFrame = null
    assert(jobs { df = ZeekIO.read(spark, log) } == 2) // file discovery, then shape discovery
    assert(rowTexts(df) == Seq(
      "[1,x,null,{a:int64,b:string}]",
      "[3,y,null,{a:int64,b:string}]",
      "[null,null,7,{c:uint64}]"))
  }

  test("a direct format() load names the reader to use") {
    val zng = fresh("direct-zng")
    ZngIO.write(spark.range(0, 3).toDF("id"), zng)
    val e1 = intercept[Exception](
      spark.read.format(classOf[ZngDataSource].getName).load(zng).collect())
    assert(e1.getMessage.contains("ZngIO.read"), e1.getMessage)
    val vng = fresh("direct-vng")
    VngIO.write(spark.range(0, 3).toDF("id"), vng)
    val e2 = intercept[Exception](
      spark.read.format(classOf[VngDataSource].getName).load(vng).collect())
    assert(e2.getMessage.contains("VngIO.read"), e2.getMessage)
  }
}
