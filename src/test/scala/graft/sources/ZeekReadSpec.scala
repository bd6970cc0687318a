package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkJobs}

/** The Zeek reader's two routes agree: logs Zeek rotated (each with its
  * own `#open`) share a header and read together on the byte-level
  * route, and an interval or time cell reads to its exact digits on both
  * routes.
  */
class ZeekReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private lazy val root: Path = Files.createTempDirectory("graft-zeekread")

  private def zeekFile(name: String, text: String): String = {
    val p = root.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    p.toString
  }

  private def header(open: String) =
    "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n" +
      s"#path\tconn\n#open\t$open\n#fields\tts\tuid\tduration\n#types\ttime\tstring\tinterval\n"

  private def body(from: Int, until: Int): String =
    (from until until).map(i => s"1700000000.00000$i\tC$i\t64.594478\n").mkString

  /** The value route's reading of zeek text (per-file directive state). */
  private def valueRoute(text: String): Seq[String] =
    ZsonIO.toZson(ZsonReader.fromRDD(spark,
      spark.sparkContext.parallelize(ZeekIO.interleavedValues(text).toSeq, 1))).collect().toSeq.sorted

  private def zson(df: DataFrame): Seq[String] = ZsonIO.toZson(df).collect().toSeq.sorted

  test("two logs that differ only in #open read on the byte route") {
    val a = header("2023-11-14-22-13-20") + body(0, 3) + "#close\t2023-11-14-23-00-00\n"
    val b = header("2023-11-14-23-00-00") + body(3, 6)
    zeekFile("rotated/conn.00.log", a)
    zeekFile("rotated/conn.01.log", b)
    val dir = root.resolve("rotated").toString
    var df: DataFrame = null
    def jobs(body: => Unit): Int = SparkJobs.during(spark)(body).jobs
    assert(jobs { df = ZeekIO.read(spark, dir) } == 1) // file discovery only
    assert(jobs { df = ZeekIO.read(spark, dir) } == 0)
    assert(zson(df) == valueRoute(a + b))
  }

  test("an interval reads to its exact digits on both routes") {
    val log = header("2023-11-14-22-13-20") + body(0, 2)
    val byte = zson(ZeekIO.read(spark, zeekFile("exact.log", log)))
    assert(byte == valueRoute(log))
    assert(byte.forall(_.contains("duration:1m4.594478s")))
    assert(byte.exists(_.contains("ts:2023-11-14T22:13:20.000001Z")))
  }
}
