package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.GraftSession

/** A ZJSON stream defines each type id once, on its first use, and later
  * lines name it by `ref`: `ZjsonIO.read` decodes each file as one stream,
  * so a file Spark would split reads the rows of a one-split read.
  */
class ZjsonReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("a ZJSON file split by the text scan reads the rows of a one-split read") {
    val rows = (0 until 300).map(i => s"""{id:$i,p:${i % 7}(port=uint16),s:"row $i"}""")
    val lines = ZjsonIO.typedLines(ZsonReader.fromText(spark, rows.mkString("\n")).coalesce(1))
    assert(lines.head.contains("\"kind\":\"record\"") && lines.last.contains("\"kind\":\"ref\""))
    val f = Files.createTempDirectory("graft-zjson").resolve("in.zjson")
    Files.write(f, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    def read(): Seq[String] = ZsonIO.toZson(ZjsonIO.read(spark, f.toString)).collect().toSeq.sorted
    val whole = read()
    assert(whole == rows.sorted)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    try {
      assert(spark.read.textFile(f.toString).rdd.getNumPartitions > 1)
      assert(read() == whole)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
