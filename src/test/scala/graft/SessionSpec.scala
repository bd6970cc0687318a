package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{NioLocalFileSystem, ZngIO}

/** What `GraftSession` sets up for every session: `file:` paths go through
  * a local filesystem that sets modes without forking `chmod`, and a
  * table opens with its footer's schema and no Spark job.
  */
class SessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fresh(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("file: paths resolve to NioLocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[NioLocalFileSystem])
    val dir = Files.createTempDirectory("graft-fsclass")
    assert(new Path(dir.toUri).getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    // the configuration tasks rebuild their filesystems from
    assert(graft.sources.HadoopFs.confMap(spark).get("fs.file.impl") ==
      Some(classOf[NioLocalFileSystem].getName))
  }

  test("files, checksums and directories get the modes the stock local filesystem gives them") {
    val bytes = "zng bytes".getBytes("UTF-8")
    def written(fs: LocalFileSystem): Seq[Int] = {
      val root = Files.createTempDirectory("graft-fsmode")
      val dir = new Path(root.toUri.toString, "a/b")
      assert(fs.mkdirs(dir))
      val out = fs.create(new Path(dir, "part-00000.zng"), true)
      try out.write(bytes) finally out.close()
      Seq("a", "a/b", "a/b/part-00000.zng", "a/b/.part-00000.zng.crc").map(p => mode(root.resolve(p)))
    }
    for (umask <- Seq("022", "027", "077", "000")) {
      val stock = written(fresh(new LocalFileSystem, umask))
      assert(written(fresh(new NioLocalFileSystem, umask)) == stock, umask)
    }
    // a sticky bit, and a directory created under a setgid directory (GNU
    // chmod keeps its setgid bit): both defer to the stock chmod
    def special(fs: LocalFileSystem): Seq[Int] = {
      val root = Files.createTempDirectory("graft-fsmode-special")
      assert(new ProcessBuilder("chmod", "2775", root.toString).start().waitFor() == 0)
      assert(fs.mkdirs(new Path(root.toUri.toString, "g")))
      val sticky = new Path(root.toUri.toString, "s")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
      Seq(mode(root.resolve("g")), mode(root.resolve("s")))
    }
    val stock = special(fresh(new LocalFileSystem, "022"))
    assert((stock(0) & Integer.parseInt("2000", 8)) != 0 && (stock(1) & Integer.parseInt("1000", 8)) != 0)
    assert(special(fresh(new NioLocalFileSystem, "022")) == stock)
  }

  test("a ZNG write's part file, checksum and directory get the stock modes") {
    val df = spark.range(0, 5).toDF("n").coalesce(1)
    val ours = Files.createTempDirectory("graft-fsmode-zng").resolve("out")
    ZngIO.write(df, ours.toString)
    val part = ZngIO.encodeInMemory(df)
    val stockRoot = Files.createTempDirectory("graft-fsmode-stock").resolve("out")
    val stock = fresh(new LocalFileSystem, spark.sparkContext.hadoopConfiguration
      .get("fs.permissions.umask-mode", "022"))
    assert(stock.mkdirs(new Path(stockRoot.toUri)))
    val out = stock.create(new Path(stockRoot.resolve("part-00000.zng").toUri), true)
    try out.write(part) finally out.close()
    def modes(dir: JPath): Seq[Int] =
      Seq(dir, dir.resolve("part-00000.zng"), dir.resolve(".part-00000.zng.crc")).map(mode)
    assert(Files.readAllBytes(ours.resolve("part-00000.zng")).sameElements(part))
    assert(modes(ours) == modes(stockRoot))
  }

  test("a table opens with the schema inference gives and runs no Spark job") {
    val dir = Files.createTempDirectory("graft-table").toString
    spark.range(0, 40, 1, 4).selectExpr("id", "cast(id as string) as s",
      "cast(id / 3 as decimal(18,2)) as price", "timestamp_seconds(id) as ts",
      "date_add(date'2024-01-01', cast(id as int)) as d", "array(id, id + 1) as xs",
      "named_struct('a', id, 'b', cast(id as string)) as r", "map('k', id) as m")
      .write.parquet(s"$dir/wide.parquet")
    spark.range(0, 3).selectExpr("id as n").coalesce(1).write.parquet(s"$dir/one.parquet")
    for (name <- Seq("wide", "one")) {
      var df: org.apache.spark.sql.DataFrame = null
      val seen = SparkJobs.during(spark) { df = GraftSession.table(spark, dir, name) }
      assert(seen.jobs == 0, name)
      val inferred = spark.read.parquet(s"$dir/$name.parquet")
      assert(df.schema == inferred.schema, name)
      assert(df.collect().toSeq.map(_.toString).sorted == inferred.collect().toSeq.map(_.toString).sorted, name)
    }
  }
}
