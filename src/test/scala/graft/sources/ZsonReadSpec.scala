package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{GraftSession, Service, SparkJobs}
import graft.operators.Het

/** `ZsonIO.read` discovers a ZSON file in one Spark job, and a lake load
  * of a ZSON batch reads that batch once before its commit write. The
  * three-pass route `read` replaced (a `head(1)` probe of the first
  * content line, a typedef scan, then `fromRDD`'s own discovery pass) is
  * kept here only as the oracle.
  */
class ZsonReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): Path = Files.createTempDirectory(s"graft-$name")

  private def write(dir: Path, name: String, text: String): String = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  private def threePass(path: String): DataFrame = {
    import spark.implicits._
    val text = spark.read.textFile(path)
    def content(l: String) = l.trim.nonEmpty && !l.trim.startsWith("//")
    val probe =
      try {
        val head = text.filter((l: String) => content(l)).head(1)
        head.isEmpty || (try { ZsonParser.parseAll(head(0)); true } catch { case _: Exception => false })
      } catch { case _: Exception => true }
    lazy val typedefs =
      try text.filter((l: String) => l.contains("(=")).head(1).nonEmpty
      catch { case _: Exception => false }
    if (probe && !typedefs) ZsonReader.fromRDD(spark, text.rdd.mapPartitions(ZsonIO.parseLineIter))
    else ZsonReader.fromRDD(spark, spark.read.format("binaryFile")
      .load(if (new java.io.File(path).isDirectory) s"$path/*" else path)
      .select("content").as[Array[Byte]].rdd
      .flatMap(b => ZsonParser.parseAll(new String(Gzip.maybeGunzip(b), "UTF-8"))))
  }

  private def shapes(df: DataFrame): Seq[String] =
    df.schema.find(_.name == Het.typeTag).filter(_.metadata.contains("shapes"))
      .map(_.metadata.getStringArray("shapes").toSeq).getOrElse(Seq.empty)

  /** Same schema (metadata included), same shape order, same rows in the
    * same order.
    */
  private def assertSameFrame(path: String): DataFrame = {
    val got = ZsonIO.read(spark, path)
    val want = threePass(path)
    assert(got.schema == want.schema, s"$path\n${got.schema.treeString}\n${want.schema.treeString}")
    assert(shapes(got) == shapes(want), path)
    assert(got.collect().toSeq.map(_.toString) == want.collect().toSeq.map(_.toString), path)
    got
  }

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  private val lineText =
    """{a:1,s:"x"}
      |{a:2,s:"y",t:2024-01-01T00:00:00Z}
      |
      |// a comment between values
      |{b:[1,2],s:"z"}
      |{a:3,s:"w"}
      |""".stripMargin

  test("a line-oriented read runs one Spark job and builds the three-pass frame") {
    val f = write(tmp("zsonread-line"), "f.zson", lineText)
    var df: DataFrame = null
    val seen = SparkJobs.during(spark) { df = ZsonIO.read(spark, f) }
    assert(seen.jobs == 1, s"ZsonIO.read ran ${seen.jobs} Spark jobs")
    assertSameFrame(f)
    assert(df.count() == 4)
  }

  test("every route and shape of input reads like the three-pass route") {
    val dir = tmp("zsonread-routes")
    val typedefs = write(dir, "typedefs.zson",
      "{a:1,s:\"x\"}(=rec)\n{a:2,s:\"y\"}(rec)\n80(port=uint16)\n81(port)\n")
    assert(assertSameFrame(typedefs).count() == 4)
    val pretty = write(dir, "pretty.zson",
      "{\n    a: 1,\n    s: \"x\"\n}\n{\n    a: 2,\n    b: [\n        1,\n        2\n    ]\n}\n")
    assert(assertSameFrame(pretty).count() == 2)
    val commentFirst = write(dir, "comment.zson", "// header\n\n" + lineText)
    assert(assertSameFrame(commentFirst).count() == 4)
    val commentOnly = write(dir, "comments.zson", "// nothing\n\n  // here\n")
    val empty = assertSameFrame(commentOnly)
    assert(empty.count() == 0 && !ZsonIO.readHasValues(empty))
    assert(ZsonIO.readHasValues(ZsonIO.read(spark, commentFirst)))
    val gz = dir.resolve("g.zson.gz")
    val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try os.write(lineText.getBytes("UTF-8")) finally os.close()
    assert(assertSameFrame(gz.toString).count() == 4)
    // several files, several partitions: shapes merge by first (partition, row)
    val many = tmp("zsonread-dir")
    write(many, "1.zson", "{a:1}\n{a:2,b:\"x\"}\n")
    write(many, "2.zson", "{c:1.5}\n{a:3}\n" * 50)
    write(many, "3.zson", "[1,2]\n{a:4,d:true}\n")
    val dirDf = assertSameFrame(many.toString)
    assert(dirDf.rdd.getNumPartitions == 3 && shapes(dirDf).length == 5)
    // a sub-µs time moves every time column to the ns carrier
    val ns = write(dir, "ns.zson",
      "{t:2024-01-01T00:00:00Z}\n{t:2024-01-01T00:00:00.000000001Z,u:1}\n")
    assert(assertSameFrame(ns).schema("t").dataType == org.apache.spark.sql.types.LongType)
  }

  test("a malformed line-oriented file fails with the three-pass route's message") {
    val dir = tmp("zsonread-bad")
    for ((name, text) <- Seq("trailing.zson" -> "{a:1}\n{a:2}\n{a:",
        "middle.zson" -> "{a:1}\n{a:1,,}\n{b:2}\n")) {
      val f = write(dir, name, text)
      // both fail while reading, before any query runs
      val want = intercept[Exception](threePass(f))
      val got = intercept[Exception](ZsonIO.read(spark, f))
      assert(rootCause(got).getMessage == rootCause(want).getMessage, name)
    }
  }

  /** A `Fixtures.loadBatch`-shaped batch: unique, increasing `ts` keys. */
  private def batch(rows: Int): String = {
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    (0 until rows).map { i =>
      s"""{ts:${t0.plusNanos(i * 1000000L + (i * 7919 % 1000) * 1000L)},uid:"L${java.lang.Long.toHexString(i * 2654435761L)}",proto:"${Seq("tcp", "udp", "icmp")(i % 3)}",orig_bytes:${i * 37 % 100000}}"""
    }.mkString("", "\n", "\n")
  }

  test("plannedPartitions reads the count without running the plan") {
    val f = write(tmp("zsonread-parts"), "b.zson", batch(50))
    val df = ZsonIO.read(spark, f)
    var counts = Seq.empty[Option[Int]]
    val seen = SparkJobs.during(spark) {
      counts = Seq(df, df.filter(col("orig_bytes") > 10), spark.range(0, 100, 1, 4).toDF(),
        df.union(df), df.repartition(3), df.groupBy("proto").count())
        .map(Lake.plannedPartitions)
    }
    assert(seen.jobs == 0)
    assert(counts == Seq(Some(1), Some(1), Some(4), Some(2), None, None))
  }

  test("a one-partition load sorts in place; a multi-partition load still range-partitions; both commit the same object") {
    val root = tmp("zsonread-lake").toString
    val f = write(tmp("zsonread-batch"), "b.zson", batch(1500))
    Lake.create(root, "one", Some("ts"), "desc")
    Lake.create(root, "many", Some("ts"), "desc")
    val one = SparkJobs.during(spark) { Lake.load(ZsonIO.read(spark, f), root, "one") }
    val many = SparkJobs.during(spark) { Lake.load(ZsonIO.read(spark, f).repartition(3), root, "many") }
    assert(!one.plans.exists(_.contains("rangepartitioning")), one.plans.mkString("\n"))
    assert(many.plans.exists(_.contains("rangepartitioning")), many.plans.mkString("\n"))
    assert(one.jobs < many.jobs)
    val Seq(a, b) = Seq("one", "many").map { p =>
      val cs = Lake.commits(root, p).filter(_.kind == "commit")
      assert(cs.length == 1, cs)
      cs.head
    }
    assert((a.keyMin, a.keyMax, a.rows, a.bytes, a.vbytes, a.wins, a.shapes) ==
      (b.keyMin, b.keyMax, b.rows, b.bytes, b.vbytes, b.wins, b.shapes))
    assert(a.rows == 1500 && a.wins.nonEmpty)
    def seek(pool: String, id: String): Array[Byte] =
      Files.readAllBytes(java.nio.file.Paths.get(root, pool, "data", s"$id-seek.zng"))
    assert(seek("one", a.id).sameElements(seek("many", b.id)))
    val (sa, sb) = (Lake.scan(spark, root, "one"), Lake.scan(spark, root, "many"))
    assert(sa.schema == sb.schema)
    assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty)
    // the data object is one file sorted on the key
    val files = java.nio.file.Paths.get(root, "one", "data", a.id).toFile.listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    val ts = spark.read.parquet(files.head.getPath).select("ts").collect().map(_.getTimestamp(0).getTime)
    assert(ts.toSeq == ts.sorted.toSeq)
  }

  test("a multi-partition load keeps its range exchange at run time") {
    val root = tmp("zsonread-range").toString
    val f = write(tmp("zsonread-range-batch"), "b.zson", batch(300))
    Lake.create(root, "p", Some("ts"), "desc")
    val seen = SparkJobs.during(spark) { Lake.load(ZsonIO.read(spark, f).repartition(3), root, "p") }
    assert(seen.finalPlans.exists(_.contains("rangepartitioning")), seen.finalPlans.mkString("\n"))
  }

  test("a keyed service load runs one Spark job: the commit write") {
    val root = tmp("zsonread-svc1").toString
    Lake.create(root, "p", Some("ts"), "desc")
    val svc = new Service(spark, root, 0, lakeRootOpt = Some(root))
    val port = svc.start()
    val client = java.net.http.HttpClient.newHttpClient()
    try {
      for (part <- batch(1500).split("\n").toSeq.grouped(500)) {
        var code = 0
        val seen = SparkJobs.during(spark) {
          val req = java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:$port/pool/p/branch/main"))
            .header("Content-Type", "application/x-zson")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(part.mkString("", "\n", "\n")))
            .build()
          code = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
        }
        assert(code == 200)
        assert(seen.jobs == 1, s"a service load ran ${seen.jobs} Spark jobs")
      }
      val cs = Lake.commits(root, "p").filter(_.kind == "commit")
      assert(cs.length == 3 && cs.forall(c => c.rows == 500 && c.vbytes > 0 && c.wins.nonEmpty))
      assert(cs.forall(c => Files.exists(java.nio.file.Paths.get(root, "p", "data", s"${c.id}-seek.zng"))))
    } finally svc.stop()
  }

  test("a keyed service load runs at most five Spark jobs; compact and delete where no more than before") {
    val root = tmp("zsonread-svc").toString
    Lake.create(root, "p", Some("ts"), "desc")
    val svc = new Service(spark, root, 0, lakeRootOpt = Some(root))
    val port = svc.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String, ctype: String): (Int, String) = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", ctype)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      val text = batch(1500).split("\n").toSeq
      for (part <- text.grouped(500)) {
        var res: (Int, String) = null
        val seen = SparkJobs.during(spark) {
          res = post("/pool/p/branch/main", part.mkString("", "\n", "\n"), "application/x-zson")
        }
        assert(res._1 == 200 && res._2.contains("commit"), res)
        // discovery, the commit write, and the size block's ZNG write, key
        // collect and seek-index write (10 before the one-pass read)
        assert(seen.jobs <= 5, s"a service load ran ${seen.jobs} Spark jobs")
      }
      assert(Lake.scan(spark, root, "p").count() == 1500)
      val del = SparkJobs.during(spark) {
        val (code, body) = post("/pool/p/branch/main/delete", """{"where":"orig_bytes < 100"}""",
          "application/json")
        assert(code == 200, body)
      }
      // 10 and 6 jobs before the one-pass read
      assert(del.jobs <= 10, s"delete where ran ${del.jobs} Spark jobs")
      val compact = SparkJobs.during(spark) { Lake.compact(spark, root, "p") }
      assert(compact.jobs <= 6, s"compact ran ${compact.jobs} Spark jobs")
      assert(Lake.scan(spark, root, "p").count() ==
        text.count(l => l.split("orig_bytes:")(1).stripSuffix("}").toInt >= 100))
    } finally svc.stop()
  }

  /** A lake service on `root` for the length of `body`, which gets a
    * branch-load call: (pool, text, content type) => (status, body).
    */
  private def withService[A](root: String)(body: ((String, String, String) => (Int, String)) => A): A = {
    val svc = new Service(spark, root, 0, lakeRootOpt = Some(root))
    val port = svc.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def load(pool: String, text: String, ctype: String): (Int, String) = {
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/pool/$pool/branch/main"))
        .header("Content-Type", ctype)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(text)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try body(load) finally svc.stop()
  }

  /** A pool's one object as a route leaves it: the commit record (its id
    * and time aside), the seek index and each parquet part's sha256.
    */
  private def objectOf(root: String, pool: String): (Lake.Commit, Seq[Byte], Seq[String]) = {
    val Seq(c) = Lake.commits(root, pool).filter(_.kind == "commit")
    val data = java.nio.file.Paths.get(root, pool, "data")
    val seek = data.resolve(s"${c.id}-seek.zng")
    val parts = data.resolve(c.id).toFile.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
      .map(n => java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(data.resolve(c.id).resolve(n))).map(b => f"${b & 0xff}%02x").mkString)
    (c.copy(id = "", ts = 0L), if (Files.exists(seek)) Files.readAllBytes(seek).toSeq else Seq.empty,
      parts.toSeq)
  }

  /** Loads `text` through the service into `pool` and through a file
    * read into `pool`-file, and checks both commit the same object and
    * scan the same rows; returns the service load's Spark job count.
    */
  private def sameAsFileRoute(root: String, load: (String, String, String) => (Int, String),
      pool: String, text: String, ctype: String = "application/x-zson"): Int = {
    Lake.create(root, pool, Some("ts"), "desc")
    Lake.create(root, s"$pool-file", Some("ts"), "desc")
    var res: (Int, String) = null
    val jobs = SparkJobs.during(spark) { res = load(pool, text, ctype) }.jobs
    assert(res._1 == 200, s"$pool: $res")
    val f = write(tmp("zsonread-route"), "in.zson", text)
    Lake.load(ZsonIO.read(spark, f), root, s"$pool-file", author = "service")
    val (got, want) = (objectOf(root, pool), objectOf(root, s"$pool-file"))
    assert(got._1 == want._1, pool)
    assert(got._1.vbytes > 0 && got._1.wins.nonEmpty && got._2.nonEmpty, pool)
    assert(got._2 == want._2 && got._3 == want._3, pool)
    val (a, b) = (Lake.scan(spark, root, pool), Lake.scan(spark, root, s"$pool-file"))
    assert(a.schema == b.schema, pool)
    assert(a.collect().toSeq.map(_.toString) == b.collect().toSeq.map(_.toString), pool)
    jobs
  }

  test("a service ZSON load decodes in memory and commits the object the file route commits") {
    val root = tmp("zsonread-mem").toString
    val bodies = Seq(
      "lines" -> batch(40),
      "comments" -> ("// a header\n\n" + batch(5) + "// between\n" + batch(3)),
      "typedefs" -> ("{ts:2024-01-01T00:00:00Z,a:1,s:\"x\"}(=rec)\n{ts:2024-01-01T00:00:01Z,a:2,s:\"y\"}(rec)\n" +
        "{ts:2024-01-01T00:00:02Z,p:80(port=uint16)}\n{ts:2024-01-01T00:00:03Z,p:81(port)}\n"),
      "pretty" -> ("{\n    ts: 2024-01-01T00:00:00Z,\n    a: 1\n}\n" +
        "{\n    ts: 2024-01-01T00:00:00.000000001Z,\n    b: [\n        1,\n        2\n    ],\n" +
        "    m: |{\"x\":1}|\n}\n"))
    withService(root) { load =>
      for ((name, text) <- bodies)
        assert(sameAsFileRoute(root, load, name, text) == 1, s"$name: one job, the commit write")
      // a body sniffed as ZSON takes the same route
      assert(sameAsFileRoute(root, load, "sniffed", batch(20), "*/*") == 1)
    }
  }

  test("an empty or malformed ZSON body answers as the file route does") {
    val root = tmp("zsonread-bad-svc").toString
    Lake.create(root, "p", Some("ts"), "desc")
    withService(root) { load =>
      val empty = load("p", "// nothing\n\n  // here\n", "application/x-zson")
      assert(empty == ((400,
        """{"type":"Error","kind":"invalid operation","error":"no records in request"}""" + "\n")))
      // a body the driver cannot parse goes to the file route, whose
      // line-by-line parse reports the error
      val bad = load("p", "{ts:2024-01-01T00:00:00Z,a:1}\n{ts:2024-01-01T00:00:01Z,a:\n", "application/x-zson")
      assert(bad._1 == 400, bad)
      // the parse error alone, not Spark's job-abort text around it
      assert(bad._2.contains("\"error\":\"zson parse at 27: unexpected character '\u0000'\"}"), bad)
      assert(!bad._2.contains("Driver stacktrace") && !bad._2.contains("stage"), bad)
    }
    assert(Lake.commits(root, "p").isEmpty)
  }

  test("a ZSON body within Spark's split size decodes in memory; one byte over reads from a file") {
    val root = tmp("zsonread-bound").toString
    // a 4 KiB split for files up to 12 KiB: each of 4 tasks gets at most
    // (length + open cost) / 4 bytes, and no split is under the open cost
    spark.conf.set("spark.sql.files.openCostInBytes", "4096")
    spark.conf.set("spark.sql.files.minPartitionNum", "4")
    try {
      val text = batch(30)
      assert(text.length < 4096)
      withService(root) { load =>
        assert(sameAsFileRoute(root, load, "at", text + " " * (4096 - text.length)) == 1)
        // two text splits: discovery, the range sort's sampling and its
        // shuffle, the commit write and the size pass
        assert(sameAsFileRoute(root, load, "over", text + " " * (4097 - text.length)) == 5)
      }
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.files.minPartitionNum")
    }
  }
}
