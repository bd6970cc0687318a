package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

import graft.sources.{Formats, Lake, ZFormat, ZsonIO}

/** I/O surface tests: ZSON round-trip, format auto-detect, table/text
  * writers, lake-lite load/scan (reference: zio/, lake/).
  */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"
  private def tmp(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.resolve("out").toString
  }

  override def afterAll(): Unit = spark.stop()

  test("zsonLineToJson handles records, arrays, sets, maps, decorators, times") {
    assert(ZsonIO.zsonLineToJson("""{a:1,b:"x",c:true,d:null}""") ==
      """{"a":1,"b":"x","c":true,"d":null}""")
    assert(ZsonIO.zsonLineToJson("""{a:1 (int32),f:3.5}""") == """{"a":1,"f":3.5}""")
    assert(ZsonIO.zsonLineToJson("""{f:123.}""") == """{"f":123.0}""")
    assert(ZsonIO.zsonLineToJson("""{arr:[1,2,3],s:|["a","b"]|}""") ==
      """{"arr":[1,2,3],"s":["a","b"]}""")
    assert(ZsonIO.zsonLineToJson("""{m:|{"k":1,"j":2}|}""") == """{"m":{"k":1,"j":2}}""")
    assert(ZsonIO.zsonLineToJson("""{ts:2024-01-01T00:00:05Z}""") ==
      """{"ts":"2024-01-01T00:00:05Z"}""")
    assert(ZsonIO.zsonLineToJson("""{r:{x:1,y:{z:"deep"}}}""") ==
      """{"r":{"x":1,"y":{"z":"deep"}}}""")
  }

  test("ZSON write/read round-trips values") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello \"quoted\"", 2.5, true, Seq(1.0, 2.0)),
      (2L, "plain", 3.0, false, Seq.empty[Double])
    ).toDF("id", "s", "d", "b", "arr")
    val path = tmp("zson")
    ZsonIO.write(df, path)
    val back = ZsonIO.read(spark, path).orderBy("id")
    val rows = back.select("id", "s", "d", "b", "arr").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "hello \"quoted\"")
    assert(rows(0).getDouble(2) == 2.5 && rows(0).getBoolean(3))
    assert(rows(0).getSeq[Double](4) == Seq(1.0, 2.0))
    assert(rows(1).getDouble(2) == 3.0) // integral double survives the trailing-dot form
  }

  test("ZSON writer emits spec-shaped text") {
    import spark.implicits._
    val df = Seq((42L, "x", 1.0)).toDF("n", "s", "f")
    val line = ZsonIO.toZson(df).collect()(0)
    assert(line == """{n:42,s:"x",f:1.}""")
  }

  test("ZSON round-trips nested structs from real data") {
    val orders = GraftSession.table(spark, dir, "orders")
      .select(col("o_orderkey"), struct(col("o_orderstatus"), col("o_totalprice")).as("info"))
      .limit(100)
    val path = tmp("zson-nested")
    ZsonIO.write(orders, path)
    val back = ZsonIO.read(spark, path)
    assert(back.count() == 100)
    assert(back.select(sum(col("info.o_totalprice"))).collect()(0).getDouble(0) ==
      orders.select(sum(col("info.o_totalprice"))).collect()(0).getDouble(0))
  }

  test("format auto-detect reads csv/json back identically") {
    val nation = GraftSession.table(spark, dir, "nation")
    val csvPath = tmp("csv") + ".csv"
    val jsonPath = tmp("json") + ".json"
    Formats.write(nation, csvPath, "csv")
    Formats.write(nation, jsonPath, "json")
    assert(Formats.read(spark, csvPath).count() == nation.count())
    assert(Formats.read(spark, jsonPath).count() == nation.count())
  }

  test("table/text writers format rows") {
    val region = GraftSession.table(spark, dir, "region").orderBy("r_regionkey")
    val text = ZFormat.textLines(region)
    assert(text.exists(_.startsWith("0\tAFRICA")))
    val table = ZFormat.tableLines(region)(_.toArray)
    assert(table.head.startsWith("r_regionkey"))
    // Go-tabwriter alignment: non-final columns pad to block width + 1,
    // so every value column starts at the same offset
    val starts = table.map(_.indexOf("AFRICA")).filter(_ >= 0)
    val nameCol = table.head.indexOf("r_name")
    assert(starts.forall(_ == nameCol))
  }

  test("zeek TSV reader parses the reference ztest sample exactly") {
    val sample =
      "#separator \\x09\n" +
        "#set_separator\t,\n" +
        "#empty_field\t(empty)\n" +
        "#unset_field\t-\n" +
        "#path\ta\n" +
        "#fields\tts\td\ttags\n" +
        "#types\ttime\tdouble\tset[string]\n" +
        "10.000000\t1\tx,y\n" +
        "20.500000\t-\t(empty)\n" +
        "#close\t2019-10-10-08-30-35\n"
    val p = java.nio.file.Files.createTempDirectory("graft-zeek").resolve("t.zeek")
    java.nio.file.Files.writeString(p, sample)
    val df = graft.sources.ZeekIO.read(spark, p.toString).orderBy("ts")
    // data columns + the shape tag carrying the zeek-typed shape
    assert(df.columns.toSeq == Seq("_path", "ts", "d", "tags", graft.operators.Het.typeTag))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "a")
    assert(rows(0).getTimestamp(1).toInstant.getEpochSecond == 10L)
    assert(rows(0).getDouble(2) == 1.0)
    assert(rows(0).getSeq[String](3) == Seq("x", "y"))
    assert(rows(1).isNullAt(2)) // unset '-'
    assert(rows(1).getSeq[String](3) == Seq.empty) // (empty)
  }

  test("zeek writer round-trips through the reader") {
    val events = GraftSession.table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .limit(100)
    val path = tmp("zeek-rt") + ".zeek"
    graft.sources.Formats.write(events, path, "zeek")
    val back = graft.sources.Formats.read(spark, path)
    assert(back.count() == 100)
    assert(back.agg(sum("value")).collect()(0).getDouble(0) ==
      events.agg(sum("value")).collect()(0).getDouble(0))
  }

  test("gzip-compressed zeek writes read back through the same path") {
    val events = GraftSession.table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .limit(100)
    val path = tmp("zeek-gz") + ".zeek"
    graft.sources.ZeekIO.writeGzip(events, path)
    // the parts really are gzip members
    val parts = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(path))
        .iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
    }
    assert(parts.nonEmpty && parts.forall(_.getFileName.toString.endsWith(".gz")))
    val back = graft.sources.ZeekIO.read(spark, path)
    assert(back.count() == 100)
    assert(back.agg(sum("value")).collect()(0).getDouble(0) ==
      events.agg(sum("value")).collect()(0).getDouble(0))
  }

  test("zjson emits typedef-then-ref lines and round-trips") {
    import org.apache.spark.sql.functions.{struct => fstruct}
    val df = GraftSession.table(spark, dir, "nation")
      .select(col("n_nationkey"), fstruct(col("n_name"), col("n_regionkey")).as("r"))
      .coalesce(1)
    val lines = graft.sources.ZjsonIO.typedStream(df).collect()
    assert(lines.head.contains(""""kind":"record""""))   // first: full typedef
    assert(lines.head.contains(""""name":"n_name""""))
    assert(lines(1).contains(""""kind":"ref"""")) // rest: refs
    val path = tmp("zjson")
    graft.sources.ZjsonIO.write(df, path)
    val back = graft.sources.ZjsonIO.read(spark, path)
    assert(back.count() == 25)
    assert(back.select(sum("n_nationkey")).collect()(0).getLong(0) == (0 until 25).sum)
    assert(back.select(sum("r.n_regionkey")).collect()(0).getLong(0) ==
      df.select(sum("r.n_regionkey")).collect()(0).getLong(0))
  }

  test("zjson files of an untagged frame hold the typed writer's lines") {
    import org.apache.spark.sql.types.{DecimalType, MetadataBuilder}
    val u64 = new MetadataBuilder().putString("graft.zedType", "uint64").build()
    val df = spark.range(0, 3, 1, 1).select(
      col("id"),
      (lit("18446744073709551613").cast(DecimalType(20, 0)) + col("id"))
        .cast(DecimalType(20, 0)).as("u", u64),
      lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z"))).as("ts"),
      (col("id") * 1.5).as("f"))
    val path = tmp("zjson-untagged")
    graft.sources.ZjsonIO.write(df, path)
    val parts = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
    val written = parts.toSeq.flatMap(f =>
      java.nio.file.Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
    val typed = graft.sources.ZjsonIO.typedLines(df)
    assert(written == typed)
    assert(typed.head.contains(""""name":"uint64"""") && typed.head.contains(""""2024-03-01T00:00:00Z""""))
    assert(typed.last.contains(""""18446744073709551615""""))
  }

  test("lake-lite: load commits and merge-on-read scan") {
    val root = tmp("lake")
    val orders = GraftSession.table(spark, dir, "orders")
    val c1 = Lake.load(orders.filter(col("o_orderstatus") === "F"), root, "p", "t", "first")
    val c2 = Lake.load(orders.filter(col("o_orderstatus") === "O"), root, "p", "t", "second")
    val full = Lake.scan(spark, root, "p")
    val expect = orders.filter(col("o_orderstatus").isin("F", "O")).count()
    assert(full.count() == expect)
    // time travel: as-of the first commit sees only the first object
    val asOf = Lake.scan(spark, root, "p", Some(c1))
    assert(asOf.count() == orders.filter(col("o_orderstatus") === "F").count())
    assert(Lake.commits(root, "p").map(_.id) == Seq(c1, c2))
  }

  test("lake branches fork from a commit and see their own live set") {
    val root = tmp("lakebr")
    val orders = GraftSession.table(spark, dir, "orders")
    val nF = orders.filter(col("o_orderstatus") === "F").count()
    val nO = orders.filter(col("o_orderstatus") === "O").count()
    val nP = orders.filter(col("o_orderstatus") === "P").count()
    val c1 = Lake.load(orders.filter(col("o_orderstatus") === "F"), root, "p")
    val c2 = Lake.load(orders.filter(col("o_orderstatus") === "O"), root, "p")
    Lake.branch(root, "p", "dev", Some(c1))
    Lake.load(orders.filter(col("o_orderstatus") === "P"), root, "p", branch = "dev")
    assert(Lake.branches(root, "p") == Seq("main", "dev"))
    // main: F+O; dev: F (ancestor at fork) + P (own commit)
    assert(Lake.scan(spark, root, "p").count() == nF + nO)
    assert(Lake.scan(spark, root, "p", Some("dev")).count() == nF + nP)
    // delete-as-commit on main removes O going forward, history intact
    Lake.delete(root, "p", c2)
    assert(Lake.scan(spark, root, "p").count() == nF)
    assert(Lake.scan(spark, root, "p", Some(c2)).count() == nF + nO) // time travel
    assert(Lake.scan(spark, root, "p", Some("dev")).count() == nF + nP)
  }

  test("lake journal replay: revert-of-delete restores, compact on a branch " +
       "does not duplicate fork ancestors, vacuum keeps branch-live objects") {
    val root = tmp("lakemaint")
    val orders = GraftSession.table(spark, dir, "orders")
    val nF = orders.filter(col("o_orderstatus") === "F").count()
    val nO = orders.filter(col("o_orderstatus") === "O").count()
    val nP = orders.filter(col("o_orderstatus") === "P").count()
    val c1 = Lake.load(orders.filter(col("o_orderstatus") === "F"), root, "p")
    val c2 = Lake.load(orders.filter(col("o_orderstatus") === "O"), root, "p")
    // revert of a delete restores the object (journal replay is ordered)
    Lake.delete(root, "p", c2)
    assert(Lake.scan(spark, root, "p").count() == nF)
    val delRec = Lake.commits(root, "p").filter(_.kind == "delete").last.id
    Lake.revert(root, "p", delRec)
    assert(Lake.scan(spark, root, "p").count() == nF + nO)

    // compact on a child branch folds fork ancestors WITHOUT duplicating them
    Lake.branch(root, "p", "dev", Some(c2))
    Lake.load(orders.filter(col("o_orderstatus") === "P"), root, "p", branch = "dev")
    assert(Lake.scan(spark, root, "p", Some("dev")).count() == nF + nO + nP)
    Lake.compact(spark, root, "p", "dev")
    assert(Lake.scan(spark, root, "p", Some("dev")).count() == nF + nO + nP)
    // main is untouched by the branch-scoped compact deletes
    assert(Lake.scan(spark, root, "p").count() == nF + nO)

    // vacuum must keep c1/c2: dev's compact deleted them on dev only, main
    // still scans them (per-branch liveness)
    val removed = Lake.vacuum(root, "p")
    assert(!removed.contains(c1) && !removed.contains(c2))
    assert(Lake.scan(spark, root, "p").count() == nF + nO)
    assert(Lake.scan(spark, root, "p", Some("dev")).count() == nF + nO + nP)
  }

  test("extensionless spark parquet directory sniffs as parquet (_SUCCESS skipped)") {
    val dir0 = tmp("sniffpq")
    val nation = GraftSession.table(spark, dir, "nation")
    nation.write.mode("overwrite").parquet(dir0)
    // Spark wrote _SUCCESS (empty, sorts first) — sniffing must skip it
    assert(new java.io.File(dir0, "_SUCCESS").exists())
    val back = Formats.read(spark, dir0)
    assert(back.count() == nation.count())
    assert(back.schema.fieldNames.contains("n_nationkey"))
  }

  test("arrow ipc round-trips a table distributed") {
    val path = tmp("arrow") + "/supplier"
    val orig = GraftSession.table(spark, dir, "supplier")
    graft.sources.ArrowIO.write(orig, path)
    val back = graft.sources.ArrowIO.read(spark, path)
    assert(back.count() == orig.count())
    assert(back.select(sum("s_acctbal")).collect()(0).getDouble(0) ==
      orig.select(sum(col("s_acctbal").cast("double"))).collect()(0).getDouble(0))
    assert(back.select("s_name").collect().map(_.getString(0)).sorted.toSeq ==
      orig.select("s_name").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("arrow directory with MIXED per-file schemas fuses like other typed sources") {
    val dirP = new java.io.File(tmp("arrowmix")); dirP.mkdirs()
    // file 1: {k:int64, v:int64}; file 2: {k:int64, v:string, extra:bool}
    val a = spark.range(3).select(col("id").as("k"), (col("id") * 10).as("v"))
    val b = spark.range(2).select((col("id") + 100).as("k"),
      concat(lit("s"), col("id")).as("v"), (col("id") % 2 === 0).as("extra"))
    graft.sources.ArrowIO.write(a.coalesce(1), dirP + "/a")
    graft.sources.ArrowIO.write(b.coalesce(1), dirP + "/b")
    // flatten the two one-file dirs into one mixed directory
    val parts = (new java.io.File(dirP, "a").listFiles() ++ new java.io.File(dirP, "b").listFiles())
      .filter(f => f.isFile && f.length > 0 &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val mixDir = new java.io.File(dirP, "mix"); mixDir.mkdirs()
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(mixDir, s"p$i.arrows").toPath) }
    val back = graft.sources.ArrowIO.read(spark, mixDir.toString)
    assert(back.count() == 5)
    assert(back.columns.contains("k") && back.columns.contains("v"))
    // k stays native (agreeing int64); v became a variant (int64|string)
    import org.apache.spark.sql.types._
    assert(back.schema("k").dataType == LongType)
    assert(graft.sources.ZsonIO.isVariantType(back.schema("v").dataType))
    val vs = back.select(graft.operators.Het.render(col("v"))).collect()
      .map(_.getString(0)).toSet
    assert(vs == Set("0", "10", "20", "\"s0\"", "\"s1\""))
    // extra exists only in file 2's rows; elsewhere null
    assert(back.filter(col("extra").isNotNull).count() == 2)
  }

  test("gzip auto-detect: compressed zson reads transparently") {
    val plainDir = tmp("gzplain")
    val nation = GraftSession.table(spark, dir, "nation")
    graft.sources.ZsonIO.write(nation.coalesce(1), plainDir)
    val gzDir = new java.io.File(tmp("gz")); gzDir.mkdirs()
    val part = new java.io.File(plainDir).listFiles().filter(_.getName.startsWith("part-")).head
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(gzDir, "n.zson.gz")))
    out.write(java.nio.file.Files.readAllBytes(part.toPath)); out.close()
    val back = graft.sources.Formats.read(spark, s"$gzDir/n.zson.gz")
    assert(back.count() == nation.count())
  }

  test("mirror passes through while feeding a second sink") {
    val region = GraftSession.table(spark, dir, "region")
    var mirrored = -1L
    val out = Lake.mirror(region, d => mirrored = d.count())
    assert(out.count() == region.count())
    assert(mirrored == region.count())
  }

  test("content sniffing reads misnamed files by their bytes (anyio/reader.go)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sniff")
    // a ZSON file with NO extension
    val zsonFile = dir.resolve("data")
    java.nio.file.Files.writeString(zsonFile, "{a:1,ip:10.0.0.1}\n{a:2,ip:10.0.0.2}\n")
    val back = Formats.read(spark, zsonFile.toString)
    assert(back.count() == 2)
    // a zeek log with no extension
    val zeekFile = dir.resolve("log")
    java.nio.file.Files.writeString(zeekFile,
      "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n" +
        "#fields\ts\n#types\tstring\nfoo\nbar\n")
    assert(Formats.read(spark, zeekFile.toString).count() == 2)
    // magic-byte formats
    assert(Formats.sniffBytes("PAR1xxxx".getBytes) == "parquet")
    assert(Formats.sniffBytes(Array[Byte]('V', 'N', 'G', 0, 4)) == "vng")
    assert(Formats.sniffBytes("""{"type":{"kind":"record"}}""".getBytes) == "zjson")
    assert(Formats.sniffBytes("""{"a": 1, "b": "x"}""".getBytes) == "json")
    assert(Formats.sniffBytes("a,b,c\n1,2,3\n".getBytes) == "csv")
  }

  test("get fetches http URIs (local server; zio/anyio file.go URI sources)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = "{n:1}\n{n:2}\n{n:3}\n".getBytes("UTF-8")
    server.createContext("/data.zson", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/data.zson"
      val df = Formats.read(spark, url)
      assert(df.count() == 3)
      // through the language frontend too: get "<uri>"
      val viaLang = graft.lang.Graft.queryOn(
        GraftSession.table(spark, "/root/testdata/sf0.001", "region"),
        s"""get "$url" | summarize s:=sum(n)""")
      assert(viaLang.collect()(0).getLong(0) == 6L)
    } finally server.stop(0)
  }

  test("s3:// resolves through the AWS_S3_ENDPOINT override (zio/s3io)") {
    // path-style GET against the s3-compatible endpoint; a 404 keeps the
    // s3 URI the user wrote in the error (s3-notexist ztest)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = "{n:1}\n{n:2}\n".getBytes("UTF-8")
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (ex.getRequestURI.getPath == "/bucket/data.zson") {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    System.setProperty("graft.s3.endpoint",
      s"http://127.0.0.1:${server.getAddress.getPort}")
    try {
      assert(Formats.read(spark, "s3://bucket/data.zson").count() == 2)
      val e = intercept[Exception] {
        Formats.read(spark, "s3://bucket/does/not/exist")
      }
      assert(e.getMessage == "s3://bucket/does/not/exist: file does not exist")
    } finally {
      System.clearProperty("graft.s3.endpoint")
      server.stop(0)
    }
  }
}
