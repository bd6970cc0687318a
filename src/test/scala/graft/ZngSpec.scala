package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.ZngIO

/** ZNG binary format: spec-level encoding checks (uvarint, zigzag, frame
  * structure, EOS) plus full write→read round-trips through Spark.
  */
class ZngSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.resolve("out").toString
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** One ZNG stream of the frame's internal rows, encoded on the driver. */
  private def internalStream(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    ZngIO.encodeInternalStreamTo(out,
      df.queryExecution.toRdd.map(_.copy()).collect().iterator, df.schema)
    out.toByteArray
  }

  /** `ZngIO.write` (or another writer route) of one partition: the bytes
    * of its single part file.
    */
  private def writtenPart(df: org.apache.spark.sql.DataFrame, name: String,
      write: (org.apache.spark.sql.DataFrame, String) => Unit = ZngIO.write): Array[Byte] = {
    val path = tmp(name)
    write(df.coalesce(1), path)
    val parts = new java.io.File(path).listFiles().filter(_.getName.endsWith(".zng"))
    assert(parts.length == 1, parts.map(_.getName).mkString(","))
    java.nio.file.Files.readAllBytes(parts.head.toPath)
  }

  private def zvals(lines: Seq[String]): Seq[graft.sources.ZValue] =
    lines.map(l => new graft.sources.ZsonParser(l).parseOne())

  test("signed counted varint matches the reference (magnitude<<1 | sign)") {
    // zcode/counted.go:59 EncodeCountedVarint — NOT zigzag: -1 → 0x03
    assert(ZngIO.signedBytes(0L).isEmpty)            // minimal: no bytes
    assert(ZngIO.signedBytes(1L).toSeq == Seq(2.toByte))
    assert(ZngIO.signedBytes(-1L).toSeq == Seq(3.toByte))
    assert(ZngIO.signedBytes(-2L).toSeq == Seq(5.toByte))
    assert(ZngIO.signedBytes(64L).toSeq == Seq(0x80.toByte))
    assert(ZngIO.signedBytes(Long.MinValue).toSeq == Seq(1.toByte)) // reserved
    assert(ZngIO.signedOf(Array(1.toByte)) == Long.MinValue)
    assert(ZngIO.signedOf(Array(3.toByte)) == -1L)
  }

  test("stream structure: types frame, values frame, end-of-stream") {
    val df = Seq((7L, "x")).toDF("a", "s")
    val bytes = internalStream(df)
    assert((bytes(0) >> 4) == 0)            // first frame: types (T=00, V=0, C=0)
    assert(bytes.last == 0xff.toByte)       // end of stream
    val lines = ZngIO.decodeToZson(bytes).toSeq
    assert(lines == Seq("""{a:7,s:"x"}"""))
  }

  test("round-trips every primitive kind") {
    val df = Seq(
      (1L, 42, "héllo \"q\"", 2.5, 1.0f, true, Array[Byte](1, 2, 0xff.toByte)),
      (2L, -7, "", -0.0, -3.5f, false, Array.empty[Byte])
    ).toDF("l", "i", "s", "d", "f", "b", "bin")
    val path = tmp("zng-prims")
    ZngIO.write(df, path)
    val back = ZngIO.read(spark, path).orderBy("l")
    val rows = back.select("l", "i", "s", "d", "f", "b", "bin").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 42L)
    assert(rows(0).getString(2) == "héllo \"q\"")
    assert(rows(0).getDouble(3) == 2.5)
    assert(rows(0).getBoolean(5))
    // typed read: bytes decode to a real binary column (not 0x-hex text)
    assert(rows(0).getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, 0xff.toByte))
    assert(rows(1).getLong(1) == -7L && rows(1).getString(2) == "")
  }

  test("round-trips nested records and arrays") {
    val df = GraftSession.table(spark, dir, "orders")
      .limit(200)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus"), col("o_totalprice")).as("info"),
        array(col("o_custkey"), col("o_orderkey")).as("keys"))
    val path = tmp("zng-nested")
    ZngIO.write(df, path)
    val back = ZngIO.read(spark, path)
    assert(back.count() == 200)
    assert(back.select(sum("info.o_totalprice")).collect()(0).getDouble(0) ==
      df.select(sum("info.o_totalprice")).collect()(0).getDouble(0))
    assert(back.select(sum(element_at(col("keys"), 2))).collect()(0).getLong(0) ==
      df.select(sum("o_orderkey")).collect()(0).getLong(0))
  }

  test("round-trips timestamps in the ns domain") {
    val df = GraftSession.table(spark, dir, "orders").limit(50)
      .select(col("o_orderkey"), col("o_orderdate"))
    val path = tmp("zng-time")
    ZngIO.write(df, path)
    val back = ZngIO.read(spark, path).orderBy("o_orderkey")
    // typed read: time decodes to a real timestamp column
    val a = back.limit(1)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
      .collect()(0).getString(0)
    val b = df.orderBy("o_orderkey").limit(1)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
      .collect()(0).getString(0)
    assert(a == b)
  }

  test("multi-partition writes produce concatenable independent streams") {
    val df = GraftSession.table(spark, dir, "nation").repartition(4)
    val path = tmp("zng-parts")
    ZngIO.write(df, path)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".zng"))
    assert(files.length == 4)
    // concatenation of streams is a valid ZNG sequence (spec §2.4)
    val all = files.sortBy(_.getName).flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    assert(ZngIO.decodeToZson(all).size == 25)
    assert(ZngIO.read(spark, path).count() == 25)
  }

  test("decodes ip and net primitives to address text") {
    import java.io.ByteArrayOutputStream
    val vals = new ByteArrayOutputStream()
    def uvv(v: Long) = ZngIO.uvarint(vals, v)
    // ip 192.168.1.1 (id 26): 4 addr bytes
    uvv(26); uvv(5); vals.write(192); vals.write(168); vals.write(1); vals.write(1)
    // net 10.0.0.0/8 (id 27): 4 addr bytes + 4 mask bytes
    uvv(27); uvv(9)
    vals.write(10); vals.write(0); vals.write(0); vals.write(0)
    vals.write(0xff); vals.write(0); vals.write(0); vals.write(0)
    // ip6 fe80::1
    uvv(26); uvv(17)
    vals.write(0xfe); vals.write(0x80)
    (0 until 13).foreach(_ => vals.write(0))
    vals.write(1)
    val out = new ByteArrayOutputStream()
    val p = vals.toByteArray
    out.write((1 << 4) | (p.length & 0xf))
    ZngIO.uvarint(out, (p.length >> 4).toLong)
    out.write(p, 0, p.length)
    out.write(0xff)
    val lines = ZngIO.decodeToZson(out.toByteArray).toSeq
    assert(lines == Seq("192.168.1.1", "10.0.0.0/8", "fe80::1"))
  }

  test("decoder handles maps, sets, unions, enums, named and error types") {
    // hand-encode a types frame exercising decoder paths the writer doesn't emit
    import java.io.ByteArrayOutputStream
    val defs = new ByteArrayOutputStream()
    def uv(v: Long) = ZngIO.uvarint(defs, v)
    // 30: set<int64>; 31: union(int64,string); 32: enum{lo,hi}; 33: named "port" int64
    defs.write(0x02); uv(9)
    defs.write(0x04); uv(2); uv(9); uv(25)
    defs.write(0x05); uv(2); uv(2); defs.write('l'); defs.write('o'); uv(2); defs.write('h'); defs.write('i')
    defs.write(0x07); uv(4); defs.write('p'); defs.write('o'); defs.write('r'); defs.write('t'); uv(9)
    val vals = new ByteArrayOutputStream()
    def uvv(v: Long) = ZngIO.uvarint(vals, v)
    // set value {1,2}: two tagged signed varints
    uvv(30); uvv(5); uvv(2); vals.write(2); uvv(2); vals.write(4)
    // union value: selector 1 (string, signed varint → 0x02) + "ok"
    uvv(31); uvv(6); uvv(2); vals.write(2); uvv(3); vals.write('o'); vals.write('k')
    // enum value: index 1 → "hi"
    uvv(32); uvv(2); vals.write(1)
    // named value: port 80
    uvv(33); uvv(2); vals.write(((80 << 1) & 0xff))
    val out = new ByteArrayOutputStream()
    def frame(t: Int, p: Array[Byte]): Unit = {
      out.write((t << 4) | (p.length & 0xf))
      ZngIO.uvarint(out, (p.length >> 4).toLong)
      out.write(p, 0, p.length)
    }
    frame(0, defs.toByteArray); frame(1, vals.toByteArray); out.write(0xff)
    val lines = ZngIO.decodeToZson(out.toByteArray).toSeq
    assert(lines == Seq("|[1,2]|", "\"ok\"", "\"hi\"", "80"))
  }

  test("internal-row encoder: 16 column types decode to pinned ZSON and digest") {
    val schema = StructType(Seq(
      StructField("b", ByteType), StructField("sh", ShortType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType), StructField("d", DoubleType),
      StructField("bo", BooleanType), StructField("st", StringType), StructField("bin", BinaryType),
      StructField("ts", TimestampType), StructField("dt", DateType),
      StructField("dur", DayTimeIntervalType()),
      StructField("u64", DecimalType(20, 0)),
      StructField("rec", StructType(Seq(StructField("x", LongType), StructField("y", StringType)))),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, LongType))))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2020-03-04T05:06:07.123456Z"))
    val rows = Seq(
      Row(1.toByte, 2.toShort, 3, -4L, 1.5f, -2.5, true, "héllo", Array[Byte](1, 2),
        ts, java.sql.Date.valueOf("2021-01-02"),
        java.time.Duration.ofSeconds(3, 123456000),
        new java.math.BigDecimal("18446744073709551615"),
        Row(7L, "in"), Seq(1L, null, 3L), Map("k1" -> 1L, "a" -> 2L)),
      Row(null, null, null, null, null, null, null, null, null, null, null, null,
        null, null, null, null))
    val df = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).coalesce(1)
    val bytes = internalStream(df)
    assert(ZngIO.decodeToZson(bytes).toSeq == Seq(
      "{b:1,sh:2,i:3,l:-4,f:1.5,d:-2.5,bo:true,st:\"héllo\",bin:0x0102," +
        "ts:2020-03-04T05:06:07.123456Z,dt:2021-01-02T00:00:00.000000Z,dur:3123456000," +
        "u64:18446744073709551615,rec:{x:7,y:\"in\"},arr:[1,null,3],m:|{\"a\":2,\"k1\":1}|}",
      "{b:null,sh:null,i:null,l:null,f:null,d:null,bo:null,st:null,bin:null,ts:null," +
        "dt:null,dur:null,u64:null,rec:null,arr:null,m:null}"))
    // the digest of the bytes the external-Row encoder was pinned equal to
    assert(sha256(bytes) == "b70eb906fb8d7f6e9895036ca8ac58a53e73da1657da5905b5f036d2f6a3348b")
  }

  test("frame prefilter skips frames that can't match a pushed string " +
       "predicate, with identical results (ref bufferfilter.go)") {
    val path = tmp("prefilter")
    // many frames: small frame bound comes from partitioning — 8 parts,
    // each its own stream; the needle lives in exactly one part
    val df = spark.range(0, 80000).repartition(8)
      .selectExpr("id", "concat('msg_', id % 997) as s", "cast(id % 7 as double) as d")
    ZngIO.write(df, path)
    val needle = "msg_123"
    def q(enabled: Boolean) = {
      spark.conf.set("graft.zng.prefilter", enabled.toString)
      try ZngIO.read(spark, path).filter(col("s") === needle)
        .orderBy("id").collect().toSeq
      finally spark.conf.unset("graft.zng.prefilter")
    }
    val off = q(false)
    ZngIO.totalFramesSkipped.reset(); ZngIO.totalFramesRead.reset()
    val on = q(true)
    assert(on == off && on.nonEmpty)
    // "msg_123" appears in every frame here (dense id space), so also
    // check a truly absent needle prunes everything
    ZngIO.totalFramesSkipped.reset(); ZngIO.totalFramesRead.reset()
    spark.conf.set("graft.zng.prefilter", "true")
    try {
      assert(ZngIO.read(spark, path).filter(col("s") === "no_such_value_xyz").count() == 0)
      assert(ZngIO.totalFramesSkipped.sum() > 0, "prefilter should skip frames")
      assert(ZngIO.totalFramesRead.sum() == 0, "no frame can contain the needle")
    } finally spark.conf.unset("graft.zng.prefilter")
  }

  test("vectorized zng scan matches the row reader, including het streams") {
    val path = tmp("zng-vec")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    // two shapes + a top-level null record in ONE stream
    val vals = (0 until 500).map { i =>
      if (i % 5 == 0) s"""{a:$i,s:"x$i"}"""
      else if (i % 5 == 1) s"""{a:$i(int32),d:${i % 7}.5,flag:${i % 2 == 0}}"""
      else if (i % 17 == 0) "null({a:int64,s:string})"
      else s"""{a:$i,s:null(string)}"""
    }.map(l => graft.sources.ZsonParser.parseAll(l).head)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "part.zng"),
      ZngIO.encodeTypedStream(vals))
    val vec = ZngIO.read(spark, path)
    assert(vec.queryExecution.executedPlan.toString.contains("vectorized"),
      vec.queryExecution.executedPlan.toString.take(600))
    // the reference: the same values, framed without any scan
    val rowData = graft.sources.ZsonReader.fromValues(spark, vals, tag = true)
      .orderBy("a", "s", "d").collect().toSeq
    assert(vec.orderBy("a", "s", "d").collect().toSeq == rowData)
    // tag column semantics survive vectorization (incl. null-record tags)
    val tags = vec.groupBy("__type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags.keys.exists(_.startsWith("null(")), tags.keys.mkString(","))
    assert(tags.values.sum == 500)
  }

  test("vectorized zng scan appends struct nulls without misaligning " +
       "children (null records + shape-absent struct fields)") {
    val path = tmp("zng-vec-structnull")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    // three shapes in ONE stream: full, conn-absent, and top-level null —
    // the latter two exercise appendNullFor on a StructType vector, where
    // a plain appendNull() would skew every later nested value
    val lines = (0 until 300).map { i =>
      if (i % 7 == 0) "null({id:int64,conn:{x:int64,y:string}})"
      else if (i % 3 == 0) s"{id:$i}"
      else s"""{id:$i,conn:{x:${i * 2},y:"h$i"}}"""
    }
    val vals = lines.map(l => graft.sources.ZsonParser.parseAll(l).head)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "p.zng"),
      ZngIO.encodeTypedStream(vals))
    val back = ZngIO.read(spark, path)
    assert(back.queryExecution.executedPlan.toString.contains("vectorized"),
      back.queryExecution.executedPlan.toString.take(600))
    // every non-null conn must carry ITS OWN row's values — any child
    // misalignment shows up as x != 2*id or a shifted y
    val rows = back.filter(col("conn").isNotNull)
      .select("id", "conn.x", "conn.y").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 2, s"misaligned x at id=${r.getLong(0)}")
      assert(r.getString(2) == s"h${r.getLong(0)}", s"misaligned y at id=${r.getLong(0)}")
    }
    val nullRecs = lines.count(_.startsWith("null("))
    assert(back.filter(col("id").isNull).count() == nullRecs)
    assert(back.count() == 300)
  }

  test("cross-shape type conflicts (time/string, enum/int) route through " +
       "variant boxing in the direct builder") {
    val path = tmp("zng-het-conflict")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    // v: time in one shape, string in the other; e: enum vs int64 —
    // both merged columns become variant structs, where a raw boxed
    // Long/UTF8String in the InternalRow slot would corrupt rows
    val lines = (0 until 60).map { i =>
      if (i % 2 == 0)
        f"""{id:$i%d,v:2024-01-01T00:00:$i%02dZ,e:"red"(enum(red,green))}"""
      else s"""{id:$i,v:"s$i",e:$i}"""
    }
    val vals = lines.map(l => graft.sources.ZsonParser.parseAll(l).head)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "p.zng"),
      ZngIO.encodeTypedStream(vals))
    val back = ZngIO.read(spark, path)
    val got = graft.sources.ZsonIO.toZson(back.orderBy("id")).collect().toSeq
    // enum values decorate on output — an enum type is never implied and
    // "must appear in a context where the enum type is known"
    // (reference docs/formats/zson.md §2.6, zson/zson.go Implied)
    val expected = (0 until 60).map { i =>
      if (i % 2 == 0)
        f"{id:$i%d,v:2024-01-01T00:00:$i%02dZ,e:%%red(enum(red,green))}"
      else s"""{id:$i,v:"s$i",e:$i}"""
    }
    assert(got == expected, got.take(4).mkString("\n"))
  }

  test("empty zng directory reads as an empty frame") {
    val path = tmp("zng-empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    assert(ZngIO.read(spark, path).count() == 0)
  }

  test("vectorized zng scan handles array columns (zeek vector shape)") {
    val path = tmp("zng-vec-arr")
    val df = spark.range(0, 2000).selectExpr(
      "id",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE array(id, id * 2, id * 3) END AS vs",
      "concat('h', id) AS s")
    ZngIO.write(df, path)
    val back = ZngIO.read(spark, path)
    assert(back.queryExecution.executedPlan.toString.contains("vectorized"),
      back.queryExecution.executedPlan.toString.take(600))
    assert(back.filter(col("vs").isNull).count() == 400)
    assert(back.agg(sum(element_at(col("vs"), 3))).collect()(0).getLong(0) ==
      df.agg(sum(element_at(col("vs"), 3))).collect()(0).getLong(0))
  }

  test("vectorized zng scan handles nested records (zeek id record shape)") {
    val path = tmp("zng-vec-struct")
    val df = spark.range(0, 2000).selectExpr(
      "id",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE " +
        "named_struct('orig_h', concat('10.0.0.', id % 250), 'orig_p', id % 65536, " +
        "'deep', named_struct('x', id * 2)) END AS conn",
      "concat('u', id) AS s")
    ZngIO.write(df, path)
    val back = ZngIO.read(spark, path)
    assert(back.queryExecution.executedPlan.toString.contains("vectorized"),
      back.queryExecution.executedPlan.toString.take(600))
    assert(back.filter(col("conn").isNull).count() == 500)
    assert(back.agg(sum("conn.deep.x")).collect()(0).getLong(0) ==
      df.agg(sum("conn.deep.x")).collect()(0).getLong(0))
    assert(back.filter(col("conn.orig_h") === "10.0.0.7").count() ==
      df.filter(col("conn.orig_h") === "10.0.0.7").count())
  }

  test("vectorized zng scan handles sub-microsecond times (ns carrier)") {
    val path = tmp("zng-vec-ns")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val vals = Seq(
      "{ts:2024-01-01T00:00:00.000000001Z,v:1}",
      "{ts:2024-01-01T00:00:00.5Z,v:2}")
      .map(l => graft.sources.ZsonParser.parseAll(l).head)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "p.zng"),
      ZngIO.encodeTypedStream(vals))
    val back = ZngIO.read(spark, path)
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val tss = back.orderBy("v").select("ts").collect().map(_.getLong(0)).toSeq
    assert(tss.head % 1000L == 1L)
  }

  /** The scan node of a planned read (a projection plans no exchange, so
    * no adaptive wrapper hides it) and the DSv2 metric it reported.
    */
  private def zngScan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))

  private def valueFills(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    zngScan(df).metrics("valueFills").value
  }

  test("one columnar zng scan covers every zed type, named and non-record roots, " +
       "empty containers, missing and conflicting columns") {
    val path = tmp("zng-all-types")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val u64 = Seq("0", "9223372036854775808", "18446744073709551615")
    val lines = (0 until 120).map { i =>
      if (i % 11 == 0) s"{id:$i,y:$i.5}(=named)"
      else if (i % 13 == 0) s"$i"
      else if (i % 17 == 0) "null({id:int64,x:int64})"
      else if (i % 7 == 0) s"""{id:$i,x:"s$i",t:2024-01-02T00:00:0${i % 10}Z}"""
      else {
        val un = if (i % 2 == 0) s"$i" else s""""u$i""""
        val en = if (i % 3 == 0) "red" else "green"
        s"""{id:$i,x:$i,u:${u64(i % 3)}(uint64),st:|[${i % 3},1,2]|,""" +
          s"""m:|{"a":$i,"b":2}|,nk:|{null:$i}|,un:$un((int64,string)),""" +
          s"""e:error("boom$i"),ty:<int64>,n:10.0.${i % 256}.0/24,""" +
          s"""en:"$en"(enum(red,green)),h:${i % 8}.5(float16),b:0x01${"%02x".format(i % 256)},""" +
          s"""d:${i}s,t:2024-01-01T00:00:00.${"%09d".format(i + 1)}Z,""" +
          s"""ea:[]([int64]),es:|[]|(|[string]|),em:|{}|(|{string:int64}|)}"""
      }
    }
    val vals = zvals(lines)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "p.zng"),
      ZngIO.encodeTypedStream(vals))
    val back = ZngIO.read(spark, path)
    val plan = back.queryExecution.executedPlan
    val overScan = plan.collectFirst {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c.child
    }
    assert(overScan.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.BatchScanExec]), plan.toString)
    assert(plan.toString.contains("graft zng ("), plan.toString)
    assert(back.schema("u").dataType == DecimalType(20, 0), back.schema.treeString)
    assert(back.schema("t").dataType == LongType, "sub-µs times ride the ns carrier")
    val order = Seq("id", "this", "__type").map(col)
    val reference = graft.sources.ZsonReader.fromValues(spark, vals, tag = true)
    assert(back.columns.toSeq == reference.columns.toSeq)
    assert(back.orderBy(order: _*).collect().toSeq == reference.orderBy(order: _*).collect().toSeq)
    assert(back.agg(max("u")).collect()(0).getDecimal(0).toBigInteger ==
      new java.math.BigInteger("18446744073709551615"))
  }

  test("the scan counts value fills: none for a Zeek conn projection, one per " +
       "non-null map cell") {
    val zeekPath = java.nio.file.Files.createTempFile("graft-conn-fills", ".log")
    java.nio.file.Files.write(zeekPath, (Seq(
      "#separator \\x09", "#set_separator\t,", "#empty_field\t(empty)", "#unset_field\t-",
      "#path\tconn",
      "#fields\tts\tuid\torig_h\torig_p\tresp_h\tresp_p\tproto\tservice\tduration\t" +
        "orig_bytes\tresp_bytes\tconn_state",
      "#types\ttime\tstring\taddr\tport\taddr\tport\tenum\tstring\tinterval\tcount\t" +
        "count\tstring") ++
      (0 until 50).map { i =>
        val bytes = if (i % 9 == 0) "-" else (i * 1000L).toString
        s"1700000000.${"%06d".format(i)}\tC$i\t10.0.0.${i % 250}\t${1024 + i}\t" +
          s"52.85.0.$i\t443\t${Seq("tcp", "udp", "icmp")(i % 3)}\tssl\t0.5\t$bytes\t" +
          s"${i * 7}\tSF"
      }).mkString("", "\n", "\n").getBytes("UTF-8"))
    val zngPath = tmp("conn-fills")
    ZngIO.write(graft.sources.ZeekIO.read(spark, zeekPath.toString), zngPath)
    val conn = ZngIO.read(spark, zngPath).select("uid", "orig_h", "orig_bytes", "proto")
    assert(valueFills(conn) == 0L)
    assert(conn.filter(col("orig_bytes").isNull).count() == 6)

    val mapPath = tmp("map-fills")
    ZngIO.write(spark.range(0, 30).selectExpr("id",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE map(concat('k', id % 4), id) END AS m"), mapPath)
    val maps = ZngIO.read(spark, mapPath).select("m")
    assert(valueFills(maps) == 20L)
    assert(maps.filter(col("m").isNotNull).count() == 20)
  }

  test("a huge multi-stream file splits at EOS boundaries across tasks") {
    val path = tmp("split")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    // one FILE holding 6 independent concatenated streams (cat a.zng
    // b.zng … — also the shape a long-running writer produces)
    val out = new java.io.ByteArrayOutputStream()
    for (k <- 0 until 6) {
      val vals = (k * 1000 until (k + 1) * 1000).map(i =>
        graft.sources.ZsonParser.parseAll(s"""{id:$i,s:"v$i"}""").head)
      out.write(ZngIO.encodeTypedStream(vals))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "big.zng"), out.toByteArray)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    try {
      val back = ZngIO.read(spark, path)
      assert(back.rdd.getNumPartitions > 1,
        s"expected >1 split, got ${back.rdd.getNumPartitions}")
      assert(back.count() == 6000)
      assert(back.agg(sum("id")).collect()(0).getLong(0) == (0L until 6000L).sum)
      assert(back.filter(col("s") === "v4321").count() == 1)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("zng scans report statistics so small dims broadcast in joins") {
    val path = tmp("stats")
    val dim = spark.range(0, 100).selectExpr("id as k", "concat('n', id) as name")
    ZngIO.write(dim, path)
    val fact = spark.range(0, 200000).selectExpr("id", "id % 100 as k")
    val joined = fact.join(ZngIO.read(spark, path).drop("__type"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(1000))
  }

  test("count(*) pushes down to discovery metadata (no data re-read)") {
    val path = tmp("countpush")
    val df = spark.range(0, 12345).repartition(4)
      .selectExpr("id", "concat('v', id) as s")
    ZngIO.write(df, path)
    val back = ZngIO.read(spark, path)
    val agg = back.agg(count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("count pushdown"),
      agg.queryExecution.executedPlan.toString.take(600))
    assert(agg.collect()(0).getLong(0) == 12345L)
    assert(back.count() == 12345L)
    // a residual filter blocks the pushdown and still counts correctly
    val filtered = back.filter(col("s") =!= "v1").agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("count pushdown"))
    assert(filtered.collect()(0).getLong(0) == 12344L)
  }

  test("frame prefilter is NOT derived from enum, ip, or tag columns " +
       "(their bytes aren't raw in the values frame)") {
    val path = tmp("prefilter-enum")
    val vals = Seq(
      "{s:\"keepme\",e:\"red\"(enum(red,green)),a:1.2.3.4}",
      "{s:\"other\",e:\"green\"(enum(red,green)),a:5.6.7.8}")
      .map(l => new graft.sources.ZsonParser(l).parseOne())
    val df0 = graft.sources.ZsonReader.fromValues(spark, vals, tag = false)
    ZngIO.write(df0, path)
    spark.conf.set("graft.zng.prefilter", "true")
    try {
      // enum symbol + ip text never appear in the values frame — these
      // MUST still return their rows (excluded from pattern derivation)
      assert(ZngIO.read(spark, path).filter(col("e") === "red").count() == 1)
      assert(ZngIO.read(spark, path).filter(col("a") === "1.2.3.4").count() == 1)
      // and a genuine string predicate still both prunes and matches
      assert(ZngIO.read(spark, path).filter(col("s") === "keepme").count() == 1)
    } finally spark.conf.unset("graft.zng.prefilter")
  }

  test("tagged fast writer emits UNSIGNED minimal-LE bytes for uintN and " +
       "IEEE half bits for float16 (zcode EncodeUint — no zigzag)") {
    import graft.sources.ZType
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def bytesOf(zt: ZType, dt: DataType, v: Any): Seq[Byte] = {
      val enc = ZngIO.shapeFieldEncoder(zt, dt)
        .getOrElse(fail(s"no fast encoder for ($zt, $dt)"))
      val buf = new ZngIO.ByteBuf(16)
      enc(buf, new GenericInternalRow(Array[Any](v)), 0)
      buf.toByteArray.toSeq
    }
    // uint 1 → counted tag 2, byte 0x01 (zigzag would write 0x02)
    assert(bytesOf(ZType.Prim("uint64"), LongType, 1L) == Seq[Byte](2, 1))
    assert(bytesOf(ZType.Prim("uint32"), LongType, 1L) == Seq[Byte](2, 1))
    assert(bytesOf(ZType.Prim("uint16"), IntegerType, 300) == Seq[Byte](3, 0x2c, 1))
    assert(bytesOf(ZType.Prim("uint8"), ShortType, 200.toShort) ==
      Seq[Byte](2, 200.toByte))
    assert(bytesOf(ZType.Prim("uint64"), LongType, 0L) == Seq[Byte](1)) // minimal
    // float16 1.5 → half bits 0x3e00, 2-byte LE
    assert(bytesOf(ZType.Prim("float16"), FloatType, 1.5f) ==
      Seq[Byte](3, 0x00, 0x3e))
    assert(bytesOf(ZType.Prim("float16"), DoubleType, 1.5d) ==
      Seq[Byte](3, 0x00, 0x3e))
    // e2e: tagged frame with uint shapes round-trips values exactly
    val vals = Seq("{a:200(uint8),b:70000(uint32),c:5(uint64)}",
                   "{a:17(uint8),b:1(uint32),c:18446744073709551615(uint64)}")
      .map(l => new graft.sources.ZsonParser(l).parseOne())
    val df = graft.sources.ZsonReader.fromValues(spark, vals, tag = true)
    val path = tmp("tagged-uint")
    ZngIO.write(df, s"$path/u.zng")
    val back = graft.sources.ZsonIO.toZson(ZngIO.read(spark, s"$path/u.zng"))
      .collect().toSeq.sorted
    assert(back == Seq(
      "{a:17(uint8),b:1(uint32),c:18446744073709551615(uint64)}",
      "{a:200(uint8),b:70000(uint32),c:5(uint64)}"))
  }

  // ---- writer routes: each writes one fixed frame, its bytes pinned ----

  private def taggedFastFrame(n: Int) = graft.sources.ZsonReader.fromValues(spark,
    zvals((0 until n).map { i =>
      if (i % 3 == 0) f"""{b:$i%d(int32),ip:10.0.${i % 256}%d.1,t:2024-01-01T00:00:${i % 60}%02dZ}"""
      else s"""{a:$i,s:"x${i % 100}"}"""
    }), tag = true)

  // map and union fields don't compile to the typed field encoders
  private def taggedSlowFrame(n: Int) = graft.sources.ZsonReader.fromValues(spark,
    zvals((0 until n).map { i =>
      if (i % 2 == 0) s"""{m:|{"k${i % 10}":$i}|,u:$i((int64,string))}"""
      else s"""{a:$i,u:"s$i"((int64,string))}"""
    }), tag = true)

  private def pinRoute(name: String, df: org.apache.spark.sql.DataFrame,
      rows: Int, digest: String): Array[Byte] = {
    val bytes = writtenPart(df, name)
    assert(ZngIO.decodeToZson(bytes).size == rows)
    assert(sha256(bytes) == digest, name)
    bytes
  }

  private def valuesFrames(bytes: Array[Byte]): Int =
    frameCodes(bytes).count(c => ((c >> 4) & 3) == 1)

  test("writer route pin: untagged frame (several values frames)") {
    val bytes = pinRoute("untagged", spark.range(0, 30000).selectExpr(
      "id", "concat('s', id % 1000) as s", "cast(id as double) / 3 as d",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE array(id, id + 1) END as a",
      "named_struct('x', id, 'y', concat('y', id % 10)) as r",
      "timestamp_seconds(id) as ts"), 30000,
      "432fa26412e4ca8bc7d04713c29d165722d59c18aaf16fc8aadaa601c6800825")
    assert(valuesFrames(bytes) > 1)
  }

  test("writer route pin: tagged frame on the typed fast encoders") {
    pinRoute("tagged-fast", taggedFastFrame(30000), 30000,
      "f0f60ed576575c72203dc1d1600f8a9f543363058691aa6c5b6417dcd021f953")
  }

  test("writer route pin: tagged frame on the value-model route (map, union)") {
    pinRoute("tagged-slow", taggedSlowFrame(3000), 3000,
      "c9bbf908584eec8a61bdf809ce6c5a2ca8325d8eef4268dd738014ee9693fcb1")
  }

  test("writer route pin: untagged frame with a runtime-typed column") {
    val df = graft.sources.ZsonReader.fromValues(spark, zvals((0 until 3000).map(i =>
      if (i % 2 == 0) s"""{a:$i,b:"x$i"}""" else s"""{a:"s$i",b:"y"}""")), tag = false)
    assert(df.schema.fields.exists(f => graft.sources.ZsonIO.isVariantType(f.dataType)))
    pinRoute("runtime", df, 3000,
      "a42e98090f19f9573d30a4bb750403ad8b755aa62211546358732431f81d82e6")
  }

  test("writer route pin: this-only frame writes bare values") {
    val bytes = writtenPart(spark.range(0, 3000).selectExpr("concat('v', id) as this"), "bare")
    assert(ZngIO.decodeToZson(bytes).take(2).toSeq == Seq("\"v0\"", "\"v1\""))
    assert(sha256(bytes) == "9211ae5e6e79afb938959ee62893390f469c8c62dfe91286bdd377d784ea0ae9")
  }

  /** The value-model route's part file: the oracle of the fast route. */
  private def valuesPart(df: org.apache.spark.sql.DataFrame, name: String): Array[Byte] =
    writtenPart(df, name, ZngIO.writeValues)

  private def fastRouteReason(df: org.apache.spark.sql.DataFrame): Either[String, _] =
    ZngIO.shapeEncoders(ZngIO.tagShapes(df.schema), df.schema)

  test("Zeek- and ZNG-sourced frames take the typed fast route, byte-identical " +
       "to the value route (every zeek scalar, id record, sets, vectors, ports)") {
    val zeekPath = java.nio.file.Files.createTempFile("graft-allzeek", ".log")
    java.nio.file.Files.write(zeekPath, Seq(
      "#separator \\x09", "#set_separator\t,", "#empty_field\t(empty)", "#unset_field\t-",
      "#path\tconn",
      "#fields\tts\tuid\tid.orig_h\tid.orig_p\tid.resp_h\tid.resp_p\tdur\tn\ti\tproto\td\tb\tsn\t" +
        "ps\tcs\tas\tvs\tvd",
      "#types\ttime\tstring\taddr\tport\taddr\tport\tinterval\tcount\tint\tenum\tdouble\tbool\t" +
        "subnet\tset[port]\tset[count]\tset[addr]\tvector[string]\tvector[double]",
      "1700000000.000001\tC1\t10.0.0.1\t0\t::1\t80\t1.5\t0\t-1\ttcp\t1.25\tT\t10.0.0.0/8\t" +
        "80,443\t1,2\t10.0.0.1,fe80::1\ta,b\t1.5,2.5",
      "1700000001.500000\tC2\t192.168.1.1\t65535\t2001:db8::1\t70000\t0.000001\t" +
        "9223372036854775807\t-9223372036854775807\tudp\t-0.5\tF\t2001:db8::/32\t" +
        "0,65535,70000\t(empty)\t::ffff:1.2.3.4\t(empty)\t(empty)",
      "1700000002.000000\tC3\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-\t-",
      "1700000003.000000\tC4\t172.16.0.9\t70000\t10.1.1.1\t0\t3600\t255\t256\ticmp\t1e300\tT\t" +
        "192.168.0.0/16\t22,300,513\t18446744\t9.0.0.1,10.0.0.2\tx\\x09y\t-1.0"
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    val fromZeek = graft.sources.ZeekIO.read(spark, zeekPath.toString)
    val zngPath = tmp("allzeek-zng")
    ZngIO.write(fromZeek, zngPath)
    val fromZng = ZngIO.read(spark, zngPath)
    for ((name, df) <- Seq("zeek" -> fromZeek, "zng" -> fromZng)) {
      val route = fastRouteReason(df)
      assert(route.isRight, s"$name: $route")
      val fast = writtenPart(df, s"allzeek-fast-$name")
      assert(sha256(fast) == sha256(valuesPart(df, s"allzeek-values-$name")), name)
      val back = ZngIO.decodeToZson(fast).toSeq
      assert(back.length == 4, name)
      // sets are normalized: sorted by their zcode bytes, not by value
      for (part <- Seq("orig_p:65535", "resp_p:70000", "ps:|[0,65535,70000]|",
          "ps:|[22,513,300]|", "as:|[9.0.0.1,10.0.0.2]|", "sn:2001:db8::/32"))
        assert(back.exists(_.contains(part)), s"$name: $part in $back")
      val rowType = graft.sources.ZType.fullText(
        graft.sources.ZValue.typeOf(ZngIO.decodeToZValues(fast).next()))
      assert(rowType.contains("orig_p:port=uint16"), s"$name: $rowType")
    }
  }

  test("uint64 on the decimal(20,0) carrier writes the value route's bytes " +
       "(0, 1, 255, 256, 2^63-1, 2^63, 2^64-1)") {
    val vals = Seq("0", "1", "255", "256", "9223372036854775807", "9223372036854775808",
      "18446744073709551615")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(v => Row(new java.math.BigDecimal(v))), 1),
      StructType(Seq(StructField("n", DecimalType(20, 0)))))
    val internal = writtenPart(df, "u64-internal")
    assert(sha256(internal) == sha256(valuesPart(df, "u64-values")))
    assert(ZngIO.decodeToZson(internal).toSeq == vals.map(v => s"{n:$v}"))
    assert(ZngIO.decodeToZValues(internal).map(v =>
      graft.sources.ZType.fullText(graft.sources.ZValue.typeOf(v))).toSet == Set("{n:uint64}"))
  }

  test("ip and net cells parse as literals only: no hostname lookup, and both " +
       "routes write the same bytes for a non-literal") {
    for (s <- Seq("1.2.3.4", "0.0.0.0", "255.255.255.255", "::", "::1", "fe80::1",
        "2001:db8::8:800:200c:417a", "1:2:3:4:5:6:7:8", "::ffff:1.2.3.4", "::1.2.3.4",
        "1::", "1:2:3:4:5:6::8", "FE80::A"))
      assert(ZngIO.ipLiteral(s).toSeq == java.net.InetAddress.getByName(s).getAddress.toSeq, s)
    for (s <- Seq("localhost", "", "1.2.3", "1.2.3.4.5", "256.1.1.1", "01.2.3.4", "1.2.3.4 ",
        "abc.def", "1:2:3:4:5:6:7:8:9", "1::2::3", ":1", "1:", "12345::", "1:2:3:4:5:6:7::8"))
      assert(ZngIO.ipLiteral(s) == null, s)
    val df = graft.sources.ZsonReader.fromValues(spark,
      zvals(Seq("{a:10.0.0.1,n:10.0.0.0/8}", "{a:10.0.0.2,n:10.1.0.0/16}")), tag = true)
      .withColumn("a", when(col("a") === "10.0.0.2", lit("localhost")).otherwise(col("a")))
      .withColumn("n", when(col("n") === "10.1.0.0/16", lit("localhost/8")).otherwise(col("n")))
    assert(fastRouteReason(df).isRight)
    val fast = writtenPart(df, "ip-literal-fast")
    assert(sha256(fast) == sha256(valuesPart(df, "ip-literal-values")))
    def has(b: Array[Byte], sub: Array[Byte]) = b.indices.exists(i => b.startsWith(sub, i))
    assert(has(fast, "localhost".getBytes("UTF-8")))
    assert(!has(fast, Array[Byte](127, 0, 0, 1)))
  }

  test("a tagged frame that leaves the fast route says why: shape, field and type pair") {
    val why = fastRouteReason(taggedSlowFrame(10)).left.getOrElse(fail("fast route taken"))
    assert(why.contains("field m:") && why.contains("map<string,bigint>"), why)
    assert(fastRouteReason(taggedFastFrame(10)).isRight)
  }

  test("complex types that differ only in nullability share one typedef") {
    val df = spark.range(0, 3).selectExpr(
      "named_struct('x', id) as r1", "named_struct('x', CASE WHEN id > 0 THEN id END) as r2",
      "array(id) as a1", "array(CASE WHEN id > 0 THEN id END) as a2")
    assert(df.schema("r1").dataType != df.schema("r2").dataType)
    assert(df.schema("a1").dataType != df.schema("a2").dataType)
    val bytes = writtenPart(df, "nullability")
    // 30 = {x:int64}, 31 = [int64], 32 = the row record over them
    val expectedTypes = Seq(0, 1, 1, 'x', 9, 1, 9,
      0, 4, 2, 'r', '1', 30, 2, 'r', '2', 30, 2, 'a', '1', 31, 2, 'a', '2', 31).map(_.toByte)
    assert(ZngIO.parseStream(bytes)._1.toSeq == expectedTypes)
    assert(ZngIO.decodeToZson(bytes).toSeq == Seq(
      "{r1:{x:0},r2:{x:null},a1:[0],a2:[null]}",
      "{r1:{x:1},r2:{x:1},a1:[1],a2:[1]}",
      "{r1:{x:2},r2:{x:2},a1:[2],a2:[2]}"))
    assert(sha256(bytes) == "c1df5452a841e5e27acbddf27168042efd874b2488f958cd53d67577cc95ba1b")
  }

  // ---- readers ----

  private def frameCodes(b: Array[Byte]): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var p = 0
    while (p < b.length) {
      val code = b(p) & 0xff; p += 1
      if (code != 0xff) {
        var len = 0L; var shift = 0; var x = 0
        while ({ x = b(p) & 0xff; p += 1; len |= (x & 0x7fL) << shift; shift += 7; (x & 0x80) != 0 }) ()
        p += ((len << 4) | (code & 0xf)).toInt
        out += code
      }
    }
    out.result()
  }

  test("whole-buffer readers agree on values and types and reject the version bit") {
    import graft.sources.{ZType, ZValue, ZsonParser}
    val lines1 = (0 until 400).map(i =>
      if (i % 4 == 0) s"""{a:$i,s:"the same text in every fourth value"}""" else s"""{a:$i}""")
    val lines2 = Seq("""{a:-1,s:"x"}""") // its type table is a prefix of stream 1's
    val s1 = ZngIO.encodeTypedStream(zvals(lines1))
    // stream 2: one small raw values frame, then a control frame (T=2)
    val s2 = ZngIO.encodeTypedStream(zvals(lines2)).dropRight(1) ++
      Array[Byte](0x23, 0, 'a', 'b', 'c') :+ 0xff.toByte
    assert(frameCodes(s1).exists(c => ((c >> 4) & 3) == 1 && (c & 0x40) != 0), "LZ4 values frame")
    assert(frameCodes(s2).forall(c => (c & 0x40) == 0) && frameCodes(s2).contains(0x23))
    val all = s1 ++ s2

    def typeText(v: ZValue): String = ZType.fullText(ZValue.typeOf(v))
    val expected = zvals(lines1 ++ lines2).map(typeText)
    assert(ZngIO.decodeToZValues(all).map(typeText).toSeq == expected)
    assert(ZngIO.decodeToZson(all).map(l => typeText(new ZsonParser(l).parseOne())).toSeq == expected)
    val (shapes, count, _) = ZngIO.scanMeta(all, 0L)
    assert(count == expected.size && shapes.map(_._1) == expected.distinct)
    // parseStream's output is what the lake re-frames into one stream
    val (typesPayload, slices) = ZngIO.parseStream(all)
    val out = new java.io.ByteArrayOutputStream()
    for ((t, p) <- Seq(0 -> typesPayload, 1 -> slices.flatMap(_._1).toArray)) {
      out.write((t << 4) | (p.length & 0xf)); ZngIO.uvarint(out, (p.length >> 4).toLong)
      out.write(p, 0, p.length)
    }
    out.write(0xff)
    assert(ZngIO.decodeToZValues(out.toByteArray).map(typeText).toSeq == expected)

    val bad = s1 ++ s2.updated(0, (s2(0) | 0x80).toByte)
    intercept[IllegalArgumentException](ZngIO.decodeToZson(bad).size)
    intercept[IllegalArgumentException](ZngIO.decodeToZValues(bad).size)
    intercept[IllegalArgumentException](ZngIO.scanMeta(bad, 0L))
    intercept[IllegalArgumentException](ZngIO.parseStream(bad))
  }

  test("the lake tiebreak sorts on the record-body bytes the writer stores") {
    for ((name, df) <- Seq("fast" -> taggedFastFrame(300), "slow" -> taggedSlowFrame(300))) {
      val one = df.coalesce(1)
      val stored = ZngIO.parseStream(ZngIO.encodeInMemory(one))._2.map { case (slice, n) => slice.takeRight(n).toSeq }
      val tb = graft.sources.ZngBody.tiebreak(one).getOrElse(fail(s"$name: no tiebreak"))
      val keys = one.select(tb).collect().map(r => r.getAs[Array[Byte]](0).toSeq).toSeq
      assert(keys == stored, name)
    }
  }

  test("uint64 above 2^63-1 keeps its exact value through the Decimal " +
       "carrier: zson render, zng round-trip, and sums (value.go uint64)") {
    val spark = GraftSession.local(4)
    try {
      val vals = Seq("18446744073709551615(uint64)", "18446744073709551614(uint64)")
        .map(l => new graft.sources.ZsonParser(l).parseOne())
      val df = graft.sources.ZsonReader.fromValues(spark, vals, tag = true)
      assert(df.schema("this").dataType ==
        org.apache.spark.sql.types.DecimalType(20, 0))
      assert(graft.sources.ZsonIO.toZson(df).collect().toSeq ==
        Seq("18446744073709551615(uint64)", "18446744073709551614(uint64)"))
      // exact arithmetic in the decimal domain (no double rounding)
      val sum = graft.lang.Graft.queryOn(df, "sum(this)")
      assert(graft.sources.ZsonIO.toZson(sum).collect().head.startsWith("36893488147419103229"))
      // zng writer emits real uint64 (type id 3) as BARE values (the
      // this-only frame is the bare-value carrier, zq.md hexdump pin)
      val tmp = java.nio.file.Files.createTempDirectory("graft-u64").toString
      ZngIO.write(df.drop(graft.operators.Het.typeTag), s"$tmp/u.zng")
      val back = ZngIO.read(spark, s"$tmp/u.zng")
      assert(graft.sources.ZsonIO.toZson(back).collect().toSeq.sorted ==
        Seq("18446744073709551614(uint64)", "18446744073709551615(uint64)"))
    } finally spark.stop()
  }

  test("a compressed frame whose stated size is wrong fails as a corrupt zng stream") {
    val vals = (0 until 2000).map(i =>
      graft.sources.ZsonParser.parseAll(f"""{s:"row-$i%05d-padding-padding-padding"}""").head)
    val bytes = ZngIO.encodeTypedStream(vals)
    assert(ZngIO.decodeToZson(bytes).length == 2000)
    // walk the frames to the first compressed one: code byte, length
    // uvarint, then format 0 and the uncompressed size uvarint
    var i = 0
    def uvarint(): Long = {
      var v = 0L; var sh = 0; var b = 0
      do { b = bytes(i) & 0xff; i += 1; v |= (b & 0x7fL) << sh; sh += 7 } while ((b & 0x80) != 0)
      v
    }
    var usizeAt = -1
    while (usizeAt < 0) {
      val code = bytes(i) & 0xff
      i += 1
      val len = ((uvarint() << 4) | (code & 0xf)).toInt
      if ((code & 0x40) != 0) usizeAt = i + 1 else i += len
    }
    val bad = bytes.clone()
    bad(usizeAt) = (bad(usizeAt) ^ 1).toByte // ±1, same varint width
    val e = intercept[IllegalArgumentException](ZngIO.decodeToZson(bad).toList)
    assert(e.getMessage.startsWith("zng: corrupt LZ4 block"), e.getMessage)
  }

  test("decodeToZson renders floats like the ZSON formatter (1e300, 2^63, 2^64, " +
       "-0, float32 3e38)") {
    import graft.sources.ZValue.VFloat
    val f64 = Seq(1e300, -1e300, math.pow(2, 63), math.pow(2, 64), 1e15, 0.5, -0.0)
    val bytes = ZngIO.encodeTypedStream(f64.map(VFloat(_, "float64")))
    val formatted = ZngIO.decodeToZValues(bytes)
      .map(v => graft.sources.ZsonFormatter.format(graft.sources.ZValue.typeOf(v), v)).toSeq
    assert(ZngIO.decodeToZson(bytes).toSeq == formatted)
    assert(formatted.head == "1e+300", formatted.mkString(" "))
    // float32 prints its own shortest digits, not the widened double's
    val f32 = 3e38f.toDouble
    val b32 = ZngIO.encodeTypedStream(Seq(VFloat(f32, "float32")))
    assert(ZngIO.decodeToZson(b32).toSeq == Seq(graft.sources.ZFormat.goG(f32, 32)))
  }
}
