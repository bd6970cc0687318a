package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.VngIO

/** VNG columnar format: header layout, null-run encoding, and full
  * write→read round-trips (reference vng/ v4 architecture).
  */
class VngSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$name")
    p.toFile.deleteOnExit()
    p.resolve("out").toString
  }

  import graft.sources.{ZngIO, ZsonIO, ZsonParser, ZsonReader, ZType, ZValue}

  private def vals(zson: String) = sources.ZsonParser.parseAll(zson).iterator

  private def partFiles(path: String): Seq[java.nio.file.Path] =
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".vng"))
      .map(_.toPath).sortBy(_.getFileName.toString).toSeq

  /** The values of every part file through the reference decoder. */
  private def referenceValues(path: String): Seq[ZValue] =
    partFiles(path).flatMap(f => VngIO.decodeToZValues(java.nio.file.Files.readAllBytes(f)))

  /** The typed frame the reference decoder's values build, independent of
    * the columnar scan.
    */
  private def referenceFrame(path: String) =
    ZsonReader.fromValues(spark, referenceValues(path), tag = true)

  private def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow") && plan.contains("BatchScan vng"), plan.take(800))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("header matches the v4 layout (magic, version, section sizes)") {
    val bytes = VngIO.encodeObject(vals("{a:1}\n{a:2}"))
    assert(bytes(0) == 'V' && bytes(1) == 'N' && bytes(2) == 'G' && bytes(3) == 0)
    assert(bytes(4) == 4) // version 4, little-endian u32
    val lines = VngIO.decodeToZValues(bytes).map(ZValue.zsonText).toSeq
    assert(lines == Seq("{a:1}", "{a:2}"))
  }

  test("metadata is the reference's zson-marshaled tree (named types, ZNG)") {
    // vng/metadata.go + zson/marshal.go StyleSimple: the metadata section
    // is ONE ZNG value whose record types are named Record/Field/Primitive/
    // Segment — the layout a reference-written file carries
    // two distinct values per column → dict-encoded Primitive vectors
    // (a single distinct value would collapse to Const, vng/primitive.go)
    val bytes = VngIO.encodeObject(vals("{a:1,s:\"x\"}\n{a:2,s:\"y\"}"))
    def leLong(off: Int, n: Int): Long =
      (0 until n).map(i => (bytes(off + i) & 0xffL) << (8 * i)).sum
    val metaBytes = java.util.Arrays.copyOfRange(bytes, 24, 24 + leLong(8, 8).toInt)
    val meta = sources.ZngIO.decodeToZValues(metaBytes).toSeq.head
    val t = sources.ZType.fullText(ZValue.typeOf(meta))
    assert(t.startsWith("Record="), t)
    assert(t.contains("Field=") && t.contains("Primitive=") && t.contains("Segment="), t)
    assert(t.contains("Offset:uint64") && t.contains("CompressionFormat:uint8"), t)
    assert(t.contains("DictEntry="), t) // dict vectors like the reference
  }

  test("single-distinct columns collapse to Const; dicts round-trip") {
    // vng/primitive.go: one distinct value → Const (no data bytes);
    // 2..256 distinct → byte-per-row dict vector
    val const = VngIO.decodeToZValues(
      VngIO.encodeObject(vals("{k:\"c\"}\n{k:\"c\"}\n{k:\"c\"}")))
      .map(ZValue.zsonText).toSeq
    assert(const == Seq("{k:\"c\"}", "{k:\"c\"}", "{k:\"c\"}"))
    val dicted = VngIO.decodeToZValues(
      VngIO.encodeObject(vals("{k:\"b\"}\n{k:\"a\"}\n{k:\"b\"}\n{k:\"a\"}")))
      .map(ZValue.zsonText).toSeq
    assert(dicted == Seq("{k:\"b\"}", "{k:\"a\"}", "{k:\"b\"}", "{k:\"a\"}"))
  }

  test("null runs RLE-encode and round-trip") {
    val rows = vals("{a:null(int64),s:\"x\"}\n{a:2,s:null(string)}\n{a:null(int64),s:null(string)}\n{a:4,s:\"y\"}")
    val lines = VngIO.decodeToZValues(VngIO.encodeObject(rows)).map(ZValue.zsonText).toSeq
    assert(lines == Seq("""{a:null,s:"x"}""", "{a:2,s:null}", "{a:null,s:null}", """{a:4,s:"y"}"""))
  }

  test("heterogeneous streams use a Dynamic root; unions/errors survive") {
    val input = "{a:1}\n\"bare\"\n{a:2}\n{u:1((int64,string))}\n{e:error(\"boom\")}"
    val lines = VngIO.decodeToZValues(VngIO.encodeObject(vals(input))).map(ZValue.zsonText).toSeq
    assert(lines == Seq("{a:1}", "\"bare\"", "{a:2}", "{u:1}", "{e:error(\"boom\")}"))
  }

  test("round-trips real tables with nested structs and arrays") {
    val df = GraftSession.table(spark, dir, "orders").limit(300)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus"), col("o_totalprice")).as("info"),
        array(col("o_custkey"), col("o_orderkey") * 2).as("ks"))
    val path = tmp("vng")
    VngIO.write(df, path)
    val back = VngIO.read(spark, path)
    assert(back.count() == 300)
    assert(back.select(sum("info.o_totalprice")).collect()(0).getDouble(0) ==
      df.select(sum("info.o_totalprice")).collect()(0).getDouble(0))
    assert(back.select(sum(element_at(col("ks"), 2))).collect()(0).getLong(0) ==
      df.select(sum(col("o_orderkey") * 2)).collect()(0).getLong(0))
  }

  test("columnar layout: per-column segments allow independent decode") {
    // documents at sf0.001: mixed types incl. long text — full fidelity
    val docs = GraftSession.table(spark, dir, "documents").limit(100)
    val path = tmp("vng-docs")
    VngIO.write(docs, path)
    val back = VngIO.read(spark, path)
    assert(back.count() == 100)
    val a = back.agg(sum(length(col("text"))), sum("n_chars")).collect()(0)
    val b = docs.agg(sum(length(col("text"))), sum("n_chars")).collect()(0)
    assert(a == b)
  }

  test("pruned DSv2 scan matches the full-decode fallback exactly") {
    val df = GraftSession.table(spark, dir, "orders").limit(200)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        struct(col("o_totalprice"), col("o_orderpriority")).as("info"),
        array(col("o_orderkey"), col("o_custkey")).as("ks"))
    val path = tmp("vng-prune")
    VngIO.write(df, path)
    val fast = VngIO.read(spark, path)
    // the scan must be the DSv2 pruned one, not the fallback
    assert(fast.queryExecution.executedPlan.toString.contains("vng files="),
      fast.queryExecution.executedPlan.toString.take(500))
    // the fallback: the reference decoder's values, framed independently
    val slow = referenceFrame(path)
    assert(slow.schema == fast.schema)
    val a = fast.orderBy("o_orderkey").collect().toSeq
    val b = slow.orderBy("o_orderkey").collect().toSeq
    assert(a == b)
  }

  test("column pruning reaches the segment reader (plan + schema pin)") {
    val df = GraftSession.table(spark, dir, "lineitem").limit(500)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"), col("l_quantity"))
    val path = tmp("vng-cut")
    VngIO.write(df, path)
    val cut = VngIO.read(spark, path).select(col("l_orderkey"))
    val plan = cut.queryExecution.executedPlan.toString
    // the scan's description lists exactly the columns it will fetch
    assert(plan.contains("columns=l_orderkey"), plan.take(800))
    assert(!plan.contains("l_shipdate"), plan.take(800))
    assert(cut.agg(sum("l_orderkey")).collect()(0).getLong(0) ==
      df.agg(sum("l_orderkey")).collect()(0).getLong(0))
    // count()-class: no data columns at all — metadata-only scan
    assert(VngIO.read(spark, path).count() == 500)
  }

  test("vectorized columnar scan matches the row reader on primitive projections") {
    val df = GraftSession.table(spark, dir, "lineitem").limit(800)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"),
        col("l_quantity"), col("l_returnflag"))
    val path = tmp("vng-vec")
    VngIO.write(df, path)
    val vec = VngIO.read(spark, path)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    assert(vec.queryExecution.executedPlan.toString.contains("vectorized"),
      vec.queryExecution.executedPlan.toString.take(600))
    assertColumnar(vec)
    // the row reader: the reference decoder's values, framed independently
    val rowData = referenceFrame(path)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_quantity", "l_returnflag").collect().toSeq
    assert(vec.orderBy("l_orderkey", "l_quantity", "l_returnflag").collect().toSeq ==
      rowData)
    // aggregation over the vectorized scan (nulls, sums) stays exact
    val a = vec.agg(sum("l_orderkey"), sum("l_quantity")).collect()(0)
    val b = df.agg(sum("l_orderkey"), sum("l_quantity")).collect()(0)
    assert(a == b)
  }

  test("HETEROGENEOUS (Dynamic-root) streams vectorize: per-member fills " +
       "interleaved by the tags stream match the row reader exactly") {
    import graft.operators.Het
    // two shapes sharing ts, each with its own extra column; interleaved
    // writes produce Dynamic roots with non-trivial tag runs
    val conn = spark.range(0, 900).select(
      (col("id") * 3).as("ts"), concat(lit("u"), col("id")).as("uid"),
      (col("id") % 7).as("rcode"))
    val dns = spark.range(0, 300).select(
      (col("id") * 5 + 1).as("ts"), concat(lit("q"), col("id")).as("query"))
    val path = tmp("vng-vec-het")
    VngIO.write(Het.fuseTagged(conn, dns).coalesce(2), path)
    def q() = VngIO.read(spark, path)
      .select(col("ts"), col("uid"), col("query"), col(Het.typeTag))
    val vec = q()
    assert(vec.queryExecution.executedPlan.toString.contains("vectorized"),
      vec.queryExecution.executedPlan.toString.take(600))
    assertColumnar(vec)
    val rowData = referenceFrame(path)
      .select(col("ts"), col("uid"), col("query"), col(Het.typeTag))
      .orderBy("ts").collect().toSeq
    assert(vec.orderBy("ts").collect().toSeq == rowData)
    // missing-in-shape columns are null per member, tags carry shape text
    assert(vec.filter(col("query").isNotNull && col("uid").isNotNull).count() == 0)
    assert(vec.select(col(Het.typeTag)).distinct().count() == 2)
    // a variant (cross-shape conflict) column is columnar too
    val confl = spark.range(0, 50).select(col("id").as("ts"),
      concat(lit("s"), col("id")).as("rcode"))
    val path2 = tmp("vng-vec-het-confl")
    VngIO.write(Het.fuseTagged(conn, confl), path2)
    val v2 = VngIO.read(spark, path2).select(col("ts"), col("rcode"))
    assert(graft.sources.ZsonIO.isVariantType(v2.schema("rcode").dataType))
    assertColumnar(v2)
    assert(sortedRows(v2) == sortedRows(referenceFrame(path2).select(col("ts"), col("rcode"))))
  }

  test("NAMED record roots vectorize (unwrap to the record, keep the named tag)") {
    import graft.sources.{ZType, ZValue}
    val recT = ZType.Rec(Vector("a" -> ZType.Prim("int64"), "s" -> ZType.Prim("string")))
    val vals: Iterator[ZValue] = (0 until 500).iterator.map { i =>
      ZValue.VTyped(ZValue.VRec(Vector(
        "a" -> ZValue.VInt(i.toLong, "int64"),
        "s" -> ZValue.VStr("x" + i))), ZType.Named("conn", recT))
    }
    val bytes = VngIO.encodeObject(vals)
    val dir = tmp("vng-named")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00000.vng"), bytes)
    val vec = VngIO.read(spark, dir).select(col("a"), col("s"))
    // the named root's member must unwrap to its record when the fills
    // are built, not only in the shape text
    assert(vec.queryExecution.executedPlan.toString.contains("vectorized"),
      vec.queryExecution.executedPlan.toString.take(600))
    val vecData = vec.orderBy("a").collect().toSeq
    // the reference decoder's values, framed independently
    val rowData = referenceFrame(dir).select(col("a"), col("s")).orderBy("a").collect().toSeq
    assert(vecData == rowData)
    assert(vecData.length == 500)
  }

  test("vectorized scan covers nested structs and maps") {
    val df = GraftSession.table(spark, dir, "orders").limit(100)
      .select(col("o_orderkey"),
        struct(col("o_totalprice"), struct(col("o_custkey")).as("deep")).as("info"))
    val path = tmp("vng-vec-struct")
    VngIO.write(df, path)
    val q = VngIO.read(spark, path)
    // struct columns vectorize (StructVFill fills the child vectors)
    assert(q.queryExecution.executedPlan.toString.contains("vectorized"),
      q.queryExecution.executedPlan.toString.take(600))
    assert(q.agg(sum("info.deep.o_custkey")).collect()(0).getLong(0) ==
      df.agg(sum("info.deep.o_custkey")).collect()(0).getLong(0))
    // a MAP column fills the map vector's key and value children
    val mdf = GraftSession.table(spark, dir, "orders").limit(50)
      .select(col("o_orderkey"),
        map(lit("p"), col("o_totalprice")).as("m"))
    val mpath = tmp("vng-vec-map")
    VngIO.write(mdf, mpath)
    val mq = VngIO.read(spark, mpath)
    assert(mq.schema("m").dataType.isInstanceOf[MapType], mq.schema.treeString)
    assertColumnar(mq)
    assert(sortedRows(mq) == sortedRows(referenceFrame(mpath)))
    assert(mq.count() == 50)
  }

  test("vectorized scan handles null runs exactly") {
    import spark.implicits._
    val df = spark.range(0, 1000).selectExpr(
      "id",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('s', id) END AS s",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE cast(id as double)/3 END AS d",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE array(id, id * 2) END AS ar")
    val path = tmp("vng-vec-null")
    VngIO.write(df, path)
    val back = VngIO.read(spark, path)
    assert(back.queryExecution.executedPlan.toString.contains("vectorized"))
    assert(back.filter(col("s").isNull).count() == df.filter(col("s").isNull).count())
    assert(back.filter(col("d").isNull).count() == df.filter(col("d").isNull).count())
    assert(back.filter(col("ar").isNull).count() == df.filter(col("ar").isNull).count())
    val a = back.agg(sum("d"), count("s"),
      sum(element_at(col("ar"), 2))).collect()(0)
    val b = df.agg(sum("d"), count("s"),
      sum(element_at(col("ar"), 2))).collect()(0)
    assert(a == b)
  }

  test("count(*) pushes down to the metadata section") {
    val df = GraftSession.table(spark, dir, "orders").limit(400)
      .select(col("o_orderkey"), col("o_custkey"))
    val path = tmp("vng-count")
    VngIO.write(df, path)
    val agg = VngIO.read(spark, path).agg(count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("count-pushdown"),
      agg.queryExecution.executedPlan.toString.take(600))
    assert(agg.collect()(0).getLong(0) == 400L)
  }

  test("meta-only discovery escalates sub-µs times to the ns carrier") {
    val path = tmp("vng-ns")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val bytes = VngIO.encodeObject(vals(
      "{ts:2024-01-01T00:00:00.000000001Z,v:1}\n{ts:2024-01-01T00:00:00.5Z,v:2}"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "part-0.vng"), bytes)
    val back = VngIO.read(spark, path)
    assert(back.schema("ts").dataType == LongType, back.schema.treeString)
    val tss = back.orderBy("v").select("ts").collect().map(_.getLong(0)).toSeq
    assert(tss.head % 1000L == 1L) // the sub-µs nanosecond survived
  }

  test("heterogeneous VNG with bare values falls back to full decode and fuses") {
    val path = tmp("vng-het")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val bytes = VngIO.encodeObject(vals("{a:1}\n\"bare\"\n{a:2,b:\"x\"}"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "part-0.vng"), bytes)
    val back = VngIO.read(spark, path)
    assert(back.count() == 3)
    assert(back.columns.contains("a"))
  }

  test("heterogeneous all-record VNG takes the PRUNED DSv2 scan, matches " +
       "the full-decode fallback, and interleaves by the Dynamic tags") {
    val path = tmp("vng-het-rec")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    // three shapes incl. a type-conflicting column (n: int64 vs string →
    // variant in the merged frame) and a shape-local column
    val input = "{a:1,n:10}\n{a:2,n:\"twenty\"}\n{a:3,n:30,extra:1.5}\n" +
      "{a:4,n:40}\n{a:5,n:\"fifty\"}"
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "part-0.vng"),
      VngIO.encodeObject(vals(input)))
    val fast = VngIO.read(spark, path)
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("vng files=1 shapes=3"), plan.take(500))
    // the fallback: the reference decoder's values and their ZSON text
    assert(fast.schema == referenceFrame(path).schema)
    val a = graft.sources.ZsonIO.toZson(fast).collect().toSeq
    val b = referenceValues(path).map(ZValue.zsonText)
    assert(a == b)
    // stream order survives the tag interleave
    assert(a == input.linesIterator.toSeq)
    // projection of one column still prunes (description lists only it)
    val cut = fast.select("a")
    val cutPlan = cut.queryExecution.executedPlan.toString
    assert(cutPlan.contains("columns=a"), cutPlan.take(500))
    assert(!cutPlan.contains("extra"), cutPlan.take(500))
    assert(cut.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // count(*) still answers from metadata
    assert(fast.count() == 5)
  }

  test("empty directory reads as an empty frame; a truncated file " +
       "surfaces the reference's raw EOF (vng/object.go ReadHeader)") {
    val empty = tmp("vng-empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    assert(VngIO.read(spark, empty).count() == 0)
    val short = tmp("vng-short")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(short))
    java.nio.file.Files.write(java.nio.file.Paths.get(short, "p.vng"),
      Array[Byte]('V', 'N', 'G'))
    val e = intercept[Exception](VngIO.read(spark, short).count())
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.toString :: chain(t.getCause)
    // a file shorter than the fixed header is a raw EOF in the reference
    // reader (vng/object.go ReadHeader), not a "not a VNG file" error
    assert(chain(e).exists(_.contains("EOF")), chain(e).mkString(" | "))
  }

  test("embeddings (float arrays) survive exactly") {
    val emb = GraftSession.table(spark, dir, "embeddings").limit(50)
    val path = tmp("vng-emb")
    VngIO.write(emb, path)
    val back = VngIO.read(spark, path)
    // float-array columns take the vectorized path (ArrayVFill)
    assert(back.queryExecution.executedPlan.toString.contains("vectorized"),
      back.queryExecution.executedPlan.toString.take(600))
    val s1 = back.select(sum(aggregate(col("embedding"), lit(0.0), (a, x) => a + x)))
      .collect()(0).getDouble(0)
    val s2 = emb.select(sum(aggregate(col("embedding").cast("array<double>"), lit(0.0), (a, x) => a + x)))
      .collect()(0).getDouble(0)
    assert(math.abs(s1 - s2) < 1e-6)
  }

  // ---- corrupt objects ------------------------------------------------------

  private def le64(b: Array[Byte], off: Int): Long =
    (0 until 8).map(i => (b(off + i) & 0xffL) << (8 * i)).sum

  private def withHeader(bytes: Array[Byte], metaSize: Long, dataSize: Long): Array[Byte] = {
    val out = bytes.clone()
    ZngIO.leBytes(metaSize, 8).copyToArray(out, 8)
    ZngIO.leBytes(dataSize, 8).copyToArray(out, 16)
    out
  }

  /** Re-encode the object's metadata with `f` applied to every Segment
    * record's fields; the data section is kept as it is.
    */
  private def patchSegments(bytes: Array[Byte])(
      f: Map[String, ZValue] => Map[String, ZValue]): Array[Byte] = {
    import ZValue._
    val (metaSize, dataSize) = (le64(bytes, 8).toInt, le64(bytes, 16))
    def walk(v: ZValue): ZValue = v match {
      case VTyped(VRec(fs), t @ ZType.Named("Segment", _)) =>
        val m = f(fs.toMap)
        VTyped(VRec(fs.map { case (n, _) => n -> m(n) }), t)
      case VTyped(i, t) => VTyped(walk(i), t)
      case VRec(fs) => VRec(fs.map { case (n, x) => n -> walk(x) })
      case VArr(is, set) => VArr(is.map(walk), set)
      case other => other
    }
    val meta = ZngIO.encodeTypedStream(Seq(walk(
      ZngIO.decodeToZValues(java.util.Arrays.copyOfRange(bytes, 24, 24 + metaSize)).next())))
    withHeader(bytes.take(24), meta.length, dataSize) ++ meta ++ bytes.drop(24 + metaSize)
  }

  private def u64(fs: Map[String, ZValue], n: String): Long =
    ZValue.unwrap(fs(n)) match { case ZValue.VUint64(v) => v.toLong; case x => fail(s"$n: $x") }

  /** A one-column object whose values segment is LZ4-compressed (300
    * distinct compressible strings: no dict, no Const).
    */
  private lazy val lz4Object: Array[Byte] = VngIO.encodeObject(
    (0 until 300).iterator.map(i => ZValue.VRec(Vector(
      "s" -> ZValue.VStr(f"row-$i%05d-padding-padding-padding")))))

  /** Every error message of `body`'s failure, through any wrapping job. */
  private def failure(body: => Any): List[String] = {
    def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
    val ts = chain(intercept[Exception](body))
    val iae = ts.collect { case e: IllegalArgumentException => e.getMessage }
    assert(iae.nonEmpty, ts.mkString(" | "))
    iae
  }

  private def writePart(name: String, bytes: Array[Byte]): String = {
    val dir = tmp(name)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.vng"), bytes)
    dir
  }

  test("a metadata size of 2^31 or more is rejected, not wrapped negative") {
    val bytes = VngIO.encodeObject(vals("{a:1}\n{a:2}"))
    val bad = withHeader(bytes, 1L << 31, le64(bytes, 16))
    assert(failure(VngIO.decodeToZValues(bad).toList).exists(_.startsWith("vng: corrupt metadata size")))
    assert(failure(VngIO.read(spark, writePart("vng-meta-wrap", bad)).collect())
      .exists(_.startsWith("vng: corrupt metadata size")))
  }

  test("a metadata size past the end of the file is rejected before any allocation") {
    val bytes = VngIO.encodeObject(vals("{a:1}\n{a:2}"))
    // just under 2 GiB: a positioned read would allocate it all first
    val bad = withHeader(bytes, Int.MaxValue - 64L, le64(bytes, 16))
    assert(failure(VngIO.read(spark, writePart("vng-meta-big", bad)).collect())
      .exists(_.startsWith("vng: corrupt metadata size")))
    assert(failure(VngIO.decodeToZValues(bad).toList).exists(_.startsWith("vng: corrupt metadata size")))
  }

  test("a segment past the data section is rejected") {
    val bad = patchSegments(lz4Object) { fs =>
      fs.updated("Offset", ZValue.VUint64(BigDecimal(le64(lz4Object, 16) + 1)))
    }
    assert(failure(VngIO.decodeToZValues(bad).toList).exists(_.startsWith("vng: corrupt segment")))
    assert(failure(VngIO.read(spark, writePart("vng-seg-past", bad)).collect())
      .exists(_.startsWith("vng: corrupt segment")))
  }

  test("a truncated LZ4 segment fails as a corrupt vng object") {
    var patched = 0
    val bad = patchSegments(lz4Object) { fs =>
      if (ZValue.unwrap(fs("CompressionFormat")) != ZValue.VInt(1, "uint8")) fs
      else {
        patched += 1
        fs.updated("Length", ZValue.VUint64(BigDecimal(u64(fs, "Length") - 1)))
      }
    }
    assert(patched == 1)
    assert(VngIO.decodeToZValues(lz4Object).length == 300)
    assert(failure(VngIO.decodeToZValues(bad).toList).exists(_.startsWith("vng: corrupt LZ4 block")))
    assert(failure(VngIO.read(spark, writePart("vng-lz4-trunc", bad)).collect())
      .exists(_.startsWith("vng: corrupt LZ4 block")))
  }

  test("one columnar scan covers every zed type, named roots, empty " +
       "containers, missing and conflicting columns (Dynamic root)") {
    val maxU64 = BigInt("18446744073709551615")
    // over 256 distinct uint64 values: a plain (not dict) segment
    val lines = (0 until 400).map { i =>
      if (i % 11 == 0) s"{id:$i,y:$i.5}(=named)"
      else if (i % 7 == 0) s"""{id:$i,x:"s$i",t:2024-01-02T00:00:0${i % 10}Z}"""
      else {
        val un = if (i % 2 == 0) s"$i" else s""""u$i""""
        val en = if (i % 3 == 0) "red" else "green"
        s"""{id:$i,x:$i,u:${maxU64 + 1 - i}(uint64),st:|[${i % 3},1,2]|,""" +
          s"""m:|{"a":$i,"b":2}|,nk:|{null:$i}|,un:$un((int64,string)),""" +
          s"""e:error("boom$i"),ty:<int64>,n:10.0.${i % 256}.0/24,""" +
          s"""en:"$en"(enum(red,green)),h:${i % 8}.5(float16),b:0x01${"%02x".format(i % 256)},""" +
          s"""d:${i}s,t:2024-01-01T00:00:00.${"%09d".format(i + 1)}Z,""" +
          s"""ea:[]([int64]),es:|[]|(|[string]|),em:|{}|(|{string:int64}|)}"""
      }
    }
    val bytes = VngIO.encodeObject(vals(lines.mkString("\n")))
    val back = VngIO.read(spark, writePart("vng-all-types", bytes))
    assertColumnar(back)
    assert(back.schema("u").dataType == DecimalType(20, 0), back.schema.treeString)
    // decorated ZSON on both sides: the frame keeps every value's type
    assert(ZsonIO.toZson(back).collect().toSeq == VngIO.decodeToZValues(bytes)
      .map(v => graft.sources.ZsonFormatter.format(ZValue.typeOf(v), v)).toSeq)
    assert(back.agg(max("u")).collect()(0).getDecimal(0).toBigInteger == maxU64.bigInteger)
  }
}
