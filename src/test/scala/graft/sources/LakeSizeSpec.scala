package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.GraftSession

/** The lake's size pass — one in-memory ZNG encode per load, a seek index
  * built on the driver — writes the bytes the ZNG-file size pass it
  * replaced wrote. The expected seek indexes and commit records (minus
  * `id` and `ts`) were captured from that earlier size pass on the same
  * inputs: keyed pools in both orders with null and missing keys, a
  * small seek stride (several windows), µs and ns time keys, an untagged
  * multi-partition frame, a value-model frame (a map field), an unkeyed
  * pool and a body-tiebreak compaction.
  */
class LakeSizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val expected: Map[String, (String, String)] = Map(
    "a1" -> (
      "0e020006036d696e09036d6178090776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "11051e0a0102060102050102411e0d0208020a02050203024102331e0d020a020c02080203027402341e0d020e021202" +
      "0b020302a802331e0d02120214020e020302db02341e0d02160002110207030f01025eff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"0","keymax":"12","shapes":["{k:int64,s:string}","{k:null,s:string}","{s:string,x:float64}"],"rows":24,"bytes":365,"vbytes":143,"wins":"5,26,0,3;3,16,4,5;3,17,5,6;3,16,7,9;3,17,9,10;7,51,11,"}"""),
    "ad" -> (
      "0e020006036d696e09036d6178090776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "11051e0a02140001020801025e1e0d0212021402080203025e02341e0d020c0210020b0203029202331e0d020a020c02" +
      "0e020302c502341e0d020602080211020302f902341e0d01020202140204032d010239ff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"0","keymax":"12","shapes":["{k:int64,s:string}","{k:null,s:string}","{s:string,x:float64}"],"rows":24,"bytes":358,"vbytes":143,"wins":"8,56,10,;3,17,9,10;3,16,6,8;3,17,5,6;3,17,3,4;4,20,0,1"}"""),
    "a2" -> (
      "0e020006036d696e09036d6178090776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "16021e0a0102040102050102541e0d02040206020502030254023e1e0c020600020802040292023aff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"0","keymax":"3","shapes":["{k:null,s:string}","{k:int64,s:string,y:[int64]}"],"rows":12,"bytes":204,"vbytes":102,"wins":"5,48,0,2;3,30,2,3;4,24,3,"}"""),
    "acompact" -> (
      "0e020006036d696e09036d6178090776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "1f071e0a01020201020701026d1e0d0202020402070203026d024b1e0d02060206020a020302b8024b1e0e0206020802" +
      "0d020303030102471e0e020a020c02100203034a0102411e0e020c021002130203038b0102421e0e0212021402160203" +
      "03cd0102411e0e0214021802190203030e0202431e0c0000021c0208035102026eff",
      """{"kind":"commit","branch":"main","author":"compact","message":"compact 2 objects","keymin":"0","keymax":"12","shapes":["{k:int64,s:string}","{k:null,s:string}","{s:string,x:float64}","{k:int64,s:string,y:[int64]}"],"rows":36,"bytes":703,"vbytes":245,"wins":"7,52,0,1;3,26,1,2;3,26,3,3;3,22,3,4;3,16,5,6;3,17,6,8;3,16,9,10;3,18,10,12;8,52,,"}"""),
    "b" -> (
      "0e020006036d696e0d036d61780d0776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "5710009402f2251e110960db0722d2f5702f000102030102481e1b0900c4cf21d2f5702f09b0cfeb21d2f5702f020302" +
      "02024802421e1b09a0ac971c00f20750b8b321d2f5702f02050202028a02421e1b09c010411c00f207f0a07b21d2f570" +
      "2f0207020202cc02421e1c0960f9081c00f20910052521d2f5702f02090202030e0102421e1c0900e2d0207100f21bed" +
      "ec20d2f5702f020b020203500102401e1c09f0be7c20d2f5702f09a0ca9820d2f5702f020d020203901d00c290a74420" +
      "d2f5702f0940b3603a00e20f020203d001023f1e1c0930900c3a00f10de09b2820d2f5702f02110202030f02023e1e1c" +
      "090000d21fd2f5702f0900d0d2f5702f02130201034d02022dff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"2024-03-01T00:00:00Z","keymax":"2024-03-01T00:00:00.019461Z","shapes":["{ts:time,uid:string,n:int64}","{ts:null,uid:string}"],"rows":20,"bytes":634,"vbytes":294,"wins":"3,36,2024-03-01T00%3A00%3A00.018542Z,;2,32,2024-03-01T00%3A00%3A00.016704Z,2024-03-01T00%3A00%3A00.017623Z;2,32,2024-03-01T00%3A00%3A00.014866Z,2024-03-01T00%3A00%3A00.015785Z;2,32,2024-03-01T00%3A00%3A00.012028Z,2024-03-01T00%3A00%3A00.013947Z;2,32,2024-03-01T00%3A00%3A00.01019Z,2024-03-01T00%3A00%3A00.011109Z;2,30,2024-03-01T00%3A00%3A00.008352Z,2024-03-01T00%3A00%3A00.009271Z;2,30,2024-03-01T00%3A00%3A00.005595Z,2024-03-01T00%3A00%3A00.006514Z;2,29,2024-03-01T00%3A00%3A00.003757Z,2024-03-01T00%3A00%3A00.004676Z;2,28,2024-03-01T00%3A00%3A00.001919Z,2024-03-01T00%3A00%3A00.002838Z;1,13,2024-03-01T00%3A00%3A00Z,2024-03-01T00%3A00%3A00Z"}"""),
    "b2" -> (
      "0e020006036d696e0d036d61780d0776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "5907008a01e21e19090000d21fd2f5702f09d2070900b30102020102271e1b09a40f1a002276171a00d2020202020227" +
      "02281e1b09481f1300f307091a27d21fd2f5702f02040202024f02281e1b09ec2e1c0022be360900d002060202027702" +
      "281e1b09903e130050702f0962460900a0702f02080202029f0228ff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"2024-03-01T00:00:00Z","keymax":"2024-03-01T00:00:00.000009009Z","shapes":["{ts:time,v:int64}"],"rows":10,"bytes":199,"vbytes":109,"wins":"2,21,2024-03-01T00%3A00%3A00Z,2024-03-01T00%3A00%3A00.000001001Z;2,22,2024-03-01T00%3A00%3A00.000002002Z,2024-03-01T00%3A00%3A00.000003003Z;2,22,2024-03-01T00%3A00%3A00.000004004Z,2024-03-01T00%3A00%3A00.000005005Z;2,22,2024-03-01T00%3A00%3A00.000006006Z,2024-03-01T00%3A00%3A00.000007007Z;2,22,2024-03-01T00%3A00%3A00.000008008Z,2024-03-01T00%3A00%3A00.000009009Z"}"""),
    "c" -> (
      "0e020006036d696e09036d6178090776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "5a09009801f3501e0a020c0001020801023f1e0d020a020c02080202023f021d1e0d020a020a020a0202025c021d1e0d" +
      "02080208020c02020279021d1e0d02060208020e02020296021b1e0d020602060210020202b1021d1e0d020402040212" +
      "020202ce021b0e00f02314020202e9021d1e0e0202020202160202030601021c1e0e0202020202180202032201021c1e" +
      "0c0101021a0204033e010228ff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"0","keymax":"6","rows":30,"bytes":358,"vbytes":160,"wins":"8,39,6,;2,12,5,6;2,12,5,5;2,12,4,4;2,10,3,4;2,12,3,3;2,10,2,2;2,12,2,2;2,11,1,1;2,11,1,1;4,19,0,0"}"""),
    "d" -> (
      "0e020006036d696e19036d6178190776616c5f6f6666030776616c5f636e7403066f666673657403066c656e67746803" +
      "1e021e0d03613003613501020301022d1e0f03613803623402030203022d022e1e0f03623603633702060203025b022e" +
      "ff",
      """{"kind":"commit","branch":"main","author":"graft","message":"","keymin":"a0","keymax":"c7","shapes":["{k:string,m:|{string:int64}|}"],"rows":9,"bytes":137,"vbytes":71,"wins":"3,23,a0,a5;3,24,a8,b4;3,24,b6,c7"}"""),
    "f" -> (
      "-",
      """{"kind":"commit","branch":"main","author":"graft","message":"","shapes":["{k:int64,s:string}","{k:null,s:string}","{s:string,x:float64}"],"rows":24,"bytes":220,"vbytes":143,"wins":"24,143,,"}""")
  )

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  /** `root`'s commit record of `id` without its `id` and `ts`, and the
    * object's seek index in hex ("-" when it has none).
    */
  private def committed(root: String, pool: String, id: String): (String, String) = {
    val journal = new String(Files.readAllBytes(Paths.get(root, pool, "commits.jsonl")), "UTF-8")
    val record = journal.split("\n").find(_.contains(s""""id":"$id"""")).get
      .replaceAll(""""id":"[^"]*",""", "").replaceAll(""","ts":\d+""", "")
    val seekFile: Path = Paths.get(root, pool, "data", s"$id-seek.zng")
    (if (Files.exists(seekFile)) hex(Files.readAllBytes(seekFile)) else "-", record)
  }

  private val aLines = (0 until 24).map { i =>
    if (i % 7 == 3) s"""{k:null,s:"n$i"}"""
    else if (i % 11 == 5) s"""{s:"m$i",x:1.5}"""
    else s"""{k:${(i * 5) % 13},s:"r$i"}"""
  }
  private val a2Lines = (0 until 12).map { i =>
    if (i % 5 == 0) s"""{k:null,s:"q$i"}""" else s"""{k:${i % 4},s:"t$i",y:[$i,2]}"""
  }
  private val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
  private val bLines = (0 until 20).map { i =>
    if (i == 7) s"""{ts:null,uid:"u$i"}"""
    else s"""{ts:${t0.plusNanos(i * 1000000L + (i * 7919 % 1000) * 1000L)},uid:"u$i",n:${i * 37}}"""
  }
  private val b2Lines = (0 until 10).map(i => s"""{ts:${t0.plusNanos(i * 1000L + i)},v:$i}""")
  private val dLines = (0 until 9).map(i => s"""{k:"${"abcab"(i % 5)}$i",m:|{"x":$i}|}""")

  /** Loads every ZSON fixture, each frame built by `read` from its lines,
    * and checks each commit against `expected`; `load` runs one load.
    */
  private def checkZsonFixtures(root: String, read: Seq[String] => org.apache.spark.sql.DataFrame)(
      load: (=> String) => String): Unit = {
    def check(name: String, pool: String, id: String): Unit =
      assert(committed(root, pool, id) == expected(name), name)
    Lake.create(root, "a", Some("k"), "asc", seekStride = 3L)
    val a1 = load(Lake.load(read(aLines), root, "a"))
    check("a1", "a", a1)
    Lake.create(root, "ad", Some("k"), "desc", seekStride = 3L)
    check("ad", "ad", load(Lake.load(read(aLines), root, "ad")))
    val a2 = load(Lake.load(read(a2Lines), root, "a"))
    check("a2", "a", a2)
    // compaction: equal keys order by their ZNG body bytes
    check("acompact", "a", Lake.compactIds(spark, root, "a", Seq(a1, a2)))
    Lake.create(root, "b", Some("ts"), "desc", seekStride = 16L)
    check("b", "b", load(Lake.load(read(bLines), root, "b")))
    // sub-µs times ride the ns-long carrier; the seek index still types
    // its bounds time (0x0d), like zed's — this one pin is not the old pass's
    Lake.create(root, "b2", Some("ts"), "asc", seekStride = 9L)
    check("b2", "b2", load(Lake.load(read(b2Lines), root, "b2")))
    Lake.create(root, "d", Some("k"), "asc", seekStride = 5L)
    check("d", "d", load(Lake.load(read(dLines), root, "d")))
    Lake.create(root, "f", None)
    check("f", "f", load(Lake.load(read(aLines), root, "f")))
  }

  test("a load's seek index and commit record match the bytes the ZNG-file size pass wrote") {
    val tmp = Files.createTempDirectory("graft-lakesize")
    var files = 0
    def zson(lines: Seq[String]): String = {
      files += 1
      val p = tmp.resolve(s"$files.zson")
      Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      p.toString
    }
    val root = tmp.resolve("lake").toString
    checkZsonFixtures(root, lines => ZsonIO.read(spark, zson(lines)))(id => id)

    import org.apache.spark.sql.functions._
    val c = spark.range(0, 30, 1, 3).select(
      when(col("id") % 5 =!= 0, col("id") % 7).as("k"),
      concat(lit("r"), col("id").cast("string")).as("s"))
    Lake.create(root, "c", Some("k"), "desc", seekStride = 2L)
    val cId = Lake.load(c, root, "c")
    assert(committed(root, "c", cId) == expected("c"), "c")

    // the ctrl QueryStats count through the same encode
    assert(Lake.bodyStats(ZsonIO.read(spark, zson(aLines ++ dLines))) == ((33L, 214L)))
  }

  test("a load of driver-held rows sizes on the driver and writes the same bytes") {
    val root = Files.createTempDirectory("graft-lakesize-local").resolve("lake").toString
    // the size pass and the seek index run no job: the write is the one
    checkZsonFixtures(root, lines => ZsonReader.fromText(spark, lines.mkString("", "\n", "\n"))) { load =>
      var id = ""
      val seen = graft.SparkJobs.during(spark) { id = load }
      assert(seen.jobs == 1, s"a load of driver-held rows ran ${seen.jobs} Spark jobs")
      id
    }
  }

  test("a driver-held frame encodes the stream and probes a distributed frame of its rows gives") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{asc, asc_nulls_last, col, desc_nulls_first}
    val local = ZsonReader.fromText(spark, aLines.mkString("\n"))
    val spread = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 3), local.schema)
    assert(spread.rdd.getNumPartitions == 3)
    def encode(df: org.apache.spark.sql.DataFrame, order: Column) = {
      val width = df.schema.length
      val sorted = df.coalesce(1).sortWithinPartitions(order)
        .select(col("*"), col("k").cast("string"))
      var out: (Array[Byte], Array[String]) = null
      val jobs = graft.SparkJobs.during(spark) {
        out = ZngIO.encodeInMemory(sorted, width)(r =>
          if (r.isNullAt(width)) "" else r.getUTF8String(width).toString)
      }.jobs
      (hex(out._1), out._2.toSeq, jobs)
    }
    // equal and null keys: Spark's radix sort of a long key, and its
    // stable sort of a string key
    for (order <- Seq(asc_nulls_last("k"), desc_nulls_first("k"), asc("s"),
        col("k").cast("string").asc)) {
      val (localStream, localProbes, localJobs) = encode(local, order)
      val (spreadStream, spreadProbes, spreadJobs) = encode(spread, order)
      assert((localJobs, spreadJobs) == ((0, 1)), order)
      assert(localStream == spreadStream, order)
      assert(localProbes == spreadProbes && localProbes.length == 24, order)
    }
  }

  test("compaction gives an untagged object's rows their own shape and keeps the exact size") {
    val root = Files.createTempDirectory("graft-lakesize-mixed").resolve("lake").toString
    val tag = graft.operators.Het.typeTag
    // compact (a branch's scan) and manage (a run of objects by id)
    for ((pool, compact) <- Seq[(String, () => Unit)](
        "k" -> (() => Lake.compact(spark, root, "k"): Unit),
        "m" -> (() => Lake.manage(spark, root, "m")))) {
      Lake.create(root, pool, Some("id"), "asc")
      Lake.load(spark.range(0, 20).toDF("id"), root, pool)
      Lake.load(ZsonReader.fromText(spark, "{id:3,t:\"a\"}\n{id:61,u:2.5}"), root, pool)
      def rows() = Lake.scan(spark, root, pool).drop(tag).collect().toSeq.map(_.toString).sorted
      val before = rows()
      val loaded = Lake.commitsOn(root, pool, "main").filter(_.kind == "commit")
      compact()
      val Seq(c) = Lake.commitsOn(root, pool, "main").filter(_.kind == "commit")
      assert(c.author == "compact" && c.rows == 22, pool)
      // the untagged rows encode as they did in their own object
      assert(c.vbytes == loaded.map(_.vbytes).sum && c.wins.nonEmpty, pool)
      assert(Files.exists(Paths.get(root, pool, "data", s"${c.id}-seek.zng")), pool)
      assert(c.shapes == Seq("{id:int64}", "{id:int64,t:string}", "{id:int64,u:float64}"), pool)
      val scan = Lake.scan(spark, root, pool)
      assert(scan.filter(scan(tag).isNull).isEmpty, pool)
      assert(rows() == before, pool)
    }
  }
}
