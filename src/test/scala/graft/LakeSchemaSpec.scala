package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.sources.{Lake, ZsonReader}

/** Lake scans plan on the driver: a scan reads one footer per live
  * object and merges the schemas itself instead of running parquet
  * `mergeSchema` inference (a Spark job that reads every file's footer).
  * Inference stays here only as the oracle.
  */
class LakeSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def newRoot(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private def zson(text: String): DataFrame = ZsonReader.fromText(spark, text)

  /** The objects a scan reads, in file-index order. */
  private def scanPaths(scan: DataFrame): Seq[String] =
    scan.queryExecution.analyzed.collectFirst { case l: LogicalRelation =>
      l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
    }.getOrElse(fail(s"no file relation in:\n${scan.queryExecution.analyzed}"))

  /** The planning the journal replaces: parquet `mergeSchema` inference
    * over the scan's objects, with the journal's shape list on the tag
    * column.
    */
  private def inferred(root: String, pool: String, scan: DataFrame): DataFrame = {
    val paths = scanPaths(scan)
    val df0 = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    val recs = Lake.commits(root, pool).filter(_.kind == "commit")
    val shapes = paths.map(p => Paths.get(new java.net.URI(p)).getFileName.toString)
      .flatMap(id => recs.find(_.id == id)).flatMap(_.shapes).distinct
    val tag = graft.operators.Het.typeTag
    if (!df0.columns.contains(tag) || shapes.isEmpty) df0
    else {
      val md = new MetadataBuilder().putStringArray("shapes", shapes.toArray).build()
      df0.select(df0.columns.toIndexedSeq.map { c =>
        if (c == tag) col(s"`$c`").as(c, md) else col(s"`$c`")
      }: _*)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  /** The scan's schema equals inference's, and so do its rows. */
  private def assertPlannedLikeInference(root: String, pool: String,
                                         ref: Option[String] = None): StructType = {
    val scan = Lake.scan(spark, root, pool, ref)
    val oracle = inferred(root, pool, scan)
    assert(scan.schema == oracle.schema,
      s"$pool${ref.fold("")("@" + _)}:\n  journal:   ${scan.schema.treeString}\n  inference: ${oracle.schema.treeString}")
    assert(rows(scan) == rows(oracle), s"$pool${ref.fold("")("@" + _)} rows differ")
    scan.schema
  }

  /** Loads whose schemas differ: added and missing columns, nested
    * records that gain fields, a tagged heterogeneous frame, `{}` rows.
    */
  private def loadHeterogeneous(root: String, pool: String): Seq[String] = {
    val r = spark.range(6)
    Seq(
      r.select(col("id"), col("id").cast("string").as("s")),
      r.select(col("id"), (col("id") * 1.5).as("d")),
      r.select(col("id"), struct(col("id").as("x"), struct(lit("z").as("z")).as("y")).as("r")),
      r.select(col("id"), struct(col("id").as("x"), lit(2.5).as("w")).as("r"), col("id").as("s2")),
      zson("{id:1,t:\"a\"}\n{id:2,u:[1,2]}\n{id:3,t:\"b\",v:{p:1.5}}"),
      zson("{}\n{}"),
      zson("{id:7,e:{}}\n{id:8,e:{}}")
    ).map(df => Lake.load(df, root, pool))
  }

  test("driver-planned scans match mergeSchema inference over heterogeneous loads") {
    val root = newRoot("lakeschema")
    loadHeterogeneous(root, "het")
    val s = assertPlannedLikeInference(root, "het")
    assert(Seq("id", "s", "d", "r", "s2").forall(s.fieldNames.contains))
    // column order follows object ids (inference merges in path order), so
    // only the set of merged nested fields is fixed
    assert(s("r").dataType.asInstanceOf[StructType].fieldNames.toSet == Set("x", "y", "w"))

    // keyed pool: key order, time travel and a key-range scan that prunes
    Lake.create(root, "keyed", Some("id"), order = "asc")
    val k1 = Lake.load(spark.range(0, 50).select(col("id"), col("id").cast("string").as("s")),
      root, "keyed")
    Lake.load(spark.range(50, 100).select(col("id"), (col("id") % 3).as("m")), root, "keyed")
    assertPlannedLikeInference(root, "keyed")
    assertPlannedLikeInference(root, "keyed", Some(k1))
    val ranged = Lake.scan(spark, root, "keyed", keyRange = Some(("60", "70")))
    assert(scanPaths(ranged).length == 1)
    assert(ranged.schema == inferred(root, "keyed", ranged).schema)
    assert(ranged.count() == 11)

    // ip key: scans sort in address order from the recorded shapes
    Lake.create(root, "ips", Some("addr"), order = "asc")
    Lake.load(zson("{addr:10.47.1.2,n:1}\n{addr:10.128.0.1,n:2}"), root, "ips")
    Lake.load(zson("{addr:10.9.9.9,n:3,note:\"x\"}"), root, "ips")
    assertPlannedLikeInference(root, "ips")
    assert(Lake.scan(spark, root, "ips").select("n").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 1L, 2L))
  }

  test("compaction, merge and revert copies scan like inference") {
    val root = newRoot("lakeschema-maint")
    val ids = loadHeterogeneous(root, "p")
    // merge: a branch's commits are copied onto main with their schemas
    Lake.branch(root, "p", "dev", Some(ids(1)))
    Lake.load(spark.range(3).select(col("id"), lit(true).as("flag")), root, "p", branch = "dev")
    assertPlannedLikeInference(root, "p", Some("dev"))
    Lake.merge(root, "p", "dev")
    assertPlannedLikeInference(root, "p")
    // revert of a delete restores a copy of the original record
    Lake.delete(root, "p", ids(2))
    val del = Lake.commits(root, "p").filter(_.kind == "delete").last.id
    Lake.revert(root, "p", del)
    assertPlannedLikeInference(root, "p")
    // compaction of the whole branch, then of a run of keyed objects
    Lake.compact(spark, root, "p")
    assertPlannedLikeInference(root, "p")
    Lake.create(root, "k", Some("id"), order = "desc")
    Lake.load(spark.range(0, 20).select(col("id"), col("id").cast("string").as("s")), root, "k")
    Lake.load(spark.range(10, 30).select(col("id"), (col("id") * 2).as("twice")), root, "k")
    Lake.manage(spark, root, "k")
    assert(Lake.commitsOn(root, "k", "main").count(_.kind == "commit") == 1)
    assertPlannedLikeInference(root, "k")
  }

  test("wide frames, long shape lists and long meta survive the journal") {
    val root = newRoot("lakeschema-wide")
    val r = spark.range(20)
    def nested(prefix: String, n: Int) =
      struct((0 until n).map(i => (col("id") * i).as(s"${prefix}_$i")): _*)
    // several hundred columns across two loads, with nested records
    Lake.load(r.select(col("id") +: ((0 until 300).map(i => (col("id") + i).as(s"c$i")) ++
      (0 until 4).map(i => nested(s"s$i", 50).as(s"rec$i"))): _*), root, "wide")
    Lake.load(r.select(col("id") +: ((200 until 450).map(i => (col("id") * 2).as(s"c$i")) ++
      Seq(struct(nested("t", 40).as("inner"), col("id").as("x")).as("rec0"))): _*),
      root, "wide")
    val s = assertPlannedLikeInference(root, "wide")
    assert(s.length == 1 + 450 + 4)
    assert(s("rec0").dataType.asInstanceOf[StructType].length == 50 + 2)

    // a tagged frame whose shapes hold arrays (`]` inside the list) and
    // run to thousands of characters, and a meta value of the same kind
    val fields = (0 until 300).map(i => s"f$i:$i").mkString(",")
    val tagged = zson(s"""{id:1,$fields,a:[1,2],r:{p:["x"]}}""" + "\n" + """{id:2,b:[[1.5]],q:"]"}""")
    val meta = (1 to 20000).map(i => s"""k$i="v\\$i"""").mkString(";")
    Lake.load(tagged, root, "tagged", meta = meta)
    val rec = Lake.commits(root, "tagged").head
    val tag = graft.operators.Het.typeTag
    assert(rec.shapes == tagged.schema(tag).metadata.getStringArray("shapes").toSeq)
    assert(rec.shapes.exists(_.length > 3000))
    assert(rec.meta == meta)
    assertPlannedLikeInference(root, "tagged")
  }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so a marker job before and after `body` brackets
    * them: once the closing marker's start is seen, every earlier job's
    * start has been delivered.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(name), s"listener never saw marker job $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("graft-jobs-open")
      body
      marker("graft-jobs-close")
      val all = scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
      all.indexOf("graft-jobs-close") - all.indexOf("graft-jobs-open") - 1
    } finally sc.removeSparkListener(listener)
  }

  test("compiling a lake query runs no Spark job") {
    val root = newRoot("lakeschema-jobs")
    Lake.load(spark.range(10).select(col("id"), col("id").cast("string").as("s")), root, "p")
    Lake.load(spark.range(5).select(col("id"), (col("id") * 1.5).as("d")), root, "p")
    Lake.create(root, "k", Some("id"), order = "asc")
    Lake.load(spark.range(0, 30).toDF("id"), root, "k")
    Lake.load(spark.range(30, 40).select(col("id"), lit("x").as("tag")), root, "k")
    spark.conf.set("graft.lake.root", root)
    try {
      for ((pool, n) <- Seq("p" -> 15L, "k" -> 40L)) {
        var q: DataFrame = null
        val jobs = jobsDuring { q = graft.lang.Graft.query(spark, "", s"from $pool | count()") }
        assert(jobs == 0, s"compiling `from $pool | count()` ran $jobs Spark job(s)")
        assert(q.collect().head.getLong(0) == n)
      }
    } finally spark.conf.unset("graft.lake.root")
  }

  test("the journal's row counts come from the write job") {
    val root = newRoot("lakeschema-rows")
    val unkeyed = Seq(spark.range(17).toDF("id"),
      spark.range(0).toDF("id"),
      zson("{a:1}\n{b:\"x\"}\n{}"),
      zson("{}\n{}"))
    unkeyed.foreach(df => Lake.load(df, root, "u"))
    assert(Lake.commits(root, "u").map(_.rows) == unkeyed.map(_.count()))
    Lake.create(root, "k", Some("id"))
    val keyed = Seq(spark.range(0, 25).toDF("id"),
      spark.range(100, 103).select(col("id"), lit("y").as("v")),
      spark.range(0).toDF("id"))
    keyed.foreach(df => Lake.load(df, root, "k"))
    assert(Lake.commits(root, "k").map(_.rows) == keyed.map(_.count()))
    assert(Lake.scan(spark, root, "k").count() == 28)
  }

  test("loads and scans leave nothing cached") {
    spark.catalog.clearCache()
    val root = newRoot("lakeschema-leak")
    Lake.create(root, "k", Some("id"))
    Lake.load(spark.range(0, 50).select(col("id"), col("id").cast("string").as("s")), root, "k")
    Lake.load(zson("{id:60,t:\"a\"}\n{id:61,u:2}"), root, "k")
    Lake.load(spark.range(5).toDF("n"), root, "u")
    Lake.scan(spark, root, "k").collect()
    Lake.scan(spark, root, "u").count()
    Lake.compact(spark, root, "k")
    assert(Lake.scan(spark, root, "k").count() == 52)
    assert(spark.sharedState.cacheManager.isEmpty, "lake left entries in the SQL CacheManager")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "lake left persisted RDDs")
  }
}
