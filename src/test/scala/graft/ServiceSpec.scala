package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** REST service round-trip (reference service/ztests style: POST a query,
  * diff the response text).
  */
class ServiceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)
  private var svc: Service = _
  private var port: Int = 0
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    svc = new Service(spark, "/root/testdata/sf0.001", 0) // ephemeral port
    port = svc.start()
  }

  override def afterAll(): Unit = {
    if (svc != null) svc.stop()
    spark.stop()
  }

  private def post(path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /query runs a pipeline and streams ZSON lines") {
    val (code, body) = post("/query", "from events | count() by event_type | sort event_type")
    assert(code == 200)
    val lines = body.trim.split("\n")
    assert(lines.length == 5)
    // zed zson decorates uint64 aggregates: count:210(uint64)
    assert(lines.head.matches("""\{event_type:"click",count:\d+(\(uint64\))?\}"""))
  }

  test("a small keyed count then a sort runs no range exchange's jobs") {
    var res: (Int, String) = null
    val seen = SparkJobs.during(spark) {
      res = post("/query", "from events | count() by event_type | sort event_type")
    }
    assert(res._1 == 200 && res._2.trim.split("\n").length == 5, res)
    // the table read's schema job, the aggregate's map stage and the
    // result stage; a range exchange adds its sampling job and its map
    // stage (5 jobs)
    assert(seen.jobs <= 3, s"ran ${seen.jobs} Spark jobs")
  }

  test("a small keyed count then a sort over a table runs two Spark jobs") {
    var res: (Int, String) = null
    val seen = SparkJobs.during(spark) {
      res = post("/query", "from events | count() by event_type | sort event_type")
    }
    assert(res._1 == 200 && res._2.trim.split("\n").length == 5, res)
    // the aggregate's map stage and its result stage: the table opens
    // from its footer's schema, with no schema job
    assert(seen.jobs == 2, s"ran ${seen.jobs} Spark jobs")
  }

  test("POST /query honors fmt=text and limit") {
    val (code, body) = post("/query?fmt=text&limit=3", "from nation | sort n_nationkey | cut n_nationkey, n_name")
    assert(code == 200)
    val lines = body.trim.split("\n")
    assert(lines.length == 3 && lines.head == "0\tNATION_0")
  }

  test("/query streams the full result chunked (no truncation)") {
    val (code, body) = post("/query?fmt=text", "from events | cut event_id")
    assert(code == 200)
    assert(body.trim.split("\n").length == 1000) // all sf0.001 events
  }

  test("bad query returns a structured error, not a 500") {
    val (code, body) = post("/query", "from nowhere | bogus !!!")
    assert(code == 400 && body.contains("error"))
  }

  test("POST /load commits a query result into a lake pool") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc-lake").toString
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    val (code, body) = post(s"/load?root=$enc&pool=svc",
      "from nation | where n_regionkey == 0")
    assert(code == 200 && body.contains("commit:"))
    val (code2, listing) = get(s"/pools?root=$enc")
    assert(code2 == 200 && listing.contains("svc"))
    // the loaded pool is queryable via the lake API
    assert(graft.sources.Lake.scan(spark, root, "svc").count() == 5)
  }

  test("a branch load leaves no spooled body behind: loaded, empty or malformed") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc-spool").toString
    graft.sources.Lake.create(root, "p", Some("ts"), "desc")
    val lake = new Service(spark, root, 0, lakeRootOpt = Some(root))
    val lakePort = lake.start()
    val tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spools(): Set[String] = Option(tmpdir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("svcload")).toSet
    def load(body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$lakePort/pool/p/branch/main"))
        .header("Content-Type", "application/x-zson")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val before = spools()
    try {
      val ok = load("{ts:2024-01-01T00:00:00Z,a:1}\n{ts:2024-01-01T00:00:01Z,a:2}\n")
      assert(ok._1 == 200 && ok._2.contains("commit"), ok)
      // comments only: read, found empty
      val empty = load("// no values here\n")
      assert(empty._1 == 400 && empty._2.contains("no records in request"), empty)
      val bad = load("{ts:2024-01-01T00:00:00Z,a:1}\n{ts:2024-01-01T00:00:01Z,a:\n")
      assert(bad._1 == 400, bad)
    } finally lake.stop()
    assert(graft.sources.Lake.scan(spark, root, "p").count() == 2)
    assert(spools() -- before == Set.empty[String])
  }

  test("GET /status answers") {
    val (code, body) = get("/status")
    assert(code == 200 && body.contains("ok"))
  }

  private def delete(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .DELETE().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("pool/branch CRUD + SSE events (service/core.go:171-206)") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc-crud").toString
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    assert(post(s"/pool?root=$enc&name=crud", "")._1 == 200)
    assert(get(s"/pools?root=$enc")._2.contains("crud"))
    val (lc, _) = post(s"/load?root=$enc&pool=crud", "from region")
    assert(lc == 200)
    assert(post(s"/branch?root=$enc&pool=crud&name=dev", "")._1 == 200)
    val (_, branches) = get(s"/branch?root=$enc&pool=crud")
    assert(branches.contains("main") && branches.contains("dev"))
    // SSE: the event stream replays pool-create, commit, branch-create
    val (ec, events) = get("/events")
    assert(ec == 200)
    assert(events.contains("event: lake") && events.contains("pool-create") &&
      events.contains("branch-create") && events.contains("\"commit\"") || events.contains("kind:\"commit\""))
    // incremental re-poll from the last id sees nothing new
    val lastId = events.linesIterator.filter(_.startsWith("id: "))
      .map(_.drop(4).trim.toLong).max
    assert(get(s"/events?since=$lastId")._2.trim.isEmpty)
    // delete the pool
    assert(delete(s"/pool?root=$enc&name=crud")._1 == 200)
    assert(!get(s"/pools?root=$enc")._2.contains("crud"))
  }

  test("merge/revert/compact/vacuum maintain the pool (cmd/super/db)") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc-maint").toString
    val enc = java.net.URLEncoder.encode(root, "UTF-8")
    // two commits on main
    assert(post(s"/load?root=$enc&pool=p", "from region | head 3")._1 == 200)
    assert(post(s"/load?root=$enc&pool=p", "from region | tail 2")._1 == 200)
    assert(graft.sources.Lake.scan(spark, root, "p").count() == 5)
    // branch with its own commit, then merge into main
    assert(post(s"/branch?root=$enc&pool=p&name=fix", "")._1 == 200)
    // commit on the branch via the lake API (the load endpoint targets main)
    graft.sources.Lake.load(
      graft.lang.Graft.query(spark, "/root/testdata/sf0.001", "from nation | head 1"),
      root, "p", "t", "", "fix")
    val before = graft.sources.Lake.scan(spark, root, "p").count()
    assert(post(s"/merge?root=$enc&pool=p&branch=fix", "")._1 == 200)
    assert(graft.sources.Lake.scan(spark, root, "p").count() > before)
    // compact main to one object, then vacuum the old ones away
    val (cc, cbody) = post(s"/compact?root=$enc&pool=p", "")
    assert(cc == 200 && cbody.contains("compacted"))
    val total = graft.sources.Lake.scan(spark, root, "p").count()
    val (vc, vbody) = post(s"/vacuum?root=$enc&pool=p", "")
    assert(vc == 200 && vbody.contains("vacuumed"))
    assert(graft.sources.Lake.scan(spark, root, "p").count() == total)
    // revert the compaction commit: the live set empties (everything else
    // was already deleted by compact)
    val compacted = graft.sources.Lake.commits(root, "p")
      .filter(_.kind == "commit").last.id
    assert(post(s"/revert?root=$enc&pool=p&commit=$compacted", "")._1 == 200)
    // an empty pool scans as zero rows (create-ksuid-name ztest)
    assert(graft.sources.Lake.scan(spark, root, "p").count() == 0)
  }

  test("named multi-output graphs: output legs select by name (op/mux.go)") {
    val q = "from nation | fork ( => head 3 | output small  => tail 2 | output big )"
    val (c1, b1) = post("/query?output=small", q)
    assert(c1 == 200 && b1.trim.linesIterator.size == 3)
    val (c2, b2) = post("/query?output=big", q)
    assert(c2 == 200 && b2.trim.linesIterator.size == 2)
    // unknown name is a clear error listing the available outputs
    val (c3, b3) = post("/query?output=nope", q)
    assert(c3 == 400 && b3.contains("no such output") && b3.contains("small"))
    // no output param: the combined stream (all legs)
    val (c4, b4) = post("/query", q)
    assert(c4 == 200 && b4.trim.linesIterator.size == 5)
    // channels=true frames every leg with the reference's control
    // messages (api.go QueryChannelSet/QueryChannelEnd)
    val (c5, b5) = post("/query?channels=true", q)
    assert(c5 == 200)
    val ls = b5.trim.linesIterator.toSeq
    assert(ls.count(_.contains("QueryChannelSet")) == 2)
    assert(ls.count(_.contains("QueryChannelEnd")) == 2)
    val smallSeg = ls.dropWhile(!_.contains("\"small\""))
      .drop(1).takeWhile(!_.contains("QueryChannelEnd"))
    assert(smallSeg.length == 3 && smallSeg.forall(_.startsWith("{n_nationkey")))
  }
}
