package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame

import graft.GraftSession
import graft.lang.Graft

/** A pool scan keeps the analyzed plan it built and a repeated scan of
  * the same snapshot reuses it: one miss, then hits, until a load, a
  * delete or another ref changes what the scan reads.
  */
class LakeScanCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def newRoot(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private def zson(text: String): DataFrame = ZsonReader.fromText(spark, text)

  /** Compile `q` over the lake at `root`. */
  private def query(root: String, q: String): DataFrame = {
    spark.conf.set("graft.lake.root", root)
    try Graft.query(spark, root, q) finally spark.conf.unset("graft.lake.root")
  }

  /** (hits, misses) of the scans `body` runs. */
  private def counted(body: => Unit): (Long, Long) = {
    val (h0, m0) = Lake.scanCacheCounts
    body
    val (h1, m1) = Lake.scanCacheCounts
    (h1 - h0, m1 - m0)
  }

  private def lines(df: DataFrame): Seq[String] = ZsonIO.toZson(df).collect().toSeq

  test("two compiles of one query over an unchanged pool: one miss, then one hit") {
    val root = newRoot("scancache-same")
    Lake.create(root, "p", Some("k"), "asc")
    Lake.load(zson("{k:1,uid:\"a\",n:10}\n{k:2,uid:\"b\",n:20}"), root, "p")
    Lake.load(zson("{k:3,uid:\"a\",n:30}"), root, "p")
    var first, second: Seq[String] = Nil
    assert(counted { first = lines(query(root, "from p | cut k, n")) } == ((0L, 1L)))
    assert(counted { second = lines(query(root, "from p | cut k, n")) } == ((1L, 0L)))
    assert(first == Seq("{k:1,n:10}", "{k:2,n:20}", "{k:3,n:30}"))
    assert(second == first)
    // a key range is part of what the plan answers
    assert(counted(query(root, "from p | where k >= 2 and k <= 3 | count()")) == ((0L, 1L)))
    assert(counted(query(root, "from p | where k >= 2 and k <= 3 | count()")) == ((1L, 0L)))
  }

  test("a load, a delete and a scan of another branch each miss") {
    val root = newRoot("scancache-change")
    Lake.create(root, "p", Some("k"), "desc")
    val a = Lake.load(zson("{k:1,s:\"x\"}"), root, "p")
    def scan(ref: Option[String] = None): Seq[String] = lines(Lake.scan(spark, root, "p", ref))
    assert(counted(scan()) == ((0L, 1L)))
    assert(counted(scan()) == ((1L, 0L)))
    Lake.load(zson("{k:2,s:\"y\"}"), root, "p")
    var rows: Seq[String] = Nil
    assert(counted { rows = scan() } == ((0L, 1L)))
    assert(rows == Seq("{k:2,s:\"y\"}", "{k:1,s:\"x\"}"))
    Lake.delete(root, "p", a)
    assert(counted { rows = scan() } == ((0L, 1L)))
    assert(rows == Seq("{k:2,s:\"y\"}"))
    Lake.branch(root, "p", "dev")
    assert(counted { rows = scan(Some("dev")) } == ((0L, 1L)))
    assert(rows == Seq("{k:2,s:\"y\"}"))
    assert(counted(scan(Some("dev"))) == ((1L, 0L)))
    // a compaction's read neither uses nor fills the cache
    assert(counted(Lake.compact(spark, root, "p")) == ((0L, 0L)))
    assert(counted { rows = scan() } == ((0L, 1L)))
    assert(rows == Seq("{k:2,s:\"y\"}"))
  }

  test("a query that reads one pool twice joins as two separate scans do") {
    val root = newRoot("scancache-join")
    Lake.create(root, "p", Some("k"), "asc")
    val recs = Seq((1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", 40), (5, "a", 50))
    Lake.load(zson(recs.map { case (k, u, n) => s"{k:$k,uid:\"$u\",n:$n}" }.mkString("\n")), root, "p")
    val expected = (for ((k, u, n) <- recs; (_, u2, m) <- recs if u == u2)
      yield s"{k:$k,uid:\"$u\",n:$n,m:$m}").sorted
    val q = "from p | join (from p) on uid=uid m:=n"
    // cold: the left side builds the plan and the right side reuses it;
    // warm: both sides reuse it
    for (_ <- 0 until 2) assert(lines(query(root, q)).sorted == expected)
    assert(lines(query(root, "from p | join (from p | n > 20) on uid=uid m:=n")).sorted ==
      expected.filter(l => l.split("m:")(1).stripSuffix("}").toInt > 20))
  }
}
