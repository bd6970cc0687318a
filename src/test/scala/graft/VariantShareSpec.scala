package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, With}
import org.apache.spark.sql.catalyst.plans.logical.Filter

import graft.lang.{Compiler, Parser}
import graft.sources.{ZngIO, ZsonIO, ZsonParser}

/** Zed comparisons and arithmetic over a per-shape path on a two-shape
  * ZNG stream (conn-like frames without `rcode`/`qtype`, dns-like frames
  * with them): each boxed operand is bound once as a Catalyst common
  * expression, results match the one-shape stream row for row, and the
  * boxed field keeps its zed type.
  */
class VariantShareSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)
  private lazy val root: Path = Files.createTempDirectory("graft-vshare")
  private def het = root.resolve("het.zng").toString
  private def dns = root.resolve("dns.zng").toString

  override def beforeAll(): Unit = {
    def zng(rows: Seq[String]): Array[Byte] =
      ZngIO.encodeTypedStream(rows.map(r => ZsonParser.parseAll(r).head))
    val conn = zng((0 until 40).map(i =>
      s"""{ts:2024-01-01T00:00:${"%02d".format(i)}Z,uid:"C$i",orig_h:10.0.0.${i % 7},""" +
        s"""orig_bytes:${i * 10}(uint64),service:"${Seq("dns", "http")(i % 2)}"}"""))
    val dnsRows = zng((0 until 20).map(i =>
      s"""{ts:2024-01-01T00:01:${"%02d".format(i)}Z,query:"h$i.example.com",""" +
        s"""rcode:${i % 5}(uint64),qtype:${i % 4}(uint16)}"""))
    Files.createDirectories(root.resolve("het.zng"))
    Files.createDirectories(root.resolve("dns.zng"))
    Files.write(root.resolve("het.zng/conn.zng"), conn)
    Files.write(root.resolve("het.zng/dns.zng"), dnsRows)
    Files.write(root.resolve("dns.zng/dns.zng"), dnsRows)
  }

  override def afterAll(): Unit = spark.stop()

  private def compile(c: Compiler, src: String, q: String): DataFrame =
    c.run(Parser.parse(s"from '$src' | $q"))

  private def zson(df: DataFrame): Seq[String] = ZsonIO.toZson(df).collect().toSeq

  private def run(src: String, q: String): Seq[String] =
    zson(compile(new Compiler(spark, ""), src, q))

  test("a comparison over a per-shape path analyzes its operand tree once") {
    val df = compile(new Compiler(spark, ""), het, "rcode==3 | count()")
    val cond = df.queryExecution.analyzed.collectFirst { case f: Filter => f.condition }.get
    var nodes = 0
    cond.foreach(_ => nodes += 1)
    // each operand is inlined at every read without the sharing: 5,157
    // nodes on a conn+dns stream
    assert(nodes <= 600, s"filter condition has $nodes nodes")
    assert(cond.exists(_.isInstanceOf[CommonExpressionRef]))
    assert(zson(df) == Seq("4(uint64)"))
  }

  test("the two-shape stream answers like the one-shape stream, and every " +
       "common expression is lowered before execution") {
    val queries = Seq(
      "rcode==3 | count()",
      "count() where rcode==3",
      "rcode!=3 | count()",
      "rcode<2 | count()",
      "rcode>=3 | count()",
      "rcode+1==4 | count()",
      "rcode==3 | count() by query | sort query",
      "rcode>=0 | yield rcode==3 | count() by this | sort this",
      "rcode>=0 | yield !(rcode==3) | count() by this | sort this",
      "yield {a:[rcode,1]} | over a | where this==3 | count()",
      "rcode>=0 | sum(rcode*2) by rcode | sort rcode",
      "rcode>=0 | sort rcode+1, query | head 3 | yield query",
      "rcode>=0 | yield rcode>2 ? rcode==3 : false | count() by this | sort this",
      "rcode>=0 | yield compare(rcode, 2) | count() by this | sort this",
      // the boxed field keeps its zed type (uint64 rides as decimal(20,0),
      // uint16 as a long)
      "rcode>=0 | yield rcode",
      "rcode>=0 | yield rcode+1",
      "rcode==3 | head 1 | yield {r:rcode, x:rcode+1}",
      "rcode>=0 | count() by rcode | sort rcode",
      "rcode>=0 | yield qtype",
      "rcode>=0 | yield qtype+1")
    for (q <- queries) {
      val df = compile(new Compiler(spark, ""), het, q)
      val unlowered = df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
        case _: With | _: CommonExpressionRef => true
        case _ => false
      }))
      assert(!unlowered, s"$q: unlowered common expressions")
      assert(zson(df) == run(dns, q), q)
    }
    assert(run(het, "rcode==3 | head 1 | yield {r:rcode, x:rcode+1}") ==
      Seq("{r:3(uint64),x:4}"))
    assert(run(het, "rcode>=0 | yield rcode+1").take(2) == Seq("1", "2"))
    // a boxed uint16 group key keeps its decorator (zson: 0(uint16))
    assert(run(het, "rcode>=0 | count() by qtype | sort qtype") ==
      (0 until 4).map(k => s"{qtype:$k(uint16),count:5(uint64)}"))
  }

  test("type probes run one analysis per distinct (plan, column)") {
    val c = new Compiler(spark, "")
    for (q <- Seq("rcode==3 | count()", "count() where rcode==3",
        "yield rcode==3", "rcode+1==4 | count()",
        "yield {a:[rcode,1]} | over a | where this==3 | count()"))
      compile(c, het, q)
    assert(c.typeAnalyses <= 20, s"${c.typeAnalyses} analyses")
  }
}
