package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The SHIPPED `super db` / `super dev` CLI surface (graft.cli.SuperCmd
  * through graft.Cli) — exercised with a plain process-style host, no
  * test-harness shell: proves a real user can init a pool, load data,
  * query, branch/merge, compact/vacuum/manage and run dev compile from
  * the main binary (reference cmd/super/db/command.go, cmd/super/dev).
  */
class CliDbSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)
  private lazy val work = java.nio.file.Files.createTempDirectory("clidb")

  override def afterAll(): Unit = spark.stop()

  private def host(lake: String): graft.cli.SuperCmd.Host =
    new graft.cli.SuperCmd.Host {
      def env(name: String): Option[String] =
        if (name == "SUPER_DB_LAKE") Some(lake) else None
      def cwd: java.nio.file.Path = work
      def workDir: java.nio.file.Path = work
      def serviceRoot: Option[String] = None
      def serviceAuthEnabled: Boolean = false
      def stderr(text: String): Unit = ()
    }

  test("full db lifecycle through the shipped dispatch") {
    val lake = work.resolve("lake").toString
    val sup = new graft.cli.SuperCmd(spark, host(lake))
    def db(args: String*): String = sup.db(args.toIndexedSeq, None)

    assert(db("init") == s"lake created: file://$lake\n")
    assert(db("create", "-orderby", "ts:asc", "demo").startsWith("pool created: demo "))
    java.nio.file.Files.writeString(work.resolve("in.zson"),
      "{ts:2024-01-01T00:00:00Z,x:1}\n{ts:2024-01-02T00:00:00Z,x:2}\n{ts:2024-01-03T00:00:00Z,x:3}\n")
    assert(db("load", "-use", "demo", "in.zson").endsWith(" committed\n"))
    assert(db("query", "-z", "from demo | summarize s:=sum(x)") == "{s:6}\n")
    // ls line format: NAME <id> key <k> order <o>
    val ls = db("ls")
    assert(ls.startsWith("demo ") && ls.contains(" key ts order asc"), ls)
    // branch + load on branch + merge back
    assert(db("branch", "-use", "demo", "dev") == "branch created: dev\n")
    java.nio.file.Files.writeString(work.resolve("more.zson"),
      "{ts:2024-01-04T00:00:00Z,x:4}\n")
    assert(db("load", "-use", "demo@dev", "more.zson").endsWith(" committed\n"))
    assert(db("use", "demo@dev").nonEmpty)
    assert(db("merge", "main") == "merged\n")
    assert(db("query", "-z", "from demo | summarize s:=sum(x)") == "{s:10}\n")
    // maintenance: compact leaves the data intact, vacuum reaps, manage runs
    db("use", "demo@main")
    assert(db("compact") == "")
    assert(db("vacuum", "-f").matches("vacuumed \\d+ objects?\n"))
    assert(db("manage", "-pool", "demo") == "")
    assert(db("query", "-z", "from demo | summarize s:=sum(x)") == "{s:10}\n")
    // rename + revert + delete surface
    assert(db("rename", "demo", "demo2").contains("renamed from demo to demo2"))
    assert(db("drop", "-f", "demo2") == "pool deleted: demo2\n")
  }

  test("a multi-file load reads its files once, in one Spark job, and leaves no spool") {
    val lake = work.resolve("lake-multi").toString
    val sup = new graft.cli.SuperCmd(spark, host(lake))
    def db(args: String*): String = sup.db(args.toIndexedSeq, None)
    db("init")
    db("create", "-orderby", "ts:asc", "multi")
    java.nio.file.Files.writeString(work.resolve("m1.zson"),
      "{ts:2024-01-01T00:00:00Z,x:1}\n{ts:2024-01-02T00:00:00Z,x:2}\n")
    // ZSON in a .json file: the same concatenated stream
    java.nio.file.Files.writeString(work.resolve("m2.json"), "{ts:2024-01-03T00:00:00Z,y:\"a\"}\n")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spools(): Set[String] = Option(tmp.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("loadcat")).toSet
    val before = spools()
    var out = ""
    // five before: a discovery job per file, one over their concatenation,
    // the commit write and the size pass
    val seen = SparkJobs.during(spark) { out = db("load", "-use", "multi", "m1.zson", "m2.json") }
    assert(out.endsWith(" committed\n"), out)
    assert(seen.jobs == 1, s"a two-file load ran ${seen.jobs} Spark jobs")
    assert(spools() -- before == Set.empty[String])
    assert(db("query", "-z", "from multi") ==
      "{ts:2024-01-01T00:00:00Z,x:1}\n{ts:2024-01-02T00:00:00Z,x:2}\n{ts:2024-01-03T00:00:00Z,y:\"a\"}\n")
    // a malformed file reports its own read's error, and leaves no spool
    java.nio.file.Files.writeString(work.resolve("bad.zson"), "{ts:2024-01-04T00:00:00Z,x:\n")
    val err = intercept[Exception](db("load", "-use", "multi", "m1.zson", "bad.zson"))
    assert(String.valueOf(err.getMessage).contains("zson parse at"), err)
    val missing = intercept[Exception](db("load", "-use", "multi", "m1.zson", "nope.zson"))
    assert(missing.getMessage == s"${work.resolve("nope.zson")}: file does not exist")
    assert(spools() -- before == Set.empty[String])
  }

  test("dev compile canonical/semantic forms from the shipped dispatch") {
    val lake = work.resolve("lake2").toString
    val sup = new graft.cli.SuperCmd(spark, host(lake))
    val canon = sup.dev(Seq("compile", "-C", "from x | where a>1 | count() by b"), None)
    assert(canon ==
      "from x\n| where a>1\n| summarize\n    count() by b\n", canon)
    val sem = sup.dev(Seq("compile", "-s", "-lake=", "has(a)"), None)
    assert(sem.nonEmpty)
  }

  test("graft.Cli main-level dispatch reaches the same surface") {
    // the Cli head parse: query/db/dev route into SuperCmd (smoke only —
    // main() manages its own SparkSession/exit, so we pin the routing
    // contract at the SuperCmd level plus the flag surface here)
    val lake = work.resolve("lake3").toString
    val sup = new graft.cli.SuperCmd(spark, host(lake))
    assert(sup.db(Seq("init", "-q"), None) == "")
    assert(sup.query(Seq("-version"), None) == graft.cli.SuperCmd.versionLine)
    // stdin-driven query through the shipped TextInput path
    assert(sup.query(Seq("-z", "-c", "sum(this)", "-"), Some("1 2 3 4")) == "10\n")
  }
}
