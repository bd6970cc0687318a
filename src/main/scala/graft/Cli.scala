package graft

import org.apache.spark.sql.SparkSession

import graft.lang.Graft
import graft.sources.{Formats, ZFormat, ZsonIO}

/** CLI entry (reference: cmd/super — the `super` surface):
  *
  *   runMain graft.Cli [-dir <sfDir>] [-f zson|table|text|csv|json]
  *                     [-o <path>] [-n <maxRows>] '<zed query>'
  *   runMain graft.Cli query <super-query flags/args…>
  *   runMain graft.Cli db init|create|use|load|query|ls|log|branch|merge|
  *                        revert|delete|rename|compact|vacuum|manage|
  *                        vector|auth|serve … (cmd/super/db/command.go)
  *   runMain graft.Cli dev compile -C/-s/-O/-P … | dig frames | vector …
  *
  * The `query`/`db`/`dev` heads dispatch through [[graft.cli.SuperCmd]]
  * — the same shipped implementation the script-flow test corpus runs —
  * against the real process environment (SUPER_DB_LAKE, cwd). The legacy
  * headless form (a bare '<zed query>') keeps the -dir table resolution.
  */
object Cli {

  /** SuperCmd host over the real process: env = sys.env, cwd = user.dir,
    * no in-process service (http lakes need `db serve` + SUPER_DB_LAKE).
    */
  private def processHost: graft.cli.SuperCmd.Host = new graft.cli.SuperCmd.Host {
    def env(name: String): Option[String] = sys.env.get(name)
    def cwd: java.nio.file.Path =
      java.nio.file.Paths.get(System.getProperty("user.dir"))
    def workDir: java.nio.file.Path = cwd
    def serviceRoot: Option[String] = None
    def serviceAuthEnabled: Boolean = false
    def stderr(text: String): Unit = System.err.print(text)
  }

  /** `db serve`: a real HTTP lake service on -l/-port (service/core.go),
    * blocking until killed. SuperCmd validates the lake version and then
    * defers the long-running server to this front.
    */
  private def serve(spark: SparkSession, args: Seq[String]): Unit = {
    var root: Option[String] = None
    var port = 9867 // the reference's default service port
    var cors = Vector.empty[String]
    var rootContent: Option[String] = None
    var defaultFmt = "zson"
    var logPath: Option[String] = None
    val authVals = scala.collection.mutable.Map.empty[String, String]
    def flagVal(f: String, name: String): Option[String] =
      if (f.startsWith(s"-$name=")) Some(f.stripPrefix(s"-$name=")) else None
    var i = 0
    while (i < args.length) args(i) match {
      case "-lake" => root = Some(args(i + 1)); i += 2
      case f if f.startsWith("-lake=") => root = Some(f.stripPrefix("-lake=")); i += 1
      case "-l" | "-listen" =>
        port = args(i + 1).dropWhile(_ == ':').toInt; i += 2
      case f if flagVal(f, "cors.origin").isDefined =>
        cors :+= flagVal(f, "cors.origin").get; i += 1
      case "-cors.origin" => cors :+= args(i + 1); i += 2
      case f if flagVal(f, "rootcontentfile").isDefined =>
        rootContent = flagVal(f, "rootcontentfile"); i += 1
      case f if flagVal(f, "defaultfmt").isDefined =>
        defaultFmt = flagVal(f, "defaultfmt").get; i += 1
      case f if flagVal(f, "log.path").isDefined =>
        logPath = flagVal(f, "log.path"); i += 1
      case f if f.startsWith("-auth.") && f.contains("=") =>
        val body = f.stripPrefix("-auth.")
        authVals(body.takeWhile(_ != '=')) = body.dropWhile(_ != '=').tail
        i += 1
      case _ => i += 1
    }
    val lakeRoot = root.orElse(sys.env.get("SUPER_DB_LAKE").filter(!_.startsWith("http")))
      .getOrElse {
        System.err.println("db serve: lake location must be set (-lake or SUPER_DB_LAKE)")
        sys.exit(2)
      }
    val authCfg =
      if (authVals.get("enabled").exists(v => v == "true" || v == "t" || v == "1"))
        Some(graft.Auth.Config(
          authVals.getOrElse("audience", ""), authVals.getOrElse("clientid", ""),
          authVals.getOrElse("domain", ""), authVals.getOrElse("jwkspath", "")))
      else None
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lakeRoot))
    val svc = new graft.Service(spark, System.getProperty("user.dir"), port,
      Some(lakeRoot), cors, rootContent, defaultFmt, authCfg, logPath)
    val bound = svc.start()
    System.err.println(s"lake service listening on :$bound (root $lakeRoot)")
    Thread.currentThread().join() // serve until killed
  }

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some(head @ ("query" | "db" | "dev")) =>
        val spark = GraftSession.local(
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
        spark.sparkContext.setLogLevel("WARN")
        val sup = new graft.cli.SuperCmd(spark, processHost)
        val rest = args.toIndexedSeq.tail
        val stdin =
          if (rest.contains("-") && System.in.available() > 0)
            Some(new String(System.in.readAllBytes(),
              java.nio.charset.StandardCharsets.ISO_8859_1))
          else None
        try {
          val out = head match {
            case "query" => sup.query(rest, stdin)
            case "dev" => sup.dev(rest, stdin)
            case "db" =>
              try sup.db(rest, stdin)
              catch {
                // the long-running server is the front's job (the shared
                // dispatch only validates the lake version file)
                case e: graft.cli.SuperCmd.Unsupported
                    if e.getMessage.endsWith("db serve") =>
                  serve(spark, rest.dropWhile(_ != "serve").drop(1)); ""
              }
          }
          print(out)
          graft.lang.Compiler.drainDebug().foreach(System.err.println)
        } catch {
          case e: Exception =>
            System.err.println(Option(e.getMessage).getOrElse(e.toString))
            spark.stop()
            sys.exit(1)
        }
        spark.stop()
        return
      case _ =>
    }
    legacyQueryMain(args)
  }

  private def legacyQueryMain(args: Array[String]): Unit = {
    var dir = "/root/testdata/sf0.001"
    var format = "zson"
    var out: Option[String] = None
    var maxRows = 50
    var explain = false
    var outputLeg: Option[String] = None // named multi-output leg (op/mux.go)
    var query: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-dir" => dir = args(i + 1); i += 2
        case "-f" => format = args(i + 1); i += 2
        case "-o" => out = Some(args(i + 1)); i += 2
        case "-n" => maxRows = args(i + 1).toInt; i += 2
        case "-output" => outputLeg = Some(args(i + 1)); i += 2
        case "-explain" => explain = true; i += 1
        case q => query = Some(q); i += 1
      }
    }
    val q = query.getOrElse {
      System.err.println("usage: graft.Cli [-dir d] [-f fmt] [-o path] [-n rows] '<query>'")
      sys.exit(2)
    }

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val df = outputLeg match {
        case Some(name) =>
          val outs = Graft.queryOutputs(spark, dir, q)
          outs.collectFirst { case (n, f) if n == name => f }.getOrElse {
            System.err.println(
              s"no such output: $name (have ${outs.map(_._1).mkString(", ")})")
            sys.exit(2)
          }
        case None => Graft.query(spark, dir, q)
      }
      if (explain) {
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        return
      }
      out match {
        case Some(path) => Formats.write(df, path, format)
        case None =>
          val lines = format match {
            case "zson" => ZsonIO.toZson(df).limit(maxRows).collect()
            case "text" => ZFormat.textLines(df.limit(maxRows)).toArray
            case "table" => ZFormat.tableLines(df.limit(maxRows))(_.toArray)
            case other =>
              throw new IllegalArgumentException(s"stdout format must be zson|text|table, got $other")
          }
          lines.foreach(println)
      }
      // `debug` operator output goes to stderr after the run (zq surface)
      graft.lang.Compiler.drainDebug().foreach(System.err.println)
    } finally spark.stop()
  }
}
