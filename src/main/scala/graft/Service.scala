package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.lang.Graft
import graft.sources.{Formats, Lake, ZsonIO, ZsonReader}

/** REST query service (reference: service/core.go:171-206 — POST /query,
  * pool listing; responses stream ZSON lines like zed's ZNG-over-HTTP).
  *
  * JDK-built-in HTTP server — query compilation and execution are fully
  * distributed Spark work; only response serialization passes the driver,
  * capped by the `limit` parameter exactly like the reference's paged
  * responses.
  *
  *   POST /query    body = the Zed query text
  *                  ?dir=<sfDir>  ?fmt=zson|text  ?limit=N
  *   GET  /pools?root=<lakeRoot>          pool listing
  *   GET  /status                         liveness
  */
final class Service(spark: SparkSession, defaultDir: String, port: Int,
                    lakeRootOpt: Option[String] = None,
                    corsOrigins: Seq[String] = Nil,
                    rootContentFile: Option[String] = None,
                    defaultFmt: String = "zson",
                    authConfig: Option[Auth.Config] = None,
                    logPath: Option[String] = None) {

  /** `-log.path`: structured warn/error log as JSON lines (the reference
    * runs a zap JSON logger; queries read the file back as data).
    */
  private val logWarnLock = new Object
  private def logWarn(msg: String, err: String): Unit = logPath.foreach { p =>
    def jq(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val line = s"""{"level":"warn","msg":"${jq(msg)}","error":"${jq(err)}"}""" + "\n"
    // serialized: concurrent handler threads must not interleave bytes —
    // the JSON-lines log is read back as data by ztests
    logWarnLock.synchronized {
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        line.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND): Unit
      catch { case _: Exception => }
    }
  }

  @volatile private var server: HttpServer = _

  /** Bearer-token middleware (service/auth.go Middleware): when auth is
    * enabled, every API endpoint except /auth/method requires a valid
    * RS256 JWT; failures answer 401 with the validator's message.
    */
  private val validator = authConfig.map(new Auth.Validator(_))

  def authEnabled: Boolean = validator.isDefined

  /** Validate the request's bearer token; answers 401 and returns true
    * when the request has been rejected.
    */
  private def unauthorized(ex: HttpExchange): Boolean = validator match {
    case None => false
    case Some(v) =>
      v.validateRequest(Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
        case Right(_) => false
        case Left(msg) =>
          jerr(ex, 401, "missing authentication credentials", msg)
          true
      }
  }

  /** Identity claims of the request's token (anonymous when auth is off
    * or the token carries no tenant/user claims).
    */
  private def identityOf(ex: HttpExchange): Auth.Identity =
    validator.flatMap(
      _.validateRequest(Option(ex.getRequestHeaders.getFirst("Authorization")))
        .toOption)
      .getOrElse(Auth.Identity(Auth.AnonymousTenantID, Auth.AnonymousUserID))

  /** CORS per the reference's rs/cors defaults (service/core.go): allowed
    * origins may carry one `*` wildcard segment; allowed responses echo
    * the origin + credentials; preflights echo the requested method and
    * canonicalized header names.
    */
  private def corsAllowed(origin: String): Boolean =
    corsOrigins.exists { pat =>
      if (!pat.contains("*")) pat == origin
      else {
        val re = java.util.regex.Pattern.quote(pat).replace("*", "\\E.*\\Q")
        origin.matches(re)
      }
    }

  private def canonicalHeader(h: String): String =
    h.trim.split("-").map(s =>
      if (s.isEmpty) s else s.head.toUpper + s.tail.toLowerCase).mkString("-")

  /** Apply CORS headers; returns true when this was a preflight that has
    * been fully answered.
    */
  private def cors(ex: HttpExchange): Boolean = {
    val origin = Option(ex.getRequestHeaders.getFirst("Origin"))
    val preflight = ex.getRequestMethod == "OPTIONS" &&
      ex.getRequestHeaders.containsKey("Access-control-request-method")
    origin.filter(corsAllowed).foreach { o =>
      val h = ex.getResponseHeaders
      h.add("Access-Control-Allow-Origin", o)
      h.add("Access-Control-Allow-Credentials", "true")
      if (preflight) {
        h.add("Access-Control-Allow-Methods",
          ex.getRequestHeaders.getFirst("Access-control-request-method"))
        Option(ex.getRequestHeaders.getFirst("Access-control-request-headers"))
          .foreach(hs => h.add("Access-Control-Allow-Headers",
            hs.split(",").map(canonicalHeader).mkString(", ")))
      }
    }
    if (ex.getRequestMethod == "OPTIONS") {
      // unconfigured CORS answers preflights like any other unsupported
      // method (the reference only mounts rs/cors when -cors.origin set)
      ex.sendResponseHeaders(if (corsOrigins.isEmpty) 405 else 204, -1)
      ex.close()
      true
    } else false
  }

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // `-rootcontentfile`: static content served at GET / (service/core.go)
    rootContentFile.foreach { f =>
      server.createContext("/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          if (cors(ex)) return
          if (ex.getRequestURI.getPath == "/") {
            val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
            ex.sendResponseHeaders(200, b.length)
            ex.getResponseBody.write(b)
          } else ex.sendResponseHeaders(404, -1)
          ex.close()
        }
      })
    }
    // streaming response: chunked transfer, one rendered partition at a
    // time — driver memory stays one partition regardless of result size (the
    // reference's paged ZNG-over-HTTP); `limit` is a guard, 0 = unlimited
    server.createContext("/query", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        if (unauthorized(ex)) return
        try {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          // the reference's API form: a JSON body {"query": "..."} with
          // Accept-header content negotiation (service/handlers.go)
          if (lakeRootOpt.isDefined &&
              (body.trim.startsWith("{") || body.trim.isEmpty) &&
              !query(ex).contains("dir")) {
            refQuery(ex, body)
            return
          }
          val params = query(ex)
          val dir = params.getOrElse("dir", defaultDir)
          val fmt = params.getOrElse("fmt", "zson")
          val limit = params.getOrElse("limit", "0").toInt
          // named multi-output graphs (op/mux.go): ?output=<name> selects
          // one labeled leg; ?channels=true streams EVERY leg framed by
          // the reference's control messages (api.go QueryChannelSet/End);
          // without either the combined stream flows
          if (params.get("channels").contains("true")) {
            val outs = Graft.queryOutputs(spark, dir, body)
            ex.getResponseHeaders.add("Content-Type", "application/x-zson")
            ex.sendResponseHeaders(200, 0)
            val os = new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
            def line(s: String): Unit = {
              os.write(s.getBytes(StandardCharsets.UTF_8)); os.write('\n')
            }
            outs.foreach { case (name, leg0) =>
              val leg = if (limit > 0) leg0.limit(limit) else leg0
              line(s"""{"type":"QueryChannelSet","value":{"channel":"${Service.esc(name)}"}}""")
              graft.sources.ZFormat.lines(leg, "zson")(_.foreach(line))
              line(s"""{"type":"QueryChannelEnd","value":{"channel":"${Service.esc(name)}"}}""")
            }
            os.flush()
            ex.getResponseBody.close()
            return
          }
          val df0 = params.get("output") match {
            case Some(name) =>
              val outs = Graft.queryOutputs(spark, dir, body)
              outs.collectFirst { case (n, f) if n == name => f }.getOrElse(
                throw new IllegalArgumentException(
                  s"no such output: $name (have ${outs.map(_._1).mkString(", ")})"))
            case None => Graft.query(spark, dir, body)
          }
          val df = if (limit > 0) df0.limit(limit) else df0
          def send(it: Iterator[String]): Unit = {
            ex.getResponseHeaders.add("Content-Type", "application/x-zson")
            ex.sendResponseHeaders(200, 0) // 0 = chunked transfer encoding
            val os = new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
            while (it.hasNext) {
              os.write(it.next().getBytes(StandardCharsets.UTF_8))
              os.write('\n')
            }
            os.flush()
            ex.getResponseBody.close()
          }
          graft.sources.ZFormat.lines(df, if (fmt == "text") "text" else "zson")(send)
        } catch {
          case e: Exception =>
            val msg = (s"""{error:"${Service.esc(String.valueOf(e.getMessage))}"}""" + "\n")
              .getBytes(StandardCharsets.UTF_8)
            try {
              ex.sendResponseHeaders(400, msg.length)
              ex.getResponseBody.write(msg)
            } catch { case _: Exception => } // headers already sent mid-stream
            finally ex.getResponseBody.close()
        } finally graft.lang.Compiler.clearDebug()
      }
    })
    server.createContext("/pools", handler { ex =>
      val root = query(ex).getOrElse("root", "/tmp/graft_lake")
      val pools = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .filter(f => Lake.exists(root, f.getName))
        .map(f => s"""{name:"${Service.esc(f.getName)}",commits:${Lake.commits(root, f.getName).length}}""")
      (200, pools.mkString("", "\n", "\n"))
    })
    // POST /load?root=<lakeRoot>&pool=<name>[&author=..&message=..]
    // body = a Zed query; the result is committed into the pool (load.go
    // via the REST surface — service/core.go's branch-load endpoint)
    server.createContext("/load", handler { ex =>
      val params = query(ex)
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val root = params.getOrElse("root", "/tmp/graft_lake")
      val pool = params.getOrElse("pool",
        throw new IllegalArgumentException("pool parameter required"))
      val df = Graft.query(spark, params.getOrElse("dir", defaultDir), body)
      val id = Lake.load(df, root, pool,
        params.getOrElse("author", "service"), params.getOrElse("message", ""),
        params.getOrElse("branch", "main"))
      event(s"""{kind:"commit",pool:"${Service.esc(pool)}",commit:"$id"}""")
      (200, s"""{commit:"$id",pool:"$pool"}""" + "\n")
    })
    server.createContext("/status", handler { _ => (200, "{status:\"ok\"}\n") })
    // /auth/method intentionally requires no authentication — clients use
    // it to discover HOW to authenticate (service/core.go:171,
    // handlers.go handleAuthMethodGet)
    server.createContext("/auth/method", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        def jq(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
        val body = authConfig match {
          case None => """{"kind":""}"""
          case Some(c) =>
            s"""{"kind":"auth0","auth0":{"audience":"${jq(c.audience)}",""" +
              s""""client_id":"${jq(c.clientId)}","domain":"${jq(c.domain)}"}}"""
        }
        respond(ex, 200, body + "\n")
      }
    })
    // /auth/identity echoes the validated token's tenant/user claims
    // (handlers.go handleAuthIdentityGet)
    server.createContext("/auth/identity", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        if (unauthorized(ex)) return
        val id = identityOf(ex)
        def jq(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
        respond(ex, 200,
          s"""{"tenant_id":"${jq(id.tenantId)}","user_id":"${jq(id.userId)}"}""" + "\n")
      }
    })
    // POST /query/describe {"query":…, "head":{"pool":…}} — source and
    // channel analysis (compiler/describe, handlers.go handleQueryDescribe)
    server.createContext("/query/describe", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        if (unauthorized(ex)) return
        try {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val q = jsonField(body, "query").getOrElse("")
          val headPool = Option(json.readTree(body).get("head"))
            .flatMap(h => Option(h.get("pool")).map(_.asText))
          val root = lakeRootOpt.getOrElse("/tmp/graft_lake")
          respond(ex, 200,
            graft.lang.Describe.analyze(q, root, headPool) + "\n")
        } catch { case e: Exception =>
          jerr(ex, 400, "invalid operation", String.valueOf(e.getMessage)) }
      }
    })
    // runtime errors of a finished /query request, by X-Request-Id
    server.createContext("/query/status", handler { ex =>
      val rid = ex.getRequestURI.getPath.stripPrefix("/query/status").stripPrefix("/")
      val msg = queryStatus.synchronized { Option(queryStatus.get(rid)) }
      msg match {
        case Some(m) => (200, s"""{"error":"${Service.esc(m)}"}""" + "\n")
        case None => (200, "{}\n")
      }
    })
    // pool/branch CRUD (service/core.go:171-206 pool-create/-delete,
    // branch-create endpoints)
    server.createContext("/pool", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        if (unauthorized(ex)) return
        try refPoolRoutes(ex)
        catch { case e: Exception =>
          jerr(ex, 400, "invalid operation", Service.ownMessage(e)) }
      }
    })
    server.createContext("/compile", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        if (unauthorized(ex)) return
        // POST /compile {"query": …} → parse diagnostics (service API)
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val q = jsonField(body, "query").getOrElse("")
        try {
          graft.lang.Parser.parse(q)
          respond(ex, 200, "{}\n")
        } catch {
          case e: Exception =>
            val pos = "parse error at (\\d+)".r
              .findFirstMatchIn(String.valueOf(e.getMessage))
              .map(_.group(1).toInt).getOrElse(0)
            respond(ex, 200,
              s"""{"compilation_errors":[{"Msg":"error parsing SuperPipe","Pos":$pos,"End":-1}]}""" + "\n")
        }
      }
    })
    legacyPool = handler { ex =>
      val params = query(ex)
      val root = params.getOrElse("root", "/tmp/graft_lake")
      val name = params.getOrElse("name",
        throw new IllegalArgumentException("name parameter required"))
      ex.getRequestMethod match {
        case "POST" =>
          // ?key= sets the pool key (reference PoolPostRequest layout
          // keys — `zed create -orderby`): loads range-sort by it and
          // range scans prune objects/row groups
          Lake.create(root, name, params.get("key"))
          event(s"""{kind:"pool-create",pool:"${Service.esc(name)}"}""")
          (200, s"""{pool:"${Service.esc(name)}",created:true}""" + "\n")
        case "DELETE" =>
          Lake.drop(root, name)
          event(s"""{kind:"pool-delete",pool:"${Service.esc(name)}"}""")
          (200, s"""{pool:"${Service.esc(name)}",deleted:true}""" + "\n")
        case other => (405, s"""{error:"method $other not allowed"}""" + "\n")
      }
    }
    server.createContext("/branch", handler { ex =>
      val params = query(ex)
      val root = params.getOrElse("root", "/tmp/graft_lake")
      val pool = params.getOrElse("pool",
        throw new IllegalArgumentException("pool parameter required"))
      ex.getRequestMethod match {
        case "POST" =>
          val name = params.getOrElse("name",
            throw new IllegalArgumentException("name parameter required"))
          Lake.branch(root, pool, name, params.get("at"))
          event(s"""{kind:"branch-create",pool:"${Service.esc(pool)}",branch:"${Service.esc(name)}"}""")
          (200, s"""{pool:"${Service.esc(pool)}",branch:"${Service.esc(name)}"}""" + "\n")
        case _ =>
          (200, Lake.branches(root, pool)
            .map(b => s"""{branch:"${Service.esc(b)}"}""").mkString("", "\n", "\n"))
      }
    })
    // lake maintenance (cmd/super/db/{merge,revert,compact,vacuum})
    server.createContext("/merge", handler { ex =>
      val p = query(ex)
      val merged = Lake.merge(p.getOrElse("root", "/tmp/graft_lake"),
        p("pool"), p("branch"), p.getOrElse("into", "main"))
      (200, s"""{merged:${merged.length}}""" + "\n")
    })
    server.createContext("/revert", handler { ex =>
      val p = query(ex)
      Lake.revert(p.getOrElse("root", "/tmp/graft_lake"), p("pool"),
        p("commit"), p.getOrElse("branch", "main"))
      (200, s"""{reverted:"${Service.esc(p("commit"))}"}""" + "\n")
    })
    server.createContext("/compact", handler { ex =>
      val p = query(ex)
      val id = Lake.compact(spark, p.getOrElse("root", "/tmp/graft_lake"),
        p("pool"), p.getOrElse("branch", "main"))
      (200, s"""{compacted:"$id"}""" + "\n")
    })
    server.createContext("/vacuum", handler { ex =>
      val p = query(ex)
      val removed = Lake.vacuum(p.getOrElse("root", "/tmp/graft_lake"), p("pool"))
      (200, s"""{vacuumed:${removed.length}}""" + "\n")
    })
    // GET /events[?since=N] — server-sent events of lake activity
    // (service/core.go /events SSE). Replays the retained log from
    // `since` and closes; a long-poll client re-connects with its last id.
    server.createContext("/events", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (cors(ex)) return
        if (unauthorized(ex)) return
        val since = query(ex).getOrElse("since", "0").toLong
        ex.getResponseHeaders.add("Content-Type", "text/event-stream")
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        events.synchronized {
          events.foreach { case (id, data) =>
            if (id > since)
              os.write(s"id: $id\nevent: lake\ndata: $data\n\n".getBytes(StandardCharsets.UTF_8))
          }
        }
        os.close()
      }
    })
    server.setExecutor(null) // serial — Spark parallelizes inside each query
    server.start()
    server.getAddress.getPort
  }

  // bounded in-memory event log feeding /events (SSE)
  private val events = scala.collection.mutable.ArrayDeque.empty[(Long, String)]
  private val eventSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def event(data: String): Unit = events.synchronized {
    events.append((eventSeq.incrementAndGet(), data))
    if (events.length > 1000) events.removeHead(): Unit
  }

  def stop(): Unit = if (server != null) server.stop(0)

  // ---- reference-compatible API (service/handlers.go shapes) --------------

  private var legacyPool: HttpHandler = _

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** api.CommitResponse in the negotiated format (service default zson,
    * service/core.go:31): the commit ksuid marshals as named bytes, the
    * empty warnings list keeps its `[string]` decorator; JSON flattens
    * both (zson marshal → jsonio).
    */
  private def commitResponse(ex: HttpExchange, id: String,
      warningsEmpty: Boolean = true): String = {
    val hex = try graft.functions.Ksuid.decodeHex(id)
              catch { case _: Exception => "00" * 20 }
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    // load initializes warnings to an EMPTY slice; other commit paths
    // leave it nil → null([string]) (service/handlers.go warningsReader)
    if (accept.contains("application/json"))
      s"""{"commit":"0x$hex","warnings":${if (warningsEmpty) "[]" else "null"}}""" + "\n"
    else
      s"""{commit:0x$hex(=ksuid.KSUID),warnings:${
        if (warningsEmpty) "[]" else "null"}([string])}(=api.CommitResponse)""" + "\n"
  }

  /** /pool routes: the base create (JSON body), /pool/<name> delete /
    * rename, /pool/<pool>/branch/<branch> load, …/delete (delete-where).
    * Param-style requests fall back to the legacy surface.
    */
  private def refPoolRoutes(ex: HttpExchange): Unit = {
    // RAW path: %2F inside a pool name must not split the segment
    val path = ex.getRequestURI.getRawPath
    val segs = path.split("/").filter(_.nonEmpty).toSeq
      .map(s => java.net.URLDecoder.decode(s, "UTF-8"))
    // raw bytes once: binary uploads (zng/vng/parquet/arrows) must not
    // round-trip through UTF-8 (invalid sequences → U+FFFD corruption)
    val bodyBytes = ex.getRequestBody.readAllBytes()
    lazy val body = new String(bodyBytes, StandardCharsets.UTF_8)
    val root = lakeRootOpt.getOrElse("/tmp/graft_lake")
    (ex.getRequestMethod, segs) match {
      case _ if lakeRootOpt.isEmpty =>
        legacyPool.handle(ex)
      case ("POST", Seq("pool")) if body.trim.startsWith("{") =>
        val name = jsonField(body, "name").getOrElse(
          throw new IllegalArgumentException("name required"))
        // duplicate create is a 409 (service handlers_test.go:120
        // "status code 409: test: pool already exists")
        if (Lake.exists(root, name)) {
          jerr(ex, 409, "conflict", s"$name: pool already exists")
          return
        }
        // layout.keys[0][0] / layout.order (PoolPostRequest)
        val node = json.readTree(body)
        val layout = Option(node.get("layout"))
        val key = layout.flatMap(l => Option(l.get("keys")))
          .flatMap(k => Option(k.get(0))).flatMap(k => Option(k.get(0)))
          .map(_.asText())
        val order = layout.flatMap(l => Option(l.get("order"))).map(_.asText())
        Lake.create(root, name, key.orElse(Some("ts")),
          order.getOrElse("desc"), explicitOrder = order.isDefined)
        event(s"""{kind:"pool-create",pool:"${Service.esc(name)}"}""")
        val accept0 = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
        respond(ex, 200,
          (if (accept0.contains("application/json")) poolJson(root, name)
           else poolZson(root, name)) + "\n")
      case ("POST", Seq("pool")) => legacyPool.handle(ex)
      case ("DELETE", Seq("pool", name)) =>
        if (!Lake.exists(root, name))
          jerr(ex, 404, "item does not exist", s"$name: pool not found")
        else {
          Lake.drop(root, name)
          respond(ex, 204, "")
        }
      case ("PUT", Seq("pool", name)) =>
        val newName = jsonField(body, "name").getOrElse(
          throw new IllegalArgumentException("name required"))
        Lake.rename(root, name, newName)
        respond(ex, 204, "")
      case ("POST", Seq("pool", pool, "branch", branch, "delete")) =>
        val where = jsonField(body, "where").getOrElse("")
        spark.conf.set("graft.lake.root", root)
        try {
          val scanDf = Lake.scan(spark, root, pool, Some(branch))
          val kept = Graft.queryOn(scanDf, s"where !($where)")
          // nothing matched → the commit would be empty (commits.go
          // ErrEmptyTransaction surfaces as a 400)
          if (kept.count() == scanDf.count()) {
            jerr(ex, 400, "invalid operation", "empty transaction")
            return
          }
          val old = Lake.commitsOn(root, pool, branch)
            .filter(_.kind == "commit").map(_.id)
          val id = Lake.load(kept.drop(graft.operators.Het.typeTag), root, pool,
            branch = branch, message = s"delete where $where")
          old.foreach(cid => Lake.delete(root, pool, cid, branch))
          respond(ex, 200, commitResponse(ex, id, warningsEmpty = false))
        } finally spark.conf.unset("graft.lake.root")
      case ("GET", Seq("pool", pool0, "stats")) =>
        // exec.PoolStats: total object data bytes + the pool-key span
        // (service/handlers.go handlePoolStats)
        val pool = poolByNameOrId(root, pool0).getOrElse {
          jerr(ex, 404, "item does not exist", s"$pool0: pool not found")
          return
        }
        val live = Lake.commitsOn(root, pool, "main").filter(_.kind == "commit")
        val size = live.map(_.bytes).filter(_ >= 0).sum
        val times = live.flatMap(c => c.keyMin.toSeq ++ c.keyMax.toSeq)
          .flatMap(t => try Some(java.time.Instant.parse(t))
                        catch { case _: Exception => None })
        val body2 =
          if (times.isEmpty) s"{size:$size}(=exec.PoolStats)"
          else {
            def ns(i: java.time.Instant): Long =
              i.getEpochSecond * 1000000000L + i.getNano.toLong
            val (lo, hi) = (times.min, times.max)
            // span durations are EXCLUSIVE of the last ns (nano.Span)
            val dur = ns(hi) - ns(lo) + 1
            val frac = f"${lo.getNano}%09d".reverse.dropWhile(_ == '0').reverse
            val tsText = java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd'T'HH:mm:ss")
              .withZone(java.time.ZoneOffset.UTC).format(lo) +
              (if (frac.isEmpty) "" else s".$frac") + "Z"
            s"{size:$size,span:{ts:$tsText,dur:$dur(=nano.Duration)}(=nano.Span)}(=exec.PoolStats)"
          }
        respond(ex, 200, body2 + "\n")
      case ("POST", Seq("pool", pool0, "branch", branch)) =>
        // the pool segment accepts a name OR its ksuid id (lakeparse)
        val pool = poolByNameOrId(root, pool0).getOrElse {
          jerr(ex, 404, "item does not exist", s"$pool0: pool not found")
          return
        }
        val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("")
        val ext = ctype.takeWhile(_ != ';') match {
          case "text/csv" => "csv"
          case "text/tab-separated-values" => "tsv"
          case "application/x-zeek" => "log"
          case "application/x-zng" => "zng"
          case "application/x-vng" => "vng"
          case "application/x-parquet" => "parquet"
          case "application/vnd.apache.arrow.stream" => "arrows"
          case "application/json" => "json"
          case "text/plain" | "application/x-line" => "line"
          case "application/x-zson" => "zson"
          // curl's default form type means "unset": the reference loads
          // with anyio auto-detection (service/request.go format)
          case "application/x-www-form-urlencoded" | "*/*" | "" => "auto"
          case other =>
            jerr(ex, 400, "invalid operation", s"unsupported MIME type: $other")
            return
        }
        // request bodies are transparently gunzipped (anyio.GzipReader)
        val raw = graft.sources.Gzip.maybeGunzip(bodyBytes)
        if (new String(raw, StandardCharsets.ISO_8859_1).trim.isEmpty) {
          jerr(ex, 400, "invalid operation", "no records in request")
          return
        }
        if (ext == "auto") {
          // line is not auto-detectable (anyio): undetectable text is a
          // full per-reader detection report, not a line load
          val sniffed = Formats.sniffBytes(raw)
          if (sniffed == "line") {
            jerr(ex, 400, "invalid operation", Formats.detectionError("",
              new String(raw, StandardCharsets.ISO_8859_1)))
            return
          }
        }
        // a ZSON body a file read would take as one text split decodes on
        // the driver from the bytes in hand: no spool, no discovery job
        val zson = ext == "zson" ||
          ((ext == "auto" || ext == "json") && Formats.sniffHead(raw) == "zson")
        val inMemory = if (zson) ZsonIO.valuesInMemory(spark, raw) else None
        var spool: Option[java.nio.file.Path] = None
        try {
          val df = inMemory match {
            case Some(values) =>
              if (values.isEmpty) {
                jerr(ex, 400, "invalid operation", "no records in request")
                return
              }
              ZsonReader.fromValues(spark, values, tag = true)
            case None =>
              // any other body spools to a file, which outlives the read:
              // the frame reads it lazily, so it goes once the load has
              // returned or failed
              val d = java.nio.file.Files.createTempDirectory("svcload")
              spool = Some(d)
              val p = if (ext == "auto") d.resolve("in") else d.resolve(s"in.$ext")
              java.nio.file.Files.write(p, raw)
              val df =
                if (ext == "csv")
                  Formats.readCsv(spark, p.toString, query(ex).getOrElse("csv.delim", ","))
                else Formats.read(spark, p.toString)
              // a ZSON read has already discovered its shapes: no separate
              // emptiness job
              val empty = if (ext == "zson") !ZsonIO.readHasValues(df) else df.isEmpty
              if (empty) {
                jerr(ex, 400, "invalid operation", "no records in request")
                return
              }
              df
          }
          // the reference's branch-load endpoint reads the commit message
          // from a Zed-Commit header (api/queryio, service/handlers.go)
          val (author, message) =
            Option(ex.getRequestHeaders.getFirst("Zed-Commit")) match {
              case Some(js) =>
                val a = "\"author\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(js)
                  .map(_.group(1)).getOrElse("service")
                val b = "\"body\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(js)
                  .map(_.group(1)).getOrElse("")
                (a, b)
              case None => ("service", "")
            }
          val id = Lake.load(df, root, pool, author = author,
            message = message, branch = branch)
          event(s"""{kind:"commit",pool:"${Service.esc(pool)}",commit:"$id"}""")
          respond(ex, 200, commitResponse(ex, id))
        } finally
          spool.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit)
      case _ => legacyPool.handle(ex)
    }
  }

  private def jsonField(body: String, name: String): Option[String] =
    try {
      // request bodies are ZSON (the service default format) — a superset
      // of JSON with unquoted field names; jackson in lenient mode covers
      // the record-of-primitives shape these requests use
      val lenient = json.reader()
        .`with`(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_UNQUOTED_FIELD_NAMES)
        .`with`(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_SINGLE_QUOTES)
      val node = lenient.readTree(body)
      Option(node.get(name)).map(n =>
        if (n.isTextual) n.asText() else n.toString)
    } catch { case _: Exception => None }

  private def respond(ex: HttpExchange, code: Int, body: String,
      ctype: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", ctype)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }

  /** Begin a 200 chunked response; caller writes + closes the body. */
  private def openChunked(ex: HttpExchange,
      ctype: String): java.io.BufferedOutputStream = {
    ex.getResponseHeaders.add("Content-Type", ctype)
    ex.sendResponseHeaders(200, 0)
    new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
  }

  /** Stream text lines chunked, each followed by '\n'. `emptyNewline`
    * preserves the mkString("", "\n", "\n") quirk of the formerly
    * buffered formats: an empty result is a single newline.
    */
  private def streamLines(ex: HttpExchange, ctype: String,
      lines: Iterator[String], emptyNewline: Boolean = false): Unit = {
    val os = openChunked(ex, ctype)
    var any = false
    while (lines.hasNext) {
      any = true
      os.write(lines.next().getBytes(StandardCharsets.UTF_8)); os.write('\n')
    }
    if (!any && emptyNewline) os.write('\n')
    os.flush()
    ex.getResponseBody.close()
  }

  private def jerr(ex: HttpExchange, code: Int, kind: String, msg: String,
      compileErrs: Option[(String, Int, Int)] = None): Unit = {
    def jq(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t")
    val extra = compileErrs.map { case (m, pos, end) =>
      s""","compilation_errors":[{"Msg":"${jq(m)}","Pos":$pos,"End":$end}]"""
    }.getOrElse("")
    respond(ex, code,
      s"""{"type":"Error","kind":"$kind","error":"${jq(msg)}"$extra}""" + "\n")
  }

  /** POST /query with {"query": …} (reference API). */
  private def refQuery(ex: HttpExchange, body: String): Unit = {
    val root = lakeRootOpt.get
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    val accepted = Seq("application/json", "application/x-zson", "text/plain",
      "text/tab-separated-values", "text/csv", "application/x-zng",
      "application/x-ndjson", "application/x-zeek", "application/x-zjson",
      "application/x-vng",
      "application/x-parquet", "application/vnd.apache.arrow.stream", "*/*")
    val chosen = accept.split(",").map(_.trim.takeWhile(_ != ';'))
      .find(a => a.isEmpty || accepted.contains(a))
    if (accept.nonEmpty && chosen.isEmpty) {
      jerr(ex, 400, "invalid operation",
        "could not find supported MIME type in Accept header")
      return
    }
    val q = jsonField(body, "query").getOrElse("").trim
    // scan-target validation with the reference's caret texts
    def caret(msg: String, col: Int, len: Int): String =
      s"$msg at line 1, column $col:\n$q\n" +
        (" " * (col - 1)) + ("~" * len)
    val firstFrom: Option[String] =
      try graft.lang.Parser.parse(q).stages.headOption.collect {
        case graft.lang.Stage.From(t, _, _, _) => t
      } catch { case _: Exception =>
        if (q.startsWith("from ")) Some(q.stripPrefix("from ").split("\\s|\\|")(0))
        else None
      }
    val knownMeta = Set("pools", "branches", "log", "objects", "partitions")
    if (q.isEmpty || firstFrom.isEmpty) {
      jerr(ex, 400, "invalid operation", "no pool name given")
      return
    }
    firstFrom.get match {
      case "HEAD" =>
        jerr(ex, 400, "invalid operation",
          caret("pool name missing", 1, q.length),
          Some(("pool name missing", 0, q.length)))
        return
      case t if t.startsWith(":") && !knownMeta(t.drop(1)) =>
        val m = s"""unknown lake metadata type "${t.drop(1)}" in from operator"""
        jerr(ex, 400, "invalid operation", caret(m, 1, q.length),
          Some((m, 0, q.length)))
        return
      case t if !t.startsWith(":") && !t.contains("/") && !t.contains(".") => {
        val pool = t.takeWhile(c => c != '@' && c != ':')
        if (!Lake.exists(root, pool)) {
          val m = s"$pool: pool not found"
          jerr(ex, 400, "invalid operation", caret(m, 6, t.length),
            Some((m, 5, 5 + t.length)))
          return
        }
      }
      case _ =>
    }
    // per-request id: echoed as X-Request-Id; runtime errors during the
    // response are retrievable at /query/status/<id> (service/request.go)
    val rid = graft.functions.Ksuid.newId()
    try {
      ex.getResponseHeaders.add("X-Request-Id", rid)
      // no Accept (or */*): the service's configured default format
      // (service/core.go -defaultfmt)
      val defMime = defaultFmt match {
        case "ndjson" => "application/x-ndjson"
        case "json" => "application/json"
        case "csv" => "text/csv"
        case "zeek" => "application/x-zeek"
        case "zjson" => "application/x-zjson"
        case "zng" => "application/x-zng"
        case "parquet" => "application/x-parquet"
        case _ => "application/x-zson"
      }
      val fmt = chosen match {
        case Some("") | Some("*/*") | None => defMime
        case Some(a) => a
      }
      def compiled[T](c: => T): T = {
        spark.conf.set("graft.lake.root", root)
        try c finally spark.conf.unset("graft.lake.root")
      }
      // x-zjson frames each named output as its own channel, so it
      // compiles the query to its outputs; one output is the query's frame
      val legs: Seq[(String, org.apache.spark.sql.DataFrame)] =
        if (fmt != "application/x-zjson") Seq("main" -> compiled(Graft.query(spark, root, q)))
        else compiled(Graft.queryOutputs(spark, root, q)) match {
          case Seq((_, one)) => Seq("main" -> one)
          case outs => outs
        }
      // the whole result: all outputs combined
      lazy val df = if (legs.length == 1) legs.head._2 else compiled(Graft.query(spark, root, q))
      // ?ctrl= parses with Go's strconv.ParseBool semantics
      val ctrlRaw = query(ex).get("ctrl")
      val boolTrue = Set("1", "t", "T", "TRUE", "true", "True")
      val boolFalse = Set("0", "f", "F", "FALSE", "false", "False")
      ctrlRaw.filterNot(v => boolTrue(v) || boolFalse(v)).foreach { v =>
        jerr(ex, 400, "invalid operation",
          s"""invalid query param "$v": strconv.ParseBool: parsing "$v": invalid syntax""")
        return
      }
      val ctrl = ctrlRaw.exists(boolTrue)
      // every format streams chunked, one partition at a time (rendered
      // parts, toLocalIterator or part files on disk) — driver memory
      // stays one partition regardless of result size, like the
      // reference's paged ZNG-over-HTTP. csv/tsv stay buffered: their
      // single-shape error must be known up front.
      fmt match {
        case "application/json" | "text/plain" =>
          graft.sources.ZFormat.jsonIter(df) { itr =>
            val os = openChunked(ex, "application/json")
            os.write('[')
            var first = true
            while (itr.hasNext) {
              if (!first) os.write(',')
              os.write(itr.next().getBytes(StandardCharsets.UTF_8))
              first = false
            }
            os.write(']'); os.write('\n')
            os.flush(); ex.getResponseBody.close()
          }
        case "text/csv" =>
          respond(ex, 200,
            graft.sources.ZFormat.csvLines(df).mkString("", "\n", "\n"), "text/csv")
        case "text/tab-separated-values" =>
          val lines = graft.sources.ZFormat.csvLines(df, "\t")
          respond(ex, 200, lines.mkString("", "\n", "\n"), "text/tab-separated-values")
        case "application/x-ndjson" =>
          graft.sources.ZFormat.jsonIter(df)(
            streamLines(ex, "application/x-ndjson", _, emptyNewline = true))
        case "application/x-zeek" =>
          graft.sources.ZFormat.lines(df, "zeek")(
            streamLines(ex, "application/x-zeek", _, emptyNewline = true))
        case "application/x-zjson" =>
          // the control-capable format: channel framing + end-of-query
          // stats ride as typed control messages (api.go QueryChannelSet/
          // QueryChannelEnd/QueryStats) when ctrl is requested; a fork
          // with named outputs frames each leg as its own channel
          // matched stats describe the FILTERED result (the reference's
          // progress counts records passing the filter); read stats stay
          // the whole-pool scan counters. Computed before streaming
          // starts so a stats failure can still 400.
          val stats: Option[String] = if (!ctrl) None else Some {
            val (nRead, bRead) =
              firstFrom.map(_.takeWhile(c => c != '@' && c != ':')) match {
                case Some(p) if Lake.exists(root, p) => Lake.scanStats(root, p)
                case _ => (0L, 0L)
              }
            val (nMatch, bMatch) =
              try Lake.bodyStats(df) catch { case _: Exception => (nRead, bRead) }
            val sec = System.currentTimeMillis() / 1000
            s"""{"type":"QueryStats","value":{"start_time":{"sec":$sec,"ns":123456789},"update_time":{"sec":$sec,"ns":123456789},"bytes_read":$bRead,"bytes_matched":$bMatch,"records_read":$nRead,"records_matched":$nMatch}}"""
          }
          val os = openChunked(ex, "application/x-zjson")
          def line(s: String): Unit = {
            os.write(s.getBytes(StandardCharsets.UTF_8)); os.write('\n')
          }
          for ((name, leg) <- legs) {
            if (ctrl)
              line(s"""{"type":"QueryChannelSet","value":{"channel":"${Service.esc(name)}"}}""")
            graft.sources.ZjsonIO.typedIter(leg).foreach(line)
            if (ctrl)
              line(s"""{"type":"QueryChannelEnd","value":{"channel":"${Service.esc(name)}"}}""")
          }
          stats.foreach(line)
          os.flush(); ex.getResponseBody.close()
        case "application/x-parquet" | "application/x-vng" |
             "application/vnd.apache.arrow.stream" | "application/x-zng" =>
          val wfmt = fmt match {
            case "application/x-parquet" => "parquet"
            case "application/x-vng" => "vng"
            case "application/x-zng" => "zng"
            case _ => "arrows"
          }
          val d = java.nio.file.Files.createTempDirectory("svcresp")
          try {
            // zng streams concatenate, so the write stays distributed and
            // part files stream to the body in order; parquet/arrow/vng
            // are single-stream formats → one output task
            val p = d.resolve(s"out.$wfmt")
            Formats.write(if (wfmt == "zng") df else df.coalesce(1),
              p.toString, wfmt)
            val parts = {
              val s = java.nio.file.Files.list(p)
              try {
                val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
                s.iterator().forEachRemaining { pp =>
                  if (pp.getFileName.toString.startsWith("part-")) buf += pp
                }
                buf.sortBy(_.getFileName.toString).toSeq
              } finally s.close()
            }
            val os = openChunked(ex, fmt)
            for (pp <- parts) {
              val in = java.nio.file.Files.newInputStream(pp)
              try { in.transferTo(os): Unit } finally in.close()
            }
            os.flush(); ex.getResponseBody.close()
          } finally
            org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit
        case _ =>
          // a large x-zson response must never buffer whole on the driver
          graft.sources.ZFormat.lines(df, "zson")(streamLines(ex, "application/x-zson", _))
      }
    } catch {
      case e: Exception =>
        val raw = String.valueOf(e.getMessage)
        val fmt0 = chosen.getOrElse("")
        // the reference's writer errors use its own io-package names
        val msg =
          if (raw.contains("EMPTY_SCHEMA_NOT_SUPPORTED") &&
              fmt0 == "application/x-parquet")
            "parquetio: unsupported type: empty record"
          else raw
        queryStatus.synchronized { queryStatus.put(rid, msg): Unit }
        logWarn("Error writing batch", msg)
        val binary = Set("application/x-parquet", "application/x-vng",
          "application/x-zng", "application/vnd.apache.arrow.stream")
        // once a chunked response has begun the headers are gone — all
        // we can do is truncate the stream (the client sees a broken
        // chunked body, like the reference on a mid-stream error).
        // Binary formats report runtime errors ONLY via /query/status.
        if (ex.getResponseCode == -1) {
          if (binary(fmt0)) { ex.sendResponseHeaders(200, -1); ex.close() }
          else jerr(ex, 400, "invalid operation", msg)
        } else
          try ex.getResponseBody.close() catch { case _: Exception => }
    }
  }

  // bounded per-request error store backing /query/status/<rid>
  private val queryStatus =
    new java.util.LinkedHashMap[String, String](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean = size() > 128
    }

  /** A pool's config + main branch as the reference's JSON (POST /pool). */
  /** The create response in the default zson format: {pool,branch} with
    * the reference marshaler's package-style named types (lake/pools).
    */
  private def poolZson(root: String, name: String): String = {
    val k = Lake.poolKey(root, name).getOrElse("ts")
    val order = Lake.poolOrder(root, name)
    val ts = java.time.Instant.now().toString
    val idHex = try graft.functions.Ksuid.decodeHex(Lake.poolId(root, name))
                catch { case _: Exception => "00" * 20 }
    val zero = "00" * 20
    s"""{pool:{ts:$ts,name:"$name",id:0x$idHex(=ksuid.KSUID),layout:{order:"$order"(=order.Which),keys:[["$k"](=field.Path)](=field.List)}(=order.SortKey),seek_stride:65536,threshold:524288000}(=pools.Config),branch:{ts:$ts,name:"main",commit:0x$zero(=ksuid.KSUID)}(=branches.Config)}"""
  }

  private def poolJson(root: String, name: String): String = {
    val lk = Lake
    val k = lk.poolKey(root, name).getOrElse("ts")
    val order = lk.poolOrder(root, name)
    val ts = java.time.Instant.now().toString
    val idHex = try lk.poolId(root, name) catch { case _: Exception => "" }
    s"""{"pool":{"ts":"$ts","name":"$name","id":"$idHex","layout":{"order":"$order","keys":[["$k"]]},"seek_stride":65536,"threshold":524288000},"branch":{"ts":"$ts","name":"main","commit":"0x0000000000000000000000000000000000000000"}}"""
  }

  /** Resolve a path segment that names a pool directly or by ksuid id. */
  private def poolByNameOrId(root: String, seg: String): Option[String] =
    if (Lake.exists(root, seg)) Some(seg)
    else Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).toSeq.map(_.getName)
      .find(n => Lake.exists(root, n) &&
        (try Lake.poolId(root, n) == seg
         catch { case _: Exception => false }))

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8") }
      .toMap

  private def handler(f: HttpExchange => (Int, String)): HttpHandler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      // the reference wraps the ENTIRE mux in rs/cors (service/core.go) —
      // every endpoint gets origin headers and answers preflights
      if (cors(ex)) return
      if (unauthorized(ex)) return
      val (code, body) =
        try f(ex)
        catch { case e: Exception =>
          (400, s"""{error:"${Service.esc(String.valueOf(e.getMessage))}"}""" + "\n") }
        finally graft.lang.Compiler.clearDebug()
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/x-zson")
      ex.sendResponseHeaders(code, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }
  }
}

object Service {
  /** The message of the first error in `e`'s cause chain that is not
    * Spark's own: a failed job wraps a task's error in Spark's abort text,
    * with stage numbers and stack traces. `e`'s message when every error
    * in the chain is Spark's.
    */
  private[graft] def ownMessage(e: Throwable): String = {
    val own = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .find(!_.getClass.getName.startsWith("org.apache.spark."))
    String.valueOf(own.flatMap(c => Option(c.getMessage)).getOrElse(e.getMessage))
  }

  /** ZSON string-literal escaping for interpolated response text. */
  private[graft] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")

  /** `runMain graft.Service [port] [dir] [flags…]` — serve until killed.
    * Flags mirror the reference service's (`-lake=`, `-auth.*`,
    * `-cors.origin=`, `-log.path=`, `-defaultfmt=`).
    */
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("-"))
    val port = positional.headOption.map(_.toInt).getOrElse(9867) // zed's default port
    val dir = positional.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    def flag(name: String): Option[String] = args.collectFirst {
      case f if f.startsWith(s"-$name=") => f.stripPrefix(s"-$name=")
    }
    val auth =
      if (flag("auth.enabled").exists(v => v == "true" || v == "t" || v == "1"))
        Some(Auth.Config(flag("auth.audience").getOrElse(""),
          flag("auth.clientid").getOrElse(""),
          flag("auth.domain").getOrElse(""),
          flag("auth.jwkspath").getOrElse("")))
      else None
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val svc = new Service(spark, dir, port,
      lakeRootOpt = flag("lake"),
      corsOrigins = args.toSeq.collect {
        case f if f.startsWith("-cors.origin=") => f.stripPrefix("-cors.origin=") },
      defaultFmt = flag("defaultfmt").getOrElse("zson"),
      authConfig = auth,
      logPath = flag("log.path"))
    val actual = svc.start()
    println(s"graft service listening on 127.0.0.1:$actual")
    Thread.currentThread().join()
  }
}
