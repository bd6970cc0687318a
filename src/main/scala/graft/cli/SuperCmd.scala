package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

import graft.lang.Graft
import graft.sources.{Formats, ZsonIO, ZsonReader}
import graft.cli.SuperCmd.{PartialOutput, Unsupported, VersionRequested}

/** The `super` command surface — `super query`, `super db <cmd>`,
  * `super dev <cmd>` — shipped in the main library (reference:
  * cmd/super/query, cmd/super/db/command.go, cmd/super/dev). The same
  * dispatch serves the shipped CLI (graft.Cli) and the script-flow test
  * harness: the harness injects its shell environment through
  * [[SuperCmd.Host]], the CLI injects the real process environment.
  */
object SuperCmd {

  /** Host environment a super-command invocation runs against. */
  trait Host {
    /** Shell/process environment lookup (SUPER_DB_LAKE, XDG_DATA_HOME…). */
    def env(name: String): Option[String]
    /** Current working directory — relative paths resolve against it. */
    def cwd: java.nio.file.Path
    /** Session base dir (default-lake fallback, `from <file>` root). */
    def workDir: java.nio.file.Path
    /** Backing root of an in-process service, when one is running —
      * `-lake http://…` resolves through it (the CLI has none). */
    def serviceRoot: Option[String]
    /** Whether that service has bearer-token auth enabled. */
    def serviceAuthEnabled: Boolean
    /** stderr sink (`-s` scanner stats). */
    def stderr(text: String): Unit
  }

  /** A command/flag outside the implemented surface. */
  final class Unsupported(what: String) extends RuntimeException(s"unsupported: $what")

  private[cli] final class VersionRequested extends RuntimeException("version")

  /** Some output was produced before the error (the -e=false form). */
  final class PartialOutput(val stdout: String, message: String)
      extends RuntimeException(message)

  val versionLine = "Version: v1.18.0-graft\n"
}

final class SuperCmd(spark: SparkSession, host: SuperCmd.Host) {

  import SuperCmd.versionLine

  /** Default `super query` output format when no -f/-z/… flag is given.
    * The reference's outputflags default to binary zng whenever stdout is
    * NOT a terminal; interactive surfaces keep "zson".
    */
  var defaultOutFormat: String = "zson"

  // per-configdir bearer tokens (`super db auth store -configdir X`);
  // the reference keeps these in <configdir>/credentials.json
  private val authTokens = scala.collection.mutable.Map.empty[String, String]

  /** Public dispatch: `super query …` / `super db …` / `super dev …`. */
  def query(args: Seq[String], stdin: Option[String]): String = superQuery(args, stdin)
  def db(args: Seq[String], stdin: Option[String]): String = superDb(args, stdin)
  def dev(args: Seq[String], stdin: Option[String]): String = superDev(args, stdin)

  private def filePath(name: String): String =
    if (name.startsWith("/") || name.startsWith("http://") ||
        name.startsWith("https://") || name.startsWith("s3://")) name
    else host.cwd.resolve(name).normalize().toString

  /** Binary content rides Strings as ISO-8859-1 (byte-preserving). */
  private def isBinaryText(s: String): Boolean =
    s.exists(c => c < 0x09 || (c > 0x0d && c < 0x20) || c == 0x7f)

  private def readFile(name: String): String = {
    val p = java.nio.file.Paths.get(filePath(name))
    val bytes = java.nio.file.Files.readAllBytes(p)
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch { case _: java.nio.charset.CharacterCodingException =>
      new String(bytes, "ISO-8859-1") }
  }

    /** GET a service URL with an optional bearer token; returns
      * (status, body).
      */
    private def httpGet(url: String, token: Option[String]): (Int, String) = {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body =
        if (is == null) ""
        else new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      conn.disconnect()
      (code, body)
    }

    private def jsonErrField(body: String): String =
      "\"error\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse(body.trim)

    /** Throw the client-visible "status code 401: …" error when the
      * in-process service has auth enabled and the command targets it
      * without a valid stored token (api/client formats HTTP errors this
      * way).
      */
    private def requireServiceAuth(lake: Option[String], configDir: String): Unit = {
      val viaHttp = lake.orElse(host.env("SUPER_DB_LAKE").filter(_.nonEmpty))
        .exists(_.startsWith("http"))
      if (!viaHttp || !host.serviceAuthEnabled) return
      val base = lake.filter(_.startsWith("http"))
        .orElse(host.env("SUPER_DB_LAKE")).getOrElse("")
      authTokens.get(configDir) match {
        case None =>
          throw new RuntimeException("status code 401: no token present in request")
        case Some(tok) =>
          val (code, body) = httpGet(s"$base/auth/identity", Some(tok))
          if (code != 200)
            throw new RuntimeException(s"status code $code: ${jsonErrField(body)}")
      }
    }

    /** `super db auth store|verify|method` (cmd/super/db/auth). */
    private def superDbAuth(args: Seq[String], configDir: String): String = {
      val base = host.env("SUPER_DB_LAKE").getOrElse("")
      args.headOption.getOrElse("") match {
        case "store" =>
          var tok = ""
          var i = 1
          while (i < args.length) args(i) match {
            case "-access" => tok = args(i + 1); i += 2
            case other => throw new Unsupported(s"db auth store flag $other")
          }
          authTokens(configDir) = tok
          // the reference persists to <configdir>/credentials.json
          // (default ~/.zed) keyed by service URL — the python client
          // reads creds['services'][base_url]['access']
          val credDir = java.nio.file.Paths.get(
            if (configDir.nonEmpty) filePath(configDir)
            else host.workDir.resolve(".zed").toString)
          java.nio.file.Files.createDirectories(credDir)
          val baseQ = base.replace("\\", "\\\\").replace("\"", "\\\"")
          java.nio.file.Files.writeString(credDir.resolve("credentials.json"),
            s"""{"version":"v1","services":{"$baseQ":{"access":"$tok"}}}""")
          ""
        case "verify" =>
          val tok = authTokens.get(configDir)
          val (code, body) = httpGet(s"$base/auth/identity", tok)
          if (code != 200)
            throw new RuntimeException(s"status code $code: ${jsonErrField(body)}")
          // json.MarshalIndent(res, "", "\t") layout
          def field(n: String): String =
            ("\"" + n + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(body)
              .map(_.group(1)).getOrElse("")
          s"{\n\t\"tenant_id\": \"${field("tenant_id")}\",\n\t\"user_id\": \"${field("user_id")}\"\n}\n"
        case "method" =>
          val (code, body) = httpGet(s"$base/auth/method", None)
          if (code != 200)
            throw new RuntimeException(s"status code $code: ${jsonErrField(body)}")
          def field(n: String): String =
            ("\"" + n + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(body)
              .map(_.group(1)).getOrElse("")
          if (!body.contains("auth0")) s"{\n\t\"kind\": \"${field("kind")}\"\n}\n"
          else
            s"{\n\t\"kind\": \"auth0\",\n\t\"auth0\": {\n\t\t\"audience\": \"${field("audience")}\"," +
              s"\n\t\t\"client_id\": \"${field("client_id")}\",\n\t\t\"domain\": \"${field("domain")}\"\n\t}\n}\n"
        case other => throw new Unsupported(s"db auth $other")
      }
    }

    // ---- super query --------------------------------------------------------

    private final case class QFlags(
      format: String, inFmt: Option[String], query: Option[String],
      includes: Seq[String], files: Seq[String], useStdin: Boolean,
      outFile: Option[String], quiet: Boolean,
      split: Option[String] = None, splitSize: Option[Long] = None,
      canonical: Boolean = false, noStop: Boolean = false,
      stats: Boolean = false, persist: Option[String] = None)

    private def parseQueryFlags(args: Seq[String]): QFlags = {
      spark.conf.unset("graft.agg.maxValueSize") // per-command flags
      graft.sources.ZngIO.compressFrames = true
      graft.sources.ZngIO.readMaxFrame = Long.MaxValue
      var persist: Option[String] = None
      var format = defaultOutFormat
      var inFmt: Option[String] = None
      var query: Option[String] = None
      var includes = Vector.empty[String]
      var files = Vector.empty[String]
      var useStdin = false
      var outFile: Option[String] = None
      var quiet = false
      var split: Option[String] = None
      var splitSize: Option[Long] = None
      var explicitFmt = false
      var jFlag = false
      var canonical = false
      var noStop = false
      var stats = false
      var i = 0
      def sizeOf(v: String): Long =
        """(\d+)(KiB|MiB|GiB|KB|MB|GB|[KMG]?B?)""".r.findFirstMatchIn(v).map { m =>
          m.group(1).toLong * (m.group(2) match {
            // go-units: KB/MB/GB are SI (1000), K/KiB binary (1024)
            case "KB" => 1000L; case "MB" => 1000L * 1000; case "GB" => 1000L * 1000 * 1000
            case "K" | "KiB" => 1024L; case "M" | "MiB" => 1024L * 1024
            case "G" | "GiB" => 1024L * 1024 * 1024
            case _ => 1L
          })
        }.getOrElse(0L)
      while (i < args.length) {
        args(i) match {
          case "-z" => format = "zson"; explicitFmt = true; i += 1
          case "-Z" => format = "zson-pretty"; explicitFmt = true; i += 1
          case "-f" =>
            // reference -f zson/json default to pretty=4 (cli/outputflags
            // -pretty); the compact line forms are the -z / -j shortcuts
            format = args(i + 1) match {
              case "zson" => "zson-pretty"
              case "json" => "json-pretty"
              case v => v
            }
            explicitFmt = true; i += 2
          case "-j" => format = "json"; jFlag = true; i += 1
          case "-J" => format = "json-pretty"; jFlag = true; i += 1
          case "-i" => inFmt = Some(args(i + 1)); i += 2
          case "-c" => query = Some(args(i + 1)); i += 2
          case "-I" => includes :+= args(i + 1); i += 2
          case "-o" => outFile = Some(args(i + 1)); i += 2
          case "-q" => quiet = true; i += 1
          case "-s" => stats = true; i += 1
          case "-split" => split = Some(args(i + 1)); i += 2
          case "-splitsize" => splitSize = Some(sizeOf(args(i + 1))); i += 2
          case f @ ("-aggmem" | "-sortmem" | "-fusemem") =>
            // sortmem: validated, then ignored — Spark spills on its own.
            // aggmem caps the per-aggregate VALUE size (agg.MaxValueSize:
            // collect/union discard oldest entries over budget)
            val v = sizeOf(args(i + 1))
            if (v <= 0)
              throw new RuntimeException(
                s"${f.stripPrefix("-")} value must be greater than zero")
            if (f == "-aggmem") spark.conf.set("graft.agg.maxValueSize", v)
            i += 2
          case "-e=false" => noStop = true; i += 1
          case "-e" => i += 1
          // per-value flush: realized by the fifo background reader's
          // chunk-at-a-time processing (runBackground)
          case "-unbuffered" => i += 1
          // legacy zq -B: force binary zng even on a terminal
          case "-B" => format = "zng"; explicitFmt = true; i += 1
          case "-pretty=0" =>
            format = if (format.startsWith("json")) "json" else "zson"
            explicitFmt = true; i += 1
          case p if p.startsWith("-pretty=") =>
            format = if (format.startsWith("json")) "json-pretty" else "zson-pretty"
            explicitFmt = true; i += 1
          case "-pretty" =>
            val fam = if (format.startsWith("json")) "json" else "zson"
            format = if (args(i + 1) == "0") fam else fam + "-pretty"
            explicitFmt = true; i += 2
          case "-zng.compress=false" =>
            graft.sources.ZngIO.compressFrames = false; i += 1
          case "-zng.readmax" =>
            graft.sources.ZngIO.readMaxFrame = sizeOf(args(i + 1)); i += 2
          case "-zng.threads" => i += 2
          case "-persist" => persist = Some(args(i + 1)); i += 2
          case "-C" => canonical = true; i += 1
          case "-version" =>
            throw new VersionRequested
          case "-" => useStdin = true; i += 1
          case f if f.startsWith("-") => throw new Unsupported(s"flag $f")
          case word =>
            // first bare word: query text if none yet AND it's not an
            // existing file (or file glob); later words are input files
            // a glob is a FILE argument only when it can't be the query
            // (`-c` given) or it's filename-shaped (`out-*.parquet`) —
            // a bare `*` in query position is the match-all filter
            val fileShaped = word.exists("*?[".contains(_)) &&
              (query.isDefined || includes.nonEmpty ||
                word.contains(".") || word.contains("/"))
            val globMatches: Seq[String] =
              if (fileShaped) {
                val dir = java.nio.file.Paths.get(filePath(".")).normalize
                val m = java.nio.file.FileSystems.getDefault
                  .getPathMatcher("glob:" + word)
                if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
                else if (word.contains("/"))
                  // multi-level glob (test/*/data/*-seek.zng): match the
                  // path relative to the working directory
                  java.nio.file.Files.walk(dir).iterator.asScala
                    .filter(p => java.nio.file.Files.isRegularFile(p) &&
                      m.matches(dir.relativize(p)))
                    .map(p => dir.relativize(p).toString).toSeq.sorted
                else
                  java.nio.file.Files.list(dir).iterator.asScala
                    .filter(p => m.matches(p.getFileName)).map(_.getFileName.toString)
                    .toSeq.sorted
              } else Seq.empty
            val isUrl = word.startsWith("http://") ||
              word.startsWith("https://") || word.startsWith("s3://")
            val isFile = isUrl || java.nio.file.Files.exists(
              java.nio.file.Paths.get(filePath(word)))
            if (isUrl) files :+= word
            else if (globMatches.nonEmpty) files ++= globMatches
            else if (query.isEmpty && includes.isEmpty && !isFile) query = Some(word)
            else files :+= word
            i += 1
        }
      }
      if (jFlag && explicitFmt)
        throw new RuntimeException("cannot use -j or -J with -f, -z, or -Z")
      QFlags(format, inFmt, query, includes, files, useStdin, outFile, quiet,
        split, splitSize, canonical, noStop, stats, persist)
    }

    private def buildStdinFrame(text: String, inFmt: Option[String]): DataFrame =
      try buildStdinFrame0(text, inFmt)
      catch {
        case e: Exception if Option(e.getMessage)
            .exists(_.contains("not a member of type")) =>
          val m = e.getMessage
          throw new RuntimeException(
            "stdio:stdin: " + m.substring(m.indexOf("symbol")))
        case e: Exception if Option(e.getMessage)
            .exists(_.contains("no such type name")) =>
          // typed parse errors surface verbatim with the stdio source
          // name, not as detection failures (zson/parser error texts)
          val m = e.getMessage
          throw new RuntimeException(
            "stdio:stdin: " + m.substring(m.indexOf("no such type name")))
        case e: Exception if inFmt.isEmpty =>
          throw new RuntimeException(
            s"stdin: format detection error: ${e.getMessage}")
      }

    private def goDetectionError(source: String, text: String): String =
      Formats.detectionError(source, text)

    /** Could this stdin text be ANY known format? (anyio detection) */
    private def plausibleStdin(text: String): Boolean = {
      val t = text.dropWhile(_.isWhitespace)
      if (t.isEmpty) return true
      val c = t.head
      c == '{' || c == '[' || c == '|' || c == '<' || c == '"' || c == '-' ||
        c == '+' || c == '(' || c == '#' || c.isDigit ||
        t.startsWith("true") || t.startsWith("false") || t.startsWith("null") ||
        t.startsWith("NaN") || t.startsWith("Inf") || t.startsWith("error(") ||
        t.startsWith("0x") || looksLikeCsv(text)
    }

    private def buildStdinFrame0(text: String, inFmt: Option[String]): DataFrame = {
      if (inFmt.isEmpty && !isBinaryText(text) && !plausibleStdin(text))
        throw new RuntimeException("stdin: format detection error")
      // binary formats on stdin (cat a.zng | …, curl | super -i arrows -):
      // bytes ride the string as ISO-8859-1 — round-trip to a temp file
      val binFmt = inFmt.filter(Set("zng", "vng", "parquet", "arrows", "arrow"))
      // VNG layout needs random access (vng/object.go NewObject reads the
      // trailer first) — a pipe cannot provide it
      if (binFmt.contains("vng"))
        throw new RuntimeException("stdio:stdin: VNG requires a seekable input")
      if (binFmt.isDefined ||
          (inFmt.isEmpty && isBinaryText(text) && text.forall(_ <= 0xff))) {
        val d = java.nio.file.Files.createTempDirectory("mdstdin")
        val ext = binFmt.getOrElse("zng")
        val p = d.resolve(s"stdin.$ext")
        java.nio.file.Files.write(p, text.getBytes("ISO-8859-1"))
        return Formats.read(spark, p.toString)
      }
      val flags = inFmt.map(f => s"-i $f").getOrElse {
        if (text.startsWith("#separator") || text.startsWith("#fields") ||
            text.startsWith("#path")) "-i zeek"
        else if (looksLikeSv(text, '\t')) "-i tsv"
        else if (looksLikeCsv(text)) "-i csv"
        else ""
      }
      graft.sources.TextInput.build(spark, text, flags)
    }

    /** anyio-style stdin sniff: a comma-regular header plus rows that do
      * NOT parse as zson (bare `a,b` words aren't zson values).
      */
    private def looksLikeCsv(text: String): Boolean = looksLikeSv(text, ',')

    private def looksLikeSv(text: String, sep: Char): Boolean = {
      val lines = text.linesIterator.filter(_.nonEmpty).toSeq
      if (lines.length < 2 || !lines.head.contains(sep)) return false
      val n = lines.head.count(_ == sep)
      if (n == 0 || !lines.forall(l => l.count(_ == sep) == n)) return false
      try { graft.sources.ZsonParser.parseAll(text); false }
      catch { case _: Exception => true }
    }

    private def combineFrames(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.length == 1) dfs.head
      else graft.operators.ZedOps.combine(dfs: _*)

    /** Rewrite a compile diagnostic's "at line L" to "in <file> at line
      * L'" when the offending line came from a -I include (the reference
      * attributes errors to their source file).
      */
    private def attributeDiag(msg: String, includes: Seq[(String, String)],
        queryLines: Int): String = {
      if (includes.isEmpty) return msg
      val re = "at line (\\d+), column (\\d+)".r
      re.findFirstMatchIn(msg) match {
        case Some(m) =>
          val line = m.group(1).toInt
          var off = 0
          for ((f, text) <- includes) {
            val n = text.stripLineEnd.linesIterator.length
            if (line > off && line <= off + n) {
              val local = line - off
              return msg.replaceFirst("at line \\d+,",
                java.util.regex.Matcher.quoteReplacement(
                  s"in $f at line $local,"))
            }
            off += n
          }
          msg
        case None => msg
      }
    }

    /** The reference's columnar-writer type checks (zio/parquetio,
      * zio/arrowio): one record type per file, no empty records, and
      * parquet lacks DURATION/FLOAT16 — each surfaced with the writer's
      * exact error text (writer-errors ztests).
      */
    private def validateColumnarOut(res: org.apache.spark.sql.DataFrame,
        fmt: String): Unit = {
      val prefix = if (fmt == "parquet") "parquetio" else "arrowio"
      val zt = graft.sources.ZType
      val shapes: Seq[String] = res.schema.fields
        .find(_.name == graft.operators.Het.typeTag)
        .filter(_.metadata.contains("shapes"))
        .map(_.metadata.getStringArray("shapes").toSeq.distinct)
        .getOrElse(Seq.empty)
      if (shapes.length > 1)
        throw new RuntimeException(s"$prefix: encountered multiple types " +
          s"(consider 'fuse'): ${shapes(0)} and ${shapes(1)}")
      shapes.headOption.foreach { t =>
        val parsed =
          try Some(graft.sources.ZsonParser.parseType(zt.stripNullWrap(t)))
          catch { case _: Exception => None }
        parsed.foreach { ty =>
          zt.strip(ty) match {
            case zt.Rec(fs) =>
              if (fs.isEmpty)
                throw new RuntimeException(
                  s"$prefix: unsupported type: empty record")
              if (fmt == "parquet") {
                def walk(x: graft.sources.ZType): Unit = zt.strip(x) match {
                  case zt.Prim("duration") => throw new RuntimeException(
                    "parquetio: unsupported type: not implemented: support for DURATION")
                  case zt.Prim("float16") => throw new RuntimeException(
                    "parquetio: unsupported type: not implemented: support for FLOAT16")
                  case zt.Rec(sub) => sub.foreach(f => walk(f._2))
                  case zt.Arr(e) => walk(e)
                  case zt.SetT(e) => walk(e)
                  case _ => ()
                }
                walk(ty)
              }
            case _ =>
              val v = graft.sources.ZsonIO.toZson(res.limit(1))
                .collect().headOption.getOrElse("null")
              throw new RuntimeException(s"$prefix: not a record: $v")
          }
        }
      }
    }

    private def superQuery(args: Seq[String], stdin: Option[String]): String = {
      val f = try parseQueryFlags(args)
              catch { case _: VersionRequested => return versionLine }
      val inc = f.includes.map(readFile)
      val queryText = (inc ++ f.query.toSeq).mkString("\n").trim
      if (f.canonical)
        return graft.lang.Canon.format(queryText) + "\n"
      // parse errors surface in the reference's caret format
      // (cmd/super: "error parsing SuperPipe at line L, column C")
      if (queryText.nonEmpty) try graft.lang.Parser.parse(queryText)
      catch {
        case e: graft.lang.CompileDiag =>
          throw new RuntimeException(attributeDiag(e.getMessage,
            f.includes.map(i => i -> readFile(i)),
            f.query.map(_.linesIterator.length).getOrElse(0)))
        case e: IllegalArgumentException if Option(e.getMessage)
            .exists(_.startsWith("parse error at ")) =>
          val off = "parse error at (\\d+)".r.findFirstMatchIn(e.getMessage)
            .map(_.group(1).toInt).getOrElse(0)
          val upTo = queryText.take(off)
          val lineNo = upTo.count(_ == '\n') + 1
          val colNo = off - upTo.lastIndexOf('\n')
          val lineText = queryText.linesWithSeparators.toSeq
            .lift(lineNo - 1).getOrElse(queryText).stripLineEnd
          throw new RuntimeException(
            s"super query: error parsing SuperPipe at line $lineNo, column $colNo:\n" +
              lineText + "\n" + (" " * math.max(0, colNo - 5)) + "=== ^ ===")
        case _: Exception => // other shapes fall through to the engine
      }
      // `from ( pool … )` without a lake is a compile error (cmd/super)
      if (spark.conf.getOption("graft.lake.root").isEmpty) {
        val m = java.util.regex.Pattern.compile("pool\\s+\\w+")
          .matcher(queryText)
        if (queryText.matches("(?s).*from\\s*\\(\\s*pool\\s+.*") && m.find()) {
          val col = queryText.indexOf("pool") + 1
          throw new RuntimeException(
            "super query: \"from pool\" cannot be used without a lake" +
              s" at line 1, column $col:\n$queryText\n" +
              (" " * (col - 1)) + ("~" * (m.end - m.start)))
        }
      }
      // -e=false: process each file independently, keep going on errors,
      // report them at the end (stop-on-error semantics)
      if (f.noStop && f.files.nonEmpty) {
        val outs = new StringBuilder
        val errs = Vector.newBuilder[String]
        def fileErr(p: String, e: Throwable): String = {
          var t: Throwable = e
          while (t.getCause != null && t.getCause != t) t = t.getCause
          val m = Option(t.getMessage).getOrElse(e.toString)
          val ix = m.indexOf("no such type name")
          if (ix >= 0) s"$p: ${m.substring(ix)}"
          else if (m.contains("format detection error")) m.linesIterator.next()
          else s"$p: ${m.linesIterator.next()}"
        }
        for (p <- f.files) {
          try {
            val df = Formats.read(spark, filePath(p), f.inFmt)
            val res = if (queryText.isEmpty) df
                      else withCwd(Graft.queryOn(df, queryText))
            outs.append(renderOut(res, f))
          } catch { case e: Exception => errs += fileErr(p, e) }
        }
        val es = errs.result()
        if (es.isEmpty) return outs.toString
        throw new PartialOutput(outs.toString, es.mkString("\n"))
      }
      // an explicit `-` with EMPTY/absent stdin reads zero values (the
      // reference CLI emits nothing, it does not error)
      if (f.useStdin && f.files.isEmpty && queryText.isEmpty &&
          stdin.forall(_.isEmpty))
        return ""
      val frames =
        f.files.map(p => Formats.read(spark, filePath(p), f.inFmt)) ++
          (if (f.useStdin || (f.files.isEmpty && stdin.isDefined))
             stdin.map(buildStdinFrame(_, f.inFmt)).toSeq
           else Seq.empty)
      withCwd {
        val res =
          if (frames.nonEmpty) {
            val in = combineFrames(frames)
            if (queryText.isEmpty) in else Graft.queryOn(in, queryText)
          } else if (queryText.startsWith("from") || queryText.contains("| from")) {
            Graft.query(spark, host.workDir.toString, queryText)
          } else {
            // no input at all: an expression query evaluates over a
            // single null value (`super query -z -c '1+1'` → 2), but an
            // implied SEARCH has nothing to search (no-files ztest)
            require(queryText.nonEmpty, "super query: no query and no input")
            val searchFirst =
              try graft.lang.Parser.parse(queryText).stages.headOption.exists {
                case graft.lang.Stage.Where(_) => true
                case _ => false
              } catch { case _: Exception => false }
            if (searchFirst)
              throw new RuntimeException("super query: no data source found")
            Graft.queryOn(ZsonReader.fromText(spark, "null"), queryText)
          }
        renderOut(res, f)
      }
    }

    private def renderOut(res: DataFrame, f: QFlags): String = {
      f.split.foreach { dir => return renderSplit(res, f, dir) }
      val lines: Seq[String] = f.format match {
        case "zson" if f.persist.isDefined =>
          // -persist <regex>: typedefs whose NAME matches persist across
          // top-level values instead of resetting per value — re-render
          // the decorated stream through one shared formatter
          val re = java.util.regex.Pattern.compile(f.persist.get)
          val fmt = new graft.sources.ZsonFormatter
          ZsonIO.toZson(res).collect().toSeq.map { line =>
            fmt.resetExcept(n => re.matcher(n).find())
            try {
              val v = new graft.sources.ZsonParser(line).parseOne()
              fmt.formatNext(graft.sources.ZValue.typeOf(v), v)
            } catch { case _: Exception => line }
          }
        case "zson" => ZsonIO.toZson(res).collect().toSeq
        case "zson-pretty" =>
          ZsonIO.toZson(res).collect().toSeq
            .map(graft.sources.ZFormat.prettyZson(_))
        case "tsv" =>
          try graft.sources.ZFormat.csvLines(res, "\t")
          catch {
            case e: graft.sources.ZFormat.CsvShapeError =>
              throw new SuperCmd.PartialOutput(
                e.partial.mkString("", "\n", if (e.partial.isEmpty) "" else "\n"),
                e.getMessage)
          }
        case "csv" =>
          try graft.sources.ZFormat.csvLines(res)
          catch {
            case e: graft.sources.ZFormat.CsvShapeError =>
              throw new SuperCmd.PartialOutput(
                e.partial.mkString("", "\n", if (e.partial.isEmpty) "" else "\n"),
                e.getMessage)
          }
        case "zeek" => graft.sources.ZFormat.zeekLines(res)
        case "zjson" => graft.sources.ZjsonIO.typedLines(res)
        case "json" => graft.sources.ZFormat.jsonLines(res)
        case "json-pretty" =>
          // `-J`: the reference's 4-space pretty JSON (zio/jsonio indent)
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          def pp(n: com.fasterxml.jackson.databind.JsonNode, ind: String): String = {
            import scala.jdk.CollectionConverters._
            if (n.isObject) {
              val fs = n.properties().asScala.toSeq
              if (fs.isEmpty) "{}"
              else fs.map { e =>
                s"""$ind    "${e.getKey}": ${pp(e.getValue, ind + "    ")}"""
              }.mkString("{\n", ",\n", s"\n$ind}")
            } else if (n.isArray) {
              val es = n.elements().asScala.toSeq
              if (es.isEmpty) "[]"
              else es.map(e => s"$ind    ${pp(e, ind + "    ")}")
                .mkString("[\n", ",\n", s"\n$ind]")
            } else n.toString
          }
          graft.sources.ZFormat.jsonLines(res).map(l => pp(mapper.readTree(l), ""))
        case "table" => graft.sources.ZFormat.tableLines(res)(_.toVector)
        case "text" => graft.sources.ZFormat.textLines(res)
        case "parquet" | "zng" | "vng" | "zst" | "arrows" | "arrow" =>
          if (f.format != "zng" && f.format != "vng" && f.format != "zst")
            validateColumnarOut(res, f.format)
          f.outFile match {
            case Some("/dev/null") =>
              // NEVER hand /dev/null to a Spark writer (it would replace
              // the device node with a part-file directory); evaluate the
              // plan so errors still surface, then discard
              res.foreach(_ => ())
              return ""
            case Some(out) =>
              // the reference CLI writes a single FILE — scripts cat/read
              // it directly, so concatenate the part files into one
              val d = java.nio.file.Files.createTempDirectory("mdbin")
              val p = d.resolve("out." + f.format)
              Formats.write(res.coalesce(1), p.toString, f.format)
              val parts = java.nio.file.Files.list(p).iterator.asScala
                .filter(_.getFileName.toString.startsWith("part-"))
                .toSeq.sortBy(_.getFileName.toString)
              val bos = new java.io.ByteArrayOutputStream()
              parts.foreach(pp => bos.write(java.nio.file.Files.readAllBytes(pp)))
              java.nio.file.Files.write(
                java.nio.file.Paths.get(filePath(out)), bos.toByteArray)
              return ""
            case None =>
              // binary to (non-tty) stdout: bytes ride back as ISO-8859-1
              // so a shell `>` redirect or pipe stays byte-exact. Writers
              // emit a DIRECTORY of parts; concatenated parts are a valid
              // stream for these formats. An EMPTY result emits zero
              // bytes (the reference writer only closes streams it
              // opened — no lone EOS marker)
              if (res.isEmpty) return ""
              val d = java.nio.file.Files.createTempDirectory("mdbin")
              val p = d.resolve("out." + f.format)
              Formats.write(res.coalesce(1), p.toString, f.format)
              val parts = java.nio.file.Files.list(p).iterator.asScala
                .filter(_.getFileName.toString.startsWith("part-"))
                .toSeq.sortBy(_.getFileName.toString)
              val bos = new java.io.ByteArrayOutputStream()
              parts.foreach(pp => bos.write(java.nio.file.Files.readAllBytes(pp)))
              return new String(bos.toByteArray, "ISO-8859-1")
          }
        case "lake" =>
          // lakeio text rendering of pools.Config values:
          // `NAME <ksuid> key <k> order <o>` (zio/lakeio/writer.go);
          // data.Object values render `<id> <size>B bytes <n> records`
          // with an indented min/max line (formatDataObject)
          import org.apache.spark.sql.functions.{col, expr => sexpr}
          if (Seq("id", "min", "max", "count", "size").forall(res.columns.contains))
            return res.select(col("id"), col("min"), col("max"),
                col("count"), col("size")).collect().map { r =>
              val idTxt = r.get(0) match {
                case b: Array[Byte] => graft.functions.Ksuid.base62(b)
                case s: String => s
                case other => String.valueOf(other)
              }
              def v(x: Any): String = x match {
                case null => "null"
                case s: String => s
                case other => String.valueOf(other)
              }
              s"$idTxt ${r.get(4)}B bytes ${r.get(3)} records\n" +
                s"   min ${v(r.get(1))} max ${v(r.get(2))}\n"
            }.mkString
          val need = Seq("name", "id", "layout")
          if (!need.forall(res.columns.contains))
            throw new Unsupported("format lake on non-pool values")
          return res.select(col("name"), col("id"),
              sexpr("layout.keys[0]"), col("layout.order"))
            .collect().map { r =>
              val idTxt = r.get(1) match {
                case b: Array[Byte] => graft.functions.Ksuid.base62(b)
                case s: String =>
                  val hex = s.stripPrefix("0x")
                  graft.functions.Ksuid.encodeHex(hex)
                case other => String.valueOf(other)
              }
              val keyTxt = r.get(2) match {
                case a: scala.collection.Seq[_] => a.mkString(".")
                case other => String.valueOf(other)
              }
              s"${r.getString(0)} $idTxt key $keyTxt order ${r.get(3)}\n"
            }.mkString
        case other => throw new Unsupported(s"format $other")
      }
      val text = lines.map(_ + "\n").mkString
      f.outFile match {
        case Some(o) =>
          java.nio.file.Files.write(java.nio.file.Paths.get(filePath(o)),
            text.getBytes("UTF-8"))
          ""
        case None => if (f.quiet) "" else text
      }
    }

    /** `-split <dir>`: one output file per _path value, per input shape,
      * or per -splitsize byte chunk (cmd/super/query -split).
      */
    private def renderSplit(res: DataFrame, f: QFlags, dir: String): String = {
      import org.apache.spark.sql.functions.col
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(filePath(dir)))
      val prefix = f.outFile.map(_ + "-").getOrElse("")
      val ext = f.format match {
        case "zeek" => "log"
        case "parquet" | "zng" | "vng" => f.format
        case _ => "zson"
      }
      def writeGroup(name: String, lines: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(filePath(s"$dir/$prefix$name.$ext")),
          lines.map(_ + "\n").mkString.getBytes("UTF-8"))
      def writeGroupDf(name: String, part: DataFrame): Boolean =
        f.format match {
          case "parquet" | "zng" | "vng" =>
            Formats.write(part, filePath(s"$dir/$prefix$name.$ext"), f.format)
            true
          case _ => false
        }
      if (f.splitSize.isDefined) {
        val lines = ZsonIO.toZson(res).collect().toSeq
        var idx = 0
        var cur = Vector.empty[String]
        var bytes = 0L
        def flush(): Unit = if (cur.nonEmpty) { writeGroup(idx.toString, cur); idx += 1; cur = Vector.empty; bytes = 0 }
        for (l <- lines) {
          cur = cur :+ l; bytes += l.length + 1
          if (bytes >= f.splitSize.get) flush()
        }
        flush()
      } else if (res.columns.contains("_path")) {
        val paths = res.select("_path").distinct().collect().map(_.getString(0)).sorted
        for (p <- paths) {
          val part = res.filter(col("_path") === p)
          val lines =
            if (f.format == "zeek") graft.sources.ZFormat.zeekLines(part)
            else ZsonIO.toZson(part).collect().toSeq
          writeGroup(p, lines)
        }
      } else if (res.columns.contains(graft.operators.Het.typeTag)) {
        // one file per SHAPE, first-appearance order (split ztest)
        val tagF = res.schema(graft.operators.Het.typeTag)
        val order: Seq[String] =
          if (tagF.metadata.contains("shapes")) tagF.metadata.getStringArray("shapes").toSeq
          else res.select(graft.operators.Het.typeTag).distinct().collect().map(_.getString(0)).toSeq
        order.zipWithIndex.foreach { case (t, i2) =>
          val part = res.filter(col(graft.operators.Het.typeTag) === t)
          if (!part.isEmpty) {
            // per-shape binary outputs narrow to the shape's own columns
            // (parquet split: each file is ONE record type)
            if (!writeGroupDf(i2.toString,
                graft.operators.Het.narrowToShape(part, t)))
              writeGroup(i2.toString, ZsonIO.toZson(part).collect().toSeq)
          }
        }
      } else if (!writeGroupDf("0", res))
        writeGroup("0", ZsonIO.toZson(res).collect().toSeq)
      ""
    }

    /** Point relative `from <file>` resolution at this shell's host.cwd. */
    private def withCwd[A](body: => A): A = {
      spark.conf.set("graft.cwd", host.cwd.toString)
      try body finally spark.conf.unset("graft.cwd")
    }



    private def lakeRoot(explicit: Option[String]): String = {
      // an EXPLICIT empty -lake is the error case; an unset location
      // falls back to $XDG_DATA_HOME/zed then a per-shell default
      if (explicit.contains(""))
        throw new RuntimeException("lake location must be set (either with " +
          "the -lake flag or SUPER_DB_LAKE environment variable)")
      val raw = explicit
        .orElse(host.env("SUPER_DB_LAKE").filter(_.nonEmpty))
        .orElse(host.env("XDG_DATA_HOME").filter(_.nonEmpty).map(_ + "/zed"))
        .getOrElse(host.workDir.resolve(".lake-default").toString)
      // an http lake (the in-process service) resolves to its backing
      // root — the CLI and the REST surface share the same lake state.
      // Any OTHER http url is dialed for real so connection failures
      // surface with Go's net/http wording (api/client/connection.go)
      if (raw.startsWith("http")) {
        if (host.env("SUPER_DB_LAKE").contains(raw) && host.serviceRoot.isDefined)
          host.serviceRoot.get
        else {
          val u = new java.net.URI(raw)
          val port = if (u.getPort >= 0) u.getPort else 80
          try {
            val s = new java.net.Socket()
            s.connect(new java.net.InetSocketAddress(u.getHost, port), 2000)
            s.close()
            host.serviceRoot.getOrElse(
              throw new RuntimeException(s"$raw: no service running"))
          } catch {
            case _: java.io.IOException =>
              val hostIp =
                if (u.getHost == "localhost") "127.0.0.1" else u.getHost
              throw new RuntimeException(
                s"""Post "$raw/query?ctrl=T": dial tcp $hostIp:$port: """ +
                  "connect: connection refused")
          }
        }
      }
      else filePath(raw)
    }

    // `super db use` state: the default pool@branch (HEAD) for load/query
    private var useHead: Option[(String, String)] = None

    /** A pool's pools.Config value as decorated ZSON (lake/pools). */
    private def poolConfigZson(root: String, pn: String): String =
      graft.sources.Lake.poolConfigZson(root, pn)

    /** Parse the concatenation of query segments; on a parse error,
      * throw the reference's caret-formatted message attributing the
      * segment the offset falls in (`-I file` → "in <file>"; the query
      * argument → unattributed), with line/column relative to it
      * (cmd/super parse error rendering).
      */
    private def caretParseCheck(segments: Seq[(Option[String], String)]): Unit = {
      val joined = segments.map(_._2).mkString("\n").trim
      if (joined.isEmpty) return
      def offOf(text: String): Option[Int] =
        try { graft.lang.Parser.parse(text); None }
        catch {
          case e: IllegalArgumentException if Option(e.getMessage)
              .exists(_.startsWith("parse error at ")) =>
            Some("parse error at (\\d+)".r.findFirstMatchIn(e.getMessage)
              .map(_.group(1).toInt).getOrElse(0))
          case _: Exception => None
        }
      // parse the FULL concatenation once and attribute the segment the
      // global offset falls in — a types-only include is not standalone-
      // parseable but is never the culprit when the main query follows
      val joined0 = segments.map(_._2).mkString("\n")
      var blamed: Option[((Option[String], String), Int)] = None
      offOf(joined0).orElse(offOf(joined)) match {
        case None => return
        case Some(off) =>
          var base = 0
          for (seg <- segments if blamed.isEmpty) {
            val len = seg._2.length
            if (off < base + len + 1 || seg == segments.last)
              blamed = Some((seg, math.max(0, math.min(off - base, len))))
            base += len + 1 // the joining newline
          }
      }
      for (((name, segText), segOff) <- blamed) {
        val text = segText.stripLineEnd
        val upTo = text.take(math.min(segOff, text.length))
        val lineNo = upTo.count(_ == '\n') + 1
        val colNo = upTo.length - upTo.lastIndexOf('\n')
        val lineText = text.linesWithSeparators.toSeq
          .lift(lineNo - 1).getOrElse(text).stripLineEnd
        val where = name.map(n => s"in $n ").getOrElse("")
        throw new RuntimeException(
          s"error parsing SuperPipe ${where}at line $lineNo, column $colNo:\n" +
            lineText + "\n" + (" " * math.max(0, colNo - 5)) + "=== ^ ===")
      }
    }

    /** Key bounds (lo, loInclusive, hi, hiInclusive) implied by a scan
      * filter's top-level AND-conjuncts — the seek-index lookup range
      * (lake/seekindex/range.go). OR or non-literal forms → None (no
      * pruning), matching the reference's conservative planner.
      */
    private def statsKeyRange(e: graft.lang.Expr, key: String)
        : Option[(Option[String], Boolean, Option[String], Boolean)] = {
      import graft.lang.Expr
      def lit(x: Expr): Option[String] = x match {
        case Expr.IntLit(v) => Some(v.toString)
        case Expr.FloatLit(v) => Some(v.toString)
        case Expr.StringLit(v) => Some(v)
        case Expr.TimeLit(ns, _) => Some(ns.toString)
        case _ => None
      }
      def isKey(x: Expr): Boolean = x match {
        case Expr.Path(Seq(k)) => k == key
        case _ => false
      }
      var lo: Option[String] = None; var loInc = true
      var hi: Option[String] = None; var hiInc = true
      def walk(x: Expr): Unit = x match {
        case Expr.Binary("and", l, r) => walk(l); walk(r)
        case Expr.Binary("==", l, r) if isKey(l) && lit(r).isDefined =>
          lo = lo.orElse(lit(r)); hi = hi.orElse(lit(r))
        case Expr.Binary("==", l, r) if isKey(r) && lit(l).isDefined =>
          lo = lo.orElse(lit(l)); hi = hi.orElse(lit(l))
        case Expr.Binary(op @ (">=" | ">"), l, r) if isKey(l) && lit(r).isDefined =>
          if (lo.isEmpty) { lo = lit(r); loInc = op == ">=" }
        case Expr.Binary(op @ ("<=" | "<"), l, r) if isKey(l) && lit(r).isDefined =>
          if (hi.isEmpty) { hi = lit(r); hiInc = op == "<=" }
        case Expr.Binary(op @ (">=" | ">"), l, r) if isKey(r) && lit(l).isDefined =>
          if (hi.isEmpty) { hi = lit(l); hiInc = op == ">=" }
        case Expr.Binary(op @ ("<=" | "<"), l, r) if isKey(r) && lit(l).isDefined =>
          if (lo.isEmpty) { lo = lit(l); loInc = op == "<=" }
        case _ =>
      }
      walk(e)
      if (lo.isEmpty && hi.isEmpty) None else Some((lo, loInc, hi, hiInc))
    }

    /** Go units.Bytes syntax: 1B, 1KB (=1000), 2KiB (=1024), 5MB… */
    private def parseBytesUnit(s: String): Long = {
      val m = "^(\\d+(?:\\.\\d+)?)\\s*([KMGTkmgt]?i?)[Bb]?$".r
        .findFirstMatchIn(s.trim)
        .getOrElse(throw new RuntimeException(s"invalid byte size: $s"))
      val n = BigDecimal(m.group(1))
      val mult = m.group(2).toLowerCase match {
        case "" => BigDecimal(1)
        case "k" => BigDecimal(1000)
        case "ki" => BigDecimal(1024)
        case "m" => BigDecimal(1000000)
        case "mi" => BigDecimal(1 << 20)
        case "g" => BigDecimal(1000000000L)
        case "gi" => BigDecimal(1 << 30)
        case _ => BigDecimal(1)
      }
      (n * mult).toLong
    }

    /** `db use` persists HEAD to $ZED_HEAD_DIR/.zed_head (cmd/super/db). */
    private def persistHead(): Unit =
      for ((p, b) <- useHead; dir <- host.env("ZED_HEAD_DIR").filter(_.nonEmpty))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(filePath(dir)).resolve(".zed_head"),
          s"$p@$b\n".getBytes("UTF-8"))

    private def headTarget(explicit: String): (String, String) =
      if (explicit.nonEmpty) explicit.indexOf('@') match {
        case -1 => (explicit, "main")
        case ix => (explicit.take(ix), explicit.drop(ix + 1))
      } else useHead.getOrElse(
        throw new RuntimeException("default pool and branch unset"))

    /** `super dev …` developer subcommands (cmd/super/dev): compile
      * prints the canonical form (zfmt), `vector` drives the columnar
      * read path (vcache), `dig frames` dumps low-level zng framing.
      */
    private def superDev(args: Seq[String], stdin: Option[String]): String =
      args.headOption.getOrElse("") match {
        case "compile" =>
          var rest = args.tail
          var includes = Vector.empty[String]
          var q: Option[String] = None
          var sem = false
          var opt = false
          var par = 0
          var lakeFlag: Option[String] = None
          while (rest.nonEmpty) rest.head match {
            case "-C" => rest = rest.tail
            case "-s" => sem = true; rest = rest.tail
            case "-I" => includes :+= rest(1); rest = rest.drop(2)
            case "-O" => opt = true; rest = rest.tail
            case "-P" => par = rest(1).toInt; rest = rest.drop(2)
            case "-dag" =>
              throw new Unsupported("dev compile flag -dag")
            case "-lake=''" | "-lake=" => // explicitly no lake for this compile
              lakeFlag = Some(""); rest = rest.tail
            case f if f.startsWith("-lake=") =>
              lakeFlag = Some(f.stripPrefix("-lake=")); rest = rest.tail
            case w => q = Some(q.map(_ + " " + w).getOrElse(w)); rest = rest.tail
          }
          val text = (includes.map(readFile) ++ q.toSeq).mkString("\n").trim
          def attributed[T](body: => T): T =
            try body catch {
              case e: graft.lang.CompileDiag =>
                throw new RuntimeException(attributeDiag(e.getMessage,
                  includes.map(i => i -> readFile(i)),
                  q.map(_.linesIterator.length).getOrElse(0)))
            }
          if (sem || opt || par > 0) {
            val root: Option[String] =
              if (lakeFlag.contains("")) None
              else try {
                val r = lakeRoot(lakeFlag.filter(_.nonEmpty))
                if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(r)))
                  Some(r) else None
              } catch { case _: Exception => None }
            attributed(graft.lang.Zfmt.semantic(spark, text, opt, par, root)) + "\n"
          } else attributed(graft.lang.Zfmt.canonical(text)) + "\n"
        case "vector" =>
          // copy/query/project: the vng columnar read path through the
          // query engine; search: a filtered scan of the use-head pool's
          // vectored objects (cmd/super/dev/vector)
          val sub = args.lift(1).getOrElse("")
          val rest = args.drop(2)
          val flags = rest.takeWhile(_.startsWith("-"))
          val pos = rest.dropWhile(_.startsWith("-"))
          sub match {
            case "copy" => superQuery(rest, stdin)
            case "query" =>
              superQuery(flags ++ Seq("-c", pos.head) ++ pos.tail, stdin)
            case "project" =>
              superQuery(flags ++ Seq("-c", "cut " + pos.tail.mkString(",") ,
                pos.head), stdin)
            case "search" =>
              val pool = useHead.map(_._1).getOrElse(
                throw new RuntimeException("default pool and branch unset"))
              superDb(Seq("query") ++ flags ++
                Seq(s"from $pool | where (${pos.mkString(" ")})"), stdin)
            case other => throw new Unsupported(s"dev vector $other")
          }
        case "vng" =>
          // dump VNG metadata (cmd/super/dev/vng): the header record
          // {Version,MetaSize,DataSize} followed by the metadata section's
          // values decoded from their zng stream
          val file = args.drop(1).filterNot(_.startsWith("-")).headOption
            .getOrElse(throw new RuntimeException("a single file is required"))
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(filePath(file)))
          require(bytes.length >= 24 && bytes(0) == 'V' && bytes(1) == 'N' &&
            bytes(2) == 'G' && bytes(3) == 0, "not a VNG file")
          def leLong(off: Int, n: Int): Long =
            (0 until n).map(i => (bytes(off + i) & 0xffL) << (8 * i)).sum
          val ver = leLong(4, 4)
          val metaSize = leLong(8, 8)
          val dataSize = leLong(16, 8)
          val zv = graft.sources.ZValue
          val header: graft.sources.ZValue = zv.VRec(Vector(
            "Version" -> zv.VInt(ver, "uint32"),
            "MetaSize" -> zv.VUint64(BigDecimal(metaSize)),
            "DataSize" -> zv.VUint64(BigDecimal(dataSize))))
          val metaBytes = java.util.Arrays.copyOfRange(bytes, 24,
            24 + metaSize.toInt)
          val metaVals = graft.sources.ZngIO
            .decodeToZValues(metaBytes).toSeq
          val fmt2 = new graft.sources.ZsonFormatter
          (header +: metaVals).map(v =>
            fmt2.formatNext(zv.typeOf(v), v)).mkString("", "\n", "\n")
        case "dig" =>
          val sub = args.lift(1).getOrElse("")
          if (sub != "frames") throw new Unsupported(s"dev dig $sub")
          val file = args.drop(2).filterNot(_.startsWith("-")).headOption
            .getOrElse(throw new RuntimeException("a single file required"))
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(filePath(file)))
          val sb = new StringBuilder
          var pos = 0
          def uv(): Long = { // uvarint at pos
            var shift = 0; var v = 0L; var going = true
            while (going) {
              val b = bytes(pos) & 0xff; pos += 1
              v |= (b & 0x7fL) << shift; shift += 7
              going = (b & 0x80) != 0
            }
            v
          }
          while (pos < bytes.length) {
            val off = pos
            val code = bytes(pos) & 0xff; pos += 1
            if (code == 0xff) sb.append(s"{type:\"EOS\",offset:$off,block:null}\n")
            else {
              require((code & 0x80) == 0, "wrong version bit in ZNG framing")
              val zlen = ((uv() << 4) | (code & 0xf)).toInt
              val t = (code >> 4) & 3
              val tn = t match {
                case 0 => "types"; case 1 => "values"; case 2 => "control"
                case _ => throw new RuntimeException(s"bad frame type: $t")
              }
              val block =
                if ((code & 0x40) != 0) {
                  val fStart = pos
                  val fmt = bytes(pos) & 0xff; pos += 1
                  val size = uv()
                  val adj = zlen - (pos - fStart)
                  pos += adj
                  s"{type:\"compressed\",length:$adj,format:$fmt(int8),size:$size}"
                } else {
                  pos += zlen
                  s"{type:\"uncompressed\",length:$zlen}"
                }
              sb.append(s"{type:\"$tn\",offset:$off,block:$block}\n")
            }
          }
          sb.toString
        case other => throw new Unsupported(s"super dev $other")
      }

    private def superDb(args0: Seq[String], stdin: Option[String]): String = {
      var args = args0
      if (args.isEmpty)
        return "run SuperDB data lake commands\n\nUsage:\n  super db [command]\n"
      if (args.contains("-version")) return versionLine
      var lake: Option[String] = None
      var quiet = false
      // global flags may appear before OR after the subcommand
      // (`super db use -lake ../test -q POOL`)
      val lakeIx = args.indexOf("-lake")
      if (lakeIx >= 0 && lakeIx + 1 < args.length) {
        lake = Some(args(lakeIx + 1))
        args = args.take(lakeIx) ++ args.drop(lakeIx + 2)
      }
      args.find(_.startsWith("-lake=")).foreach { f =>
        lake = Some(f.stripPrefix("-lake="))
        args = args.filterNot(_ == f)
      }
      // -configdir selects the per-user credential store (LakeFlags);
      // tokens are stored per configdir by `super db auth store`
      var configDir = ""
      val cdIx = args.indexOf("-configdir")
      if (cdIx >= 0 && cdIx + 1 < args.length) {
        configDir = args(cdIx + 1)
        args = args.take(cdIx) ++ args.drop(cdIx + 2)
      }
      args.find(_.startsWith("-configdir=")).foreach { f =>
        configDir = f.stripPrefix("-configdir=")
        args = args.filterNot(_ == f)
      }
      if (args.headOption.contains("auth"))
        return superDbAuth(args.tail, configDir)
      // bearer-token gate: with auth enabled on the in-process service,
      // every db command against the HTTP lake needs a valid stored token
      // (the reference authhandles the whole mux — service/core.go)
      requireServiceAuth(lake, configDir)
      var parsing = true
      while (parsing && args.nonEmpty) args.head match {
        case "-q" => quiet = true; args = args.drop(1)
        case _ => parsing = false
      }
      // name lookups through the api client quote the pool (%q —
      // lake/api/api.go:68); the local CLI path reports it bare
      val viaHttp =
        lake.orElse(host.env("SUPER_DB_LAKE").filter(_.nonEmpty))
          .exists(_.startsWith("http"))
      val root = lakeRoot(lake)
      val lk = graft.sources.Lake
      if (args.head != "init" && !java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(root)))
        throw new RuntimeException(s"$root: lake does not exist\n" +
          "(hint: run 'zed init' to initialize lake at this location)")
      def requirePool(p: String): Unit =
        if (!lk.exists(root, p)) {
          val shown = if (viaHttp) "\"" + p + "\"" else p
          throw new RuntimeException(s"$shown: pool not found")
        }
      args.head match {
        case "init" =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
          // the lake's version FILE (lake/root.go): {version:3} as zng
          val vdf = ZsonReader.fromText(spark, "{version:3}")
            .drop(graft.operators.Het.typeTag)
          val tmp = java.nio.file.Files.createTempDirectory("lakever")
          Formats.write(vdf.coalesce(1), tmp.resolve("v.zng").toString, "zng")
          val part = java.nio.file.Files.list(tmp.resolve("v.zng")).iterator.asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
          java.nio.file.Files.copy(part,
            java.nio.file.Paths.get(root).resolve("lake.zng"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          if (quiet || args.contains("-q")) "" else s"lake created: file://$root\n"
        case "create" =>
          var rest = args.tail
          var key: Option[String] = None
          var order = "desc"
          var explicitOrder = false
          var use = false
          var stride = 65536L
          var thresh = 524288000L
          while (rest.head.startsWith("-")) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-use" => use = true; rest = rest.tail
            case f if f.startsWith("-seekstride=") =>
              stride = parseBytesUnit(f.dropWhile(_ != '=').tail)
              rest = rest.tail
            case "-seekstride" =>
              stride = parseBytesUnit(rest(1)); rest = rest.drop(2)
            // `-S` is the pool THRESHOLD (target object size; `db manage`
            // merges runs under it) — a different knob than -seekstride
            case f if f.startsWith("-S=") =>
              thresh = parseBytesUnit(f.drop(3)); rest = rest.tail
            case "-S" =>
              thresh = parseBytesUnit(rest(1)); rest = rest.drop(2)
            case "-orderby" =>
              key = Some(rest(1).split(':').head)
              order = rest(1).split(':').lift(1).getOrElse("asc")
              explicitOrder = true
              rest = rest.drop(2)
            case f => throw new Unsupported(s"db create flag $f")
          }
          // the reference's default pool layout is ts:desc
          val poolId = lk.create(root, rest.head, key.orElse(Some("ts")), order,
            explicitOrder, stride, thresh)
          if (use) useHead = Some((rest.head, "main"))
          if (quiet) "" else s"pool created: ${rest.head} $poolId\n"
        case "use" =>
          val useQuiet = quiet || args.tail.contains("-q")
          def emit(sOut: String): String = if (useQuiet) "" else sOut
          args.tail.filterNot(_ == "-q") match {
            case Seq() =>
              useHead match {
                case Some((p, b)) => s"HEAD at $p@$b\nLake at file://$root\n"
                case None => throw new RuntimeException("default pool and branch unset")
              }
            case Seq(t) if t.startsWith("@") =>
              val p = useHead.map(_._1).getOrElse(
                throw new RuntimeException("default pool unset"))
              val b = t.drop(1)
              if (!lk.branches(root, p).contains(b) && b != "main")
                throw new RuntimeException("\"" + b + "\": branch not found")
              useHead = Some((p, b))
              persistHead()
              emit(s"Switched to branch \"$b\" on pool \"$p\"\n")
            case Seq(t) =>
              val (p, b) = t.indexOf('@') match {
                case -1 => (t, "main")
                case ix => (t.take(ix), t.drop(ix + 1))
              }
              requirePool(p)
              if (b != "main" && !lk.branches(root, p).contains(b))
                throw new RuntimeException("\"" + b + "\": branch not found")
              useHead = Some((p, b))
              persistHead()
              emit(s"Switched to branch \"$b\" on pool \"$p\"\n")
            case _ => throw new Unsupported("db use args")
          }
        case "branch" =>
          var rest = args.tail
          var pool = ""
          while (rest.nonEmpty && rest.head.startsWith("-")) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-use" => pool = rest(1); rest = rest.drop(2)
            case f => throw new Unsupported(s"db branch flag $f")
          }
          val poolName =
            if (pool.nonEmpty) pool
            else useHead.map(_._1).getOrElse(
              throw new RuntimeException("default pool and branch unset"))
          rest match {
            case Seq() => // list branches
              lk.branches(root, poolName).map(b => s"$b\n").mkString
            case Seq(name) =>
              lk.branch(root, poolName, name)
              if (quiet) "" else s"branch created: $name\n"
            case _ => throw new Unsupported("db branch args")
          }
        case "drop" =>
          var rest = args.tail
          while (rest.head.startsWith("-")) rest.head match {
            case "-f" | "-q" =>
              if (rest.head == "-q") quiet = true
              rest = rest.tail
            case f => throw new Unsupported(s"db drop flag $f")
          }
          requirePool(rest.head)
          lk.drop(root, rest.head)
          if (useHead.exists(_._1 == rest.head)) useHead = None
          if (quiet) "" else s"pool deleted: ${rest.head}\n"
        case "ls" =>
          // `NAME <id> key <k> order <o>` per pool (cmd/super/db/ls);
          // with -f, the pools.Config RECORDS in that format
          val pools = Option(new java.io.File(root).listFiles())
            .getOrElse(Array.empty).toSeq
            .filter(f => f.isDirectory && lk.exists(root, f.getName))
            .map(_.getName).sorted
          val lsFmt = args.tail.sliding(2).collectFirst {
            case Seq("-f", fmt) => fmt }
          lsFmt match {
            case Some(fmt) if pools.nonEmpty =>
              val zson = pools.map(pn => poolConfigZson(root, pn)).mkString("\n")
              val df = graft.sources.ZsonReader.fromText(spark, zson)
              val outFmt = if (fmt == "zson") "zson-pretty" else fmt
              renderOut(df, QFlags(outFmt, None, None, Seq.empty, Seq.empty,
                useStdin = false, None, quiet = false))
            case _ =>
              pools.map { pn =>
                val k = lk.poolKey(root, pn).getOrElse("ts")
                s"$pn ${lk.poolId(root, pn)} key $k order ${lk.poolOrder(root, pn)}\n"
              }.mkString
          }
        case "log" =>
          var rest = args.tail
          var target = ""
          while (rest.nonEmpty && rest.head.startsWith("-")) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-use" => target = rest(1); rest = rest.drop(2)
            case f => throw new Unsupported(s"db log flag $f")
          }
          val (pool, branch) = headTarget(target)
          requirePool(pool)
          val cs = lk.commitsOn(root, pool, branch)
            .filter(_.kind == "commit").reverse
          val sb = new StringBuilder
          cs.zipWithIndex.foreach { case (c, i) =>
            val head = if (i == 0) s" (HEAD -> $branch)" else ""
            sb.append(s"commit ${c.id}$head\n")
            sb.append(s"Author: ${c.author}\n")
            sb.append("Date:   " + java.time.Instant.ofEpochMilli(c.ts)
              .toString.replaceAll("\\.\\d+Z$", "Z") + "\n\n")
            sb.append("    loaded 1 data object\n\n")
            val rows = if (c.rows >= 0) c.rows else 0L
            val rec = if (rows == 1) "record" else "records"
            sb.append(s"    ${c.id} $rows $rec in ${math.max(c.bytes, 0)} data bytes\n\n")
          }
          sb.toString.stripSuffix("\n")
        case "delete" =>
          var rest = args.tail
          var target = ""
          var whereExpr: Option[String] = None
          while (rest.nonEmpty && rest.head.startsWith("-")) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-use" => target = rest(1); rest = rest.drop(2)
            case "-where" => whereExpr = Some(rest(1)); rest = rest.drop(2)
            case f => throw new Unsupported(s"db delete flag $f")
          }
          val (pool, branch) = headTarget(target)
          requirePool(pool)
          // the reference's api client prefixes UNSTRUCTURED error
          // responses with the HTTP status (lake/api/client); these
          // delete errors are exactly that shape
          def svcErr(code: Int, msg: String): Nothing =
            throw new RuntimeException(
              if (viaHttp) s"status code $code: $msg" else msg)
          whereExpr match {
            case Some(w) =>
              // must be a SINGLE filter expression (cmd/super/db/delete)
              val singleFilter =
                try graft.lang.Parser.parse(w).stages match {
                  case Seq(graft.lang.Stage.Where(_)) => true
                  case _ => false
                } catch { case _: Exception => false }
              if (!singleFilter)
                svcErr(400,
                  "invalid delete where query: must be a single filter operation")
              // delete-where: rewrite the branch's live rows minus the
              // matches as ONE new object, then delete the old objects
              // (queries see the same result as the reference's
              // tombstone commits)
              spark.conf.set("graft.lake.root", root)
              try {
                val scanDf = lk.scan(spark, root, pool, Some(branch))
                if (Graft.queryOn(scanDf, s"where $w").isEmpty)
                  svcErr(400, "empty transaction")
                val kept = Graft.queryOn(scanDf, s"where !($w)")
                val old = lk.commitsOn(root, pool, branch)
                  .filter(_.kind == "commit").map(_.id)
                lk.load(kept.drop(graft.operators.Het.typeTag), root, pool,
                  branch = branch, message = s"delete where $w"): Unit
                old.foreach(id => lk.delete(root, pool, id, branch))
                ""
              } finally spark.conf.unset("graft.lake.root")
            case None =>
              rest.foreach { id =>
                try lk.delete(root, pool, id, branch)
                catch {
                  case e: IllegalArgumentException if viaHttp &&
                      Option(e.getMessage).exists(_.endsWith("commit object not found")) =>
                    svcErr(404, e.getMessage)
                }
              }
              if (quiet) "" else rest.map(id => s"$id deleted\n").mkString
          }
        case "revert" =>
          var rest = args.tail
          var target = ""
          while (rest.nonEmpty && rest.head.startsWith("-")) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-use" => target = rest(1); rest = rest.drop(2)
            case f => throw new Unsupported(s"db revert flag $f")
          }
          val (pool, branch) = headTarget(target)
          requirePool(pool)
          val newId = lk.revert(root, pool, rest.head, branch)
          if (quiet) "" else s"${rest.head} reverted in commit $newId\n"
        case "merge" =>
          var rest = args.tail
          var target = ""
          while (rest.nonEmpty && rest.head.startsWith("-")) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-use" => target = rest(1); rest = rest.drop(2)
            case f => throw new Unsupported(s"db merge flag $f")
          }
          // `db merge <into>` merges HEAD's branch into <into>
          val (pool, cur) = headTarget(target)
          requirePool(pool)
          val into = rest.headOption.getOrElse("main")
          lk.merge(root, pool, cur, parent = into)
          if (quiet) "" else "merged\n"
        case "manage" =>
          // one compaction pass per pool (cmd/super/db/manage; the
          // scan/run rules live in Lake.manage). Pool selection: -pool
          // flags, a -config yaml (pool + optional branch), else all.
          var rest = args.tail
          var vectors = false
          var logPath: Option[String] = None
          var logLevel = "info"
          var selected = Vector.empty[(String, String)]
          var configFile: Option[String] = None
          while (rest.nonEmpty) rest.head match {
            case "-q" => quiet = true; rest = rest.tail
            case "-vectors" => vectors = true; rest = rest.tail
            case "-pool" => selected :+= ((rest(1), "main")); rest = rest.drop(2)
            case f if f.startsWith("-pool=") =>
              selected :+= ((f.stripPrefix("-pool="), "main")); rest = rest.tail
            case f if f.startsWith("-config=") =>
              configFile = Some(f.stripPrefix("-config=")); rest = rest.tail
            case "-config" => configFile = Some(rest(1)); rest = rest.drop(2)
            case f if f.startsWith("-log.path=") =>
              logPath = Some(f.stripPrefix("-log.path=")); rest = rest.tail
            case "-log.path" => logPath = Some(rest(1)); rest = rest.drop(2)
            case f if f.startsWith("-log.level=") =>
              logLevel = f.stripPrefix("-log.level="); rest = rest.tail
            case "-log.level" => logLevel = rest(1); rest = rest.drop(2)
            case "-monitor" => throw new Unsupported("db manage -monitor")
            case f => throw new Unsupported(s"db manage flag $f")
          }
          for (cf <- configFile) {
            // minimal yaml: `pools:` items of `- pool: NAME` with an
            // optional `branch: "B"` continuation (lakemanage/config.go)
            var curPool: Option[String] = None
            var curBranch = "main"
            def flushP(): Unit = {
              curPool.foreach(p => selected :+= ((p, curBranch)))
              curPool = None; curBranch = "main"
            }
            for (l <- readFile(cf).linesIterator.map(_.trim)) {
              if (l.startsWith("- pool:")) {
                flushP()
                curPool = Some(l.stripPrefix("- pool:").trim
                  .stripPrefix("\"").stripSuffix("\""))
              } else if (l.startsWith("branch:"))
                curBranch = l.stripPrefix("branch:").trim
                  .stripPrefix("\"").stripSuffix("\"")
            }
            flushP()
          }
          if (selected.isEmpty)
            selected = Option(new java.io.File(root).listFiles())
              .getOrElse(Array.empty).toSeq
              .filter(f => f.isDirectory && lk.exists(root, f.getName))
              .map(f => (f.getName, "main")).sorted.toVector
          val logSb = new StringBuilder
          for ((p, b) <- selected) {
            requirePool(p)
            if (logLevel == "info" || logLevel == "debug") {
              val pid = try lk.poolId(root, p) catch { case _: Exception => "" }
              logSb.append(
                s"""{"level":"info","ts":${System.currentTimeMillis() / 1000.0},"logger":"pool","msg":"updating pool","name":"$p","id":"$pid","branch":"$b","vectors":$vectors}""")
                .append('\n')
            }
            lk.manage(spark, root, p, b, vectors)
          }
          logPath match {
            case Some("/dev/null") | None => ()
            case Some(f) => java.nio.file.Files.write(
              java.nio.file.Paths.get(filePath(f)),
              logSb.toString.getBytes("UTF-8"))
          }
          ""
        case "compact" =>
          val (pool, branch) = headTarget(
            args.tail.sliding(2).collectFirst { case Seq("-use", t) => t }.getOrElse(""))
          requirePool(pool)
          val cid = lk.compact(spark, root, pool, branch = branch)
          // -vectors: also build the compacted object's VNG twin
          if (args.contains("-vectors")) lk.vectorAdd(spark, root, pool, cid)
          ""
        case "vector" =>
          // `db vector add|delete [-q] <id>…` (cmd/super/db/vector)
          val sub = args.lift(1).getOrElse("")
          val rest = args.drop(2).filterNot(_.startsWith("-"))
          val (pool, _) = headTarget("")
          requirePool(pool)
          rest.foreach { id =>
            sub match {
              case "add" => lk.vectorAdd(spark, root, pool, id)
              case "delete" => lk.vectorDelete(root, pool, id)
              case other => throw new Unsupported(s"db vector $other")
            }
          }
          ""
        case "vacuum" =>
          var rest = args.tail
          var target = ""
          var dryrun = false
          while (rest.nonEmpty && rest.head.startsWith("-")) rest.head match {
            case "-f" | "-q" => quiet = rest.head == "-q" || quiet; rest = rest.tail
            case "-use" => target = rest(1); rest = rest.drop(2)
            case "-dryrun" => dryrun = true; rest = rest.tail
            case f => throw new Unsupported(s"db vacuum flag $f")
          }
          val (pool, _) = headTarget(target)
          requirePool(pool)
          def obj(n: Int): String = if (n == 1) "object" else "objects"
          if (dryrun) {
            val would = lk.vacuumable(root, pool)
            if (quiet) "" else s"would vacuum ${would.length} ${obj(would.length)}\n"
          } else {
            val removed = lk.vacuum(root, pool)
            if (quiet) "" else s"vacuumed ${removed.length} ${obj(removed.length)}\n"
          }
        case "serve" =>
          // minimal serve surface: validate the lake's version file
          // before refusing (lake/root.go loadConfig)
          val vp = java.nio.file.Paths.get(root).resolve("lake.zng")
          if (java.nio.file.Files.exists(vp)) {
            val v =
              try {
                val df = try Formats.read(spark, vp.toString)
                         catch { case _: Exception =>
                           ZsonReader.fromText(spark,
                             new String(java.nio.file.Files.readAllBytes(vp), "UTF-8")) }
                df.select("version").collect().headOption
                  .map(_.get(0).toString.toLong).getOrElse(3L)
              } catch { case _: Exception => 3L }
            if (v != 3)
              throw new RuntimeException(
                s"unsupported lake version: found version $v while expecting 3")
          }
          throw new Unsupported("db serve")
        case "rename" =>
          val rest = args.tail.filterNot(_ == "-q")
          requirePool(rest.head)
          val pid = lk.poolId(root, rest.head)
          lk.rename(root, rest.head, rest(1))
          if (useHead.exists(_._1 == rest.head))
            useHead = useHead.map(h => (rest(1), h._2))
          if (quiet) "" else s"pool $pid renamed from ${rest.head} to ${rest(1)}\n"
        case "load" =>
          var rest = args.tail
          var target = ""
          var author = "graft"
          var message = ""
          var meta = ""
          while (rest.nonEmpty && rest.head.startsWith("-") && rest.head != "-") {
            rest.head match {
              case "-q" => quiet = true; rest = rest.tail
              case "-use" => target = rest(1); rest = rest.drop(2)
              case "-user" => author = rest(1); rest = rest.drop(2)
              case "-message" => message = rest(1); rest = rest.drop(2)
              case "-meta" => meta = rest(1); rest = rest.drop(2)
              case f => throw new Unsupported(s"db load flag $f")
            }
          }
          val (pool, branch) = headTarget(target)
          requirePool(pool)
          def frames = rest.map {
            case "-" =>
              val text = stdin.getOrElse("")
              if (viaHttp && text.trim.isEmpty)
                // the server rejects an empty load (handlers.go:473) and
                // the client reports its status line
                throw new RuntimeException(
                  "status code 400: no records in request")
              if (!isBinaryText(text) && !plausibleStdin(text)) {
                // over http the server ALSO rejects the empty load after
                // the client's detection report
                val tail =
                  if (viaHttp) "\nstatus code 400: no records in request"
                  else ""
                throw new RuntimeException(
                  goDetectionError("stdio:stdin", text) + tail)
              }
              buildStdinFrame(text, None)
            case fn => Formats.read(spark, filePath(fn))
          }
          def commit(df: DataFrame): String = lk.load(df, root, pool,
            author = author, message = message, branch = branch, meta = meta)
          // several text files of one format load as ONE concatenated
          // stream (the reference cli concatenates its inputs), so type
          // inference (ns-time carriers, shapes) sees the whole corpus
          val id =
            if (rest.length > 1 && rest.forall(f => f != "-" &&
                (f.endsWith(".zson") || f.endsWith(".json")))) {
              val paths = rest.map(filePath)
              // a file's own read reports its error, as each file was read
              // before the concatenation
              def fileErrors(e: Throwable): Nothing = {
                paths.foreach(Formats.read(spark, _))
                throw e
              }
              val bos = new java.io.ByteArrayOutputStream()
              try paths.foreach { p =>
                bos.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
                bos.write('\n')
              } catch { case scala.util.control.NonFatal(e) => fileErrors(e) }
              val bytes = bos.toByteArray
              ZsonIO.valuesInMemory(spark, bytes).filter(_.nonEmpty) match {
                case Some(values) => commit(ZsonReader.fromValues(spark, values, tag = true))
                case None =>
                  // the spool outlives the read: the frame reads it lazily
                  val cat = java.nio.file.Files.createTempFile("loadcat", ".zson")
                  try {
                    java.nio.file.Files.write(cat, bytes)
                    commit(try ZsonIO.read(spark, cat.toString)
                      catch { case scala.util.control.NonFatal(e) => fileErrors(e) })
                  } finally java.nio.file.Files.deleteIfExists(cat): Unit
              }
            } else commit(combineFrames(frames))
          if (quiet) "" else s"$id committed\n"
        case "query" =>
          // `-use <pool[@branch]>` scopes THIS query's default source
          var qArgs = args.tail
          val useIx = qArgs.indexOf("-use")
          val queryHead: Option[(String, String)] =
            if (useIx >= 0 && useIx + 1 < qArgs.length) {
              val t = qArgs(useIx + 1)
              qArgs = qArgs.take(useIx) ++ qArgs.drop(useIx + 2)
              Some(t.indexOf('@') match {
                case -1 => (t, "main")
                case ix => (t.take(ix), t.drop(ix + 1))
              })
            } else None
          val savedHead = useHead
          queryHead.foreach(h => useHead = Some(h))
          try superDbQuery(qArgs, root)
          finally useHead = savedHead
        case other => throw new Unsupported(s"db $other")
      }
    }

    /** `<msg> at line 1, column <col>` + the query line + a ~~~ caret. */
    private def caretErr(msg: String, line: String, col: Int, len: Int): Nothing =
      throw new RuntimeException(
        s"$msg at line 1, column $col:\n$line\n" +
          (" " * (col - 1)) + ("~" * len))

    private def superDbQuery(qArgs: Seq[String], root: String): String = {
      {
          val f = parseQueryFlags(qArgs)
          // db query takes NO file inputs: any positional that the shared
          // flag parser classified as a file is the query argument
          // (cmd/super/db/query — `-I incl.spq "from …"`)
          val queryArg = f.query.orElse(f.files.headOption)
          var q = (f.includes.map(readFile) ++ queryArg.toSeq).mkString("\n").trim
          // the reference's scan-target errors differ between the local
          // CLI (cmd/super/db/query) and the service path (handlers.go):
          // the api client surfaces the service's texts, with the status
          // prefix on UNSTRUCTURED errors only
          val viaSvc = host.env("SUPER_DB_LAKE").exists(_.startsWith("http"))
          if (q.isEmpty)
            throw new RuntimeException(
              if (viaSvc) "status code 400: no pool name given"
              else "query must include a 'from' operator")
          // parse errors in the reference's caret format, attributing the
          // failing segment (-I file vs the query argument) by offset
          caretParseCheck(
            f.includes.map(n => Some(n) -> readFile(n)) ++
              queryArg.toSeq.map(t => None -> t))
          val knownMeta = Set("pools", "branches", "log", "objects", "partitions")
          val firstFrom: Option[String] =
            try graft.lang.Parser.parse(q).stages.headOption.collect {
              case graft.lang.Stage.From(t, _, _, _) => t
            } catch { case _: Exception =>
              if (q.startsWith("from ")) Some(q.stripPrefix("from ").split("\\s|\\|")(0))
              else None
            }
          firstFrom.foreach {
            case "HEAD" if useHead.isEmpty =>
              if (viaSvc) caretErr("pool name missing", q, 1, q.length)
              else caretErr("cannot scan from unknown HEAD", q, 6, 4)
            case t if t.startsWith(":") && !knownMeta(t.drop(1)) =>
              caretErr(s"""unknown lake metadata type "${t.drop(1)}" in from operator""",
                q, 1, q.length)
            case t if !t.startsWith(":") &&
                !t.contains("/") && !t.contains(".") &&
                !t.contains("*") && q.startsWith("from ") => {
              val pool = t.takeWhile(c => c != '@' && c != ':')
              if (!graft.sources.Lake.exists(root, pool) &&
                  !java.nio.file.Files.exists(java.nio.file.Paths.get(filePath(t))))
                caretErr(s"$pool: pool not found", q, 6,
                  if (t.length > pool.length) pool.length else t.length)
              // `pool@ref` must name a branch or a commit (lakeparse)
              if (t.contains("@") && graft.sources.Lake.exists(root, pool)) {
                // pool@ref[:meta] — the meta suffix is not part of the ref
                val ref = t.dropWhile(_ != '@').drop(1).takeWhile(_ != ':')
                val lk = graft.sources.Lake
                if (ref.nonEmpty && !lk.branches(root, pool).contains(ref) &&
                    !lk.commits(root, pool).exists(_.id == ref))
                  caretErr(s""""$ref": branch not found""", q, 1, q.length)
              }
            }
            case _ =>
          }
          if (firstFrom.contains("HEAD"))
            useHead.foreach { case (p, b) => q = q.replaceFirst("HEAD", s"$p@$b") }
          // a query without a source reads HEAD (`super db use` state);
          // the source may hide behind a statement prologue or a user-op
          // call (CountPool("example")), so check the PARSED first stage
          def startsWithFrom(p: graft.lang.Pipeline): Boolean =
            p.stages.headOption.exists {
              case graft.lang.Stage.From(_, _, _, _) => true
              case graft.lang.Stage.Block(inner) => startsWithFrom(inner)
              case _ => false
            }
          val hasSource =
            try startsWithFrom(graft.lang.Parser.parse(q))
            catch { case _: Exception => q.startsWith("from") }
          if (!hasSource && useHead.isDefined) {
            val (p, b) = useHead.get
            q = s"from $p@$b | $q"
          }
          spark.conf.set("graft.lake.root", root)
          try withCwd {
            val out = renderOut(Graft.query(spark, host.workDir.toString, q), f)
            if (f.stats) {
              // -s: scanner progress counters on stderr (bytes count
              // val.Bytes() sizes — the journal's vbytes stat)
              val target = firstFrom.map {
                case "HEAD" => useHead.map(_._1).getOrElse("")
                case t => t.takeWhile(c => c != '@' && c != ':')
              }.orElse(useHead.map(_._1)).getOrElse("")
              if (target.nonEmpty && graft.sources.Lake.exists(root, target)) {
                val br = firstFrom.filter(_.contains("@"))
                  .map(_.dropWhile(_ != '@').drop(1))
                  .orElse(useHead.map(_._2)).getOrElse("main")
                val lk = graft.sources.Lake
                // a leading filter prunes the scan through the seek-index
                // windows (records/bytes_read) and bounds the matched
                // counters to the rows it passes
                val stages =
                  try graft.lang.Parser.parse(q).stages
                  catch { case _: Exception => Seq.empty[graft.lang.Stage] }
                val whereE = stages match {
                  case Seq(graft.lang.Stage.From(_, _, _, _),
                           graft.lang.Stage.Where(w), _*) => Some(w)
                  case _ => None
                }
                val range = for {
                  k <- lk.poolKey(root, target)
                  w <- whereE
                  r <- statsKeyRange(w, k)
                } yield r
                val (n, vb) = range match {
                  case Some((lo, loInc, hi, hiInc)) =>
                    lk.scanStats(root, target, br, lo, hi, loInc, hiInc)
                  case None => lk.scanStats(root, target, br)
                }
                val (nm, vbm) =
                  if (whereE.isDefined && stages.length == 2)
                    try lk.bodyStats(Graft.query(spark, host.workDir.toString, q))
                    catch { case _: Exception => (n, vb) }
                  else (n, vb)
                host.stderr(
                  s"{bytes_read:$vb,bytes_matched:$vbm," +
                  s"records_read:$n,records_matched:$nm}" + "\n")
              }
            }
            out
          } finally spark.conf.unset("graft.lake.root")
      }
    }
}
