package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Format layer (reference: zio/anyio/lookup.go readers, writer.go writers).
  *
  * Reads auto-detect by file extension — parquet/csv/tsv/json/zson/line —
  * mirroring zio/anyio's reader auto-detection; Spark's built-in sources
  * read parquet and csv with distributed schema inference, JSON goes
  * through JsonIO and ZSON through ZsonIO.
  *
  * Writers are zed's: parquet through Spark's writer, each binary format
  * through its own IO object, and zeek/json/csv/tsv/text through the one
  * text renderer (TextWriter) that the CLI and service streams also use,
  * so a file and a stream print the same bytes. `table` alignment is
  * inherently sequential (widths are per-block maxima) so rows pass the
  * driver one block at a time, spooled to disk — human-facing output, not
  * a data path.
  */
object Formats {

  /** CSV/TSV read: header + inference, then every numeric column widens
    * to float64 — csv carries no integer type, so the reference's csvio
    * reader types all numbers float64 (zio/csvio/reader.go).
    */
  /** The reference csv reader's quote PREPROCESS (zio/csvio/preprocess.go):
    * quotes that do not span a whole field are stripped and the field —
    * trimmed — is re-wrapped, so `"value"2,field"3"` parses as value2 and
    * field3; doubled quotes inside a string run stay escapes.
    */
  private[graft] def csvCleanLine(text: String, delim: Char): String = {
    if (text.indexOf('"') < 0) return text
    val sb = new StringBuilder
    var i = 0; val n = text.length
    var eof = false
    while (!eof) {
      val scratch = new StringBuilder
      var hasstr = false
      var ending = ""
      var fieldDone = false
      while (!fieldDone) {
        if (i >= n) { fieldDone = true; eof = true }
        else {
          val c = text.charAt(i); i += 1
          if (c == '"') {
            hasstr = true
            // a quoted run consumes embedded newlines (read-big's
            // multi-line cells); "" stays an escape
            var strDone = false
            while (!strDone) {
              if (i >= n) strDone = true
              else {
                val d = text.charAt(i); i += 1
                if (d == '"') {
                  if (i < n && text.charAt(i) == '"') { scratch.append("\"\""); i += 1 }
                  else strDone = true
                } else scratch.append(d)
              }
            }
          } else if (c == delim || c == '\n') { ending = c.toString; fieldDone = true }
          else scratch.append(c)
        }
      }
      var content = scratch.toString
      if (hasstr) {
        if (content.nonEmpty && content.last == '\r' && ending == "\n") {
          content = content.dropRight(1); ending = "\r\n"
        }
        sb.append('"').append(content.trim).append('"')
      } else sb.append(content)
      sb.append(ending)
    }
    sb.toString
  }

  private[graft] def readCsv(spark: SparkSession, path: String,
      sep: String = ","): DataFrame = {
    import spark.implicits._
    val delim = sep.charAt(0)
    val cleaned = spark.read.textFile(path).map(csvCleanLine(_, delim))
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .option("sep", sep).csv(cleaned)
    import org.apache.spark.sql.types._
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | _: DecimalType =>
          col(s"`${f.name}`").cast(DoubleType).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }: _*)
  }

  /** anyio auto-detection failure: every reader's error, in the
    * reference's wording and order (zio/anyio/reader.go). `source` is the
    * reporting prefix ("stdio:stdin") or empty for a bare message.
    */
  def detectionError(source: String, text: String): String = {
    val firstLine = text.linesIterator.find(_ => true).getOrElse("")
    val c = text.dropWhile(_.isWhitespace).headOption.getOrElse(' ')
    // Go's csv reader hits EOF on a final line with no terminator,
    // "delimiter not found" otherwise
    val csvErr = if (text.contains("\n")) "delimiter ',' not found" else "EOF"
    val tsvErr = if (text.contains("\n")) "delimiter '\\t' not found" else "EOF"
    val prefix = if (source.isEmpty) "" else source + ": "
    s"${prefix}format detection error\n" +
      "\tarrows: schema message length exceeds 1 MiB\n" +
      s"\tcsv: line 1: $csvErr\n" +
      s"\tjson: invalid character '$c' looking for beginning of value\n" +
      "\tline: auto-detection not supported\n" +
      "\tparquet: auto-detection requires seekable input\n" +
      s"\ttsv: line 1: $tsvErr\n" +
      "\tvng: auto-detection requires seekable input\n" +
      "\tzeek: line 1: bad types/fields definition in zeek header\n" +
      "\tzjson: line 1: malformed ZJSON: bad type object: \"" + firstLine +
      s"\": unpacker error parsing JSON: invalid character '$c' looking for beginning of value\n" +
      "\tzng: malformed zng record\n" +
      "\tzson: ZSON syntax error"
  }

  /** Read any supported file/directory/URI, auto-detecting the format.
    * http(s) URIs fetch to a local spool first (zio/anyio/file.go: the
    * reference's `from`/`get` accept URIs). Extensions route directly;
    * anything else is sniffed by CONTENT (anyio/reader.go tries each
    * reader on a tracked prefix — here: magic bytes, then text probes).
    * A .gz suffix is transparent (anyio/gzip.go).
    */
  /** Read with an EXPLICIT format (`from f format line` / `-i <fmt>`),
    * bypassing extension and content detection.
    */
  def read(spark: SparkSession, path0: String, format: Option[String]): DataFrame =
    format match {
      case None => read(spark, path0)
      case Some(f) =>
        val path = fetchable(path0) match {
          case Some((url, disp)) => fetchUri(url, disp)
          case None => path0
        }
        f match {
          case "parquet" => spark.read.parquet(path)
          case "vng" => VngIO.read(spark, path)
          case "zng" => ZngIO.read(spark, path)
          case "arrows" | "arrow" => ArrowIO.read(spark, path)
          case "zeek" => ZeekIO.read(spark, path)
          case "zjson" => ZjsonIO.read(spark, path)
          case "json" => JsonIO.read(spark, path)
          case "zson" => ZsonIO.read(spark, path)
          case "csv" => readCsv(spark, path)
          case "tsv" => readCsv(spark, path, "\t")
          case "line" | "text" =>
            spark.read.text(path).withColumnRenamed("value", "this")
          case other =>
            throw new IllegalArgumentException(s"unknown input format: $other")
        }
    }

  def read(spark: SparkSession, path0: String): DataFrame = {
    val path = fetchable(path0) match {
      case Some((url, disp)) => fetchUri(url, disp)
      case None => path0
    }
    // a plain local path that doesn't exist fails with the reference's
    // message (from-file-error ztest: "a.zson: file does not exist")
    if (!path.contains("://") && !path.contains("*") &&
        !new java.io.File(path).exists())
      throw new IllegalArgumentException(s"$path: file does not exist")
    val lower0 = path.toLowerCase
    val lower = if (lower0.endsWith(".gz")) lower0.dropRight(3) else lower0
    if (lower.endsWith(".parquet") || lower.endsWith(".pq")) spark.read.parquet(path)
    else if (lower.endsWith(".csv")) readCsv(spark, path)
    else if (lower.endsWith(".tsv")) readCsv(spark, path, "\t")
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl") || lower.endsWith(".ndjson")) {
      // a .json name does not guarantee strict JSON — the reference
      // detects by content (anyio), and zson-in-.json is common (service
      // responses piped to files). Sniff to pick the typed reader.
      sniff(spark, path) match {
        case "zson" => ZsonIO.read(spark, path)
        case _ => JsonIO.read(spark, path) // zed-typed: field order kept
      }
    }
    else if (lower.endsWith(".zson")) ZsonIO.read(spark, path)
    else if (lower.endsWith(".zng")) ZngIO.read(spark, path)
    else if (lower.endsWith(".vng")) VngIO.read(spark, path)
    else if (lower.endsWith(".zeek")) ZeekIO.read(spark, path)
    else if (lower.endsWith(".zjson")) ZjsonIO.read(spark, path)
    else if (lower.endsWith(".arrow") || lower.endsWith(".arrows"))
      ArrowIO.read(spark, path)
    else if (lower.endsWith(".txt") || lower.endsWith(".line"))
      // `line` format: one top-level STRING value per line (zio/lineio)
      spark.read.text(path).withColumnRenamed("value", "this")
    else sniff(spark, path) match {
      case "parquet" => spark.read.parquet(path)
      case "vng" => VngIO.read(spark, path)
      case "zng" => ZngIO.read(spark, path)
      case "arrows" => ArrowIO.read(spark, path)
      case "zeek" => ZeekIO.read(spark, path)
      case "zjson" => ZjsonIO.read(spark, path)
      case "json" => JsonIO.read(spark, path)
      case "zson" => ZsonIO.read(spark, path)
      case "csv" => readCsv(spark, path)
      case _ => spark.read.text(path).withColumnRenamed("value", "this")
    }
  }

  /** Content-based format detection on the head bytes of the first file
    * (anyio/reader.go order: binary magics first, then text probes).
    */
  private[sources] def sniff(spark: SparkSession, path: String): String =
    sniffHead(headBytes(spark, path))

  /** What `sniff` says of a file that holds `bytes`: it reads the same
    * head window.
    */
  private[graft] def sniffHead(bytes: Array[Byte]): String = {
    val head = bytes.take(headWindow)
    // Nothing to sniff (empty file / markers only): preserve the historical
    // default for extensionless paths, which was spark.read.parquet.
    if (head.isEmpty) "parquet"
    else sniffBytes(Gzip.maybeGunzip(head))
  }

  private val headWindow = 8192

  private[graft] def sniffBytes(head0: Array[Byte]): String = {
    val head = head0
    def startsWith(magic: Array[Byte]): Boolean =
      head.length >= magic.length && magic.indices.forall(i => head(i) == magic(i))
    if (startsWith("PAR1".getBytes)) return "parquet"
    if (startsWith(Array[Byte]('V', 'N', 'G', 0))) return "vng"
    if (startsWith("ARROW1".getBytes)) return "arrows"
    if (head.length >= 4 && head(0) == -1 && head(1) == -1 && head(2) == -1 && head(3) == -1)
      return "arrows" // IPC stream continuation marker
    val text = new String(head, java.nio.charset.StandardCharsets.UTF_8)
    val firstLine = text.linesIterator.find(_.trim.nonEmpty).getOrElse("")
    if (firstLine.startsWith("#separator") || firstLine.startsWith("#fields")) return "zeek"
    if (firstLine.startsWith("{\"type\":")) return "zjson"
    // ZNG: binary content opening with a well-formed types/values frame
    // header (zngio probe on the tracked prefix)
    val isBinary = head.exists(b => b >= 0 && b < 0x09)
    if (isBinary && head.length >= 2 && (head(0) & 0x80) == 0 &&
        (((head(0) >> 4) & 3) == 0 || ((head(0) >> 4) & 3) == 1))
      return "zng"
    // ZSON vs JSON vs CSV: try the typed parser on the first value
    if (firstLine.nonEmpty) {
      val isJsonish = firstLine.startsWith("{") || firstLine.startsWith("[")
      try {
        ZsonParser.parseAll(firstLine)
        // plain JSON is a zson subset; prefer Spark's distributed JSON
        // reader when the text is strict JSON
        if (isJsonish) {
          try {
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(firstLine)
            return "json"
          } catch { case _: Exception => return "zson" }
        }
        return "zson"
      } catch { case _: Exception =>
        // two legitimate shapes the first LINE can't decide:
        // - a long single-line stream TRUNCATED mid-value by the head
        //   window (curl -d strips newlines from multi-value uploads)
        // - a PRETTY-PRINTED value spanning many lines (`super -Z` output
        //   re-loaded; python client ztests ship one)
        // either way: if one complete value parses from the head, it's
        // zson/json
        if (isJsonish) try {
          val probe = if (firstLine.trim == "{" || firstLine.trim == "[")
            text else firstLine
          new ZsonParser(probe).parseOne(): Unit
          try {
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(probe)
            return "json"
          } catch { case _: Exception => return "zson" }
        } catch { case _: Exception => }
      }
      if (firstLine.contains(",")) return "csv"
    }
    "line"
  }

  private def headBytes(spark: SparkSession, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileOpt =
      if (fs.getFileStatus(p).isDirectory)
        // Sniff a real data file: skip marker/hidden files (_SUCCESS, .crc)
        // and empty files, which a Spark-written directory always contains
        // and which would otherwise win the alphabetical sort.
        fs.listStatus(p)
          .filter(s => s.isFile && s.getLen > 0 &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .map(_.getPath).sortBy(_.getName).headOption
      else Some(p)
    val file = fileOpt.getOrElse(return Array.emptyByteArray)
    val in = fs.open(file)
    try {
      val buf = new Array[Byte](headWindow)
      var n = 0
      var r = 0
      while (n < buf.length && { r = in.read(buf, n, buf.length - n); r > 0 }) n += r
      java.util.Arrays.copyOf(buf, n)
    } finally in.close()
  }

  /** Map a remote URI to the http(s) URL to fetch plus the display name
    * for errors. s3:// URIs resolve like the reference's zio/s3io (which
    * honors AWS_S3_ENDPOINT for s3-compatible stores, path-style);
    * without an endpoint override the standard virtual-hosted AWS URL
    * applies. Errors keep the s3 URI the user wrote.
    */
  private def fetchable(path: String): Option[(String, String)] =
    if (path.startsWith("http://") || path.startsWith("https://"))
      Some((path, path))
    else if (path.startsWith("s3://")) {
      val rest = path.stripPrefix("s3://")
      val url = sys.env.get("AWS_S3_ENDPOINT").filter(_.nonEmpty)
        .orElse(Option(System.getProperty("graft.s3.endpoint"))
          .filter(_.nonEmpty)) match {
        case Some(ep) => ep.stripSuffix("/") + "/" + rest
        case None =>
          val (bucket, key) = rest.span(_ != '/')
          val region = sys.env.getOrElse("AWS_REGION", "us-east-1")
          s"https://$bucket.s3.$region.amazonaws.com$key"
      }
      Some((url, path))
    } else None

  /** Fetch an http(s) URI to a local spool file (driver-side; the file
    * then distributes through the normal readers). The spool name keeps
    * the URI's extension so direct routing still applies.
    */
  private def fetchUri(uri: String, display: String = null): String = {
    val disp = Option(display).getOrElse(uri)
    val name = uri.substring(uri.lastIndexOf('/') + 1)
    val ext = name.lastIndexOf('.') match {
      case i if i >= 0 => name.substring(i)
      case _ => ""
    }
    val spool = java.nio.file.Files.createTempFile("graft-get-", ext)
    val conn = new java.net.URL(uri).openConnection()
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    conn match {
      case h: java.net.HttpURLConnection if h.getResponseCode == 404 =>
        // the reference surfaces remote 404s as the file error
        // (zio/anyio: "<uri>: file does not exist")
        throw new RuntimeException(s"$disp: file does not exist")
      case _ =>
    }
    val in = conn.getInputStream
    try java.nio.file.Files.copy(in, spool,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    spool.toFile.deleteOnExit()
    spool.toString
  }

  def write(df: DataFrame, path: String, format: String): Unit = format match {
    case "parquet" =>
      // the reference's parquet writer requires a single record type
      // (zio/parquetio: "encountered multiple types")
      val shapes: Seq[String] =
        df.schema.fields.find(_.name == graft.operators.Het.typeTag) match {
          case Some(f) if f.metadata.contains("shapes") =>
            f.metadata.getStringArray("shapes").toSeq.map(
              _.replaceAll("^null\\((.*)\\)$", "$1")).distinct
          case _ => Seq.empty
        }
      if (shapes.length > 1)
        throw new IllegalArgumentException(
          s"parquetio: encountered multiple types (consider 'fuse'): " +
            shapes.take(2).mkString(" and "))
      // the shape tag is engine metadata, never user data
      val dataDf = df.drop(graft.operators.Het.typeTag)
      if (dataDf.schema.isEmpty)
        throw new IllegalArgumentException(
          "parquetio: unsupported type: empty record")
      dataDf.write.mode("overwrite").parquet(path)
    case "csv" | "tsv" | "json" | "text" | "zeek" => TextWriter.write(df, path, TextWriter.of(format))
    case "zson" => ZsonIO.write(df, path)
    case "zng" => ZngIO.write(df, path)
    case "vng" => VngIO.write(df, path)
    case "zjson" => ZjsonIO.write(df, path)
    case "arrow" | "arrows" => ArrowIO.write(df, path)
    case "table" =>
      HadoopFs.prepareDir(df.sparkSession, path)
      val out = new java.io.PrintStream(HadoopFs.create(HadoopFs.confMap(df.sparkSession), path, "part-00000.txt"),
        false, "UTF-8")
      try ZFormat.tableLines(df)(_.foreach(l => out.print(l + "\n"))) finally out.close()
    case other => throw new IllegalArgumentException(s"unknown write format: $other")
  }
}
