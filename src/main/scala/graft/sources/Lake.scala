package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Lake-lite: a versioned pool of data objects with a commit journal
  * (reference: lake/ pools+branches+commits, runtime/sam/op/load/load.go).
  *
  * Layout (one pool = one directory):
  *   <root>/<pool>/data/<commitId>/   parquet data objects (distributed write)
  *   <root>/<pool>/commits.jsonl      append-only commit journal (driver-side
  *                                    metadata only, like zed's journal)
  *
  * Scan is merge-on-read: the union of all live commits' parquet dirs,
  * planned on the driver from the journal's live set and one footer per
  * object, without a Spark job (zed's Lister/SeqScan plans a pool scan
  * from its journal too). Spark handles partition planning and pushdown
  * per file.
  */
object Lake {

  final case class Commit(id: String, author: String, message: String, ts: Long,
                          branch: String = "main", kind: String = "commit",
                          target: String = "",
                          keyMin: Option[String] = None,
                          keyMax: Option[String] = None,
                          meta: String = "", rows: Long = -1L, bytes: Long = -1L,
                          shapes: Seq[String] = Seq.empty, vbytes: Long = -1L,
                          wins: Seq[(Long, Long, String, String)] = Seq.empty)

  /** Encode/decode the per-object seek windows `(count, vbytes, min,
    * max)` as a journal-safe string (key texts URL-encoded).
    */
  private def winsEncode(ws: Seq[(Long, Long, String, String)]): String =
    ws.map { case (c, v, mn, mx) =>
      s"$c,$v,${java.net.URLEncoder.encode(mn, "UTF-8")},${java.net.URLEncoder.encode(mx, "UTF-8")}"
    }.mkString(";")

  private def winsDecode(s: String): Seq[(Long, Long, String, String)] =
    if (s.isEmpty) Seq.empty
    else s.split(";", -1).toSeq.map { w =>
      val p = w.split(",", -1)
      (p(0).toLong, p(1).toLong,
        java.net.URLDecoder.decode(p(2), "UTF-8"),
        java.net.URLDecoder.decode(p(3), "UTF-8"))
    }

  private def poolDir(root: String, pool: String) = Paths.get(root, pool)
  private def journal(root: String, pool: String) = poolDir(root, pool).resolve("commits.jsonl")

  /** Create a pool, optionally with a pool KEY (`zed create -orderby`,
    * lake/pool.go): loads are range-sorted by the key so every data
    * object — and every parquet row group inside it — covers a tight
    * key range, and the journal records each object's [min,max]. A
    * keyed pool's range scans then prune twice: whole objects
    * driver-side from the journal (the seek-index analog,
    * lake/seekindex/writer.go) and row groups inside surviving objects
    * from parquet stats via the pushed predicate.
    */
  def create(root: String, pool: String, key: Option[String] = None,
             order: String = "desc", explicitOrder: Boolean = false,
             seekStride: Long = 65536L,
             threshold: Long = 524288000L): String = {
    Files.createDirectories(poolDir(root, pool).resolve("data"))
    val id = graft.functions.Ksuid.newId()
    val keyJson = key.map(k => s""","key":"$k"""").getOrElse("")
    Files.write(poolDir(root, pool).resolve("pool.json"),
      (s"""{"id":"$id"$keyJson,"order":"$order","explicit":$explicitOrder,"seekstride":$seekStride,"threshold":$threshold}""" + "\n").getBytes(StandardCharsets.UTF_8))
    val j = journal(root, pool)
    if (!Files.exists(j)) Files.createFile(j)
    id
  }

  /** The pool's seek-index stride in key bytes (lake/data/object.go
    * DefaultSeekStride; `create -seekstride`).
    */
  def seekStride(root: String, pool: String): Long = {
    val f = poolDir(root, pool).resolve("pool.json")
    if (!Files.exists(f)) 65536L
    else """"seekstride":(\d+)""".r.findFirstMatchIn(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .map(_.group(1).toLong).getOrElse(65536L)
  }

  /** The pool's target object size (`create -S`; pools.Config.Threshold,
    * lake/data.DefaultThreshold 500MiB) — `db manage` merges adjacent
    * objects while a run stays under it.
    */
  def threshold(root: String, pool: String): Long = {
    val f = poolDir(root, pool).resolve("pool.json")
    if (!Files.exists(f)) 524288000L
    else """"threshold":(\d+)""".r.findFirstMatchIn(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .map(_.group(1).toLong).getOrElse(524288000L)
  }

  /** The pool's pools.Config value as decorated ZSON (lake/pools.go) —
    * the record `db ls -f` and `from :pools` surface.
    */
  def poolConfigZson(root: String, pool: String): String = {
    val k = poolKey(root, pool).getOrElse("ts")
    val order = poolOrder(root, pool)
    val idHex = try graft.functions.Ksuid.decodeHex(poolId(root, pool))
                catch { case _: Exception => "00" * 20 }
    val ts = java.time.Instant.now().toString
    s"""{ts:$ts,name:"$pool",id:0x$idHex(=ksuid.KSUID),layout:{order:"$order"(=order.Which),keys:[["$k"](=field.Path)](=field.List)}(=order.SortKey),seek_stride:${seekStride(root, pool)},threshold:${threshold(root, pool)}}(=pools.Config)"""
  }

  /** The pool's id (assigned at create; older pools get one lazily). */
  def poolId(root: String, pool: String): String = {
    val f = poolDir(root, pool).resolve("pool.json")
    val existing =
      if (Files.exists(f))
        """"id":"([^"]+)"""".r.findFirstMatchIn(
          new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).map(_.group(1))
      else None
    existing.getOrElse {
      val id = graft.functions.Ksuid.newId()
      val keyJson = poolKey(root, pool).map(k => s""","key":"$k"""").getOrElse("")
      Files.write(f, (s"""{"id":"$id"$keyJson}""" + "\n").getBytes(StandardCharsets.UTF_8))
      id
    }
  }

  /** The pool's sort order ("asc"/"desc"; desc is the reference default). */
  def poolOrder(root: String, pool: String): String = {
    val f = poolDir(root, pool).resolve("pool.json")
    if (!Files.exists(f)) "desc"
    else """"order":"([^"]+)"""".r.findFirstMatchIn(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .map(_.group(1)).getOrElse("desc")
  }

  /** The pool's key field, if it was created with one. */
  def poolKey(root: String, pool: String): Option[String] = {
    val f = poolDir(root, pool).resolve("pool.json")
    if (!Files.exists(f)) None
    else """"key":"([^"]+)"""".r.findFirstMatchIn(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).map(_.group(1))
  }

  def exists(root: String, pool: String): Boolean = Files.exists(journal(root, pool))

  /** Zed text rendering of a pool-key column (journal [min,max], seek
    * entries): TIME keys in zed's ISO ns form with trailing zeros
    * trimmed, others via plain string cast.
    */
  private def keyTextOf(df: DataFrame, k: String)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    (c: org.apache.spark.sql.Column) =>
      df.schema(k).dataType match {
        case TimestampType | TimestampNTZType =>
          regexp_replace(date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
            "\\.?0*Z$", "Z")
        case LongType if (df.schema(k).metadata.contains("graft.zedType") &&
            df.schema(k).metadata.getString("graft.zedType") == "time") ||
            // ns-long time carriers may carry the time type only in
            // the frame's shape texts (zson reads with sub-µs times)
            df.schema.fields.find(_.name == graft.operators.Het.typeTag)
              .filter(_.metadata.contains("shapes"))
              .map(_.metadata.getStringArray("shapes").toSeq)
              .exists(shp => shp.nonEmpty && shp.forall(t =>
                t.contains(s"$k:time"))) =>
          // ns-domain long carrier → seconds + trimmed 9-digit fraction
          val secs = (c / 1000000000L).cast(LongType)
          val frac = regexp_replace(
            lpad((c % 1000000000L).cast("string"), 9, "0"), "0+$", "")
          concat(date_format(timestamp_seconds(secs), "yyyy-MM-dd'T'HH:mm:ss"),
            when(frac === "", lit("")).otherwise(concat(lit("."), frac)),
            lit("Z"))
        case _ => c.cast("string")
      }
  }

  /** ZNG body length in bytes of a pool-key value — the seek-index
    * stream-cut trigger counts key bytes (lake/data/writer.go
    * writeIndex). Ints/times are zigzag minimal little-endian counted
    * bytes (zcode/counted.go: zero encodes empty); strings are UTF-8.
    */
  private def zngBodyLen(v: Any, dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    def counted(u: Long): Int = {
      var n = 0; var x = u
      while (x != 0) { n += 1; x >>>= 8 }
      n
    }
    def zig(i: Long): Long = if (i >= 0) i << 1 else (-i << 1) | 1
    v match {
      case null => 0
      case l: java.lang.Long =>
        dt match {
          case LongType => counted(zig(l))
          case _ => counted(zig(l))
        }
      case i: java.lang.Integer => counted(zig(i.toLong))
      case s: java.lang.Short => counted(zig(s.toLong))
      case b: java.lang.Byte => counted(zig(b.toLong))
      case t: java.sql.Timestamp =>
        counted(zig(math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos))
      case i: java.time.Instant =>
        counted(zig(i.getEpochSecond * 1000000000L + i.getNano))
      case s: String => s.getBytes("UTF-8").length
      case _: java.lang.Double | _: java.lang.Float => 8
      case _: java.lang.Boolean => 1
      case b: Array[Byte] => b.length
      case d: java.math.BigDecimal => counted(d.unscaledValue().longValue())
      case x => x.toString.getBytes("UTF-8").length
    }
  }

  /** `load` — commit a query result into a pool (load.go:11-30). The data
    * write is a distributed parquet write; only the tiny journal append is
    * driver-side, mirroring zed's commit-journal design. The commit record
    * carries the object's row count and key range, observed on the write
    * job.
    */
  def load(df: DataFrame, root: String, pool: String,
           author: String = "graft", message: String = "",
           branch: String = "main", meta: String = "",
           bodyTiebreak: Boolean = false): String = {
    if (!exists(root, pool)) create(root, pool): Unit
    // object ids are KSUIDs like the reference's (27-char base62,
    // k-sortable) — scripts pattern-match \w{27} and round-trip them
    // through ksuid()
    val id = graft.functions.Ksuid.newId()
    val dataDir = poolDir(root, pool).resolve("data").resolve(id)
    // parquet cannot store zero-field structs (`{}` rows); their value is
    // fully implied by the shape tag riding the journal, so strip them
    // for the write — scans re-attach the shape
    def emptyStruct(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.isEmpty || st.fields.forall(f => emptyStruct(f.dataType))
      case _ => false
    }
    val dfW0 =
      if (df.schema.fields.exists(f => emptyStruct(f.dataType)))
        df.drop(df.schema.fields.filter(f => emptyStruct(f.dataType))
          .map(_.name).toIndexedSeq: _*)
      else df
    val dfW =
      if (dfW0.columns.nonEmpty) dfW0
      else {
        // nothing storable left: carry row count via the tag column
        import org.apache.spark.sql.functions.lit
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", Array("{}")).build()
        df.select(lit("{}").as(graft.operators.Het.typeTag, md))
      }
    val key = poolKey(root, pool).filter(dfW.columns.contains)
    // the object's row count, and a keyed pool's key range, ride the WRITE
    // job itself (Observation metrics over the flowing rows) — exact, no
    // second pass over the input, and no re-read of a just-written
    // directory (a listing immediately after a write can come back partial)
    import org.apache.spark.sql.functions._
    val obs = new org.apache.spark.sql.Observation()
    val rowsMetric = count(lit(1)).as("rows")
    val sorted = key match {
      // keyed pool: range-sort so each file and row group covers a tight
      // key slice — this is what makes the journal's [min,max] and the
      // parquet stats selective at scan time
      case Some(k) =>
        // TIME keys record their range in zed's ISO form (ns precision,
        // trailing zeros trimmed) so :objects min/max render like the
        // reference and range pruning compares consistently
        val keyText = keyTextOf(dfW, k)
        // observe ABOVE the range exchange: the boundary-sampling pass
        // re-executes the subtree below it, which would double-count or
        // short-circuit metrics placed before the exchange
        // min_by/max_by: the RANGE comes from the key's native order
        // (an int64 key's "150" is above "99"; text min/max would
        // compare lexicographically) while the recorded value stays in
        // zed text form
        // compaction merges tiebreak equal keys by the record's zng body
        // bytes (zbuf NewComparatorNullsMax valueAsBytes) — that row
        // order is what makes the rewritten object's compressed size
        // byte-exact; plain loads skip the cost
        val sortCols =
          if (bodyTiebreak) {
            val tb = ZngBody.tiebreak(dfW)
            if (tb.isEmpty && sys.env.contains("SCRIPT_TRACE"))
              System.err.println(s"[lake] bodyTiebreak requested but no tag/shapes on ${dfW.columns.mkString(",")}")
            Seq(col(k)) ++ tb.toSeq
          } else Seq(col(k))
        dfW.repartitionByRange(col(k)).sortWithinPartitions(sortCols: _*)
          .observe(obs, rowsMetric, min_by(keyText(col(k)), col(k)).as("kmin"),
            max_by(keyText(col(k)), col(k)).as("kmax"))
      case None => dfW.observe(obs, rowsMetric)
    }
    sorted.write.mode("errorifexists").parquet(dataDir.toString)
    val observed = obs.get
    val rows = observed.get("rows").collect { case n: Long => n }.getOrElse(-1L)
    val rangeJson = key.map { _ =>
      def named(m: String): String =
        observed.get(m).flatMap(Option(_)).map(_.toString).getOrElse("").replace("\"", "'")
      s""","keymin":"${named("kmin")}","keymax":"${named("kmax")}""""
    }.getOrElse("")
    // object stats for :log / :objects meta scans — a local listing of
    // the object just written (cheap: one directory)
    val files = Option(dataDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    // "data bytes" is the zng-equivalent size like the reference's (log
    // ztest pins it); computed exactly for small objects, approximated by
    // the parquet footprint for big ones (a second serialization pass at
    // scale would double the write cost)
    val (bytes, vbytes, windows) =
      if (rows >= 0 && rows <= 100000) {
        try {
          val tmp = Files.createTempDirectory("zngsize")
          try {
            // serialize the ORIGINAL tagged frame (shape metadata intact),
            // pool-key sorted, then RE-frame it into seek-index streams:
            // the reference cuts a stream (EndStream + seek entry) when the
            // cumulative KEY body bytes reach the pool's stride
            // (lake/data/writer.go writeIndex); each stream re-emits its
            // types frame and ends with EOS, so per-stream byte lengths —
            // and the object's total "data bytes" — are byte-exact.
            val desc = poolOrder(root, pool) == "desc"
            // cached: the zng write and the key-text collect below must
            // see ONE ordering — rows with equal pool keys have no stable
            // tiebreak, so two executions could misalign the per-stream
            // min/max/vbytes
            val sortedOne = (key match {
              case Some(k) =>
                // compaction's merge order: equal keys tiebreak by zng
                // body bytes (zbuf comparator valueAsBytes)
                val tb =
                  if (bodyTiebreak) ZngBody.tiebreak(df).toSeq
                  else Seq.empty
                val cols =
                  (if (desc) Seq(desc_nulls_first(k)) else Seq(asc_nulls_last(k))) ++
                    (if (desc) tb.map(_.desc) else tb.map(_.asc))
                df.coalesce(1).sortWithinPartitions(cols: _*)
              case None => df.coalesce(1)
            }).cache()
            // released on every path: an exception in the size block must
            // not leave the frame in the cache manager
            try {
              ZngIO.write(sortedOne, tmp.toString)
              val (typesPayload, values) = ZngIO.parseStream(tmp.toString)
              val keyInfo: Seq[(String, Int)] = key match {
                case Some(k) =>
                  val kc = col(k)
                  sortedOne.select(keyTextOf(df, k)(kc).as("t"), kc.as("r"))
                    .collect().toSeq.map { r =>
                      (Option(r.get(0)).map(_.toString).getOrElse(""),
                        zngBodyLen(r.get(1), df.schema(k).dataType))
                    }
                case None => values.map(_ => ("", 0))
              }
              val stride = seekStride(root, pool)
              // windows: (count, vbytes, minText, maxText, offset, length)
              val wins = Vector.newBuilder[(Long, Long, String, String, Long, Long)]
              var off = 0L; var valOff = 0L
              var i = 0
              while (i < values.length) {
                var trigger = 0L; var cnt = 0L; var vb = 0L
                val first = keyInfo(i)._1
                var last = first
                val raw = new java.io.ByteArrayOutputStream()
                while (i < values.length && (cnt == 0L || trigger < stride)) {
                  trigger += keyInfo(i)._2
                  vb += values(i)._2
                  raw.write(values(i)._1)
                  last = keyInfo(i)._1
                  cnt += 1; i += 1
                }
                val tf = ZngIO.frame(0, typesPayload)
                val vf = ZngIO.frame(1, raw.toByteArray)
                val len = tf.length + vf.length + 1L // + EOS
                val (mn, mx) = if (desc) (last, first) else (first, last)
                wins += ((cnt, vb, mn, mx, off, len))
                off += len; valOff += cnt
              }
              val ws = wins.result()
              // the physical seek index (<id>-seek.zng, lake/seekindex):
              // readable with plain `super query` like the reference's
              if (key.isDefined && ws.nonEmpty) {
                try {
                  val isStr = df.schema(key.get).dataType ==
                    org.apache.spark.sql.types.StringType
                  def kv(s: String): String =
                    if (s.isEmpty) "null"
                    else if (isStr) "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
                    else s
                  var vo = 0L
                  val zson = ws.map { case (cnt, _, mn, mx, o, len) =>
                    val line = s"{min:${kv(mn)},max:${kv(mx)},val_off:$vo(uint64),val_cnt:$cnt(uint64),offset:$o(uint64),length:$len(uint64)}"
                    vo += cnt; line
                  }.mkString("\n")
                  val seekTmp = Files.createTempDirectory("seekzng")
                  try {
                    ZngIO.write(ZsonReader.fromText(df.sparkSession, zson,
                      tag = false), seekTmp.toString)
                    Option(seekTmp.toFile.listFiles()).getOrElse(Array.empty)
                      .find(f => f.isFile && f.getName.startsWith("part-"))
                      .foreach { p =>
                        Files.copy(p.toPath,
                          poolDir(root, pool).resolve("data").resolve(s"$id-seek.zng"),
                          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
                      }
                  } finally org.apache.commons.io.FileUtils.deleteQuietly(seekTmp.toFile): Unit
                } catch { case _: Exception => () }
              }
              (ws.map(_._6).sum, ws.map(_._2).sum, ws)
            } finally sortedOne.unpersist(blocking = false): Unit
          } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
        } catch { case _: Exception =>
          (files.map(_.length()).sum, -1L, Seq.empty[(Long, Long, String, String, Long, Long)]) }
      } else (files.map(_.length()).sum, -1L,
        Seq.empty[(Long, Long, String, String, Long, Long)])
    val metaJson = if (meta.isEmpty) "" else s""","meta":"${esc(meta)}""""
    // a TAGGED frame keeps per-row shapes through the lake: the tag
    // column is stored in parquet and the shape list rides the journal so
    // scans re-attach it (the reference lake stores per-value types
    // natively; revert/merge ztests pin per-row output shapes)
    val shapesJson = {
      val tagField = df.schema.fields.find(_.name == graft.operators.Het.typeTag)
      val shp = tagField.filter(_.metadata.contains("shapes"))
        .map(_.metadata.getStringArray("shapes").toSeq).getOrElse(Seq.empty)
      if (shp.isEmpty) ""
      else shp.map(t => "\"" + esc(t) + "\"").mkString(""","shapes":[""", ",", "]")
    }
    val winsJson =
      if (windows.isEmpty) ""
      else s""","wins":"${winsEncode(windows.map(w => (w._1, w._2, w._3, w._4)))}""""
    appendRec(root, pool,
      s"""{"id":"$id","kind":"commit","branch":"$branch","author":"${author.replace("\"", "'")}","message":"${message.replace("\"", "'")}"$rangeJson$metaJson$shapesJson,"rows":$rows,"bytes":$bytes,"vbytes":$vbytes$winsJson,"ts":${System.currentTimeMillis()}}""")
    id
  }

  /** Journal string escaping (backslash and quote) and its inverse. */
  private def esc(x: String): String = x.replace("\\", "\\\\").replace("\"", "\\\"")

  private def unesc(x: String): String =
    if (x.indexOf('\\') < 0) x
    else {
      val b = new StringBuilder(x.length)
      var i = 0
      while (i < x.length) {
        if (x.charAt(i) == '\\' && i + 1 < x.length) i += 1
        b += x.charAt(i); i += 1
      }
      b.result()
    }

  /** Serialize a commit record for the journal, preserving its stats,
    * key range, meta and shape list (merge/revert copy records across
    * branches — the copies must stay as rich as the originals).
    */
  private def commitJson(c: Commit, branch: String, message: String): String = {
    val range = (c.keyMin, c.keyMax) match {
      case (Some(mn), Some(mx)) => s""","keymin":"${esc(mn)}","keymax":"${esc(mx)}""""
      case _ => ""
    }
    val metaJ = if (c.meta.isEmpty) "" else s""","meta":"${esc(c.meta)}""""
    val shapesJ =
      if (c.shapes.isEmpty) ""
      else c.shapes.map(t => "\"" + esc(t) + "\"").mkString(""","shapes":[""", ",", "]")
    val winsJ = if (c.wins.isEmpty) "" else s""","wins":"${winsEncode(c.wins)}""""
    s"""{"id":"${c.id}","kind":"commit","branch":"$branch","author":"${esc(c.author)}","message":"${esc(message)}"$range$metaJ$shapesJ,"rows":${c.rows},"bytes":${c.bytes},"vbytes":${c.vbytes}$winsJ,"ts":${System.currentTimeMillis()}}"""
  }

  private def appendRec(root: String, pool: String, rec: String): Unit =
    Files.write(journal(root, pool), (rec + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)

  /** `branch <pool> <name> [@commit]` — a named ref forking from a commit
    * (lake/root.go:363-381, cmd/super/db/branch). A journal record, no
    * data movement: the branch sees its ancestors up to the fork point
    * plus its own commits.
    */
  def branch(root: String, pool: String, name: String, from: Option[String] = None): Unit = {
    require(exists(root, pool), s"no such pool: $pool")
    val forkAt = from.orElse(
      commits(root, pool).filter(c => c.kind == "commit" && c.branch == "main")
        .lastOption.map(_.id)).getOrElse("")
    appendRec(root, pool,
      s"""{"id":"$name","kind":"branch","target":"$forkAt","ts":${System.currentTimeMillis()}}""")
  }

  def branches(root: String, pool: String): Seq[String] =
    "main" +: commits(root, pool).filter(_.kind == "branch").map(_.id)

  /** `delete` — a data object leaves the live set as a NEW journal record
    * (runtime/sam/op/meta/deleter.go: deletes are commits, history stays
    * intact — `@commit` time travel still sees the object).
    */
  def delete(root: String, pool: String, commitId: String, branch: String = "main"): String = {
    require(exists(root, pool), s"no such pool: $pool")
    // only a LIVE object can be deleted (the reference errors on unknown
    // ids — delete ztest)
    val live = liveIds(visibleOn(commits(root, pool), branch))
    if (!live.contains(commitId))
      throw new IllegalArgumentException(s"$commitId: commit object not found")
    val recId = graft.functions.Ksuid.newId()
    appendRec(root, pool,
      s"""{"id":"$recId","kind":"delete","branch":"$branch","target":"$commitId","ts":${System.currentTimeMillis()}}""")
    recId
  }

  private val idRe = """"id":"([^"]+)"""".r
  private val authorRe = """"author":"([^"]*)"""".r
  private val msgRe = """"message":"([^"]*)"""".r
  private val tsRe = """"ts":(\d+)""".r
  private val branchRe = """"branch":"([^"]*)"""".r
  private val kindRe = """"kind":"([^"]*)"""".r
  private val targetRe = """"target":"([^"]*)"""".r
  private val kminRe = """"keymin":"([^"]*)"""".r
  private val kmaxRe = """"keymax":"([^"]*)"""".r
  // escaped strings match possessively: a backtracking `(?:[^"\\]|\\.)*`
  // recurses per character in java.util.regex and overflows the stack on
  // long values
  private val metaRe = """"meta":"((?:[^"\\]++|\\.)*+)"""".r
  private val rowsRe = """"rows":(-?\d+)""".r
  private val shapesRe = """"shapes":\[((?:"(?:[^"\\]++|\\.)*+",?)*+)\]""".r
  private val shapeRe = """"((?:[^"\\]++|\\.)*+)"""".r
  private val bytesRe = """"bytes":(-?\d+)""".r
  private val vbytesRe = """"vbytes":(-?\d+)""".r
  private val winsRe = """"wins":"([^"]*)"""".r

  def commits(root: String, pool: String): Seq[Commit] = {
    if (!exists(root, pool)) return Seq.empty
    def str(re: scala.util.matching.Regex, l: String): Option[String] =
      re.findFirstMatchIn(l).map(_.group(1))
    scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(journal(root, pool))).asScala.toSeq
      .filter(_.nonEmpty)
      .map { l =>
        Commit(
          str(idRe, l).getOrElse(""),
          str(authorRe, l).getOrElse(""),
          str(msgRe, l).getOrElse(""),
          str(tsRe, l).map(_.toLong).getOrElse(0L),
          str(branchRe, l).getOrElse("main"),
          str(kindRe, l).getOrElse("commit"),
          str(targetRe, l).getOrElse(""),
          str(kminRe, l),
          str(kmaxRe, l),
          str(metaRe, l).map(unesc).getOrElse(""),
          str(rowsRe, l).map(_.toLong).getOrElse(-1L),
          str(bytesRe, l).map(_.toLong).getOrElse(-1L),
          str(shapesRe, l).map { arr =>
            shapeRe.findAllMatchIn(arr).map(m => unesc(m.group(1))).toSeq
          }.getOrElse(Seq.empty),
          str(vbytesRe, l).map(_.toLong).getOrElse(-1L),
          str(winsRe, l).map(winsDecode).getOrElse(Seq.empty))
      }
  }

  /** Public view of a branch's visible journal slice (for `:log` /
    * `:objects` meta scans and the CLI's `db log`).
    */
  def commitsOn(root: String, pool: String, branch: String): Seq[Commit] = {
    val all = commits(root, pool)
    val visible = visibleOn(all, branch)
    val live = liveIds(visible).toSet
    visible.filter(c => c.kind != "commit" || live.contains(c.id))
  }

  /** Journal records visible from a branch head: the branch's own records
    * plus main ancestors at or before the fork point, in journal order.
    */
  private def visibleOn(all: Seq[Commit], branch: String): Seq[Commit] = {
    val forkAt = all.find(c => c.kind == "branch" && c.id == branch).map(_.target)
    val mainIds = all.filter(x => x.kind == "commit" && x.branch == "main").map(_.id)
    def onBranch(c: Commit): Boolean =
      c.branch == branch || (forkAt match {
        case Some(f) => c.branch == "main" && mainIds.indexOf(c.id) <= mainIds.indexOf(f)
        case None    => false
      })
    all.filter(onBranch)
  }

  /** Replay a visible journal slice in order: a commit (re-)adds its object
    * id, a delete removes its target. Order matters — a commit appended
    * AFTER a delete (revert-of-delete) restores the object, and a delete
    * after a commit removes it, exactly like the reference's journal replay.
    */
  /** (records, value-body bytes) over a branch's LIVE objects — the
    * scanner's records_read / bytes_read statistics for a full pool scan
    * (runtime progress counters; bytes count val.Bytes() sizes).
    */
  /** (records, value-body bytes) of a frame — the scanner's MATCHED
    * statistics for a filtered scan (progress counts val.Bytes() per
    * record passing the filter). Serializes through the byte-exact zng
    * writer; ztest-scale only (the caller bounds input size).
    */
  def bodyStats(df: DataFrame): (Long, Long) = {
    val tmp = Files.createTempDirectory("zstats")
    try {
      ZngIO.write(df.coalesce(1), tmp.toString)
      val vals = ZngIO.parseStream(tmp.toString)._2
      (vals.length.toLong, vals.map(_._2.toLong).sum)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
  }

  def scanStats(root: String, pool: String, branch: String = "main",
                lo: Option[String] = None, hi: Option[String] = None,
                loInc: Boolean = true, hiInc: Boolean = true): (Long, Long) = {
    val vis = visibleOn(commits(root, pool), branch)
    val live = liveIds(vis).toSet
    val cs = vis.filter(c => c.kind == "commit" && live.contains(c.id))
    // bounded key range + per-object seek windows → the scanner reads
    // only the streams whose [min,max] overlap the range (seekindex
    // lookup, lake/data/reader.go); everything else → whole objects
    // keys compare numerically when both sides are numeric, with ISO
    // time texts normalized to epoch ns (fraction lengths vary, so
    // lexicographic ISO comparison is unsafe)
    def num(s: String): Option[BigDecimal] =
      scala.util.Try(BigDecimal(s)).toOption.orElse(
        scala.util.Try(java.time.Instant.parse(s)).toOption.map(i =>
          BigDecimal(i.getEpochSecond) * 1000000000L + i.getNano))
    def cmp(a: String, b: String): Int =
      (num(a), num(b)) match {
        case (Some(x), Some(y)) => x.compare(y)
        case _ => a.compareTo(b)
      }
    if ((lo.isDefined || hi.isDefined) && cs.forall(_.wins.nonEmpty)) {
      val picked = cs.flatMap(_.wins).filter { case (_, _, mn, mx) =>
        // empty min/max = null key bound; null sorts as the MAXIMUM in
        // zed's total order, so a null bound is an open top end
        if (mn.isEmpty && mx.isEmpty) hi.isEmpty
        else (mx.isEmpty || lo.forall(l =>
            if (loInc) cmp(mx, l) >= 0 else cmp(mx, l) > 0)) &&
          (mn.isEmpty || hi.forall(h =>
            if (hiInc) cmp(mn, h) <= 0 else cmp(mn, h) < 0))
      }
      (picked.map(_._1).sum, picked.map(_._2).sum)
    } else
      (cs.map(c => math.max(0L, c.rows)).sum,
        cs.map(c => math.max(0L, c.vbytes)).sum)
  }

  private def liveIds(visible: Seq[Commit]): Seq[String] =
    visible.foldLeft(Vector.empty[String]) { (live, c) =>
      c.kind match {
        case "commit" => if (live.contains(c.id)) live else live :+ c.id
        case "delete" => live.filterNot(_ == c.target)
        case _        => live
      }
    }

  /** The schema of one data object: the footer of one of its parquet
    * files (every file of an object shares the load's schema). None for
    * an object with no data file, which parquet inference skips as well.
    */
  private def objectSchema(spark: SparkSession,
                           dir: java.nio.file.Path): Option[org.apache.spark.sql.types.StructType] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .find(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => org.apache.spark.sql.graftshim.SchemaBridge.footerSchema(
        spark.sparkContext.hadoopConfiguration, f.toString))

  /** Read data objects `ids` as one frame, planned on the driver: one
    * footer per object, merged with the merge parquet `mergeSchema`
    * inference runs, in the order it runs it (file paths sorted, so by
    * object id), so the frame has the schema inference would give without
    * the Spark job that reads every file's footer. A tagged frame's shape
    * list, stored in the journal, re-attaches to its tag column.
    */
  private def readObjects(spark: SparkSession, root: String, pool: String,
                          ids: Seq[String], byId: Map[String, Commit]): DataFrame = {
    val data = poolDir(root, pool).resolve("data")
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    val schema = ids.sortBy(_ + "/").flatMap(id => objectSchema(spark, data.resolve(id)))
      .reduceOption(org.apache.spark.sql.graftshim.SchemaBridge.merge(_, _, caseSensitive))
      .getOrElse(throw new IllegalStateException(
        s"pool $pool: no data files under objects ${ids.mkString(", ")}"))
    val df0 = spark.read.schema(schema).parquet(ids.map(id => data.resolve(id).toString): _*)
    val tagName = graft.operators.Het.typeTag
    val allShapes = ids.flatMap(byId.get).flatMap(_.shapes).distinct
    if (!df0.columns.contains(tagName) || allShapes.isEmpty) df0
    else {
      import org.apache.spark.sql.functions.col
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putStringArray("shapes", allShapes.toArray).build()
      df0.select(df0.schema.fields.toIndexedSeq.map { f =>
        if (f.name == tagName) col(s"`${f.name}`").as(f.name, md)
        else col(s"`${f.name}`")
      }: _*)
    }
  }

  /** `from <pool>[@commit|@branch]` — merge-on-read scan of the live
    * commits: a branch sees ancestors up to its fork plus its own
    * commits, minus anything a delete record on the branch removed. The
    * scan is planned on the driver from the journal and the objects'
    * footers (see [[readObjects]]): no Spark job runs until the frame is
    * executed.
    */
  def scan(spark: SparkSession, root: String, pool: String,
           asOf: Option[String] = None,
           keyRange: Option[(String, String)] = None): DataFrame = {
    val all = commits(root, pool)
    val branchNames = all.filter(_.kind == "branch").map(_.id).toSet
    val (branch, upTo) = asOf match {
      case Some(b) if branchNames(b) || b == "main" => (b, None)
      case other => ("main", other)
    }
    val visible = upTo match {
      case Some(id) =>
        val idx = all.indexWhere(_.id == id)
        require(idx >= 0, s"no such commit: $id")
        all.take(idx + 1)
      case None => visibleOn(all, branch)
    }
    val live = liveIds(visible)
    if (live.isEmpty) {
      // an empty pool scans as zero rows, not an error (create-ksuid-name
      // ztest queries a pool before any load)
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("this", StringType))))
    }
    // object-level range pruning from the journal's [keymin,keymax] — the
    // seek-index analog: a keyed pool's range scan never opens an object
    // whose recorded range can't overlap. Objects without a recorded
    // range (unkeyed loads) are conservatively kept.
    val key = poolKey(root, pool)
    val byId = visible.filter(_.kind == "commit").map(c => c.id -> c).toMap
    val pruned = (key, keyRange) match {
      case (Some(_), Some((lo, hi))) =>
        val kept = live.filter { id =>
          byId.get(id).forall(c => (c.keyMin, c.keyMax) match {
            // an empty recorded range means the object has no keyed rows
            // at all — nothing in it can match any range
            case (Some(""), Some("")) => false
            case (Some(mn), Some(mx)) =>
              !(cmpKey(mx, lo).exists(_ < 0) || cmpKey(mn, hi).exists(_ > 0))
            case _ => true
          })
        }
        if (kept.nonEmpty) kept else live.take(1) // keep a scannable frame for schema
      case _ => live
    }
    val df1 = readObjects(spark, root, pool, pruned, byId)
    val allShapes = df1.schema.fields.find(_.name == graft.operators.Het.typeTag)
      .filter(_.metadata.contains("shapes"))
      .map(_.metadata.getStringArray("shapes").toSeq).getOrElse(Seq.empty)
    // a KEYED pool scans in key order (the reference's pools are sorted
    // sequences; `db query "*"` output order is pinned by ztests)
    val df = key match {
      case Some(k) if df1.columns.contains(k) =>
        import org.apache.spark.sql.functions._
        // IP keys sort in ADDRESS order, not text order (merge-by-addr:
        // 10.47.x before 10.128.x) — the key expression byte-encodes them
        val isIpKey =
          df1.schema(k).dataType == org.apache.spark.sql.types.StringType &&
            allShapes.nonEmpty && allShapes.forall(_.contains(s"$k:ip"))
        val sortC =
          if (isIpKey) {
            // covers v4 AND v6 (family byte + address bytes — address
            // order via Spark's unsigned binary comparison)
            val ipOrd = udf((v: String) => graft.functions.ZedFunctions.ipSortKey(v))
            ipOrd(col(k))
          } else col(k)
        if (poolOrder(root, pool) == "asc") df1.orderBy(sortC.asc_nulls_last)
        else df1.orderBy(sortC.desc_nulls_last)
      case Some(_) =>
        // keyed pool whose loaded data lacks the key column entirely:
        // every key is missing, yet the reference still pins the output
        // order via its comparator's record-body-bytes tiebreak in the
        // pool's direction (zbuf/merger.go NewComparatorNullsMax
        // valueAsBytes; the python client ztest observes it). Cost is
        // confined to this all-missing case — keyed scans never compute
        // the tiebreak.
        ZngBody.tiebreak(df1) match {
          case Some(tb) =>
            if (poolOrder(root, pool) == "asc") df1.orderBy(tb.asc_nulls_last)
            else df1.orderBy(tb.desc_nulls_last)
          case None => df1
        }
      case _ => df1
    }
    // in-object pruning: the key predicate pushes to parquet, where the
    // load-time range sort makes row-group [min,max] stats selective
    (key, keyRange) match {
      case (Some(k), Some((lo, hi)))
          if castable(lo, df.schema(k).dataType) && castable(hi, df.schema(k).dataType) =>
        import org.apache.spark.sql.functions.{col, lit}
        df.filter(col(k) >= lit(lo).cast(df.schema(k).dataType) &&
          col(k) <= lit(hi).cast(df.schema(k).dataType))
      // a bound that doesn't parse in the key's type would cast to null
      // and wrongly drop every row — leave filtering to the caller
      case _ => df
    }
  }

  /** Order two rendered key values: numerically when both parse as
    * numbers, lexicographically when neither does (exact for strings and
    * for the uniform-width datetime renders Spark's string cast emits).
    * MIXED classes are incomparable (None) — pruning must keep the
    * object rather than guess.
    */
  /** Total-ish compare of two recorded key texts (numeric-aware; ISO
    * times compare as text, which is order-correct at fixed precision) —
    * the meta listers sort objects with it.
    */
  def keyCompare(a: String, b: String): Int =
    cmpKey(a, b).getOrElse(a.compareTo(b))

  private def cmpKey(a: String, b: String): Option[Int] = {
    val na = try Some(BigDecimal(a)) catch { case _: NumberFormatException => None }
    val nb = try Some(BigDecimal(b)) catch { case _: NumberFormatException => None }
    (na, nb) match {
      case (Some(x), Some(y)) => Some(x.compare(y))
      case (None, None) => Some(a.compareTo(b))
      case _ => None
    }
  }

  /** Does `v` parse in the key column's type? Guards the scan-level row
    * filter against cast-to-null false drops.
    */
  private def castable(v: String, dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    try dt match {
      case LongType | IntegerType | ShortType | ByteType => { v.trim.toLong; true }
      case DoubleType | FloatType | _: DecimalType => { BigDecimal(v.trim); true }
      case StringType => true
      case TimestampType | TimestampNTZType =>
        java.sql.Timestamp.valueOf(v.replace("T", " ").stripSuffix("Z")); true
      case DateType => java.sql.Date.valueOf(v.take(10)); true
      case _ => false
    } catch { case _: Exception => false }
  }

  /** `merge <branch>` — fold a branch's commits into its parent
    * (lake/root.go MergeBranch; cmd/super/db/merge): the child's data
    * objects become visible on the parent via new journal records over
    * the SAME data (no data movement), then the branch ref stays for
    * history like the reference's fast-forward.
    */
  def merge(root: String, pool: String, branch: String, parent: String = "main"): Seq[String] = {
    require(exists(root, pool), s"no such pool: $pool")
    val all = commits(root, pool)
    val childCommits = all.filter(c => c.kind == "commit" && c.branch == branch)
    val childDeletes = all.filter(c => c.kind == "delete" && c.branch == branch)
    childCommits.foreach { c =>
      appendRec(root, pool, commitJson(c, parent, s"merge $branch: ${c.message}"))
    }
    childDeletes.foreach { d =>
      appendRec(root, pool,
        s"""{"id":"${d.id}","kind":"delete","branch":"$parent","target":"${d.target}","ts":${System.currentTimeMillis()}}""")
    }
    childCommits.map(_.id)
  }

  /** `revert <commit>` — a NEW commit that undoes a previous one
    * (cmd/super/db/revert): reverting a data commit deletes its object
    * from the live set; reverting a delete restores the object. History
    * stays intact either way.
    */
  def revert(root: String, pool: String, commitId: String, branch: String = "main"): String = {
    require(exists(root, pool), s"no such pool: $pool")
    val all = commits(root, pool)
    val target = all.find(_.id == commitId).getOrElse(
      throw new IllegalArgumentException(s"no such commit: $commitId"))
    target.kind match {
      case "commit" => delete(root, pool, commitId, branch)
      case "delete" =>
        // restore: re-commit the deleted object's id on this branch —
        // keeping the ORIGINAL record's shapes/stats/range
        val orig = all.find(c => c.kind == "commit" && c.id == target.target)
        orig match {
          case Some(o) =>
            appendRec(root, pool, commitJson(o, branch, s"revert $commitId"))
          case None =>
            appendRec(root, pool,
              s"""{"id":"${target.target}","kind":"commit","branch":"$branch","author":"revert","message":"revert $commitId","ts":${System.currentTimeMillis()}}""")
        }
        target.target
      case other => throw new IllegalArgumentException(s"cannot revert a $other record")
    }
  }

  /** `compact` — rewrite the branch's live objects into ONE object
    * (cmd/super/db/compact): a distributed read+write, then the old
    * objects leave the live set (still reachable by time travel until
    * vacuum).
    */
  /** `db vector add/delete` — a VNG twin of one data object
    * (lake/api vector endpoints): columnar reads of that object skip the
    * row decode entirely, like the reference's vector cache.
    */
  def vectorAdd(spark: SparkSession, root: String, pool: String, id: String): Unit = {
    val c = commits(root, pool).find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"$id: commit object not found"))
    val df = readObjects(spark, root, pool, Seq(id), Map(id -> c))
    val tmp = Files.createTempDirectory("vecvng")
    try {
      VngIO.write(df.coalesce(1), tmp.toString)
      Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
        .find(f => f.isFile && f.getName.startsWith("part-"))
        .foreach { p =>
          Files.copy(p.toPath,
            poolDir(root, pool).resolve("data").resolve(s"$id-vector.vng"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
  }

  def vectorDelete(root: String, pool: String, id: String): Unit = {
    val p = poolDir(root, pool).resolve("data").resolve(s"$id-vector.vng")
    if (!Files.deleteIfExists(p))
      throw new IllegalArgumentException(s"$id: vector object not found")
  }

  /** Objects on the branch that have a vector twin, with the twin's size. */
  def vectors(root: String, pool: String, branch: String): Seq[(Commit, Long)] =
    commitsOn(root, pool, branch).filter(_.kind == "commit").flatMap { c =>
      val p = poolDir(root, pool).resolve("data").resolve(s"${c.id}-vector.vng")
      if (Files.exists(p)) Some((c, Files.size(p))) else None
    }

  /** Compact a specific RUN of objects into one (`db manage`'s unit of
    * work; lake/api Compact with an explicit id list): read just those
    * objects, rewrite them as a single key-sorted object, then the run
    * leaves the live set.
    */
  def compactIds(spark: SparkSession, root: String, pool: String,
                 ids: Seq[String], branch: String = "main",
                 vectors: Boolean = false): String = {
    val byId = commits(root, pool).filter(_.kind == "commit")
      .map(c => c.id -> c).toMap
    val df = readObjects(spark, root, pool, ids, byId)
    val id = load(df, root, pool, "compact", s"compact ${ids.length} objects",
      branch, bodyTiebreak = true)
    ids.foreach(cid => delete(root, pool, cid, branch))
    if (vectors) vectorAdd(spark, root, pool, id)
    id
  }

  /** One `db manage` compaction pass over a branch
    * (cmd/super/internal/lakemanage/scan.go): walk the live objects in
    * ascending key-min order; a run grows while the next object's range
    * overlaps the run's span OR the run's combined size stays under the
    * pool threshold; runs of two-plus compact into one object, and with
    * vectors enabled single objects missing a vector twin get one.
    */
  def manage(spark: SparkSession, root: String, pool: String,
             branch: String = "main", vectors: Boolean = false): Unit = {
    val thresh = threshold(root, pool)
    val objs0 = commitsOn(root, pool, branch).filter(_.kind == "commit")
    // sort by min ascending in the zed value order, nulls (no recorded
    // range) last — the reference's iterator runs `:objects | sort min`
    def minKey(c: Commit): Option[String] = c.keyMin.filter(_.nonEmpty)
    val objs = objs0.sortWith { (a, b) =>
      (minKey(a), minKey(b)) match {
        case (Some(x), Some(y)) => cmpKey(x, y).exists(_ < 0)
        case (Some(_), None) => true
        case _ => false
      }
    }
    def hasVector(id: String): Boolean =
      Files.exists(poolDir(root, pool).resolve("data").resolve(s"$id-vector.vng"))
    var runIds = Vector.empty[String]
    var runSize = 0L
    var spanMin: Option[String] = None
    var spanMax: Option[String] = None
    def leq(a: String, b: String) = cmpKey(a, b).forall(_ <= 0)
    def flush(): Unit = {
      if (runIds.length >= 2) compactIds(spark, root, pool, runIds, branch, vectors): Unit
      else if (runIds.length == 1 && vectors && !hasVector(runIds.head))
        vectorAdd(spark, root, pool, runIds.head)
      runIds = Vector.empty; runSize = 0L; spanMin = None; spanMax = None
    }
    for (o <- objs) {
      val oMin = o.keyMin.filter(_.nonEmpty)
      val oMax = o.keyMax.filter(_.nonEmpty)
      val overlaps = (spanMin, spanMax, oMin, oMax) match {
        case (Some(smn), Some(smx), Some(mn), Some(mx)) =>
          leq(mn, smx) && leq(smn, mx)
        case _ => false
      }
      val size = math.max(0L, o.bytes)
      if (runIds.isEmpty || overlaps || runSize + size < thresh) {
        runIds :+= o.id; runSize += size
        for (mn <- oMin) if (spanMin.forall(s => !leq(s, mn))) spanMin = Some(mn)
        for (mx <- oMax) if (spanMax.forall(s => !leq(mx, s))) spanMax = Some(mx)
      } else {
        flush()
        runIds = Vector(o.id); runSize = size; spanMin = oMin; spanMax = oMax
      }
    }
    flush()
  }

  def compact(spark: SparkSession, root: String, pool: String,
              branch: String = "main"): String = {
    val df = scan(spark, root, pool, Some(branch))
    val all = commits(root, pool)
    // Everything the branch sees — its own objects AND fork ancestors — is
    // folded into the compact object, so all of it leaves this branch's
    // live set (branch-scoped deletes: other branches keep seeing the
    // originals).
    val old = liveIds(visibleOn(all, branch))
    val id = load(df, root, pool, "compact", s"compact ${old.length} objects", branch)
    old.foreach(cid => delete(root, pool, cid, branch))
    id
  }

  /** `vacuum` — physically remove data objects no LIVE commit on any
    * branch references (cmd/super/db/vacuum): reclaims space and gives up
    * time travel to the removed objects, exactly like the reference.
    */
  /** Objects no branch head still references (vacuum's candidates). */
  def vacuumable(root: String, pool: String): Seq[String] = {
    require(exists(root, pool), s"no such pool: $pool")
    val all = commits(root, pool)
    val live = branches(root, pool).flatMap(b => liveIds(visibleOn(all, b))).toSet
    val dataDir = poolDir(root, pool).resolve("data")
    Option(dataDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !live(f.getName)).map(_.getName).toSeq
  }

  def vacuum(root: String, pool: String): Seq[String] = {
    // An object is live if ANY branch head still sees it (the reference's
    // vacuum removes only objects unreferenced by every branch): a delete
    // on one branch must not reclaim an object another branch still scans.
    val removed = vacuumable(root, pool)
    val dataDir = poolDir(root, pool).resolve("data")
    removed.foreach(id => org.apache.commons.io.FileUtils.deleteQuietly(
      dataDir.resolve(id).toFile): Unit)
    removed
  }

  /** Drop a pool entirely (service DELETE /pool). */
  def drop(root: String, pool: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(poolDir(root, pool).toFile): Unit

  /** `db rename <old> <new>` — a directory move; the journal rides along. */
  def rename(root: String, from: String, to: String): Unit = {
    if (Files.exists(poolDir(root, to)))
      throw new IllegalArgumentException(s"$to: pool already exists")
    Files.move(poolDir(root, from), poolDir(root, to)): Unit
  }

  /** `mirror` — copy the stream to a mirror sink while passing it through
    * (runtime/sam/op/mirror/mirror.go; multi-output graphs mux.go). The
    * shared plan is computed once per action; for expensive upstreams the
    * caller persists first.
    */
  def mirror(df: DataFrame, mirrorSink: DataFrame => Unit): DataFrame = {
    mirrorSink(df)
    df
  }
}
