package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.lang.{Compiler, Parser}
import graft.sources.{Formats, Lake, VngIO, ZeekIO, ZngIO, ZsonIO}

/** What one run shares with its workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val trace: Trace) {
  /** Parse and compile a Zed query, each call in its own span. */
  def zed(q: String): DataFrame = {
    val p = trace.span("lang.parse")(Parser.parse(q))
    trace.span("lang.compile")(new Compiler(spark, "").run(p))
  }

  /** Collect a result as canonical rows, without the engine's shape tag. */
  def collect(df: DataFrame): Seq[String] = {
    val keep = df.schema.fieldNames.zipWithIndex.collect {
      case (n, i) if n != graft.operators.Het.typeTag => i }
    trace.span("exec.collect")(df.collect()).toSeq.map(r => Canon.row(keep.map(r.get)))
  }

  /** Run a Zed query and render its result as ZSON text lines. */
  def zson(q: String): Seq[String] = {
    val df = zed(q)
    val rendered = trace.span("sources.render")(ZsonIO.toZson(df))
    trace.span("exec.collect")(rendered.collect()).toSeq
  }

  /** Run a graft writer on `df` and describe what it wrote. */
  def write(df: DataFrame, out: String)(w: (DataFrame, String) => Unit): OpOut = {
    trace.span("sources.write")(w(df, out))
    trace.direct(df.queryExecution)
    OpOut.files(out)
  }
}

/** Result of one op: canonical result lines (reads) or the output's
  * part-file sizes (writes), which must repeat on every execution.
  */
final case class OpOut(rows: Seq[String], outBytes: Long = 0L, outFiles: Int = 0)
object OpOut {
  def files(dir: String): OpOut = {
    val sizes = Fixtures.files(dir).map(Files.size).sorted
    OpOut(sizes.map(_.toString), sizes.sum, sizes.length)
  }
}

/** One kind of operation in a workload's mix. `inRows`/`inBytes` are the
  * rows and on-disk bytes of the input it reads.
  */
final case class Op(name: String, kind: String, query: String, inRows: Long, inBytes: Long,
                    ordered: Boolean = false)(val run: () => OpOut)

/** Canonical JSON text of a collected row, for comparison with the oracle. */
object Canon {
  def value(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(value)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(value(k), value(x)) }
    case s: scala.collection.Seq[_] => s.map(value)
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case other => other
  }
  def row(values: Seq[Any]): String = Json.write(values.map(value))
}

/** A workload builds its fixture in `setup` (run several times, the last
  * copy kept); `measure` then drives its traffic for the window.
  */
abstract class Workload {
  /** Rows, files and a description of the input. */
  def input: Map[String, Any]
  /** The fixture's engine inputs (paths under the fixture directory). */
  def inputs: Seq[String]
  def setup(ctx: Ctx, dir: String): Unit
  def measure(ctx: Ctx, dir: String, seconds: Double): Measured
  /** Oracle inputs for the checker: twin paths, parameters, tallies. */
  def oracle(dir: String): Map[String, Any]
  /** After the timed window: re-read each write op's output (untimed). */
  def readback(ctx: Ctx, dir: String): Map[String, Seq[String]] = Map.empty
  /** Extra driver-side samples the traced run takes after the window. */
  def probes(ctx: Ctx, dir: String): Unit
  def extra(dir: String): Map[String, Any] = Map.empty
}

/** One client running a fixed op mix in a closed loop; the traced run
  * also samples the driver-side read call on the main input.
  */
abstract class SingleClient extends Workload {
  def ops(ctx: Ctx, dir: String): IndexedSeq[Op]
  def probeInput(dir: String): String
  def measure(ctx: Ctx, dir: String, seconds: Double): Measured = Loop.closed(ctx, ops(ctx, dir), seconds)
  def probes(ctx: Ctx, dir: String): Unit =
    for (k <- 0 until 5)
      ctx.trace.op(ctx.spark, s"probe-$k", "probe:read")(
        ctx.trace.span("sources.read")(Formats.read(ctx.spark, probeInput(dir))))
}

final case class Measured(ops: Seq[Map[String, Any]], results: Map[String, Map[String, Any]],
                          start: Long, end: Long)

object Loop {
  /** Unrecorded ops of the same traffic before the window, so the JIT and
    * the engine's caches settle and the window measures steady state.
    * Counted in ops, not seconds: a run that meets a slow host still starts
    * its window equally warm. The cap bounds the slowest workloads.
    */
  val warmOps = 40
  val warmCapSeconds = 30.0

  /** One client, closed loop: the next op starts when the previous one
    * returns. Ops cycle through the mix in order; a phase ends with the
    * first whole cycle past its limit, so every run keeps the mix's
    * proportions. The first execution of each op is the reference output
    * (and is checked by the oracle); every timed execution must equal it.
    */
  def closed(ctx: Ctx, mix: IndexedSeq[Op], seconds: Double): Measured = {
    val reference = mix.distinctBy(_.name).map { op =>
      op.name -> (try Right(ctx.trace.op(ctx.spark, "warm", op.name)(op.run()))
                  catch { case NonFatal(e) => Left(e.toString) })
    }.toMap
    /** Run whole cycles while `more(ops run, nanoseconds elapsed)`. */
    def phase(more: (Int, Long) => Boolean)(each: (Int, Op) => Unit): (Long, Long) = {
      val start = Clock.now()
      var i = 0
      while (more(i, Clock.now() - start) || i % mix.length != 0) {
        each(i, mix(i % mix.length))
        i += 1
      }
      (start, Clock.now())
    }
    phase((i, ns) => i < warmOps && ns < warmCapSeconds * 1e9) { (_, op) =>
      try ctx.trace.op(ctx.spark, "warm", op.name)(op.run()) catch { case NonFatal(_) => () }
    }
    val records = Vector.newBuilder[Map[String, Any]]
    val (start, end) = phase((_, ns) => ns < seconds * 1e9) { (i, op) =>
      val id = s"op-$i"
      val r0 = if (ctx.trace.on) Proc.rchar() else 0L
      val s = Clock.now()
      val out =
        try Right(ctx.trace.op(ctx.spark, id, op.name, Map("kind" -> op.kind))(op.run()))
        catch { case NonFatal(e) => Left(e.toString) }
      val e = Clock.now()
      val err = (out, reference(op.name)) match {
        case (Left(x), _) => Some(x)
        case (Right(o), Right(ref)) if o.rows != ref.rows => Some("output differs from the first execution")
        case (Right(_), Right(_)) => None
        case (Right(_), Left(_)) => Some("no reference output (its first execution failed)")
      }
      val o = out.toOption
      records += Map("id" -> id, "name" -> op.name, "kind" -> op.kind, "cycle" -> i / mix.length,
        "start" -> s, "end" -> e,
        "ok" -> err.isEmpty, "err" -> err, "in_rows" -> op.inRows, "in_bytes" -> op.inBytes,
        "out_bytes" -> o.map(_.outBytes).getOrElse(0L), "out_files" -> o.map(_.outFiles).getOrElse(0),
        "rchar" -> (if (ctx.trace.on) Proc.rchar() - r0 else 0L))
    }
    val results = mix.distinctBy(_.name).map { op =>
      op.name -> Map[String, Any]("kind" -> op.kind, "query" -> op.query, "ordered" -> op.ordered,
        "rows" -> reference(op.name).toOption.map(_.rows),
        "warm_error" -> reference(op.name).left.toOption)
    }.toMap
    Measured(records.result(), results, start, end)
  }
}

/** Zed queries over a seeded conn log stored as ZNG (several files) with a
  * VNG twin, plus the two conversions of zq's perf-compare that write ZNG
  * (`cut` over VNG, and Zeek TSV to ZNG). Scan, decode, frame skipping and
  * the writers do nearly all the work.
  */
final class ZngQuery(seed: Long) extends SingleClient {
  val connRows = 100000L
  val dnsRows = 5000L
  val files = 4
  private val needle = Fixtures.uidOf(seed, Math.floorMod(seed * 7919L + 17L, connRows))

  def input: Map[String, Any] = Map("rows" -> (connRows + dnsRows), "files" -> (files + 1),
    "desc" -> s"$connRows conn rows as ZNG ($files files) + VNG twin; $dnsRows dns rows as ZNG")

  def setup(ctx: Ctx, dir: String): Unit = {
    val s = ctx.spark
    Fixtures.conn(seed, 0, connRows, files, s"$dir/conn.zeek")
    val conn = ZeekIO.read(s, s"$dir/conn.zeek")
    ZngIO.write(conn, s"$dir/conn.zng")
    VngIO.write(conn, s"$dir/conn.vng")
    Fixtures.dns(seed, dnsRows, s"$dir/dns.zeek")
    ZngIO.write(ZeekIO.read(s, s"$dir/dns.zeek"), s"$dir/dns.zng")
    val het = Paths.get(dir, "het.zng")
    Files.createDirectories(het)
    for (d <- Seq("conn.zng", "dns.zng"); f <- Fixtures.files(s"$dir/$d"))
      Files.copy(f, het.resolve(d.stripSuffix(".zng") + "-" + f.getFileName))
  }

  def inputs: Seq[String] = Seq("conn.zng", "conn.vng", "dns.zng")

  def probeInput(dir: String): String = s"$dir/conn.zng"

  def ops(ctx: Ctx, dir: String): IndexedSeq[Op] = {
    val conn = s"$dir/conn.zng"
    val het = s"$dir/het.zng"
    val vng = s"$dir/conn.vng"
    val (cb, hb, vb) = (Fixtures.dirBytes(conn), Fixtures.dirBytes(het), Fixtures.dirBytes(vng))
    def read(name: String, q: String, rows: Long, bytes: Long, ordered: Boolean = false) =
      Op(name, "read", q, rows, bytes, ordered)(() => OpOut(ctx.collect(ctx.zed(q))))
    val cutQ = s"from '$vng' | cut ts, uid, orig_bytes"
    val zeek = s"$dir/conn.zeek"
    val cut = Op("cut_vng", "write", cutQ, connRows, vb)(() =>
      ctx.write(ctx.zed(cutQ), s"$dir/out/cut.zng")(ZngIO.write))
    // the cheap write runs twice per cycle, so the write median falls
    // inside its mode and the write p90 inside the Zeek conversion's
    IndexedSeq(
      read("search_uid", s"""from '$conn' | uid=="$needle" | cut uid, orig_h, orig_bytes, proto""", connRows, cb),
      read("count_by", s"from '$conn' | count() by service", connRows, cb),
      cut,
      read("search_field", s"from '$het' | rcode==13 | count()", connRows + dnsRows, hb),
      read("sum_by", s"from '$conn' | sum(orig_bytes) by proto", connRows, cb),
      cut,
      read("top", s"from '$conn' | sort -r resp_bytes, uid | head 5 | cut uid, resp_bytes", connRows, cb,
        ordered = true),
      Op("zeek_to_zng", "write", s"$zeek -> ZNG", connRows, Fixtures.dirBytes(zeek))(() =>
        ctx.write(ctx.trace.span("sources.read")(ZeekIO.read(ctx.spark, zeek)), s"$dir/out/conn.zng")(ZngIO.write)))
  }

  def oracle(dir: String): Map[String, Any] =
    Map("twins" -> Map("conn" -> s"$dir/conn.zeek", "dns" -> s"$dir/dns.zeek"),
      "params" -> Map("needle" -> needle))

  override def readback(ctx: Ctx, dir: String): Map[String, Seq[String]] =
    Seq("cut_vng" -> "cut.zng", "zeek_to_zng" -> "conn.zng").map { case (op, out) =>
      op -> ctx.collect(ctx.zed(s"from '$dir/out/$out' | c:=count(), s:=sum(orig_bytes)"))
    }.toMap
}

/** Variant-heavy Zed over seeded heterogeneous ZSON, results rendered as
  * ZSON. ZSON parse/render and the variant functions dominate.
  */
final class HetZson(seed: Long) extends SingleClient {
  val rows = 10000
  val files = 4
  private var expected = Map.empty[String, Seq[String]]

  def input: Map[String, Any] = Map("rows" -> rows, "files" -> files,
    "desc" -> s"$rows heterogeneous ZSON records (3 shapes, union-typed v) in $files files")

  def setup(ctx: Ctx, dir: String): Unit = expected = Fixtures.het(seed, rows, files, s"$dir/het.zson")

  def inputs: Seq[String] = Seq("het.zson")

  def probeInput(dir: String): String = s"$dir/het.zson"

  def ops(ctx: Ctx, dir: String): IndexedSeq[Op] = {
    val in = s"$dir/het.zson"
    val bytes = Fixtures.dirBytes(in)
    def read(name: String, tail: String, ordered: Boolean = false) = {
      val q = s"from '$in' | $tail"
      Op(name, "read", q, rows.toLong, bytes, ordered)(() => OpOut(ctx.zson(q)))
    }
    val fuseQ = s"from '$in' | fuse"
    IndexedSeq(
      read("typeof_v", "count() by t:=typeof(v)"),
      read("paths_b", """kind=="b" | n:=sum(len(arr)), s:=sum(arr[0]), sc:=sum(meta.score)"""),
      read("names_c", """kind=="c" | count() by name:=nested.inner.name"""),
      Op("fuse_write", "write", fuseQ, rows.toLong, bytes)(() =>
        ctx.write(ctx.zed(fuseQ), s"$dir/out/fused.zson")(ZsonIO.write)),
      read("fuse_kinds", "fuse | count() by kind"),
      read("over_tags", """kind=="a" | over tags | count() by tag:=this"""),
      read("top_strings", "is(v, <string>) | count() by v | sort -r count, v | head 5", ordered = true),
      read("record_x", "v.x > 0 | count()"))
  }

  def oracle(dir: String): Map[String, Any] = Map("expected" -> expected)

  /** Lines of the fused output, counted without graft. */
  override def readback(ctx: Ctx, dir: String): Map[String, Seq[String]] = {
    val lines = Fixtures.files(s"$dir/out/fused.zson").map { f =>
      val b = Files.readAllBytes(f)
      b.count(_ == '\n'.toByte)
    }.sum
    Map("fuse_write" -> Seq(lines.toString))
  }
}

/** Format conversions of a seeded conn log, zq's perf-compare axis: each
  * conversion (write op) is followed by a read of its output (read op).
  */
final class Convert(seed: Long) extends SingleClient {
  val rows = 20000L
  val files = 4

  def input: Map[String, Any] = Map("rows" -> rows, "files" -> files,
    "desc" -> s"$rows conn rows as Zeek TSV, ZNG and ZSON ($files files each)")

  def setup(ctx: Ctx, dir: String): Unit = {
    Fixtures.conn(seed, 0, rows, files, s"$dir/in.zeek")
    val conn = ZeekIO.read(ctx.spark, s"$dir/in.zeek")
    ZngIO.write(conn, s"$dir/in.zng")
    ZsonIO.write(conn, s"$dir/in.zson")
  }

  def inputs: Seq[String] = Seq("in.zeek", "in.zng", "in.zson")

  def probeInput(dir: String): String = s"$dir/in.zeek"

  def ops(ctx: Ctx, dir: String): IndexedSeq[Op] = {
    val s = ctx.spark
    def conv(name: String, in: String, read: String => DataFrame, w: (DataFrame, String) => Unit): Seq[Op] = {
      val src = s"$dir/$in"
      val out = s"$dir/out/$name"
      val q = s"from '$out' | c:=count(), s:=sum(orig_bytes)"
      Seq(
        Op(name, "write", s"$in -> $name", rows, Fixtures.dirBytes(src))(() =>
          ctx.write(ctx.trace.span("sources.read")(read(src)), out)(w)),
        Op(s"$name.read", "read", q, rows, 0L)(() => OpOut(ctx.collect(ctx.zed(q)))))
    }
    (conv("zeek_to_zng", "in.zeek", ZeekIO.read(s, _), ZngIO.write) ++
      conv("zng_to_zng", "in.zng", ZngIO.read(s, _), ZngIO.write) ++
      conv("zng_to_vng", "in.zng", ZngIO.read(s, _), VngIO.write) ++
      conv("zng_to_zeek", "in.zng", ZngIO.read(s, _), ZeekIO.write) ++
      conv("zson_to_zng", "in.zson", ZsonIO.read(s, _), ZngIO.write)).toIndexedSeq
  }

  def oracle(dir: String): Map[String, Any] = Map("twins" -> Map("conn" -> s"$dir/in.zeek"))
}

/** A lake pool behind graft.Service, driven over HTTP by one client in a
  * closed loop: 90% short queries, 10% small loads into a second pool.
  * Per-request fixed costs dominate.
  */
final class LakeService(seed: Long) extends Workload {
  val rows = 40000L
  val objects = 2
  private val rangeLoUs = Fixtures.t0Us + (rows / 4 + Math.floorMod(seed * 31L, rows / 8)) * 1000L
  private val rangeHiUs = rangeLoUs + (rows / 8) * 1000L

  def input: Map[String, Any] = Map("rows" -> rows, "files" -> objects,
    "desc" -> s"lake pool of $rows conn rows keyed by ts ($objects objects); loads of 1000-2000 rows")

  private def root(dir: String) = s"$dir/lake"

  def setup(ctx: Ctx, dir: String): Unit = {
    Fixtures.conn(seed, 0, rows, objects, s"$dir/conn.zeek")
    Lake.create(root(dir), "conn", Some("ts"), "desc")
    for (f <- Fixtures.files(s"$dir/conn.zeek").sortBy(_.toString)) {
      val slice = ZeekIO.read(ctx.spark, f.toString)
      ctx.trace.span("sources.write")(Lake.load(slice, root(dir), "conn"))
    }
    Lake.create(root(dir), "ingest", Some("ts"), "desc")
  }

  def inputs: Seq[String] = Seq("lake/conn")

  private val queries = IndexedSeq(
    "count_by_proto" -> "from conn | count() by proto",
    "head" -> "from conn | head 5 | cut uid",
    "range_count" -> s"from conn | ts >= ${Fixtures.isoUs(rangeLoUs)} and ts < ${Fixtures.isoUs(rangeHiUs)} | count()")
  private val ordered = Set("head")

  def oracle(dir: String): Map[String, Any] =
    Map("twins" -> Map("conn" -> s"$dir/conn.zeek"),
      "params" -> Map("range_lo_us" -> rangeLoUs, "range_hi_us" -> rangeHiUs))

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A JSON query response as canonical rows: each record's values. */
  private def canonical(body: String, keepOrder: Boolean): Seq[String] = {
    val it = json.readTree(body).elements()
    val rows = Seq.newBuilder[String]
    while (it.hasNext) {
      val n = it.next()
      val vals = if (n.isObject) { val a = json.createArrayNode(); n.elements().forEachRemaining(v => a.add(v)); a }
                 else json.createArrayNode().add(n)
      rows += vals.toString
    }
    if (keepOrder) rows.result() else rows.result().sorted
  }

  def measure(ctx: Ctx, dir: String, seconds: Double): Measured = {
    // one connection per request: on a reused keep-alive connection the
    // service's single dispatcher thread can leave a request unserved for
    // seconds, which would swamp what the workload measures
    System.setProperty("http.keepAlive", "false")
    val spark = ctx.spark
    spark.sparkContext.clearJobGroup()
    val svc = new graft.Service(spark, dir, 0, lakeRootOpt = Some(root(dir)))
    val port = svc.start()
    val base = s"http://127.0.0.1:$port"
    val loads = new java.util.concurrent.atomic.AtomicLong()
    val loadedRows = new java.util.concurrent.atomic.AtomicLong()
    val poolBytes = Fixtures.dirBytes(s"${root(dir)}/conn/data")
    def http(path: String, body: String, ctype: String): (Int, String) = {
      val c = java.net.URI.create(base + path).toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setReadTimeout(60000)
      c.setRequestProperty("Content-Type", ctype)
      c.setRequestProperty("Accept", "application/json")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      c.setFixedLengthStreamingMode(bytes.length)
      val os = c.getOutputStream
      try os.write(bytes) finally os.close()
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (code, text)
    }
    def query(name: String, q: String): Seq[String] = {
      val (code, body) = http("/query", s"""{"query":${Json.quote(q)}}""", "application/json")
      if (code != 200) throw new IllegalStateException(s"HTTP $code: ${body.take(200)}")
      canonical(body, ordered(name))
    }
    /** POST a seeded ZSON batch; each load gets its own time range. */
    def load(): OpOut = {
      val k = loads.getAndIncrement()
      val rng = new java.util.SplittableRandom(seed * 1000003L + k)
      val n = 1000 + rng.nextInt(1001)
      val firstUs = Fixtures.t0Us + rows * 1000L + (k + 1) * 5000000000L
      val (code, body) = http("/pool/ingest/branch/main", Fixtures.loadBatch(rng, n, firstUs),
        "application/x-zson")
      if (code != 200 || !body.contains("commit")) throw new IllegalStateException(s"HTTP $code: ${body.take(200)}")
      loadedRows.addAndGet(n)
      OpOut(Nil)
    }
    val reads = queries.map { case (n, q) => Op(n, "read", q, rows, poolBytes, ordered(n))(() => OpOut(query(n, q))) }
    val mix = (0 until 9).map(i => reads(i % reads.length)) :+
      Op("load", "write", "POST /pool/ingest/branch/main", 0L, 0L)(() => load())
    try {
      val m = Loop.closed(ctx, mix, seconds)
      val ingestCount = try query("ingest", "from ingest | count()") catch { case NonFatal(e) => Seq(e.toString) }
      m.copy(results = m.results.updated("load", m.results("load") ++
        Map("rows" -> Some(ingestCount), "expected_rows" -> loadedRows.get())))
    } finally svc.stop()
  }

  def probes(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    spark.conf.set("graft.lake.root", root(dir))
    try
      for (k <- 0 until 5) {
        for ((n, q) <- queries)
          ctx.trace.op(spark, s"probe-$k-$n", s"probe:$n")(ctx.zed(q))
        ctx.trace.op(spark, s"probe-$k-scan", "probe:read")(
          ctx.trace.span("sources.read")(Lake.scan(spark, root(dir), "conn")))
      }
    finally spark.conf.unset("graft.lake.root")
  }

  override def extra(dir: String): Map[String, Any] = {
    val pools = Seq("conn", "ingest").map { p =>
      val data = Paths.get(root(dir), p, "data")
      val objs = if (Files.exists(data)) { val s = Files.list(data); try s.count() finally s.close() } else 0L
      p -> Map("commits" -> Lake.commits(root(dir), p).count(_.kind == "commit"),
        "objects" -> objs, "bytes" -> Fixtures.dirBytes(data.toString))
    }.toMap
    Map("lake" -> pools)
  }
}
