package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), written as text by this file (Zeek TSV, ZSON), never by graft. The
  * oracle reads the same Zeek TSV with DuckDB; graft reads it to build the
  * binary fixtures (ZNG, VNG, lake objects).
  */
object Fixtures {
  /** Conn-log epoch of row 0: 2023-11-14T22:13:20Z, in microseconds. */
  val t0Us = 1700000000000000L

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, id: Long, k: Int): Long =
    mix(seed * 0x9E3779B97F4A7C15L + id * 0xD1B54A32D192ED03L + k)
  private def mod(seed: Long, id: Long, k: Int, m: Int): Long = Math.floorMod(h(seed, id, k), m.toLong)
  private def pick[T](seed: Long, id: Long, k: Int, xs: T*): T = xs(mod(seed, id, k, xs.length).toInt)

  def uidOf(seed: Long, id: Long): String = f"C${h(seed, id, 2)}%016x"

  private def epochText(us: Long): String = f"${us / 1000000L}.${us % 1000000L}%06d"

  private def zeekHeader(path: String, fields: Seq[(String, String)]): String =
    Seq("#separator \\x09", "#set_separator\t,", "#empty_field\t(empty)", "#unset_field\t-",
      s"#path\t$path", "#open\t2023-11-14-22-13-20",
      "#fields\t" + fields.map(_._1).mkString("\t"), "#types\t" + fields.map(_._2).mkString("\t"))
      .mkString("", "\n", "\n")

  private val connFields = Seq("ts" -> "time", "uid" -> "string", "orig_h" -> "addr", "orig_p" -> "port",
    "resp_h" -> "addr", "resp_p" -> "port", "proto" -> "enum", "service" -> "string",
    "duration" -> "interval", "orig_bytes" -> "count", "resp_bytes" -> "count",
    "conn_state" -> "string", "orig_pkts" -> "count", "resp_pkts" -> "count")

  /** Zeek conn-log rows `[from, until)` split over `files` TSV files in
    * `dir`. Timestamps rise strictly with the row id.
    */
  def conn(seed: Long, from: Long, until: Long, files: Int, dir: String): Unit =
    writeZeek(dir, "conn", connFields, from, until, files) { (sb, id) =>
      def m(k: Int, n: Int) = mod(seed, id, k, n)
      sb.append(epochText(t0Us + id * 1000L + m(1, 1000))).append('\t')
        .append(uidOf(seed, id)).append('\t')
        .append("10.").append(m(3, 250) + 1).append('.').append(m(4, 250) + 1).append('.')
        .append(m(5, 250) + 1).append('\t')
        .append(m(6, 64512) + 1024).append('\t')
        .append("52.85.").append(m(7, 256)).append('.').append(m(8, 256)).append('\t')
        .append(pick(seed, id, 9, 80, 443, 443, 53, 22, 8080)).append('\t')
        .append(pick(seed, id, 10, "tcp", "tcp", "tcp", "udp", "udp", "icmp")).append('\t')
        .append(pick(seed, id, 11, "http", "ssl", "ssl", "dns", "ssh", "smtp", "ftp")).append('\t')
        .append(epochText(m(12, 100000000))).append('\t')
        .append(m(13, 100000)).append('\t')
        .append(m(14, 1000000)).append('\t')
        .append(pick(seed, id, 15, "SF", "SF", "S0", "REJ", "RSTO", "OTH")).append('\t')
        .append(m(16, 100)).append('\t')
        .append(m(17, 150))
    }

  /** A minority DNS shape for the field-only search: `rcode` exists only
    * here, so the ZNG field finder can skip every conn frame.
    */
  def dns(seed: Long, n: Long, dir: String): Unit =
    writeZeek(dir, "dns", Seq("ts" -> "time", "query" -> "string", "rcode" -> "count", "qtype" -> "count"),
      0, n, 1) { (sb, id) =>
      def m(k: Int, n: Int) = mod(seed, id, k, n)
      sb.append(epochText(t0Us + id * 20000L)).append('\t')
        .append("host").append(m(21, 5000)).append(".example.com\t")
        .append(m(22, 17)).append('\t')
        .append(pick(seed, id, 23, 1, 28, 5, 15))
    }

  private def writeZeek(dir: String, path: String, fields: Seq[(String, String)], from: Long, until: Long,
                        files: Int)(row: (StringBuilder, Long) => Unit): Unit = {
    Files.createDirectories(Paths.get(dir))
    val per = (until - from + files - 1) / files
    for (f <- 0 until files) {
      val sb = new StringBuilder(zeekHeader(path, fields))
      var id = from + f * per
      while (id < math.min(until, from + (f + 1) * per)) {
        row(sb, id)
        sb.append('\n')
        id += 1
      }
      Files.writeString(Paths.get(dir, f"part-$f%05d.log"), sb)
    }
  }

  def dirBytes(dir: String): Long = files(dir).map(Files.size).sum

  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toSeq
      finally s.close()
    }
  }

  def delete(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit

  /** ISO-8601 text of a microsecond timestamp, as ZSON writes a time. */
  def isoUs(us: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L).toString

  /** One lake load: `rows` small conn records as ZSON text, drawn from
    * `rng`, with their own timestamps after the base pool's range.
    */
  def loadBatch(rng: java.util.SplittableRandom, rows: Int, firstUs: Long): String = {
    val sb = new StringBuilder(rows * 96)
    val protos = Array("tcp", "udp", "icmp")
    var i = 0
    while (i < rows) {
      sb.append("{ts:").append(isoUs(firstUs + i * 1000L + rng.nextInt(1000)))
        .append(",uid:\"L").append(java.lang.Long.toHexString(rng.nextLong()))
        .append("\",proto:\"").append(protos(rng.nextInt(protos.length)))
        .append("\",orig_bytes:").append(rng.nextInt(100000)).append("}\n")
      i += 1
    }
    sb.toString
  }

  /** Heterogeneous ZSON: three record shapes and a field `v` whose type
    * varies by row (int64, string, [int64], {x:int64,y:string}). Half the
    * `v` values repeat from a 32-value pool, half are unique. Returns the
    * per-op expected ZSON result lines, tallied while generating.
    */
  def het(seed: Long, n: Int, files: Int, dir: String): Map[String, Seq[String]] = {
    Files.createDirectories(Paths.get(dir))
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 12345L)
    def vText(kind: Int, a: Long, b: Long, tag: String): String = kind match {
      case 0 => a.toString
      case 1 => "\"" + tag + "-" + a + "\""
      case 2 => (0 to (b % 4).toInt).map(j => a + j).mkString("[", ",", "]")
      case _ => s"""{x:${a % 1001},y:"$tag${b % 97}"}"""
    }
    val typeNames = Array("<int64>", "<string>", "<[int64]>", "<{x:int64,y:string}>")
    val pool = (0 until 32).map(i => (i % 4, vText(i % 4, rng.nextLong() % 100000L, i.toLong, "pool")))
    val typeCount = Array.fill(4)(0L)
    val kindCount = mutable.TreeMap.empty[String, Long]
    val nameCount = mutable.TreeMap.empty[String, Long]
    val tagCount = mutable.TreeMap.empty[String, Long]
    val strCount = mutable.HashMap.empty[String, Long]
    var lenArr, arr0, score, xPos = 0L
    val writers = (0 until files).map(i =>
      Files.newBufferedWriter(Paths.get(dir, f"part-$i%05d.zson"), StandardCharsets.UTF_8))
    try {
      var id = 0
      while (id < n) {
        val (vk, vt) =
          if (rng.nextBoolean()) pool(rng.nextInt(pool.length))
          else {
            val k = rng.nextInt(4)
            (k, vText(k, id * 1000L + rng.nextInt(1000), rng.nextInt(1000000).toLong, "u"))
          }
        typeCount(vk) += 1
        if (vk == 1) strCount(vt) = strCount.getOrElse(vt, 0L) + 1
        if (vk == 3 && vt.drop(3).takeWhile(_ != ',').toLong > 0) xPos += 1
        val r = rng.nextInt(10)
        val kind = if (r < 4) "a" else if (r < 7) "b" else "c"
        kindCount(kind) = kindCount.getOrElse(kind, 0L) + 1
        val sb = new StringBuilder
        sb.append("{id:").append(id).append(",kind:\"").append(kind).append("\",v:").append(vt)
        kind match {
          case "a" =>
            val tags = (0 to rng.nextInt(4)).map(_ => f"t${rng.nextInt(20)}%02d")
            tags.foreach(t => tagCount(t) = tagCount.getOrElse(t, 0L) + 1)
            sb.append(",tags:").append(tags.map(t => "\"" + t + "\"").mkString("[", ",", "]"))
          case "b" =>
            val arr = (0 to rng.nextInt(5)).map(_ => rng.nextInt(2001) - 1000L)
            val sc = rng.nextInt(201) - 100L
            lenArr += arr.length; arr0 += arr.head; score += sc
            sb.append(",arr:").append(arr.mkString("[", ",", "]"))
              .append(",meta:{src:\"s").append(rng.nextInt(8)).append("\",score:").append(sc).append('}')
          case _ =>
            val k = (0 to rng.nextInt(3)).map(_ => rng.nextInt(100).toLong)
            val name = "n" + rng.nextInt(12)
            nameCount(name) = nameCount.getOrElse(name, 0L) + 1
            sb.append(",nested:{inner:{k:").append(k.mkString("[", ",", "]"))
              .append(",name:\"").append(name).append("\"}}")
        }
        sb.append("}\n")
        writers(id % files).write(sb.toString)
        id += 1
      }
    } finally writers.foreach(_.close())
    def counted(key: String, m: Iterable[(String, Long)]): Seq[String] =
      m.map { case (k, c) => s"{$key:$k,count:$c(uint64)}" }.toSeq.sorted
    val top5 = strCount.toSeq.sortBy { case (s, c) => (-c, s) }(Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).take(5)
    Map(
      "typeof_v" -> counted("t", typeNames.indices.filter(typeCount(_) > 0).map(i => typeNames(i) -> typeCount(i))),
      "paths_b" -> Seq(s"{n:$lenArr,s:$arr0,sc:$score}"),
      "names_c" -> counted("name", nameCount.map { case (k, c) => ("\"" + k + "\"") -> c }),
      "fuse_kinds" -> counted("kind", kindCount.map { case (k, c) => ("\"" + k + "\"") -> c }),
      "over_tags" -> counted("tag", tagCount.map { case (k, c) => ("\"" + k + "\"") -> c }),
      "top_strings" -> top5.map { case (s, c) => s"{v:$s,count:$c(uint64)}" },
      "record_x" -> Seq(s"$xPos(uint64)"),
      "fuse_write" -> Seq(n.toString))
  }
}
