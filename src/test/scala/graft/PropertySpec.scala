package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.{ZngIO, ZsonIO}
import graft.operators.ZedOps

/** Property-based invariants over the codec and parser layers (SURVEY §5:
  * ScalaCheck for lattice/round-trip properties). Uses seeded Gen sampling
  * directly (the scalatest bridge isn't on the classpath).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("signed counted varints round-trip every long") {
    val cases = samples(Gen.chooseNum(Long.MinValue, Long.MaxValue)) ++
      Seq(0L, 1L, -1L, 63L, 64L, -64L, -65L, Long.MaxValue, Long.MinValue)
    for (n <- cases) {
      val back = ZngIO.signedOf(ZngIO.signedBytes(n))
      assert(back == n, s"signed($n)")
    }
  }

  test("uvarint round-trips every non-negative long") {
    val cases = samples(Gen.chooseNum(0L, Long.MaxValue)) ++ Seq(0L, 127L, 128L, 16383L, 16384L)
    for (n <- cases) {
      val out = new java.io.ByteArrayOutputStream()
      ZngIO.uvarint(out, n)
      val bytes = out.toByteArray
      var shift = 0; var v = 0L; var i = 0; var b = 0
      do { b = bytes(i) & 0xff; v |= (b & 0x7fL) << shift; shift += 7; i += 1 }
      while ((b & 0x80) != 0)
      assert(v == n && i == bytes.length, s"uvarint($n)")
    }
  }

  test("ZSON string values round-trip through the line converter") {
    val charGen = Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(' ', '"', '\\', ':', ',', '{', '}', '[', ']', '|', '(', ')'))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for ((s, n) <- samples(strGen).zip(samples(Gen.chooseNum(Long.MinValue, Long.MaxValue)))) {
      val esc = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val json = ZsonIO.zsonLineToJson(s"""{s:"$esc",n:$n}""")
      val node = mapper.readTree(json)
      assert(node.get("s").asText() == s, s"string [$s]")
      assert(node.get("n").asLong() == n)
    }
  }

  test("duration parsing is exact over units and counts") {
    val units = Map("us" -> 1000L, "ms" -> 1000000L, "s" -> 1000000000L,
      "m" -> 60L * 1000000000L, "h" -> 3600L * 1000000000L)
    for (n <- samples(Gen.chooseNum(1L, 100000L), 50); (u, ns) <- units)
      assert(ZedOps.durationNanos(s"$n$u") == n * ns)
  }

  test("grok group counting matches Java's own regex compiler") {
    import graft.functions.{ZedFunctions => F}
    val res = Seq("(a)(b)", "a(?:x)(y)", "[(]", "\\((a)", "((a)(b))", "a",
      "(?<name>x)(y)", "[\\](]a(b)")
    for (re <- res) {
      val expected = java.util.regex.Pattern.compile(re).matcher("").groupCount()
      assert(F.groupCount(re) == expected, re)
    }
  }

  test("ksuid base62 output is fixed-width and order-preserving over time bytes") {
    def bytes(ts: Int) = {
      val arr = new Array[Byte](20)
      arr(0) = ((ts >>> 24) & 0xff).toByte; arr(1) = ((ts >>> 16) & 0xff).toByte
      arr(2) = ((ts >>> 8) & 0xff).toByte; arr(3) = (ts & 0xff).toByte
      arr
    }
    val ts = samples(Gen.chooseNum(0, Int.MaxValue / 2), 100)
    for (Seq(a, b) <- ts.sliding(2)) {
      val (sa, sb) = (graft.functions.Ksuid.base62(bytes(a)), graft.functions.Ksuid.base62(bytes(b)))
      assert(sa.length == 27 && sb.length == 27)
      if (a != b) assert((a < b) == (sa < sb), s"$a vs $b")
    }
  }

  test("vectorized and row scans agree on randomized schemas (zng + vng)") {
    val spark = GraftSession.local(4)
    import org.apache.spark.sql.functions.col
    def randExpr(rnd: scala.util.Random, j: Int): String = {
      val nullEvery = rnd.nextInt(6) + 2 // every column gets a null stripe
      val base = rnd.nextInt(8) match {
        case 0 => "id * 3"
        case 1 => "cast(id as double) / 7"
        case 2 => "id % 2 = 0"
        case 3 => s"concat('v', id % ${rnd.nextInt(97) + 3})"
        case 4 => "array(id, id * 2)"
        case 5 => "named_struct('p', id % 13, 'q', concat('s', id))"
        case 6 => "cast(id * 7919 as decimal(20,0))" // the uint64 carrier
        case 7 => "map(concat('k', id % 5), id)"
      }
      s"CASE WHEN id % $nullEvery = 0 THEN NULL ELSE $base END AS c$j"
    }
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val ncols = rnd.nextInt(5) + 1
      val df = spark.range(0, 700)
        .selectExpr("id" +: (0 until ncols).map(j => randExpr(rnd, j)): _*)
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-prop-$seed").toString
      graft.sources.ZngIO.write(df, s"$tmp/z")
      graft.sources.VngIO.write(df, s"$tmp/v")
      def rows(read: => org.apache.spark.sql.DataFrame): Seq[String] =
        read.orderBy(col("id")).drop("__type").collect().map(_.toString).toSeq
      // the reference: the source frame itself
      val source = rows(df)
      for ((format, read) <- Seq(
             "zng" -> (() => graft.sources.ZngIO.read(spark, s"$tmp/z")),
             "vng" -> (() => graft.sources.VngIO.read(spark, s"$tmp/v")))) {
        val scanned = rows(read())
        assert(scanned == source, s"seed=$seed $format: scan != source frame")
        assert(scanned.length == 700, s"seed=$seed $format: ${scanned.length} rows")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("vectorized and row scans agree on wire-only zed types (ip/enum/ns-time)") {
    val spark = GraftSession.local(4)
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val lines = (0 until 400).map { i =>
      val ip = s"10.${i % 250}.${rnd.nextInt(250)}.${i % 9}"
      val en = Seq("red", "green", "blue")(i % 3)
      val ns = f"2024-01-0${i % 9 + 1}T00:00:0${i % 10}.${rnd.nextInt(999999999)}%09dZ"
      val dur = s"${i % 90}m${i % 60}s"
      if (i % 11 == 0) s"""{id:$i,a:null(ip),e:"$en"(enum(red,green,blue)),ts:$ns,d:$dur}"""
      else s"""{id:$i,a:$ip,e:"$en"(enum(red,green,blue)),ts:$ns,d:$dur}"""
    }
    val vals = lines.map(l => graft.sources.ZsonParser.parseAll(l).head)
    val tmp = java.nio.file.Files.createTempDirectory("graft-prop-wire").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/z"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/v"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/z", "p.zng"),
      graft.sources.ZngIO.encodeTypedStream(vals))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/v", "p.vng"),
      graft.sources.VngIO.encodeObject(vals.iterator))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(col("id")).collect().map(_.toString).toSeq
    // the reference: the same values, framed without any scan
    val reference = rows(graft.sources.ZsonReader.fromValues(spark, vals, tag = true))
    for ((format, read) <- Seq(
           "zng" -> (() => graft.sources.ZngIO.read(spark, s"$tmp/z")),
           "vng" -> (() => graft.sources.VngIO.read(spark, s"$tmp/v")))) {
      val vecDf = read()
      assert(vecDf.queryExecution.executedPlan.toString.contains("vectorized"),
        s"$format: expected vectorized plan")
      assert(vecDf.schema("ts").dataType == org.apache.spark.sql.types.LongType,
        s"$format: sub-µs times must ride the ns carrier")
      val vec = rows(vecDf)
      assert(vec == reference, s"$format: vectorized scan != reference on wire-only types")
      assert(vec.length == 400)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("container-depth fuzz: random nested union/map/set/named/record " +
       "types (depth >= 3) round-trip zson <-> zng <-> vng (ref fuzz/fuzz.go)") {
    val spark = GraftSession.local(4)
    try {
      // type + matching value generator: the root decorator retypes the
      // whole tree, so inner values stay in implied (undecorated) form
      def leafT(rnd: scala.util.Random): (String, () => String) =
        rnd.nextInt(7) match {
          case 0 => ("int64", () => rnd.nextInt(2000).toString)
          case 1 => ("string", () => "\"s" + rnd.nextInt(1000) + "\"")
          case 2 => ("bool", () => rnd.nextBoolean().toString)
          case 3 => ("float64", () => s"${rnd.nextInt(100)}.5")
          case 4 => ("uint16", () => rnd.nextInt(65000).toString)
          case 5 => ("ip", () => s"10.0.${rnd.nextInt(200)}.${rnd.nextInt(200)}")
          case _ => ("int32", () => (-rnd.nextInt(1000)).toString)
        }
      var nameK = 0
      def genT(rnd: scala.util.Random, depth: Int): (String, () => String) =
        if (depth <= 0) leafT(rnd)
        else rnd.nextInt(6) match {
          case 0 => // record
            val fs = (0 to rnd.nextInt(2)).map(i => s"f$i" -> genT(rnd, depth - 1))
            (fs.map { case (n, (t, _)) => s"$n:$t" }.mkString("{", ",", "}"),
              () => fs.map { case (n, (_, v)) => s"$n:${v()}" }.mkString("{", ",", "}"))
          case 1 => // array
            val (et, ev) = genT(rnd, depth - 1)
            (s"[$et]", () => (0 until rnd.nextInt(3)).map(_ => ev()).mkString("[", ",", "]"))
          case 2 => // set (keys normalize on construction; 0-2 elems)
            val (et, ev) = genT(rnd, depth - 1)
            (s"|[$et]|", () => (0 until rnd.nextInt(3)).map(_ => ev()).distinct
              .mkString("|[", ",", "]|"))
          case 3 => // map with primitive keys (distinct by construction)
            val (vt, vv) = genT(rnd, depth - 1)
            (s"|{int64:$vt}|", () => (0 until rnd.nextInt(3)).map(i =>
              s"${i * 7 + rnd.nextInt(6)}:${vv()}").mkString("|{", ",", "}|"))
          case 4 => // union of two distinct alternatives. Container members
            // stay NON-EMPTY: an empty container value under a union can't
            // imply which member it is (a known divergence, COVERAGE.md)
            val (a, av0) = genT(rnd, depth - 1)
            val (b, bv) = leafT(rnd)
            val av = () => {
              var v = av0(); var guard = 0
              while ((v == "[]" || v == "|[]|" || v == "|{}|") && guard < 8) {
                v = av0(); guard += 1 }
              if (v == "[]" || v == "|[]|" || v == "|{}|") bv() else v
            }
            if (a == b) genT(rnd, depth - 1)
            else {
              val alts = Seq(a, b).sorted
              (alts.mkString("(", ",", ")"),
                () => if (rnd.nextBoolean()) av() else bv())
            }
          case _ => // named wrapper
            val (t, v) = genT(rnd, depth - 1)
            nameK += 1
            (s"t$nameK=$t", v)
        }
      for (seed <- 0 until 20) {
        val rnd = new scala.util.Random(1000L + seed)
        val (tText, gen) = genT(rnd, 3 + rnd.nextInt(2))
        val lines = (0 until 3).map { _ =>
          val v = gen()
          if (v == "null") s"null($tText)" else s"$v($tText)"
        }
        val frame =
          try graft.sources.ZsonReader.fromText(spark, lines.mkString("\n"), tag = true)
            .coalesce(1)
          catch { case e: Exception =>
            fail(s"seed $seed: parse failed for type $tText: $e") }
        val base = ZsonIO.toZson(frame).collect().toSeq
        assert(base.length == 3, s"seed $seed type $tText: frame lost rows")
        val dir = java.nio.file.Files.createTempDirectory(s"fuzz$seed")
        try {
          ZngIO.write(frame, s"$dir/a.zng")
          val zback = ZsonIO.toZson(
            ZngIO.read(spark, s"$dir/a.zng").coalesce(1)).collect().toSeq
          assert(zback.sorted == base.sorted,
            s"seed $seed type $tText zng:\n  base=$base\n  back=$zback")
          graft.sources.VngIO.write(frame, s"$dir/a.vng")
          val vback = ZsonIO.toZson(
            graft.sources.VngIO.read(spark, s"$dir/a.vng").coalesce(1)).collect().toSeq
          assert(vback.sorted == base.sorted,
            s"seed $seed type $tText vng:\n  base=$base\n  back=$vback")
        } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
      }
    } finally spark.stop()
  }

  test("union-decoration fuzz: non-canonical declared member order and " +
       "nested decorations round-trip zson <-> zjson <-> zng") {
    // union types canonicalize member order at creation (context.go:200
    // LookupTypeUnion), so a union declared in ANY order must resolve to
    // the same selectors; doubly-decorated values must land on nested
    // members (analyzer.go convertUnion). Each seed declares the members
    // in a random shuffle and round-trips through all three formats.
    val spark = GraftSession.local(4)
    try {
      for (seed <- 0 until 30) {
        val rnd = new scala.util.Random(7000L + seed)
        // member pool: (type text, value generator in decorated form)
        val pool: Seq[(String, () => String)] = Seq(
          "int32" -> (() => s"${rnd.nextInt(1000)}(int32)"),
          "string" -> (() => "\"u" + rnd.nextInt(100) + "\""),
          "[int32]" -> (() => (1 to 1 + rnd.nextInt(2))
            .map(_ => s"${rnd.nextInt(50)}(int32)").mkString("[", ",", "]")),
          "[string]" -> (() => (1 to 1 + rnd.nextInt(2))
            .map(_ => "\"a" + rnd.nextInt(9) + "\"").mkString("[", ",", "]")),
          "{a:int64}" -> (() => s"{a:${rnd.nextInt(100)}}"),
          "(int32,string)" -> (() =>
            // nested union member: decorate into the inner union first
            if (rnd.nextBoolean()) s"${rnd.nextInt(99)}(int32)((string,int32))"
            else "\"n" + rnd.nextInt(9) + "\"((string,int32))"),
          "|{string:int64}|" -> (() =>
            s"""|{"k${rnd.nextInt(9)}":${rnd.nextInt(50)}}|"""),
          "nm=float64" -> (() => s"${rnd.nextInt(40)}.5(nm=float64)"),
          "{s:string}" -> (() => "{s:\"r" + rnd.nextInt(9) + "\"}")
        )
        val members = rnd.shuffle(pool).take(2 + rnd.nextInt(3))
        val declared = members.map(_._1).mkString("(", ",", ")")
        // three frame positions for the union value: a top-level field, an
        // array element, and a nested sub-record field (deep-path carriers)
        val pos = seed % 3
        def line(uv: String): String = pos match {
          case 0 => s"{u:$uv}"
          case 1 => s"{u:[$uv]}"
          case _ => s"{o:{u:$uv},top:${rnd.nextInt(9)}}"
        }
        val lines = (0 until 6).map { i =>
          val (t, gen) = members(i % members.length)
          // 1-in-6 lines: a typed NULL under the union keeps its member
          // identity (zson/ztests/container-types.yaml: null(string) under
          // (string,int32) reads back as null(string)((int32,string)))
          if (i == 5 && !t.startsWith("nm="))
            line(s"null($t)(($declared))")
          else line(s"${gen()}(($declared))") // doubly/triply decorated included
        }
        val frame =
          try graft.sources.ZsonReader.fromText(spark, lines.mkString("\n"), tag = true)
            .coalesce(1)
          catch { case e: Exception =>
            fail(s"seed $seed: parse failed for $declared: $e") }
        val base = ZsonIO.toZson(frame).collect().toSeq
        assert(base.length == 6, s"seed $seed $declared: frame lost rows")
        val dir = java.nio.file.Files.createTempDirectory(s"ufuzz$seed")
        try {
          // zng leg
          ZngIO.write(frame, s"$dir/a.zng")
          val zback = ZsonIO.toZson(
            ZngIO.read(spark, s"$dir/a.zng").coalesce(1)).collect().toSeq
          assert(zback.sorted == base.sorted,
            s"seed $seed $declared zng:\n  base=$base\n  back=$zback")
          // zjson leg (the service wire format — selector space must match)
          val zjPath = java.nio.file.Paths.get(s"$dir/a.zjson")
          java.nio.file.Files.write(zjPath,
            graft.sources.ZjsonIO.typedLines(frame)
              .mkString("", "\n", "\n").getBytes("UTF-8"))
          val jback = ZsonIO.toZson(
            graft.sources.ZjsonIO.read(spark, zjPath.toString).coalesce(1))
            .collect().toSeq
          assert(jback.sorted == base.sorted,
            s"seed $seed $declared zjson:\n  base=$base\n  back=$jback")
          // vng leg (columnar union tag vectors)
          graft.sources.VngIO.write(frame, s"$dir/a.vng")
          val vback = ZsonIO.toZson(
            graft.sources.VngIO.read(spark, s"$dir/a.vng").coalesce(1))
            .collect().toSeq
          assert(vback.sorted == base.sorted,
            s"seed $seed $declared vng:\n  base=$base\n  back=$vback")
        } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit
      }
    } finally spark.stop()
  }

  test("inline-cache fuzz: POLYMORPHIC streams (alternating shapes per " +
       "row) answer chained/flat variant access identically to the " +
       "cache-stripped text path") {
    // the one-slot hints remember the last hit's position per generated
    // class instance; a stream whose shapes ALTERNATE row to row defeats
    // the cache every row — the verify-on-hit contract says answers must
    // still match the text fallback exactly
    val spark = GraftSession.local(4)
    try {
      import org.apache.spark.sql.functions.col
      val zv = graft.functions.ZvOps
      val het = graft.operators.Het
      for (seed <- 1 to 6) {
        val rnd = new scala.util.Random(seed)
        // record shapes listing the SAME leaf paths at DIFFERENT
        // positions (a stale unverified hint would pick the wrong
        // field), plus a string shape so `o` boxes as a variant
        val lines = (0 until 200).map { i =>
          rnd.nextInt(3) match {
            case 0 => s"""{o:{a:{b:{n:$i,k:"a$i"}}},x:1}"""
            case 1 => s"""{o:"plain$i",x:2}"""
            case _ => s"""{o:{pad:true,a:{w:0,b:{k:"c$i",n:${i * 3}}}},x:3}"""
          }
        }
        val df = graft.sources.ZsonReader.fromText(spark, lines.mkString("\n"))
        def pluck(v: org.apache.spark.sql.Column) = Seq(
          // chained access collapses to the deep-path cache ("a\0b\0n")
          zv.get(zv.get(zv.get(v, "a"), "b"), "n").getField("n").as("n"),
          zv.get(zv.get(zv.get(v, "a"), "b"), "k").getField("s").as("s"),
          // flat access exercises the m-scan hint
          zv.get(v, "a").getField("t").as("t"))
        val cachedRows = df.select(pluck(col("o")) :+ col(het.typeTag): _*).collect()
        // not vacuous: the record shapes must actually deliver leaf hits
        assert(cachedRows.count(r => !r.isNullAt(0)) > 50, s"seed $seed all-null")
        val cached = cachedRows.map(_.toString).sorted.toSeq
        val stripped = df.select(pluck(het.canonical(col("o"))) :+ col(het.typeTag): _*)
          .collect().map(_.toString).sorted.toSeq
        assert(cached == stripped,
          s"seed $seed:\n cached=${cached.take(5)}\n text=${stripped.take(5)}")
      }
    } finally spark.stop()
  }

  test("goG string-rounded shortest digits match the String.format probe reference") {
    // reference: the former implementation — linear scan of
    // String.format("%.{p-1}e") probes with a round-trip parse check
    def refShortest(d: Double, bits: Int): (String, Int, Boolean) = {
      val neg = d < 0 || (d == 0.0 && 1.0 / d < 0)
      val a = math.abs(d)
      if (a == 0.0) return ("0", 1, neg)
      var p = 1
      while (p <= 17) {
        val s = String.format("%." + (p - 1) + "e", Double.box(a))
        val ok = if (bits == 32) java.lang.Float.parseFloat(s) == a.toFloat
                 else java.lang.Double.parseDouble(s) == a
        if (ok) {
          val Array(mant, ex) = s.split("[eE]")
          val digits = mant.replace(".", "").reverse.dropWhile(_ == '0').reverse match {
            case "" => "0"
            case x => x
          }
          return (digits, ex.toInt + 1, neg)
        }
        p += 1
      }
      val s = a.toString
      (s.replaceAll("[.eE+-]", ""), 1, neg)
    }
    def refGoG(d: Double, bits: Int): String = {
      if (d.isNaN) return "NaN"
      if (d.isPosInfinity) return "+Inf"
      if (d.isNegInfinity) return "-Inf"
      val (digits, exp10, neg) = refShortest(d, bits)
      val exp = exp10 - 1
      val sign = if (neg) "-" else ""
      if (exp < -4 || exp >= 6) {
        val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
        val es = if (exp < 0) "-" else "+"
        val ea = math.abs(exp)
        sign + mant + "e" + es + (if (ea < 10) "0" + ea else ea.toString)
      } else if (exp >= digits.length - 1) {
        sign + digits + "0" * (exp - digits.length + 1)
      } else if (exp >= 0) {
        sign + digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
      } else {
        sign + "0." + "0" * (-exp - 1) + digits
      }
    }
    val edge = Seq(0.0, -0.0, 0.1, 0.15, 0.125, 1.25, 2.0 / 3.0, 1e23, -1e23,
      1.0e-323, 4.9e-324, Double.MinPositiveValue, Double.MaxValue,
      Double.MinValue, 1.7976931348623157e308, 701891.3333333334, 0.9995,
      999999999999999.9, 1e15, 1e16, 123456.789, 1.0, -1.0, 3.0, 1e6, 1e-4,
      0.0001, 0.00001, 2.5, 0.5, 1e100, 1e-100, math.Pi, math.E,
      Float.MaxValue.toDouble, Float.MinPositiveValue.toDouble)
    val rnd = new scala.util.Random(7)
    val randoms = (0 until 20000).map { _ =>
      java.lang.Double.longBitsToDouble(rnd.nextLong())
    }.filterNot(d => d.isNaN)
    val fracs = (0 until 5000).map(_ => rnd.nextDouble() * math.pow(10, rnd.nextInt(30) - 15))
    for (d <- edge ++ randoms ++ fracs; bits <- Seq(64, 32)) {
      val v = if (bits == 32) d.toFloat.toDouble else d
      if (!v.isNaN)
        assert(graft.sources.ZFormat.goG(v, bits) == refGoG(v, bits),
          s"goG($v, $bits): ${graft.sources.ZFormat.goG(v, bits)} != ${refGoG(v, bits)}")
    }
  }

  test("shortest-digits binary search agrees with the linear scan") {
    val rnd = new scala.util.Random(11)
    val doubles = (0 until 5000).map(_ => java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      (0 until 2000).map(_ => rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20))
    val floats = (0 until 5000).map(_ => java.lang.Float.intBitsToFloat(rnd.nextInt()).toDouble) ++
      Seq(3e38f, 0.1f, Float.MaxValue, Float.MinPositiveValue, 1.0e-38f, 16777217f).map(_.toDouble)
    val sd = graft.sources.ZFormat.shortestDigits _
    for ((d, bits) <- doubles.map(_ -> 64) ++ floats.map(_ -> 32) if !d.isNaN && !d.isInfinite)
      assert(sd(d, bits, false) == sd(d, bits, true), s"shortestDigits($d, $bits)")
  }

  test("parser never hangs or crashes the JVM on malformed inputs") {
    val junk = Seq(
      "from", "from |", "| where", "from t | cut", "from t | summarize by",
      "from t | sort -", "from t ||| x", "from t | where ((((", "}{",
      "from t | join (from u) on", "from t | switch ( case )", "f\"{unclosed",
      // (compound durations like 1m2m3m are legal now — nano.go sums
      // parts — and `const x` reads as an implicit-AND keyword search)
      "from t | yield {a:", "from t | put x:=", "const x =", "cut :=")
    for (q <- junk) {
      intercept[Exception](graft.lang.Parser.parse(q))
    }
  }
}
