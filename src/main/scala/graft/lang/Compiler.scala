package graft.lang

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.operators.ZedOps
import graft.functions.{Bridge, Shaper, ZedFunctions => F}

/** Compiles a parsed Zed pipeline into a Spark DataFrame plan.
  *
  * This is the analog of the reference's semantic pass + kernel builder
  * (compiler/semantic/op.go, compiler/kernel/op.go) — except the output is
  * a declarative Catalyst plan, so zed's own optimizer/parallelizer stages
  * (pushdown, pruning, scatter/merge partial aggs) are inherited from
  * Catalyst + AQE rather than reimplemented.
  *
  * Branch state: `fork`/`switch` yield several frames; a following `merge`
  * sorts their union, anything else implies `combine` (semantic/op.go's
  * auto-inserted combine).
  */
final class Compiler(spark: SparkSession, dir: String) {

  def run(p: Pipeline): DataFrame = {
    val frames = compilePipeline(None, p)
    GraftSession.tuneWideCodegen(combineAll(frames ++ namedOut.map(_._2)))
  }

  def runOn(input: DataFrame, p: Pipeline): DataFrame = {
    val frames = compilePipeline(Some(input), p)
    GraftSession.tuneWideCodegen(combineAll(frames ++ namedOut.map(_._2)))
  }

  /** Compile to NAMED outputs (mux.go labeled paths): every `output x`
    * branch by its label, plus "main" for whatever still flows at the end.
    * Same-label branches combine (multiple legs may feed one output).
    */
  def runOutputs(input: Option[DataFrame], p: Pipeline): Seq[(String, DataFrame)] = {
    val frames = compilePipeline(input, p)
    val grouped = scala.collection.mutable.LinkedHashMap.empty[String, Vector[DataFrame]]
    namedOut.foreach { case (n, f) =>
      grouped(n) = grouped.getOrElse(n, Vector.empty) :+ f }
    val named = grouped.toSeq.map { case (n, fs) =>
      n -> GraftSession.tuneWideCodegen(combineAll(fs)) }
    if (frames.nonEmpty)
      named :+ ("main" -> GraftSession.tuneWideCodegen(combineAll(frames)))
    else named
  }

  /** Does the expression contain an UNGUARDED running-agg call? */
  private def hasBareRunningAgg(e: Expr): Boolean = e match {
    case Expr.Call("__aggwhere", _) => false // already guarded
    case Expr.Call(fn, _) if Compiler.runningAggFns(fn) => true
    case Expr.Call(_, as) => as.exists(hasBareRunningAgg)
    case Expr.RecordLit(fs) => fs.exists(f => hasBareRunningAgg(f._2))
    case Expr.ArrayLit(xs) => xs.exists(hasBareRunningAgg)
    case Expr.Binary(_, l, r) => hasBareRunningAgg(l) || hasBareRunningAgg(r)
    case Expr.Unary(_, x) => hasBareRunningAgg(x)
    case Expr.Cond(c, t, f) =>
      hasBareRunningAgg(c) || hasBareRunningAgg(t) || hasBareRunningAgg(f)
    case Expr.Index(a, i) => hasBareRunningAgg(a) || hasBareRunningAgg(i)
    case _ => false
  }

  /** Push a branch condition into running-agg calls as a where guard. */
  private def guardRunningAggs(e: Expr, cond: Expr): Expr = e match {
    case Expr.Call("__aggwhere", Seq(agg, c0)) =>
      Expr.Call("__aggwhere", Seq(agg, Expr.Binary("and", c0, cond)))
    case call @ Expr.Call(fn, _) if Compiler.runningAggFns(fn) =>
      Expr.Call("__aggwhere", Seq(call, cond))
    case Expr.Call(fn, as) => Expr.Call(fn, as.map(guardRunningAggs(_, cond)))
    case Expr.RecordLit(fs) =>
      Expr.RecordLit(fs.map { case (n, x) => (n, guardRunningAggs(x, cond)) })
    case Expr.ArrayLit(xs) => Expr.ArrayLit(xs.map(guardRunningAggs(_, cond)))
    case Expr.Binary(op, l, r) =>
      Expr.Binary(op, guardRunningAggs(l, cond), guardRunningAggs(r, cond))
    case Expr.Unary(op, x) => Expr.Unary(op, guardRunningAggs(x, cond))
    case Expr.Index(a, i) =>
      Expr.Index(guardRunningAggs(a, cond), guardRunningAggs(i, cond))
    case other => other
  }

  private def combineAll(frames: Seq[DataFrame]): DataFrame = {
    if (frames.length == 1) return frames.head
    val het = graft.operators.Het
    def dataFields(f: DataFrame) = f.schema.fields.toIndexedSeq
      .filterNot(x => x.name == het.typeTag || x.metadata.contains("graft.scopeVar"))
    val anyTagged = frames.exists(_.columns.contains(het.typeTag))
    val hetero = frames.map(f => dataFields(f).map(_.name)).distinct.length > 1
    // same names but DIFFERENT types still form a union type (boxed)
    val typeHetero =
      frames.map(f => dataFields(f).map(_.dataType)).distinct.length > 1
    if (!anyTagged && !hetero)
      return if (typeHetero) ZedOps.combine(frames: _*)
             else frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // branches with different shapes form a heterogeneous stream: tag
    // each row with its branch's record type so writers and sort keep
    // per-row shape (zed's combine, op/combine.go)
    val tagged = frames.map { f =>
      if (f.columns.contains(het.typeTag)) f
      else {
        val dfs = dataFields(f)
        // a bare `this` frame is a VALUE stream — its shape is the value
        // type, not a one-field record
        val t =
          if (dfs.map(_.name) == Seq("this")) Shaper.zedTypeOf(dfs.head.dataType)
          else Shaper.zedTypeOf(StructType(dfs))
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", Array(t)).build()
        f.select(f.columns.toIndexedSeq.map(n => col(s"`$n`")) :+
          lit(t).as(het.typeTag, md): _*)
      }
    }
    // ZedOps.combine boxes columns whose types disagree across branches
    // (zed's union-type formation) before the union
    val union = ZedOps.combine(tagged: _*)
    val allShapes = tagged.flatMap { f =>
      val md = f.schema(het.typeTag).metadata
      if (md.contains("shapes")) md.getStringArray("shapes").toSeq else Seq.empty
    }.distinct
    union.select(union.schema.fields.toIndexedSeq.map { f =>
      if (f.name == het.typeTag)
        col(s"`${f.name}`").as(f.name, new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", allShapes.toArray).build())
      else col(s"`${f.name}`")
    }: _*)
  }

  /** Named flowgraph outputs collected while compiling (op/mux.go labels):
    * `output <name>` removes its branch from the flowing state and lands
    * it here; see runOutputs.
    */
  private val namedOut = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]

  private def compilePipeline(input: Option[DataFrame], p: Pipeline): Seq[DataFrame] = {
    var state: Seq[DataFrame] = input.toSeq
    val stages = p.stages
    var i = 0
    while (i < stages.length) {
      (stages(i), lakePoolOf(stages(i))) match {
        // meta scans (`from pool@branch:objects` / `:log` / `:branches`)
        // dispatch BEFORE the data scan — an `@ref:meta` suffix is not a
        // commit ref
        case (Stage.From(t, _, _, _), _) if t.contains(":") && lakeMetaFrame(t).isDefined =>
          state = Seq(lakeMetaFrame(t).get)
        // `from <pool>[@branch|@commit]` under graft.lake.root: a
        // merge-on-read lake scan. A following `where` on the pool key
        // feeds its closed range to the scan — whole objects prune from
        // the journal's [keymin,keymax] (seek-index analog) and the key
        // predicate pushes into parquet row groups; the `where` stage
        // still runs for exact edge semantics, so the pushdown is purely
        // a scan-rate win.
        case (_, Some((root, pool, at))) =>
          val range = for {
            key <- graft.sources.Lake.poolKey(root, pool)
            e <- (if (i + 1 < stages.length) Some(stages(i + 1)) else None).collect {
              case Stage.Where(w) => w
            }
            r <- keyRangeOf(e, key)
          } yield r
          state = Seq(graft.sources.Lake.scan(spark, root, pool, at, range))
        case (Stage.From(t0, _, _, _), _)
            if (t0 == "*" || t0.matches("[A-Za-z0-9_.*-]*\\*[A-Za-z0-9_.*-]*") ||
              (t0.length > 2 && t0.startsWith("/") && t0.endsWith("/"))) &&
              spark.conf.getOption("graft.lake.root").isDefined =>
          // `from *` / `from /re/` — every matching pool, one union'd scan
          val root = spark.conf.get("graft.lake.root")
          val lk = graft.sources.Lake
          val re =
            if (t0 == "*") None
            else if (t0.startsWith("/")) Some(t0.substring(1, t0.length - 1).r)
            else Some(("^" + t0.split("\\*", -1)
              .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r)
          val pools = Option(new java.io.File(root).listFiles())
            .getOrElse(Array.empty).toSeq
            .filter(f => f.isDirectory && lk.exists(root, f.getName))
            .map(_.getName).sorted
            .filter(p => re.forall(_.findFirstIn(p).isDefined))
          require(pools.nonEmpty, s"from $t0: no matching pools")
          state = Seq(pools.map(p => lk.scan(spark, root, p, None, None))
            .reduce((a, b) => graft.operators.ZedOps.combine(a, b)))
        case (Stage.Switch(su, cs, d), _) if i + 1 < stages.length &&
            (stages(i + 1) match {
              case Stage.Join(_, None, _, _, _) => true
              case _ => false
            }) =>
          // a branch-consuming join follows: the single-scan CASE fusion
          // would collapse the legs the join needs — keep them separate
          state = compileSwitch(single(state), su, cs, d, forceBranches = true)
        case (st, _) => state = compileStage(state, st)
      }
      i += 1
    }
    require(state.nonEmpty || namedOut.nonEmpty,
      "pipeline has no source (missing `from`)")
    state
  }

  /** The most recent upstream single-key sort (key path + direction) —
    * join auto-sort direction detection. The reference only adopts the
    * upstream direction when the sorted key EQUALS the join key
    * (optimizer.go propagateSortKeyOp: fieldOf(LeftKey).Equal(
    * parents[0].Primary().Key)), so we track the key too and reset on
    * sources and order-destroying stages.
    */
  private var lastSort: Option[(Seq[String], Boolean)] = None

  /** Normalized field path of a simple-path expression (leading `this`
    * stripped), if it is one — the compiler-side fieldOf (dag/expr.go).
    */
  private def fieldPathOf(e: Expr): Option[Seq[String]] = e match {
    case Expr.Path(parts0) =>
      val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
      if (parts.nonEmpty) Some(parts) else None
    case _ => None
  }

  /** Lake meta-query frames (`from :pools`, `from :branches`,
    * `from <pool>:branches`) when `graft.lake.root` is set — the subset
    * of the reference's lake meta records the language surface uses
    * (lake/root.go meta queries; docs/language/operators/from.md:91).
    */
  private def lakeMetaFrame(target: String): Option[DataFrame] =
    spark.conf.getOption("graft.lake.root").flatMap { root =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val lk = graft.sources.Lake
      def pools: Seq[String] = {
        val d = new java.io.File(root)
        Option(d.listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isDirectory && lk.exists(root, f.getName))
          .map(_.getName).sorted
      }
      val (poolFilter, meta) = target.indexOf(':') match {
        case 0 => (None, target.drop(1))
        case ix => (Some(target.take(ix)), target.drop(ix + 1))
      }
      // a pool filter may carry a branch: `logs@main:log`
      val (poolName, branchName) = poolFilter match {
        case Some(pf) => pf.indexOf('@') match {
          case -1 => (Some(pf), "main")
          case ix => (Some(pf.take(ix)), pf.drop(ix + 1))
        }
        case None => (None, "main")
      }
      meta match {
        case "log" if poolName.exists(p => lk.exists(root, p)) =>
          // branch tips then the commit journal, as NAMED record types —
          // nameof(this) distinguishes lake.BranchTip from Commit
          // (runtime/sam/op/meta/scanner.go "log": BatchifyBranchTips +
          // OpenCommitLog; lake/commits/actions.go Commit fields)
          def hex(id: String): String =
            try graft.functions.Ksuid.decodeHex(id)
            catch { case _: Exception => "00" * 20 }
          val cs = lk.commitsOn(root, poolName.get, branchName)
            .filter(_.kind == "commit")
          val tips = lk.branches(root, poolName.get).map { b =>
            val tip = lk.commitsOn(root, poolName.get, b)
              .filter(_.kind == "commit").lastOption.map(_.id)
            s"""{name:"$b",commit:0x${tip.map(hex).getOrElse("00" * 20)}(=ksuid.KSUID)}(=lake.BranchTip)"""
          }
          val commits = cs.reverse.zipWithIndex.map { case (c, ix) =>
            val parent = cs.reverse.lift(ix + 1).map(p => hex(p.id)).getOrElse("00" * 20)
            val date = java.time.Instant.ofEpochMilli(c.ts).toString
            val metaV = if (c.meta.isEmpty) "null" else c.meta
            s"""{id:0x${hex(c.id)}(=ksuid.KSUID),parent:0x$parent(=ksuid.KSUID),retries:0(uint8),author:"${c.author.replace("\"", "'")}",date:$date,message:"${c.message.replace("\"", "'")}",meta:$metaV}(=Commit)"""
          }
          val zson = (tips ++ commits).mkString("\n")
          if (zson.isEmpty)
            Some(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row],
              StructType(Seq(StructField("this", StringType)))))
          else Some(graft.sources.ZsonReader.fromText(spark, zson))
        case "objects" | "partitions" if poolName.exists(p => lk.exists(root, p)) =>
          // ids surface as KSUID BYTES like the reference's object ids —
          // `cut id:=ksuid(id)` then encodes them to the 27-char form.
          // min/max take the pool KEY's domain: numeric keys surface as
          // longs/doubles (meta-optimized-filter compares max > 20), time
          // keys keep their ISO text rendered bare.
          val cs0 = lk.commitsOn(root, poolName.get, branchName)
            .filter(_.kind == "commit")
          // the lister emits objects STABLE-sorted by (min, max) in the
          // pool's key direction, nulls last, commit order kept on ties
          // (runtime/sam/op/meta/lister.go sortObjects)
          val descPool = lk.poolOrder(root, poolName.get) == "desc"
          def kv0(o: Option[String]): Option[String] = o.filter(_.nonEmpty)
          def cmpO(a: Option[String], b: Option[String]): Int = (a, b) match {
            case (Some(x), Some(y)) =>
              val c = lk.keyCompare(x, y)
              if (descPool) -c else c
            case (None, None) => 0
            case (None, _) => 1 // null keys sort last in either direction
            case (_, None) => -1
          }
          val cs = cs0.sortWith { (a, b) =>
            val (aFrom, aTo) =
              if (descPool) (kv0(a.keyMax), kv0(a.keyMin))
              else (kv0(a.keyMin), kv0(a.keyMax))
            val (bFrom, bTo) =
              if (descPool) (kv0(b.keyMax), kv0(b.keyMin))
              else (kv0(b.keyMin), kv0(b.keyMax))
            val c1 = cmpO(aFrom, bFrom)
            if (c1 < 0) true
            else if (c1 > 0 || aFrom != bFrom) false
            else if (aTo == bTo) false
            else cmpO(aTo, bTo) < 0
          }
          val vals = cs.flatMap(c => c.keyMin ++ c.keyMax).filter(_.nonEmpty)
          val allLong = vals.nonEmpty && vals.forall(v => v.matches("-?\\d+"))
          val allNum = vals.nonEmpty &&
            vals.forall(v => try { BigDecimal(v); true } catch { case _: Exception => false })
          val isTime = vals.nonEmpty && vals.forall(_.matches("""\d{4}-\d{2}-\d{2}T.*Z"""))
          // data.Object records as typed ZSON (named record type →
          // nameof(this); id bytes named ksuid.KSUID → ksuid()/hex())
          def kv(v: Option[String]): String = v.filter(_.nonEmpty).map { x =>
            if (allLong || isTime) x
            else if (allNum) { if (x.contains(".") || x.contains("e")) x else x + "." }
            else "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          }.getOrElse("null")
          def hex(id: String): String =
            try graft.functions.Ksuid.decodeHex(id)
            catch { case _: Exception => "00" * 20 }
          val zson = cs.map { c =>
            s"""{id:0x${hex(c.id)}(=ksuid.KSUID),min:${kv(c.keyMin)},max:${kv(c.keyMax)},count:${math.max(0L, c.rows)}(uint64),size:${math.max(0L, c.bytes)}}(=data.Object)"""
          }.mkString("\n")
          if (zson.isEmpty)
            Some(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row],
              StructType(Seq(StructField("this", StringType)))))
          else Some(graft.sources.ZsonReader.fromText(spark, zson))
        case "vectors" if poolName.exists(p => lk.exists(root, p)) =>
          // objects with a VNG twin (db vector add), as data.Object rows
          // whose size is the twin's byte size
          val vs = lk.vectors(root, poolName.get, branchName)
          val vals2 = vs.flatMap(v => v._1.keyMin ++ v._1.keyMax).filter(_.nonEmpty)
          val allLong2 = vals2.nonEmpty && vals2.forall(_.matches("-?\\d+"))
          val isTime2 = vals2.nonEmpty &&
            vals2.forall(_.matches("""\d{4}-\d{2}-\d{2}T.*Z"""))
          def kv2(v: Option[String]): String = v.filter(_.nonEmpty).map { x =>
            if (allLong2 || isTime2) x
            else "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          }.getOrElse("null")
          def hex2(id: String): String =
            try graft.functions.Ksuid.decodeHex(id)
            catch { case _: Exception => "00" * 20 }
          val zson2 = vs.map { case (c, _) =>
            // size is the object's DATA size, same as :objects (the twin's
            // file size is an implementation detail)
            s"""{id:0x${hex2(c.id)}(=ksuid.KSUID),min:${kv2(c.keyMin)},max:${kv2(c.keyMax)},count:${math.max(0L, c.rows)}(uint64),size:${math.max(0L, c.bytes)}}(=data.Object)"""
          }.mkString("\n")
          if (zson2.isEmpty)
            Some(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row],
              StructType(Seq(StructField("this", StringType)))))
          else Some(graft.sources.ZsonReader.fromText(spark, zson2))
        case "partitions" | "rawlog"
            if poolName.exists(p => lk.exists(root, p)) =>
          // unimplemented meta views scan as empty (meta-empty-pool)
          Some(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row],
            StructType(Seq(StructField("this", StringType)))))
        case "pools" if poolFilter.isEmpty =>
          // full pools.Config records (ts/name/id/layout/seek_stride/
          // threshold), same rendering the CLI's `db ls -f` uses
          val zson = pools.map(p => lk.poolConfigZson(root, p)).mkString("\n")
          if (zson.isEmpty)
            Some(spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row],
              StructType(Seq(StructField("name", StringType)))))
          else Some(graft.sources.ZsonReader.fromText(spark, zson))
        case "branches" =>
          val schema = StructType(Seq(
            StructField("pool", StructType(Seq(StructField("name", StringType)))),
            StructField("branch", StructType(Seq(StructField("name", StringType))))))
          val rows = for {
            p <- poolFilter.map(Seq(_)).getOrElse(pools)
            b <- lk.branches(root, p)
          } yield Row(Row(p), Row(b))
          Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
        case _ => None
      }
    }

  /** Resolve a `from` target to a lake pool when `graft.lake.root` is set
    * and the pool exists — `"pool"` or `"pool@branchOrCommit"`.
    */
  private def lakePoolOf(stage: Stage): Option[(String, String, Option[String])] =
    stage match {
      case Stage.From(t, _, _, _) =>
        spark.conf.getOption("graft.lake.root").flatMap { root =>
          val (pool, at) = t.indexOf('@') match {
            case -1 => (t, None)
            case ix => (t.take(ix), Some(t.drop(ix + 1)).filter(_.nonEmpty))
          }
          if (pool.nonEmpty && !pool.contains("/") &&
              graft.sources.Lake.exists(root, pool)) Some((root, pool, at))
          else None
        }
      case _ => None
    }

  /** A closed [lo,hi] range on `key` implied by a predicate's top-level
    * conjuncts (key >= lo and key <= hi, between-style; == gives a point
    * range). Literal-only, conservative: anything unrecognized simply
    * yields no range, and the caller keeps the exact filter regardless.
    */
  private def keyRangeOf(e: Expr, key: String): Option[(String, String)] = {
    def lit(x: Expr): Option[String] = x match {
      case Expr.IntLit(v) => Some(v.toString)
      case Expr.FloatLit(v) => Some(v.toString)
      case Expr.StringLit(v) => Some(v)
      case Expr.TimeLit(ns, _) => Some(ns.toString) // ns-long pool keys
      case _ => None
    }
    def isKey(x: Expr): Boolean = x match {
      case Expr.Path(Seq(k)) => k == key
      case _ => false
    }
    var lo: Option[String] = None
    var hi: Option[String] = None
    def walk(x: Expr): Unit = x match {
      case Expr.Binary("and", l, r) => walk(l); walk(r)
      case Expr.Binary("==", l, r) if isKey(l) && lit(r).isDefined =>
        lo = lo.orElse(lit(r)); hi = hi.orElse(lit(r))
      case Expr.Binary("==", l, r) if isKey(r) && lit(l).isDefined =>
        lo = lo.orElse(lit(l)); hi = hi.orElse(lit(l))
      case Expr.Binary(">=" | ">", l, r) if isKey(l) => lo = lo.orElse(lit(r))
      case Expr.Binary("<=" | "<", l, r) if isKey(l) => hi = hi.orElse(lit(r))
      case Expr.Binary(">=" | ">", l, r) if isKey(r) => hi = hi.orElse(lit(l))
      case Expr.Binary("<=" | "<", l, r) if isKey(r) => lo = lo.orElse(lit(l))
      case _ =>
    }
    walk(e)
    for { l <- lo; h <- hi } yield (l, h)
  }

  private def single(state: Seq[DataFrame]): DataFrame = {
    require(state.nonEmpty, "operator needs an upstream source (missing `from`)")
    combineAll(state)
  }

  private def compileStage(state: Seq[DataFrame], stage: Stage): Seq[DataFrame] =
    stage match {
      case Stage.From(table, fmt, _, _) =>
        // a new source has no carried sort order
        lastSort = None
        // a new source mid-pipeline replaces the stream (CLI `from` form);
        // a path-looking name reads any supported format (zio/anyio
        // detect), `format <f>` forces one. Relative paths resolve
        // against `graft.cwd` when set (the CLI's working directory —
        // reference reads files relative to the shell)
        if (table.contains("/") || table.contains(".") || fmt.isDefined) {
          val resolved =
            if (table.startsWith("/") || table.contains("://")) table
            else spark.conf.getOption("graft.cwd")
              .map(c => s"${c.stripSuffix("/")}/$table").getOrElse(table)
          Seq(graft.sources.Formats.read(spark, resolved, fmt))
        } else Seq(GraftSession.table(spark, dir, table))

      case Stage.Where(e) =>
        val df = single(state)
        Seq(df.filter(searchify(df, e)))

      case Stage.Cut(fields) =>
        val df = single(state)
        // quiet() on a missing field drops the output field entirely
        // (cut.md: error("quiet") omits the field) — folded at plan time;
        // a union-typed (variant) prefix resolves row-level, never folded
        def variantPrefix(p: Expr.Path): Boolean =
          (p.parts.length - 1 to 1 by -1)
            .exists(n => dtypeOf(df, Expr.Path(p.parts.take(n))).exists(isVariant))
        val kept = fields.filterNot {
          case (_, Some(Expr.Call("quiet", Seq(p: Expr.Path)))) =>
            dtypeOf(df, p).isEmpty && !variantPrefix(p)
          case _ => false
        }
        // a top-level field keeps its zed type (cutter.go copies values
        // with their types: `count() by ttl | cut ttl` prints 1(uint16))
        def typeMd(parts: Seq[String]): org.apache.spark.sql.types.Metadata =
          df.schema.fields.find(f => parts == Seq(f.name) && f.metadata.contains("graft.zedType"))
            .map(f => new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", f.metadata.getString("graft.zedType")).build())
            .getOrElse(org.apache.spark.sql.types.Metadata.empty)
        val cols = kept.map {
          case (name, Some(e @ Expr.Call("typeof" | "typeunder", _))) =>
            outExpr(df, e).as(name, new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", "type").build())
          case (name, Some(e @ Expr.Path(parts))) =>
            outExpr(df, e).as(name, typeMd(parts))
          case (name, Some(e)) =>
            outExpr(df, e).as(name, org.apache.spark.sql.types.Metadata.empty)
          case (name, None) =>
            val parts = name.split('.').toSeq
            outExpr(df, Expr.Path(parts)).as(name, typeMd(parts))
        }
        val flat0 = df.select(cols: _*)
        // a row where EVERY quiet() field is missing leaves the stream
        // (cutter.go: all-error record drops quietly)
        val quietCols = kept.collect {
          case (name, Some(Expr.Call("quiet", _))) => col(s"`$name`")
        }
        val flat =
          if (quietCols.isEmpty || quietCols.length < kept.length) flat0
          else flat0.filter(quietCols.map { c =>
            val adt = dtOr(flat0, c, StringType)
            if (isVariant(adt)) c.isNotNull && !graft.operators.Het.isError(c)
            else c.isNotNull
          }.reduce(_ || _))
        // dotted paths rebuild their nested record structure (cutter.go)
        val nested =
          if (fields.exists(_._1.contains("."))) Shaper.nestDotted(flat) else flat
        // path-only cut on a TAGGED stream narrows the per-row shape so
        // zed types (ip/time/named) survive the projection (cutter.go
        // keeps value types; merge-by-addr: cut addr renders bare ips)
        val cutShapes = shapesOf(df)
        val pathOnly = !fields.exists(_._1.contains(".")) && kept.forall {
          case (_, None) => true
          case (_, Some(Expr.Path(parts))) => parts.nonEmpty
          case _ => false
        }
        if (cutShapes.nonEmpty && pathOnly && kept.nonEmpty) {
          val zt = graft.sources.ZType
          val narrowed: Seq[(String, Option[String])] = cutShapes.map { case (tag, st) =>
            val fts = kept.flatMap { case (name, eo) =>
              val parts = eo.collect { case Expr.Path(ps) => ps }
                .getOrElse(name.split('.').toSeq)
              pathIn(st, parts).map(t => name -> t)
            }
            tag -> (if (fts.size == kept.size)
              Some("{" + fts.map { case (n, t) => s"$n:${zt.fullText(t)}" }
                .mkString(",") + "}")
            else None)
          }
          if (narrowed.forall(_._2.isDefined) && df.columns.contains(
              graft.operators.Het.typeTag)) {
            val texts = narrowed.map(_._2.get).distinct
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes", texts.toArray).build()
            val tagC = narrowed.foldLeft(lit(narrowed.head._2.get)) {
              case (acc, (old, Some(nw))) =>
                when(df(graft.operators.Het.typeTag) === old, lit(nw)).otherwise(acc)
              case (acc, _) => acc
            }
            // recompute through the SAME projection (flat lost the tag)
            val cols2 = cols :+ tagC.as(graft.operators.Het.typeTag, md)
            val flat2 = df.select(cols2: _*)
            val out =
              if (quietCols.isEmpty || quietCols.length < kept.length) flat2
              else flat2.filter(quietCols.map { c =>
                val adt = dtOr(flat2, c, StringType)
                if (isVariant(adt)) c.isNotNull && !graft.operators.Het.isError(c)
                else c.isNotNull
              }.reduce(_ || _))
            return Seq(out)
          }
        }
        Seq(nested)

      case Stage.Put(assigns) =>
        val df = single(state)
        // an untagged bare-record carrier (this-only struct frame, e.g.
        // `yield this[0]` over records): `this` IS the record — unwrap it
        // so puts write inside (putter.go semantics)
        locally {
          val dataCols = df.schema.fields.toIndexedSeq.filterNot(f =>
            f.name == graft.operators.Het.typeTag ||
              f.metadata.contains("graft.scopeVar"))
          if (!isTagged(df) && dataCols.map(_.name) == Seq("this") &&
              dataCols.head.dataType.isInstanceOf[StructType] &&
              !isVariant(dataCols.head.dataType)) {
            val st = dataCols.head.dataType.asInstanceOf[StructType]
            val inner = df.select(
              (st.fields.toIndexedSeq.map(f => col(s"this.`${f.name}`").as(f.name)) ++
                df.schema.fields.toIndexedSeq
                  .filter(_.metadata.contains("graft.scopeVar"))
                  .map(f => col(s"`${f.name}`").as(f.name, f.metadata))): _*)
            return compileStage(Seq(inner), Stage.Put(assigns))
          }
        }
        // a column produced by typeof/typeunder is TYPE-VALUED: record it
        // in field metadata so a later typeof(field) answers <type>
        def marked(e: Expr, c: Column): Column = e match {
          case Expr.Call("typeof" | "typeunder", _) =>
            c.as("__t", new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", "type").build())
          case _ => c
        }
        // put over NON-RECORD values errors per value (putter.go:
        // "put: not a record")
        val putShapes = shapesOf(df)
        val nonRecShapes = putShapes.filter(s =>
          !graft.sources.ZType.strip(s._2).isInstanceOf[graft.sources.ZType.Rec])
        // MIXED record/non-record stream: records take the put, each
        // non-record value becomes its own error, input order kept
        if (nonRecShapes.nonEmpty && nonRecShapes.length < putShapes.length &&
            df.columns.contains("this")) {
          val het = graft.operators.Het
          val ord = "__reord"
          // scopeVar metadata keeps the order column out of shape texts
          val df1 = df.select(df.columns.toIndexedSeq.map(n => col(s"`$n`")) :+
            monotonically_increasing_id().as(ord, Compiler.scopeVarMeta): _*)
          val nonTags = nonRecShapes.map(_._1).toSet
          val recShapes2 = putShapes.filterNot(s => nonTags(s._1))
          // drop the bare-value CARRIER from the record side (its `this`
          // belongs to the non-record shapes and would type-clash with
          // the error values in the union)
          val recKeepsThis = recShapes2.exists(s =>
            graft.sources.ZType.strip(s._2) match {
              case graft.sources.ZType.Rec(fs) => fs.exists(_._1 == "this")
              case _ => false
            })
          val recBase = df1.filter(!col(het.typeTag).isin(nonTags.toSeq: _*))
          val recDf = withShapes(
            if (recKeepsThis) recBase else recBase.drop("this"),
            recShapes2.map(_._1))
          val nonDf = withShapes(
            df1.filter(col(het.typeTag).isin(nonTags.toSeq: _*)),
            nonRecShapes.map(_._1))
          val putRec = compileStage(Seq(recDf), Stage.Put(assigns)).head
          val putNon = compileStage(Seq(nonDf), Stage.Put(assigns)).head
          return Seq(combineOrdered(Seq(putRec, putNon), ord))
        }
        val allNonRec = putShapes.nonEmpty && nonRecShapes.length == putShapes.length &&
          df.columns.contains("this")
        if (allNonRec) {
          val het = graft.operators.Het
          val thisC = col("this")
          val text =
            if (isVariant(df.schema("this").dataType)) het.render(thisC)
            else graft.sources.ZsonIO.zsonOf(thisC, df.schema("this").dataType)
          val onTexts = putShapes.map(_._1).distinct
          val errT = "error({message:string,on:" +
            (if (onTexts.length == 1) onTexts.head
             else onTexts.mkString("(", ",", ")")) + "})"
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putStringArray("shapes", Array(errT)).build()
          val scopeCols = df.schema.fields.toIndexedSeq
            .filter(_.metadata.contains("graft.scopeVar"))
            .map(f => col(s"`${f.name}`").as(f.name, f.metadata))
          return Seq(df.select(
            het.errorValue(concat(lit("""{message:"put: not a record",on:"""),
              text, lit("}")), errT).as("this") +:
            lit(errT).as(het.typeTag, md) +: scopeCols: _*))
        }
        // NESTED targets the native withField path can't express
        // faithfully — missing/non-struct roots (creation order), depth
        // ≥3, or per-shape roots — run on the value model, which merges
        // at the path with the reference's keep-position/append-new
        // order (putter.go deriveSteps; put-nested ztest)
        locally {
          val rowModel = assigns.map(_._1)
            .filter(n => n.contains('.') && !df.columns.contains(n))
            .exists { n =>
              val root = n.takeWhile(_ != '.')
              val rest = n.drop(root.length + 1)
              val rootDt = df.schema.fields.find(_.name == root).map(_.dataType)
              rootDt.isEmpty ||
                !rootDt.exists(d => d.isInstanceOf[StructType] && !isVariant(d)) ||
                rest.contains('.') || shapesOf(df).length > 1
            }
          if (rowModel)
            return compileStage(Seq(df), Stage.DynAssign("put",
              assigns.map { case (n, e) =>
                val segs = n.split('.').toIndexedSeq
                val ne: Expr =
                  if (segs.length == 1) Expr.StringLit(n)
                  else Expr.Call("__lval", segs.map(Expr.StringLit(_): Expr))
                (ne, e)
              }))
        }
        // `x := quiet(p)` with p missing is a NO-OP on that field
        // (put-quiet ztest: the old value survives, nothing nulls out)
        val resolved = assigns.flatMap {
          case (n, Expr.Call("quiet", Seq(p: Expr.Path))) if p.parts.nonEmpty =>
            val present = dtypeOf(df, p)
            if (present.isDefined && !pathMixed(df, p))
              Seq(n -> outExpr(df, p)) // always present: plain assignment
            else if (present.isEmpty && !pathMixed(df, p))
              Seq.empty // never present: drop the assignment entirely
            else {
              val het = graft.operators.Het
              val v = outExpr(df, p)
              val keep: Column =
                if (df.columns.contains(n))
                  het.variant(col(s"`$n`"), df.schema(n).dataType)
                else lit(null).cast(het.variantType)
              Seq(n -> when(coalesce(hasPath(df, p.parts), lit(false)), v).otherwise(keep))
            }
          case (n, e) => Seq(n -> marked(e, outExpr(df, e)))
        }
        val out = ZedOps.put(df, resolved: _*)
        // per-shape tag update: put ADDS the field to shapes that lacked
        // it (putter.go) — without this a shape-gated renderer would drop
        // the new value on those rows
        val het0 = graft.operators.Het
        val flatPuts = resolved.map(_._1)
          .filter(n => !n.contains('.') || df.columns.contains(n))
          .filter(out.columns.contains)
        Seq(if (putShapes.isEmpty || !out.columns.contains(het0.typeTag) ||
                flatPuts.isEmpty) out
        else {
          val zt = graft.sources.ZType
          // a VARIANT-valued put whose zed type is statically derivable
          // (promoted-lattice arithmetic over typed operands) records that
          // type in the shape — not the carrier struct (port-math: x:int32)
          val exprOf = assigns.toMap
          val newTypes = flatPuts.map { n =>
            val dt = out.schema(n).dataType
            val static =
              if (isVariant(dt)) exprOf.get(n).flatMap(e => staticZedName(df, e))
              else None
            n -> static.getOrElse(Shaper.zedTypeOf(dt))
          }.toMap
          val updates = putShapes.flatMap { case (t, ty) =>
            zt.strip(ty) match {
              case zt.Rec(fs) =>
                val kept = fs.map { case (fn, fv) =>
                  fn -> newTypes.getOrElse(fn, zt.fullText(fv)) }
                val added = flatPuts.filterNot(n => fs.exists(_._1 == n))
                  .map(n => n -> newTypes(n))
                val txt = (kept ++ added)
                  .map { case (n2, t2) => s"${zt.fieldName(n2)}:$t2" }
                  .mkString("{", ",", "}")
                if (txt == t) None else Some(t -> txt)
              case _ => None
            }
          }
          if (updates.isEmpty) out
          else {
            val allTexts = putShapes.map { case (t, _) =>
              updates.toMap.getOrElse(t, t) }.distinct
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes", allTexts.toArray).build()
            val tagC = updates.foldLeft(col(het0.typeTag)) { case (acc, (from, to)) =>
              when(col(het0.typeTag) === from, lit(to)).otherwise(acc)
            }
            out.select(out.schema.fields.toIndexedSeq.map { f =>
              if (f.name == het0.typeTag) tagC.as(het0.typeTag, md)
              else col(s"`${f.name}`")
            }: _*)
          }
        })

      case Stage.Drop(paths) =>
        val df = single(state)
        val dropped = ZedOps.drop(df, paths: _*)
        // a row whose shape loses ALL its fields becomes a quiet error and
        // leaves the stream (op/dropper.go: empty record → error quiet)
        val shapes = shapesOf(df)
        // only dot-less paths remove a whole top-level field
        val topDrops = paths.filterNot(_.contains('.'))
        val emptied = shapes.collect {
          case (t, st) if (graft.sources.ZType.strip(st) match {
            case graft.sources.ZType.Rec(fs) =>
              fs.map(_._1).forall(n => topDrops.contains(n))
            case _ => false
          }) => t
        }
        Seq(
          if (emptied.isEmpty || !dropped.columns.contains(graft.operators.Het.typeTag)) dropped
          else dropped.filter(!col(graft.operators.Het.typeTag).isin(emptied: _*)))

      case Stage.Rename(renames) =>
        val df = single(state)
        // PER-SHAPE semantics on a mixed stream (renamer.go): each row
        // renames against its OWN record type — a shape without the
        // source passes untouched, a shape already holding the target is
        // a per-row error, and only shapes holding the source rename
        val renShapes = shapesOf(df)
        val simpleRen = renames.forall { case (to, from) =>
          !to.contains(".") && !from.contains(".") }
        if (renShapes.length > 1 && simpleRen) {
          val zt = graft.sources.ZType
          val het = graft.operators.Het
          val ord = "__reord"
          val df1 = df.select(df.columns.toIndexedSeq.map(n => col(s"`$n`")) :+
            monotonically_increasing_id().as(ord, Compiler.scopeVarMeta): _*)
          val parts: Seq[DataFrame] = renShapes.map { case (tagText, st0) =>
            val sub = df1.filter(col(het.typeTag) === tagText)
            zt.strip(st0) match {
              case zt.Rec(fs) =>
                val names = fs.map(_._1)
                val dup = renames.collectFirst {
                  case (to, from) if names.contains(from) &&
                      names.contains(to) && to != from => to
                }
                if (dup.isDefined) {
                  val fieldsC = struct(fs.map { case (n, _) => col(s"`$n`").as(n) }: _*)
                  val onText = graft.sources.ZsonIO.zsonOf(fieldsC,
                    StructType(fs.map { case (n, _) =>
                      sub.schema.fields.find(_.name == n).get }))
                  val errT = s"""error({message:string,on:$tagText})"""
                  val md = new org.apache.spark.sql.types.MetadataBuilder()
                    .putStringArray("shapes", Array(errT)).build()
                  sub.select(
                    het.errorValue(concat(
                      lit(s"""{message:"rename: duplicate field: \\"${dup.get}\\"",on:"""),
                      onText, lit("}")), errT).as("this"),
                    lit(errT).as(het.typeTag, md), col(ord))
                } else if (renames.exists(r => names.contains(r._2))) {
                  val renMap = renames.filter(r => names.contains(r._2))
                    .map { case (to, from) => from -> to }.toMap
                  val newFs = fs.map { case (n, t) => (renMap.getOrElse(n, n), t) }
                  val newTag = zt.fullText(zt.Rec(newFs))
                  val md = new org.apache.spark.sql.types.MetadataBuilder()
                    .putStringArray("shapes", Array(newTag)).build()
                  sub.select(fs.map { case (n, _) =>
                    col(s"`$n`").as(renMap.getOrElse(n, n)) } :+
                    lit(newTag).as(het.typeTag, md) :+ col(ord): _*)
                } else withShapes(sub, Seq(tagText))
              case _ => withShapes(sub, Seq(tagText))
            }
          }
          return Seq(combineOrdered(parts, ord))
        }
        // renaming ONTO an existing field is a per-value error
        // (rename-error-dupe ztest: every row becomes the error value)
        val dupe = renames.collectFirst {
          case (to, from) if !to.contains(".") && !from.contains(".") &&
              df.columns.contains(to) && df.columns.contains(from) && to != from => to
        }
        dupe match {
          case Some(to) =>
            val het = graft.operators.Het
            val dataF = df.schema.fields.toIndexedSeq.filterNot(f =>
              f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
            val rowText = graft.sources.ZsonIO.zsonOf(
              struct(dataF.map(f => col(s"`${f.name}`").as(f.name)): _*),
              StructType(dataF))
            val errT = s"""error({message:string,on:${Shaper.zedTypeOf(StructType(dataF))}})"""
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes", Array(errT)).build()
            Seq(df.select(
              het.errorValue(concat(
                lit(s"""{message:"rename: duplicate field: \\"$to\\"",on:"""),
                rowText, lit("}")), errT).as("this"),
              lit(errT).as(het.typeTag, md)))
          case None => Seq(ZedOps.rename(df, renames: _*))
        }

      case Stage.DynAssign(op, assigns)
          if assigns.exists(a =>
            a._1.isInstanceOf[Expr.Call] &&
              a._1.asInstanceOf[Expr.Call].fn == "__lval" ||
            op == "rename" && a._2.isInstanceOf[Expr.Call] &&
              a._2.asInstanceOf[Expr.Call].fn == "__lval") =>
        // multi-element lvals (this[a][b] :=): per-row PATHS, not names
        Seq(dynAssignMulti(single(state), op, assigns))

      case Stage.DynAssign(op, assigns) =>
        // Computed field names (this[<expr>] :=, lval.go ExprLvalElem):
        // names evaluate PER ROW, so output shapes are data-dependent —
        // evaluate names/values natively as columns, rewrite each row in
        // the value model, and re-frame through shape discovery (the same
        // distributed two-pass as typed ingestion; no driver rows).
        val df = single(state)
        val het = graft.operators.Het
        import graft.sources.{ZValue, ZType, ZsonParser, ZFormat, ZsonReader}
        val nameCols = assigns.map { case (ne, _) =>
          val c = expr(df, ne)
          if (isVariantExpr(df, ne))
            when(het.isError(c), lit(null).cast(StringType))
              .otherwise(graft.functions.ZvOps.asText(c))
          else c.cast(StringType)
        }
        val valueCols = assigns.map { case (_, ve) => outExpr(df, ve) }
        dynAssignFast(df, op, assigns, nameCols, valueCols) match {
          case Some(res) => return Seq(res)
          case None =>
            // data-dependent tail: the static branch plan declined (>16
            // distinct name tuples or runtime-typed values) — surface the
            // cliff so users see why this stage runs on the row model
            Compiler.log.warn(
              s"computed-name `$op` fell back to the per-row value model: " +
                "names are data-dependent beyond the static branch plan " +
                "(>16 shapes or runtime-typed values); expect a slower stage")
        }
        val origSchema = df.schema
        val withTemps = df.select(
          (df.columns.toIndexedSeq.map(n => col(s"`$n`")) ++
            nameCols.zipWithIndex.map { case (c, i) => c.as(s"__dynN$i") } ++
            valueCols.zipWithIndex.map { case (c, i) => c.as(s"__dynV$i") }): _*)
        val vTypes: Seq[(DataType, ZType)] =
          withTemps.schema.fields.toIndexedSeq.takeRight(assigns.length).map { f =>
            (f.dataType,
              try ZsonParser.parseType(Shaper.zedTypeOf(f.dataType))
              catch { case _: Exception => ZType.Prim("string") })
          }
        val fn = ZFormat.rowValueFn(origSchema)
        val w = origSchema.fields.length
        val k = assigns.length
        val opName = op
        val rdd = withTemps.rdd.map { row =>
          import ZValue._
          val base = fn(row)
          def errRow(msg: String): ZValue =
            VErr(VRec(Vector("message" -> VStr(msg), "on" -> base)))
          val names = (0 until k).map(i =>
            if (row.isNullAt(w + i)) null else row.getString(w + i))
          val values = (0 until k).map { i =>
            val (dt, zt) = vTypes(i)
            if (row.isNullAt(w + k + i)) VNull(zt)
            else ZValue.fromExternal(row.get(w + k + i), dt, zt)
          }
          if (names.contains(null)) errRow(s"$opName: missing")
          else {
            val dup = names.groupBy(identity).collectFirst {
              case (n, g) if g.length > 1 => n }
            opName match {
              case "put" =>
                if (dup.isDefined) errRow(s"put: multiple assignments to ${dup.get}")
                else ZValue.unwrap(base) match {
                  case VRec(fs) =>
                    var out = fs
                    names.zip(values).foreach { case (n, v) =>
                      out = if (out.exists(_._1 == n))
                        out.map { case (fn0, fv) => if (fn0 == n) fn0 -> v else fn0 -> fv }
                      else out :+ (n -> v)
                    }
                    VRec(out)
                  case _ => errRow("put: not a record")
                }
              case "cut" =>
                if (dup.isDefined) errRow(s"""cut: duplicate field: "${dup.get}"""")
                else VRec(names.zip(values).toVector)
              case _ => // rename: (newName, oldName) pairs — value exprs
                // were compiled from the old-name expr; resolve old names
                // from the SECOND element's string form
                ZValue.unwrap(base) match {
                  case VRec(fs) =>
                    var out = fs
                    names.zipWithIndex.foreach { case (newName, i) =>
                      val oldName = assigns(i)._2 match {
                        case Expr.StringLit(s) => s
                        case _ => ZValue.unwrap(values(i)) match {
                          case VStr(s) => s
                          case _ => null
                        }
                      }
                      if (oldName != null && out.exists(_._1 == oldName))
                        out = out.map { case (fn0, fv) =>
                          if (fn0 == oldName) newName -> fv else fn0 -> fv }
                    }
                    VRec(out)
                  case _ => base
                }
            }
          }
        }
        Seq(ZsonReader.fromRDD(df.sparkSession, rdd))

      case Stage.Sort(keys, nullsFirst) =>
        lastSort = keys match {
          case Seq((e, asc1)) => fieldPathOf(e).map(_ -> asc1)
          case _ => None
        }

        val df = single(state)
        val het = graft.operators.Het
        // `sort this` over a stream mixing BARE values (a `this` column)
        // and records: order by the cross-type kind rank first (errors
        // last — sort.go comparator), then within-kind keys
        val mixedBareThis = keys.map(_._1) match {
          case Seq(Expr.Path(Seq("this"))) | Seq(Expr.Path(Seq())) =>
            isTagged(df) && df.columns.contains("this") &&
              isVariant(df.schema("this").dataType) &&
              df.schema.fields.exists(f => f.name != "this" &&
                f.name != het.typeTag && !f.metadata.contains("graft.scopeVar"))
          case _ => false
        }
        val resolved =
          if (mixedBareThis) {
            val asc = keys.head._2
            val t = col("this")
            val dataF = df.schema.fields.toIndexedSeq.filterNot(f =>
              f.name == "this" || f.name == het.typeTag ||
                f.metadata.contains("graft.scopeVar"))
            val recC = struct(dataF.map(f => col(s"`${f.name}`").as(f.name)): _*)
            val recText = graft.sources.ZsonIO.zsonOf(recC, StructType(dataF))
            val rank = when(t.isNotNull, t.getField("k")).otherwise(lit(4))
            Seq((rank, asc), (het.compareKey(t), asc),
              (typeKeyUdf(col(het.typeTag)), asc), (recordKeyUdf(recText), asc))
          }
          else if (keys.nonEmpty) keys.flatMap { case (e, asc) =>
            // union-typed keys sort under the cross-type total order
            val c = expr(df, e)
            if (isVariantExpr(df, e)) Seq((compareKeyOf(df, c), asc))
            else sortKeyCols(df, e, c).map((_, asc))
          }
          else guessSortKey(df).map((_, true))
        val ordered = resolved.map { case (c, asc) =>
          (asc, nullsFirst) match {
            case (true, false) => c.asc_nulls_last
            case (true, true) => c.asc_nulls_first
            case (false, false) => c.desc_nulls_last
            case (false, true) => c.desc_nulls_first
          }
        }
        if (df.columns.contains(Compiler.rowIdCol)) {
          // lateral-body sort: order WITHIN each outer row and reassign
          // the element position so a following head/tail stays
          // per-outer-row (zed sorts the inner sequence, not the stream)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(Compiler.rowIdCol)).orderBy(ordered: _*)
          val sorted = df.orderBy(col(Compiler.rowIdCol).asc +: ordered: _*)
            .withColumn(Compiler.posCol, row_number().over(w))
          Seq(sorted.select(sorted.schema.fields.toIndexedSeq.map { f =>
            if (f.name == Compiler.posCol)
              col(f.name).as(f.name, Compiler.scopeVarMeta)
            else col(s"`${f.name}`")
          }: _*))
        } else {
          // STABLE sort (sort.md:45, sort.go SortStable): ties keep input
          // order via a partition-prefixed row id as the final key
          val ord = "__sort_ord"
          Seq(df.withColumn(ord, monotonically_increasing_id())
            .orderBy(ordered :+ col(ord).asc: _*)
            .drop(ord))
        }

      case Stage.Head(n, _) =>
        val df = single(state)
        Seq(lateralLimit(df, n, fromEnd = false).getOrElse(ZedOps.head(df, n)))

      case Stage.Tail(n, _) =>
        val df = single(state)
        Seq(lateralLimit(df, n, fromEnd = true).getOrElse {
          // tail takes the last N in STREAM order (tail.go), not by a
          // value key — order by an arrival id
          val rid = "__tail_id"
          val withId = df.withColumn(rid, monotonically_increasing_id())
          ZedOps.tail(withId, n, col(rid)).drop(rid)
        })

      case Stage.Top(n, keys) =>
        val df = single(state)
        val ks = if (keys.nonEmpty) keys.map(expr(df, _)) else guessSortKey(df)
        Seq(ZedOps.top(df, n, ks: _*))

      case Stage.Uniq(withCount) =>
        val df = single(state)
        if (withCount && isTagged(df)) {
          // uniq -c on a heterogeneous stream wraps each distinct VALUE:
          // {value:<v>, count} (uniq.go wrap:29-41)
          val het = graft.operators.Het
          val shapes = shapesOf(df)
          val dataF = df.schema.fields.toIndexedSeq.filterNot(f =>
            f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
          def containerVariant(z: Column, t: String): Column = het.mkVariant(
            lit(4), lit(null).cast(DoubleType),
            lit(null).cast(StringType), lit(null).cast(BooleanType),
            lit(t), z)
          val base: Column =
            if (dataF.map(_.name) == Seq("this") && isVariant(dataF.head.dataType))
              col("this")
            else het.variant(col(s"`${dataF.head.name}`"), dataF.head.dataType)
          val valueC = shapes.foldLeft(base) { case (acc, (t, st)) =>
            graft.sources.ZType.strip(st) match {
              case graft.sources.ZType.Rec(fs) =>
                val own = fs.flatMap { case (n, _) => dataF.find(_.name == n) }
                val z = graft.sources.ZsonIO.zsonOf(
                  struct(own.map(f => col(s"`${f.name}`").as(f.name)): _*),
                  StructType(own))
                when(col(het.typeTag) === t,
                  containerVariant(z, graft.sources.ZType.text(
                    graft.sources.ZType.strip(st)))).otherwise(acc)
              case _ => acc
            }
          }
          val rid = "__uniq_id"
          Seq(df.withColumn(rid, monotonically_increasing_id())
            .groupBy(valueC.as("value"))
            .agg(count(lit(1)).as("count"), min(col(rid)).as(rid))
            .orderBy(col(rid)).drop(rid))
        } else Seq(if (withCount) ZedOps.uniqCount(df) else ZedOps.uniq(df))

      case Stage.Summarize(aggs, keys) =>
        // groupby scrambles any upstream sort (the reference propagates
        // nil unless the group key equals the sort key — optimizer.go)
        lastSort = None
        val df0 = single(state)
        // a `quiet(path)` group key drops rows where the path is missing
        // (groupby.go quiet-key semantics)
        val df = keys.foldLeft(df0) {
          case (acc, (_, Expr.Call("quiet", Seq(Expr.Path(parts))))) =>
            acc.filter(hasPath(acc, parts))
          case (acc, _) => acc
        }
        // inside a lateral body the aggregation is per OUTER row, and the
        // scope vars (constant per outer row) ride along as extra keys
        val lateral = df.columns.contains(Compiler.rowIdCol)
        // a scope var the user explicitly groups by is an ordinary key —
        // only the others ride along implicitly
        val scopeVars = df.schema.fields
          .filter(f => f.metadata.contains("graft.scopeVar") &&
            f.name != Compiler.rowIdCol && f.name != Compiler.posCol)
          .map(_.name).toIndexedSeq
          .filterNot(n => keys.exists(_._1 == n.stripPrefix(Compiler.varPrefix)))
        // group keys in output position: a per-shape-missing key is the
        // VALUE error("missing") (groupby ztests missing-fields)
        val keyCols0 = keys.map {
          case (n, Expr.Call("quiet", Seq(p: Expr.Path))) => n -> outExpr(df, p)
          case (n, e) => n -> outExpr(df, e)
        }.map { case (n, c) =>
          // scrub inherited lateral-context metadata off declared keys so
          // the over epilogue doesn't drop a user-grouped column
          n -> c.as(n, org.apache.spark.sql.types.Metadata.empty)
        }
        // zed types the relational columns can't express ride as field
        // metadata on the agg output: typeof keys are TYPE-valued, count
        // family aggs are uint64 (writer fidelity — zjson/zson decorators)
        val zedTypeMd: Map[String, org.apache.spark.sql.types.Metadata] = (
          // a field key keeps its input zed type where the carrier can't
          // say it (uint16 on a long, float32 on a double, ip on a
          // string, named types): the field's marker, else its shapes
          keys.flatMap {
            case (n, Expr.Path(Seq(cn))) if df.columns.contains(cn) &&
                !isVariant(df.schema(cn).dataType) =>
              fieldZedType(df, cn)
                .filter(_ != Shaper.zedTypeOf(df.schema(cn).dataType))
                .map(t => n -> new org.apache.spark.sql.types.MetadataBuilder()
                  .putString("graft.zedType", t).build())
            case _ => None
          } ++
          keys.collect { case (n, Expr.Call("typeof" | "typeunder", _)) =>
            n -> new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", "type").build()
          } ++
          aggs.collect { case (n, a) if Set("count", "dcount", "count_distinct")(a.fn) =>
            n -> new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", "uint64").build()
          } ++
          aggs.collect { case (n, a) if a.fn == "any" =>
            // any() keeps the argument's exact zed type (agg math ztest:
            // any(n) over int32 renders 0(int32))
            val narrow = Set("int8", "int16", "int32",
              "uint8", "uint16", "uint32", "float16", "float32")
            val zt = a.arg.flatMap {
              case Expr.Path(Seq(cn)) =>
                df.schema.fields.find(_.name == cn).flatMap { f =>
                  if (f.metadata.contains("graft.zedType"))
                    Some(f.metadata.getString("graft.zedType"))
                  else f.dataType match {
                    case org.apache.spark.sql.types.IntegerType => Some("int32")
                    case org.apache.spark.sql.types.ShortType => Some("int16")
                    case org.apache.spark.sql.types.ByteType => Some("int8")
                    case org.apache.spark.sql.types.FloatType => Some("float32")
                    case _ =>
                      // physical columns widen; the SHAPE text holds the
                      // exact width for text-decoded inputs
                      shapesOf(df).headOption.flatMap { case (_, zt0) =>
                        graft.sources.ZType.strip(zt0) match {
                          case graft.sources.ZType.Rec(fs) =>
                            fs.collectFirst { case (`cn`, ft) =>
                              graft.sources.ZType.fullText(ft) }
                          case _ => None
                        }
                      }.filter(narrow)
                  }
                }
              case _ => None
            }
            zt.map(t => n -> new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", t).build())
          }.flatten ++
          aggs.collect { case (n, a) if a.fn == "avg" =>
            // avg is float64 — null results render null(float64)
            n -> new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", "float64").build()
          } ++
          aggs.collect { case (n, a) if a.fn == "fuse" =>
            // the fused type is a TYPE VALUE (agg/fuse.go) — renders <…>
            n -> new org.apache.spark.sql.types.MetadataBuilder()
              .putString("graft.zedType", "type").build()
          }).toMap
        // union() outputs are zed SETS — their element type is only known
        // on the agg output schema, so they mark during markZedTypes
        val unionAggs = aggs.collect { case (n, a) if a.fn == "union" => n }.toSet
        def markZedTypes(d: DataFrame): DataFrame =
          if (zedTypeMd.isEmpty && unionAggs.isEmpty) d
          else d.select(d.schema.fields.toIndexedSeq.map { f =>
            val mdOpt = zedTypeMd.get(f.name).orElse(f.dataType match {
              case ArrayType(et, _) if unionAggs.contains(f.name) =>
                // the arg's own zed-type marker (e.g. a SET collected into
                // a set-of-sets) becomes the element type
                val elemZ = aggs.collectFirst {
                  case (n2, a2) if n2 == f.name && a2.fn == "union" =>
                    a2.arg.collect {
                      case Expr.Path(ps) if ps.length == 1 =>
                        df.schema.fields.find(_.name == ps.head)
                          .filter(_.metadata.contains("graft.zedType"))
                          .map(_.metadata.getString("graft.zedType"))
                      case Expr.Path(Seq()) if shapesOf(df).nonEmpty =>
                        // union(this) over a variant stream: the element
                        // type is the canonical zed union of the stream's
                        // shapes ((int64,string), LookupTypeUnion order)
                        val zt = graft.sources.ZType
                        val distinct = shapesOf(df).map(_._2).distinct
                          .sortWith(graft.sources.ZValue.compareZTypes(_, _) < 0)
                        Some(
                          if (distinct.length == 1) zt.fullText(distinct.head)
                          else distinct.map(zt.fullText).mkString("(", ",", ")"))
                    }.flatten
                }.flatten
                Some(new org.apache.spark.sql.types.MetadataBuilder()
                  .putString("graft.zedType",
                    "|[" + elemZ.getOrElse(Shaper.zedTypeOf(et)) + "]|")
                  .build())
              case _ => None
            })
            mdOpt match {
              case Some(md) if f.metadata == org.apache.spark.sql.types.Metadata.empty =>
                col(s"`${f.name}`").as(f.name, md)
              case _ => col(s"`${f.name}`")
            }
          }: _*)
        // grouping by `this` on a typed stream keys on the VALUE AND its
        // type — the tag rides along so per-row shape survives the agg
        // (count-by-this ztest: {y:5} and {x:1,s:"foo"} are different keys)
        val tagKey =
          if (isTagged(df) && keys.exists(_._2 == Expr.Path(Seq())))
            Seq(graft.operators.Het.typeTag -> col(graft.operators.Het.typeTag))
          else Seq.empty
        val keyCols =
          if (lateral)
            (Compiler.rowIdCol -> col(Compiler.rowIdCol)) +:
              scopeVars.map(n => n -> col(n)) ++: (keyCols0 ++ tagKey)
          else keyCols0 ++ tagKey
        def nestIfDotted(d: DataFrame): DataFrame =
          if ((keys.map(_._1) ++ aggs.map(_._1)).exists(_.contains('.')))
            Shaper.nestDotted(d)
          else d
        // the reference's groupby emits KEY-SORTED output (sam/op/
        // groupby sorts its table on emit) — order by the group keys.
        // Spark meets this global sort with a range exchange (a sampling
        // job and a map stage); when AQE reads the aggregate's shuffle as
        // one partition, graft.operators.OneTaskSort sorts in the final
        // aggregate's task instead
        def keySorted(d: DataFrame): DataFrame = {
          val keyNames = keys.map(_._1).filter(d.columns.contains)
          if (lateral || keyNames.isEmpty ||
              keyNames.exists(n => graft.sources.ZsonIO.isVariantType(
                d.schema(n).dataType))) d
          // nulls LAST: the groupby emit comparator is nullsMax
          // (sam/op/groupby NewComparator(true, ...)), matching the
          // sort stage's asc_nulls_last convention
          else d.orderBy(keyNames.map(n => col(s"`$n`").asc_nulls_last): _*)
        }
        val bareAgg = keys.isEmpty && aggs.length == 1 && !aggs.head._2.named
        if (aggs.isEmpty)
          // keys-only `by` keeps the zed-type markers too (typeof keys
          // are TYPE values — union-cast ztest renders {typeof:<…>})
          Seq(nestIfDotted(markZedTypes(keySorted(graft.operators.Het.canonicalRows(
            df.select(keyCols0.map { case (n, c) => c.as(n) }: _*)).distinct()))))
        else if (bareAgg && !lateral) {
          // a lone unnamed aggregate emits the bare value (summarize.md:
          // `count()` → 3, not {count:3})
          Seq(df.agg(aggColumn(df, aggs.head._2).as("this",
            zedTypeMd.getOrElse(aggs.head._1, org.apache.spark.sql.types.Metadata.empty))))
        } else if (bareAgg && lateral) {
          // …and per outer row inside a lateral body; the row id SURVIVES
          // (marked) so later body stages stay per-outer-row. Scope vars
          // (over … with s) group along and stay marked so `{s, x:this}`
          // in the body still sees them.
          val out = ZedOps.summarize(df,
            (Compiler.rowIdCol -> col(Compiler.rowIdCol)) +:
              scopeVars.map(n => n -> col(s"`$n`")),
            aggs.map { case (n, a) => n -> aggColumn(df, a) })
          val bare = out.select(
            (col(Compiler.rowIdCol).as(Compiler.rowIdCol, Compiler.scopeVarMeta) +:
              scopeVars.map(n => col(s"`$n`").as(n, Compiler.scopeVarMeta))) :+
              col(aggs.head._1).as("this"): _*)
          // a union() result is a SET — tag the shape so writers emit |[…]|
          Seq(if (aggs.head._2.fn == "union") {
            val setT = bare.schema("this").dataType match {
              case ArrayType(et, _) => "|[" + Shaper.zedTypeOf(et) + "]|"
              case other => Shaper.zedTypeOf(other)
            }
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes", Array(setT)).build()
            bare.withColumn(graft.operators.Het.typeTag, lit(setT))
              .select((col(Compiler.rowIdCol) +:
                scopeVars.map(n => col(s"`$n`"))) ++ Seq(
                col("this"),
                col(graft.operators.Het.typeTag)
                  .as(graft.operators.Het.typeTag, md)): _*)
          } else bare)
        } else {
          val out = ZedOps.summarize(df, keyCols,
            aggs.map { case (n, a) => n -> aggColumn(df, a) })
          val restored =
            if (tagKey.nonEmpty)
              // restore the shapes metadata the groupBy stripped
              out.select(out.schema.fields.toIndexedSeq.map { f =>
                if (f.name == graft.operators.Het.typeTag)
                  col(f.name).as(f.name, df.schema(graft.operators.Het.typeTag).metadata)
                else col(s"`${f.name}`")
              }: _*)
            else out
          Seq(nestIfDotted(markZedTypes(keySorted(if (lateral) {
            // re-mark the scope vars and the surviving row id (metadata
            // does not survive groupBy); per-OUTER-ROW results come back
            // in input order (traverse/over.go emits per outer value)
            restored.orderBy(col(Compiler.rowIdCol))
              .select(restored.schema.fields.toIndexedSeq.map { f =>
              if (scopeVars.contains(f.name) || f.name == Compiler.rowIdCol)
                col(f.name).as(f.name, Compiler.scopeVarMeta)
              else col(f.name)
            }: _*)
          } else restored))))
        }

      case Stage.Join(style, rightPipe, lk, rk, graftFields) =>
        // the LEFT side's sort direction must be read before the right
        // pipeline compiles (its sorts would clobber the tracker)
        // only adopt the upstream direction when the sorted key IS the
        // left join key (optimizer.go propagateSortKeyOp)
        val leftSortAsc: Option[Boolean] = lastSort.collect {
          case (p, asc1) if fieldPathOf(lk).contains(p) => asc1
        }
        // with no right sub-pipeline the upstream's LAST branch is the
        // right side and the rest the left (fork | join on k=k)
        val (left, right0) = rightPipe match {
          case Some(p) => (single(state), combineAll(compilePipeline(None, p)))
          case None =>
            require(state.length >= 2, "join with no sub-pipeline needs two upstream branches")
            (combineAll(state.dropRight(1)), state.last)
        }
        // the branch form joins two legs of the SAME scan — rename the
        // right side so the join has distinct attributes (no self-join
        // ambiguity); the rename is a projection, not a copy. Only
        // engaged when every right-side expr is a simple path (else the
        // compiled exprs would reference pre-rename attributes)
        def simplePath(e: Expr): Boolean = e match {
          case Expr.Path(parts0) =>
            val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
            // `this` (the whole right record, eaterinfo:=this) is simple:
            // it becomes a struct over the renamed columns
            parts.isEmpty || right0.columns.contains(parts.head)
          // quiet(path) grafts resolve through the rename too (cut-like)
          case Expr.Call("quiet", Seq(p: Expr.Path)) => simplePath(p)
          case _ => false
        }
        val renameOk = simplePath(rk) && graftFields.forall(g => simplePath(g._2))
        // rows whose key path is MISSING per shape never participate
        // (join kinds ztest: the merge join skips error("missing") keys
        // on both sides; explicit null keys still match null-safely)
        def presentOnly(df0: DataFrame, k: Expr): DataFrame = k match {
          case p: Expr.Path if p.parts.nonEmpty && isTagged(df0) &&
              shapesOf(df0).length > 1 =>
            df0.filter(hasPath(df0, p.parts))
          case _ => df0
        }
        val right0f = presentOnly(right0, rk)
        val rjPre = if (renameOk) "__rj_" else ""
        val right = if (renameOk)
          right0f.select(right0f.columns.toIndexedSeq.map(n =>
            col(s"`$n`").as(rjPre + n)): _*)
        else right0f
        // DATAFRAME-qualified columns for simple paths: both sides often
        // share names (join on name=name, eater:=name) and an unqualified
        // col() is ambiguous after the join
        def leftExpr(e: Expr): Column = e match {
          case Expr.Path(parts0) =>
            val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
            if (parts.nonEmpty && left.columns.contains(parts.head))
              parts.tail.foldLeft(left.col(parts.head))(_.getField(_))
            else expr(left, e)
          case _ => expr(left, e)
        }
        def rightExpr(e: Expr): Column = e match {
          case Expr.Path(parts0) =>
            val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
            if (parts.isEmpty) {
              // the whole right record (eaterinfo:=this): struct over
              // the renamed right columns, original field names
              val dataCols = right0.schema.fields.toIndexedSeq.filterNot(f =>
                f.name == graft.operators.Het.typeTag ||
                  f.metadata.contains("graft.scopeVar"))
              struct(dataCols.map(f => col(s"`$rjPre${f.name}`").as(f.name)): _*)
            } else if (right0.columns.contains(parts.head))
              parts.tail.foldLeft(col(s"`$rjPre${parts.head}`"))(_.getField(_))
            else expr(right0, e) // non-path exprs compile against the original
          case Expr.Call("quiet", Seq(p: Expr.Path)) if rjPre.nonEmpty =>
            // quiet over a renamed right column: the value when present,
            // error("quiet") when null/absent — the boxed quiet error
            // drops the field at output (cut.md quiet)
            val het = graft.operators.Het
            val inner = rightExpr(p)
            val idt = dtOr(right, inner, StringType)
            when(inner.isNull, het.errQuiet).otherwise(het.variant(inner, idt))
          case _ => expr(right0, e)
        }
        // field assignments draw from the NON-OUTPUT side: a right join
        // emits right records with fields pulled from the left
        // (join.md right-join: fruit:=name takes the fruit's name)
        val graftSide: Expr => Column =
          if (style == "right") leftExpr else rightExpr
        val leftIn = presentOnly(left, lk)
        val joined = ZedOps.join(
          leftIn, right,
          leftExpr(lk), rightExpr(rk), style,
          graftFields.map { case (n, e) => n -> graftSide(e) })
        // un-prefix anything that survived from the right (right joins
        // keep the right record as the base)
        val unPrefixed = if (rjPre.isEmpty) joined
        else joined.select(joined.columns.toIndexedSeq.map { n =>
          if (n.startsWith(rjPre)) col(s"`$n`").as(n.stripPrefix(rjPre))
          else col(s"`$n`")
        }: _*)
        // the base side's shape tags predate the grafted fields — extend
        // each shape text so downstream spreads/typeof see the join's
        // real output shape
        val out = if (graftFields.nonEmpty && unPrefixed.columns.contains(
            graft.operators.Het.typeTag)) {
          val graftTypes: Seq[(String, String)] = graftFields.map { case (n, ge) =>
            // a simple-path graft keeps the SOURCE side's exact zed type
            // (its shape text) — physical columns widen int32 to long
            val srcDf = if (style == "right") left else right0
            val fromShape = ge match {
              case Expr.Path(parts0) =>
                val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
                parts.headOption.flatMap { pn =>
                  shapesOf(srcDf).headOption.flatMap { case (_, zt0) =>
                    graft.sources.ZType.strip(zt0) match {
                      case graft.sources.ZType.Rec(fs) =>
                        fs.collectFirst { case (`pn`, ft) =>
                          parts.tail.foldLeft(Option(ft)) {
                            case (Some(graft.sources.ZType.Rec(fs2)), leaf) =>
                              fs2.collectFirst { case (`leaf`, ft2) => ft2 }
                            case _ => None
                          }
                        }.flatten.map(graft.sources.ZType.fullText)
                      case _ => None
                    }
                  }
                }
              case _ => None
            }
            val dt = unPrefixed.schema.fields.find(_.name == n)
              .map(_.dataType).getOrElse(StringType)
            n -> fromShape.getOrElse(Shaper.zedTypeOf(dt))
          }
          def extend(t: String): String =
            if (t.endsWith("}"))
              t.dropRight(1) +
                graftTypes.map { case (n, tt) => s",$n:$tt" }.mkString + "}"
            else t
          val tagF = unPrefixed.schema(graft.operators.Het.typeTag)
          val oldShapes =
            if (tagF.metadata.contains("shapes"))
              tagF.metadata.getStringArray("shapes").toSeq
            else Seq.empty
          val newShapes = oldShapes.map(extend)
          val hasMarker = unPrefixed.columns.contains(ZedOps.matchedCol)
          // unmatched OUTER rows keep their pre-join shape (the grafted
          // fields exist only on matched rows, join.md)
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putStringArray("shapes",
              (if (hasMarker) newShapes ++ oldShapes else newShapes)
                .distinct.toArray).build()
          val tagC0 = oldShapes.zip(newShapes).foldLeft(
            col(s"`${graft.operators.Het.typeTag}`")) { case (acc, (o, nw)) =>
            when(col(s"`${graft.operators.Het.typeTag}`") === o, lit(nw)).otherwise(acc)
          }
          val tagC = if (hasMarker)
            when(col(s"`${ZedOps.matchedCol}`"), tagC0)
              .otherwise(col(s"`${graft.operators.Het.typeTag}`"))
          else tagC0
          unPrefixed.select(unPrefixed.schema.fields.toIndexedSeq.flatMap { f =>
            if (f.name == ZedOps.matchedCol) None
            else if (f.name == graft.operators.Het.typeTag) Some(tagC.as(f.name, md))
            else Some(col(s"`${f.name}`").as(f.name, f.metadata))
          }: _*)
        } else if (unPrefixed.columns.contains(ZedOps.matchedCol))
          unPrefixed.drop(ZedOps.matchedCol)
        else unPrefixed
        // the reference's join MERGES key-sorted inputs, so its output is
        // KEY-ORDERED: ascending unless an input arrives pre-sorted
        // descending (join auto-sort ztest; the left side's order wins)
        val dirAsc: Boolean = leftSortAsc.orElse(
          rightPipe.flatMap(_.stages.reverse.collectFirst {
            case Stage.Sort(Seq((e2, asc2)), _)
                if fieldPathOf(e2).nonEmpty &&
                   fieldPathOf(e2) == fieldPathOf(rk) => asc2
          })).getOrElse(true)
        val keyOut: Option[Column] =
          (if (style == "right") rk else lk) match {
            case Expr.Path(parts0) =>
              val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
              if (parts.nonEmpty && out.columns.contains(parts.head))
                Some(parts.tail.foldLeft(col(s"`${parts.head}`"))(_.getField(_)))
              else None
            case _ => None
          }
        val ordTie =
          if (out.columns.contains(ZedOps.orderCol))
            Seq(col(s"`${ZedOps.orderCol}`").asc_nulls_first)
          else Seq.empty
        val sorted = keyOut match {
          case Some(k) =>
            out.orderBy(Seq(k.isNull.asc,
              if (dirAsc) k.asc else k.desc) ++ ordTie: _*)
          case None => out
        }
        // post-join sort order is unspecified downstream (optimizer.go
        // returns nil sort keys after a join); also drops any tracker
        // state the right pipeline's own sorts left behind
        lastSort = None
        Seq(if (sorted.columns.contains(ZedOps.orderCol))
          sorted.drop(ZedOps.orderCol) else sorted)

      case Stage.Output(name) =>
        namedOut += name -> single(state)
        Seq.empty

      case Stage.Fork(branches) =>
        // at pipeline head (`from ( file a  file b )`) the branches are
        // their own sources; mid-pipeline they share the upstream scan
        if (state.isEmpty) branches.flatMap(b => compilePipeline(None, b))
        else {
          val df = single(state)
          branches.flatMap(b => compilePipeline(Some(df), b))
        }

      case Stage.Switch(subject, cases, default) =>
        compileSwitch(single(state), subject, cases, default)

      case Stage.Merge(keys) =>
        val df = single(state) // union of branches
        Seq(ZedOps.sort(df, keys.map { case (e, asc) => (expr(df, e), asc) }: _*))

      case Stage.Combine => Seq(single(state))

      case Stage.Over(exprs, withVars, body) =>
        val df = single(state)
        // over semantics (traverse/over.go): arrays → elements, maps →
        // {key,value} records, union-typed containers → boxed members,
        // other values → themselves
        def exprDt(e: Expr): DataType = dtypeOf(df, e).getOrElse(
          try df.select(expr(df, e)).schema.head.dataType
          catch { case _: Exception => NullType })
        def asElems(e: Expr): Column = {
          val c = expr(df, e)
          exprDt(e) match {
            case _: ArrayType => c
            case _: MapType =>
              transform(map_entries(c), kv =>
                struct(kv.getField("key").as("key"), kv.getField("value").as("value")))
            case st: StructType if isVariant(st) =>
              coalesce(graft.functions.ZvOps.elems(c), array(c))
            case st: StructType =>
              // over a record: one {key:[name],value} entry per field
              // (traverse/over.go records); mixed value types box
              val dataF = st.fields.toIndexedSeq.filterNot(f =>
                f.name == graft.operators.Het.typeTag ||
                  f.metadata.contains("graft.scopeVar"))
              val mixed = dataF.map(_.dataType).distinct.length > 1
              array(dataF.map { f =>
                val v = if (mixed) graft.operators.Het.variant(c.getField(f.name), f.dataType)
                        else c.getField(f.name)
                struct(array(lit(f.name)).as("key"), v.as("value"))
              }: _*)
            case _ => array(c)
          }
        }
        val arrs = exprs.map(asElems)
        val one =
          if (arrs.length == 1) arrs.head
          else {
            // mixed element types across sources → box everything
            val dts = exprs.map(exprDt)
            val elemDts = dts.map { case ArrayType(et, _) => et; case other => other }
            if (elemDts.distinct.length == 1) concat(arrs: _*)
            else concat(exprs.zip(dts).map {
              case (e, ArrayType(et, _)) if !isVariant(et) =>
                transform(expr(df, e), x => graft.operators.Het.variant(x, et))
              case (e, dt) if !dt.isInstanceOf[ArrayType] &&
                  !dt.isInstanceOf[MapType] && !isVariant(dt) &&
                  !dt.isInstanceOf[StructType] =>
                // mixed-type scalar sources box too (over 1,2,"foo")
                array(graft.operators.Het.variant(expr(df, e), dt))
              case (e, _) => asElems(e)
            }: _*)
          }
        val elem = explode(one)
        // scope vars and the outer-row id are lateral-body context, not
        // data: marked via column metadata so `this` and the writer skip
        // them, and body aggregations group per outer row (zed's lateral
        // scope, docs/language/lateral-subqueries.md)
        // scope vars live under a reserved prefix so a same-named DATA
        // field (e.g. yielded later in the body) cannot collide; path
        // resolution gives the var lexical priority (lateral-subqueries.md)
        val kept = withVars.map { case (n, e) =>
          expr(df, e).as(Compiler.varPrefix + n, Compiler.scopeVarMeta) }
        body match {
          case None =>
            // when the source path's ELEMENT zed type says more than the
            // Spark carrier (named records, decorated containers), tag the
            // exploded stream with it so downstream paths keep fidelity
            // (vng no-dict: over Fields preserves Field={...Dict:[DictEntry…]})
            val elemZt: Option[String] = exprs match {
              case Seq(p: Expr.Path) =>
                staticZedName(df, p).flatMap { t =>
                  val zt = graft.sources.ZType
                  try zt.strip(graft.sources.ZsonParser.parseType(t)) match {
                    case zt.Arr(e2) => Some(zt.fullText(e2))
                    case zt.SetT(e2) => Some(zt.fullText(e2))
                    case _ => None
                  } catch { case _: Exception => None }
                }.filter { t =>
                  dtypeOf(df, p) match {
                    case Some(ArrayType(et, _)) => Shaper.zedTypeOf(et) != t
                    case _ => false
                  }
                }
              case _ => None
            }
            elemZt match {
              case Some(t) =>
                val het2 = graft.operators.Het
                val md = new org.apache.spark.sql.types.MetadataBuilder()
                  .putStringArray("shapes", Array(t)).build()
                Seq(df.select(kept ++ Seq(elem.as("this"),
                  lit(t).as(het2.typeTag, md)): _*))
              case None => Seq(df.select(kept :+ elem.as("this"): _*))
            }
          case Some(p) =>
            // the outer-row id must bind BEFORE the explode generator runs
            // (inside the same projection it would number the elements);
            // stale lateral context from an enclosing over is replaced
            val base = df.drop(Compiler.rowIdCol, Compiler.posCol)
            val withId = base.select(
              monotonically_increasing_id().as(Compiler.rowIdCol, Compiler.scopeVarMeta) +:
                base.columns.toIndexedSeq.map(n => col(s"`$n`")): _*)
            // an ENCLOSING lateral scope's vars stay visible in this body
            // (lexical scoping); this over's own vars shadow same names
            val outerCtx = base.schema.fields.toIndexedSeq
              .filter(f => f.metadata.contains("graft.scopeVar") &&
                !withVars.exists(_._1.equalsIgnoreCase(f.name)))
              .map(f => col(s"`${f.name}`"))
            val raw = withId.select(
              col(Compiler.rowIdCol) +: (outerCtx ++ kept) :+
                posexplode(one).as(Seq(Compiler.posCol, "this")): _*)
            // mark the element position as context (head/tail in the body
            // are per outer row, windowed on it)
            val exploded = raw.select(raw.columns.toIndexedSeq.map { n =>
              if (n == Compiler.posCol) col(n).as(n, Compiler.scopeVarMeta) else col(s"`$n`")
            }: _*)
            val frames = compilePipeline(Some(exploded), p)
            val ctxNames = withVars.map(v => Compiler.varPrefix + v._1).toSet +
              Compiler.rowIdCol + Compiler.posCol
            Seq(combineAll(frames.map { f =>
              // drop lateral context by NAME (aliases inherit metadata, so
              // a metadata test would eat renamed outputs), and scrub the
              // marker off everything that stays
              val keep = f.schema.fields.toIndexedSeq.filterNot(x =>
                ctxNames(x.name) && x.metadata.contains("graft.scopeVar"))
              f.select(keep.map(x =>
                // an ENCLOSING over's context must keep its marker so the
                // enclosing epilogue can drop it in turn
                if (x.name == graft.operators.Het.typeTag ||
                    x.name.startsWith(Compiler.varPrefix) ||
                    x.name == Compiler.rowIdCol || x.name == Compiler.posCol)
                  col(s"`${x.name}`")
                else col(s"`${x.name}`").as(x.name,
                  // scrub the scope marker but KEEP zed-type markers
                  // (set-ness from union(), uint64 counts, type values)
                  if (x.metadata.contains("graft.zedType"))
                    new org.apache.spark.sql.types.MetadataBuilder()
                      .putString("graft.zedType",
                        x.metadata.getString("graft.zedType")).build()
                  else org.apache.spark.sql.types.Metadata.empty)): _*)
            }))
        }

      case Stage.Yield(exprs) =>
        val df = single(state)
        // lateral context (scope vars, outer-row id/pos) survives a yield
        // — zed's lateral scope is lexical, the body's `this` replacement
        // does not end it (docs/language/lateral-subqueries.md); collide
        // with a yielded name and the yielded field wins
        def ctxCols(names: Set[String]): Seq[Column] =
          df.schema.fields.toIndexedSeq
            .filter(f => f.metadata.contains("graft.scopeVar") &&
              !names.exists(_.equalsIgnoreCase(f.name))) // Spark resolves names case-insensitively
            .map(f => col(s"`${f.name}`"))
        exprs match {
          case Seq(Expr.RecordLit(fields)) if fields.exists(_._1 == "...") &&
              shapesOf(df).nonEmpty && fields.forall {
                case ("...", Expr.Path(_)) => true
                case ("...", _) => false
                case _ => true
              } =>
            // spread over a typed stream: each row spreads ITS OWN fields
            // (record-spread ztest) — later entries win PER ROW, and the
            // output keeps per-row shape
            val zt = graft.sources.ZType
            val shapes = shapesOf(df)
            val entries = scala.collection.mutable.LinkedHashMap.empty[String, Column]
            // which spread contributes each name, per shape (for the tag)
            val spreadOf = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
            val literalNames = scala.collection.mutable.LinkedHashSet.empty[String]
            fields.foreach {
              case ("...", p @ Expr.Path(ps)) =>
                val parts = if (ps.headOption.contains("this")) ps.tail else ps
                val perShape: Seq[(String, graft.sources.ZType.Rec)] = shapes.flatMap {
                  case (t, st) => pathIn(st, parts).flatMap(r => zt.strip(r) match {
                    case rec: graft.sources.ZType.Rec => Some(t -> rec)
                    case _ => None
                  })
                }
                val names = perShape.flatMap(_._2.fields.map(_._1)).distinct
                names.foreach { n =>
                  val has = perShape.collect {
                    case (t, rec) if rec.fields.exists(_._1 == n) => t
                  }
                  val cond = col(graft.operators.Het.typeTag).isin(has: _*)
                  val v = outExpr(df, Expr.Path(parts :+ n))
                  entries.get(n) match {
                    case Some(prev) =>
                      val (pv, nv) = unifyPair(df, prev, v)
                      entries(n) = when(cond, nv).otherwise(pv)
                    case None => entries(n) = when(cond, v)
                  }
                  // accumulate across spreads: a name stays in the output
                  // shape when ANY spread contributed it for that shape
                  spreadOf(n) = (spreadOf.getOrElse(n, Seq.empty) ++ has).distinct
                }
              case (n, e) =>
                val v = outExpr(df, e)
                entries.get(n) match {
                  case Some(prev) =>
                    val (_, nv) = unifyPair(df, prev, v)
                    entries(n) = nv
                  case None => entries(n) = v
                }
                literalNames += n
                spreadOf.remove(n)
            }
            val out0 = df.select(entries.toSeq.map { case (n, c) =>
              c.as(n, org.apache.spark.sql.types.Metadata.empty) }: _*)
            // per-row OUTPUT shape: literal names always, spread names
            // only when the row's shape contributed them
            val shapeTexts = shapes.map { case (t, _) =>
              val names = entries.keys.toSeq.filter(n =>
                literalNames.contains(n) || spreadOf.get(n).exists(_.contains(t)))
              t -> names.map(n => s"${zt.fieldName(n)}:" +
                Shaper.zedTypeOf(out0.schema(n).dataType)).mkString("{", ",", "}")
            }
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes",
                shapeTexts.map(x => x._2).distinct.toArray).build()
            val tagC = shapeTexts.foldLeft(lit(shapeTexts.head._2): Column) {
              case (acc, (t, txt)) =>
                when(col(graft.operators.Het.typeTag) === t, lit(txt)).otherwise(acc)
            }
            Seq(df.select(entries.toSeq.map { case (n, c) =>
              c.as(n, org.apache.spark.sql.types.Metadata.empty) } :+
              tagC.as(graft.operators.Het.typeTag, md): _*))
          case Seq(rec @ Expr.RecordLit(fields)) if fields.exists(_._1 == "...") =>
            // spreads need expression-level expansion, then unpack
            val ctx = ctxCols(Set.empty)
            val recC = expr(df, rec)
            if (isVariantExpr(df, rec)) {
              // runtime-typed spread: the record is a boxed value — carry
              // it as `this` with its per-row type as the shape tag
              val md = new org.apache.spark.sql.types.MetadataBuilder()
                .putStringArray("shapes", Array("{}")).build()
              Seq(df.select(ctx :+ recC.as("this",
                org.apache.spark.sql.types.Metadata.empty) :+
                coalesce(recC.getField("t"), lit("{}"))
                  .as(graft.operators.Het.typeTag, md): _*))
            } else {
              val packed = df.select(ctx :+ recC.as("__r"): _*)
              val ctxNames = packed.columns.filter(_ != "__r").toIndexedSeq
              Seq(packed.select(ctxNames.map(n => col(s"`$n`")) :+ col("__r.*"): _*))
            }
          case Seq(Expr.RecordLit(fields)) if isTagged(df) &&
              shapesOf(df).nonEmpty &&
              df.schema.fields.forall(!_.metadata.contains("graft.scopeVar")) &&
              fields.forall {
                case (n, Expr.Path(ps0)) =>
                  val ps = if (ps0.headOption.contains("this")) ps0.tail else ps0
                  ps == Seq(n)
                case _ => false
              } =>
            // a pure projection record ({min,max}) on a TYPED stream is
            // cut: the per-shape narrowing keeps zed types (time/ip) that
            // a plain struct projection would flatten to carriers
            compileStage(Seq(df), Stage.Cut(fields.map { case (n, _) => (n, None) }))
          case Seq(Expr.RecordLit(fields)) =>
            // explicit empty metadata: aliases inherit the child's, and a
            // lateral scope var's marker must not taint a yielded field —
            // but a source column's zed-type marker (set-ness, uint64,
            // type values) must survive the projection
            def mdFor(e: Expr): org.apache.spark.sql.types.Metadata = e match {
              case Expr.Path(ps0) =>
                val ps = if (ps0.headOption.contains("this")) ps0.tail else ps0
                ps.headOption.flatMap(h =>
                  df.schema.fields.find(_.name == h))
                  .filter(f => ps.length == 1 && f.metadata.contains("graft.zedType"))
                  .map(f => new org.apache.spark.sql.types.MetadataBuilder()
                    .putString("graft.zedType", f.metadata.getString("graft.zedType"))
                    .build())
                  .getOrElse(org.apache.spark.sql.types.Metadata.empty)
              case _ => org.apache.spark.sql.types.Metadata.empty
            }
            Seq(df.select(ctxCols(fields.map(_._1).toSet) ++ fields.map { case (n, e) =>
              outExpr(df, e).as(n, mdFor(e))
            }: _*))
          case Seq(Expr.Path(Seq()) | Expr.Path(Seq("this")))
              if !df.columns.contains("this") =>
            // `yield this` over a FRAME is the identity (yield.go emits
            // the input value unchanged): the frame — tag column, shape
            // metadata, zed-type markers — passes through untouched, so
            // per-shape union decoration survives to the writer
            Seq(df)
          case Seq(e) =>
            // a single non-record yield emits the bare VALUE (yield.go);
            // it is carried as `this` so downstream stages address it.
            // error("quiet") values vanish from the stream (writers drop
            // them in the reference; the quiet ztests pin this)
            val thisMd = e match {
              // typeof yields a TYPE VALUE — writers re-emit <…>
              case Expr.Call("typeof" | "typeunder", _) =>
                new org.apache.spark.sql.types.MetadataBuilder()
                  .putString("graft.zedType", "type").build()
              case p: Expr.Path =>
                // a path whose zed type says more than the Spark carrier
                // (named/decorated containers, float32 over a double, its
                // arrays and sets) marks the bare value so the writer
                // decorates it (vng no-dict: Dict's typed null)
                // A bare stream keeps its type even where the carrier
                // implies it: its nulls are typed (null(int64) beside 1)
                staticZedName(df, p).filter(t => dtypeOf(df, p)
                    .forall(dt2 => Shaper.zedTypeOf(dt2) != t))
                  .orElse(bareValueType(df, p))
                  .map(t => new org.apache.spark.sql.types.MetadataBuilder()
                    .putString("graft.zedType", t).build())
                  .getOrElse(org.apache.spark.sql.types.Metadata.empty)
              case _ => org.apache.spark.sql.types.Metadata.empty
            }
            val out = df.select(ctxCols(Set("this")) :+
              outExpr(df, e).as("this", thisMd): _*)
            val isVar = isVariant(out.schema("this").dataType)
            val filtered =
              if (isVar) out.filter(col("this").isNull ||
                !(graft.operators.Het.isError(col("this")) &&
                  // null-payload errors have z NULL — keep them (a null
                  // predicate would silently drop the row)
                  coalesce(col("this").getField("z") === lit("\"quiet\""), lit(false))))
              else out
            Seq(filtered)
          case many =>
            // N exprs per input value, left-to-right (yield.go:1-47);
            // mixed result types box into variants (zed forms a union).
            // TYPE-VALUED exprs (typeof / a type-value stream) are
            // StringType natively but a DIFFERENT zed type — box them
            // with t="type" so writers re-emit <…>
            def isTypeValued(e: Expr): Boolean = e match {
              case Expr.Path(ps) =>
                val parts = if (ps.headOption.contains("this")) ps.tail else ps
                val ts = shapesOf(df).flatMap(s => pathIn(s._2, parts))
                  .map(graft.sources.ZType.strip)
                ts.nonEmpty && ts.forall(_ == graft.sources.ZType.Prim("type"))
              case Expr.Call("typeof" | "typeunder", _) => true
              case _ => false
            }
            val cols = many.map(e => outExpr(df, e))
            val dts = cols.map(c =>
              dtOr(df, c, StringType))
            val anyTyped = many.exists(isTypeValued)
            // `this` over a frame whose columns carry zed-type markers
            // (set-ness, uint64, type values): box with the marked record
            // type so the value renders |[…]| etc. (aggregates/union.md)
            def markedRecType(e: Expr): Option[graft.sources.ZType] = e match {
              case Expr.Path(Seq()) | Expr.Path(Seq("this"))
                  if !isTagged(df) && df.schema.fields.exists(f =>
                    f.metadata.contains("graft.zedType") &&
                    !f.metadata.contains("graft.scopeVar")) =>
                try {
                  val fs = df.schema.fields.toIndexedSeq
                    .filterNot(f => f.metadata.contains("graft.scopeVar"))
                    .map { f =>
                      f.name -> (
                        if (f.metadata.contains("graft.zedType"))
                          graft.sources.ZsonParser.parseType(
                            f.metadata.getString("graft.zedType"))
                        else graft.sources.ZsonParser.parseType(
                          Shaper.zedTypeOf(f.dataType)))
                    }
                  Some(graft.sources.ZType.Rec(fs.toVector))
                } catch { case _: Exception => None }
              case _ => None
            }
            val boxed =
              if (dts.distinct.length <= 1 && !anyTyped) cols
              else cols.zip(dts).zip(many).map {
                case ((c, _), e) if isTypeValued(e) =>
                  graft.operators.Het.typeValueVariant(c)
                case ((c, dt), Expr.Path(Seq()) | Expr.Path(Seq("this")))
                    if isTagged(df) && shapesOf(df).nonEmpty =>
                  // box `this` with its PER-ROW shape type: t rides the
                  // tag and z renders per shape, so union-typed record
                  // members keep their decoration in the boxed value
                  // ({a:1,b:2((int64,float64))} — vam arith/compare)
                  val het2 = graft.operators.Het
                  val zOv = shapesOf(df).foldRight(
                      lit(null).cast(StringType): Column) {
                    case ((t, st), acc) =>
                      when(col(het2.typeTag) === t,
                        graft.sources.ZsonIO.zsonOfTyped(c, dt, Some(st)))
                        .otherwise(acc)
                  }
                  het2.variant(c, dt, Some(col(het2.typeTag)), Some(zOv))
                case ((c, dt), e) => markedRecType(e) match {
                  case Some(zt) => graft.operators.Het.variant(c, dt,
                    Some(lit(graft.sources.ZType.fullText(zt))),
                    Some(graft.sources.ZsonIO.zsonOfTyped(c, dt, Some(zt))))
                  case None => graft.operators.Het.variant(c, dt)
                }
              }
            Seq(df.select(ctxCols(Set("this")) :+ explode(array(boxed: _*))
              .as("this", org.apache.spark.sql.types.Metadata.empty): _*))
        }

      case Stage.Explode(zedType, as, roots) =>
        val df0 = single(state)
        val df =
          if (roots.isEmpty) df0
          else {
            // each root addresses a (possibly nested) subtree; the leaf
            // walk is rooted there and everything else is pruned
            val rootCols = roots.zipWithIndex.flatMap { case (r, i) =>
              val parts = r.split("\\.").toSeq
              if (!df0.columns.contains(parts.head)) None
              else if (parts.length == 1) Some(col(s"`$r`"))
              else Some(parts.tail.foldLeft(col(s"`${parts.head}`"))(_.getField(_))
                .as(s"__explode_root$i"))
            }
            df0.select((rootCols ++
              (if (df0.columns.contains(graft.operators.Het.typeTag))
                 Seq(col(graft.operators.Het.typeTag)) else Seq.empty)): _*)
          }
        Seq(ZedOps.explodeByType(df, zedType, as))

      case Stage.Sample(subject) =>
        val df = single(state)
        subject match {
          case None => Seq(graft.operators.Het.sampleByType(df))
          // `sample this` ≡ bare sample: one value per row TYPE, keeping
          // each representative's own shape (sample.md)
          case Some(Expr.Path(Seq())) | Some(Expr.Path(Seq("this"))) =>
            Seq(graft.operators.Het.sampleByType(df))
          case Some(e) =>
            // one representative VALUE per distinct type of e (sample.md)
            // — the FIRST in stream order, pinned by a monotonic row id
            // so multi-partition execution stays deterministic
            val c = expr(df, e)
            val tcol =
              if (isVariantExpr(df, e)) graft.operators.Het.variantTypeOf(c)
              else lit(Shaper.zedTypeOf(
                dtOr(df, c, StringType)))
            Seq(df.withColumn("__sample_ord", monotonically_increasing_id())
              .filter(c.isNotNull)
              .groupBy(tcol.as("__sample_t"))
              .agg(min_by(c, col("__sample_ord"))
                .as("this", org.apache.spark.sql.types.Metadata.empty))
              .drop("__sample_t"))
        }

      case Stage.Fuse =>
        // relational union already merged the columns; fuse additionally
        // RETYPES every row to the single fused record type (fuse.go) so
        // writers emit every field on every row
        val df = single(state)
        val shapes = shapesOf(df)
        // a runtime-typed variant stream (`over <array> | fuse`): the
        // distinct types are DATA, not schema — read them from the static
        // union tag when the over-stage boxing recorded one (no data
        // pass), else collect them (small: one text per distinct type),
        // fuse, and reshape every boxed value
        if (df.columns.contains("this") &&
            isVariant(df.schema("this").dataType) && shapes.length <= 1) {
          val het = graft.operators.Het
          val zt = graft.sources.ZType
          // data-driven fidelity (fuse.go fuses only types actually SEEN):
          // a row-dropping stage between the boxing and the fuse can
          // eliminate a whole alt, and the static union tag cannot see
          // that. Only then pay a tag-only distinct (column-pruned,
          // partial-agg — not a full-value pass) and intersect; a plan
          // with no row-dropping operator keeps the zero-pass static path.
          def mayDropRows: Boolean = {
            import org.apache.spark.sql.catalyst.plans.logical._
            df.queryExecution.logical.exists {
              case _: Filter | _: LocalLimit | _: GlobalLimit | _: Sample |
                   _: Join | _: Except | _: Intersect | _: Deduplicate => true
              case _ => false
            }
          }
          def observedTags(): Set[String] =
            df.select(het.variantTypeOf(col("this")).as("t"))
              .distinct().collect().map(_.getString(0)).filter(_ != null).toSet
          val parsed: Seq[graft.sources.ZType] = shapes match {
            case Seq((_, u)) => zt.strip(u) match {
              case zt.Union(alts) =>
                if (!mayDropRows) alts
                else {
                  val seen = observedTags()
                  val kept = alts.filter(a => seen.contains(zt.fullText(a)))
                  if (kept.nonEmpty) kept else alts
                }
              case _ => Seq(u)
            }
            case _ =>
              val texts = df.select(het.variantTypeOf(col("this")).as("t"))
                .distinct().collect().map(_.getString(0)).filter(_ != null)
              val p = texts.flatMap(t =>
                try Some(graft.sources.ZsonParser.parseType(t))
                catch { case _: Exception => None })
              if (p.length == texts.length) p.toIndexedSeq else Seq.empty
          }
          if (parsed.length >= 2 &&
              parsed.forall(t => zt.strip(t).isInstanceOf[zt.Rec])) {
            val fusedText = zt.fullText(parsed.reduce(zt.fuse))
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes", Array(fusedText)).build()
            // native row-level reshape (FuseReshape expression) — the
            // boxed-stream fuse stays off ScalaUDF (PlanSpec pins this);
            // the tag (when present) collapses to the fused record type
            return Seq(df.select(df.schema.fields.toIndexedSeq.map { f =>
              if (f.name == "this")
                graft.functions.Bridge.column(graft.functions.FuseReshape(
                  graft.functions.Bridge.expression(col("this")), fusedText))
                  .as("this", f.metadata)
              else if (f.name == het.typeTag)
                lit(fusedText).as(het.typeTag, md)
              else col(s"`${f.name}`")
            }: _*))
          }
          if (shapes.isEmpty) return Seq(df)
        }
        // record and NON-record shapes can't merge into one record type —
        // zed forms a union and every value keeps its own shape (fuse.go)
        if (shapes.length <= 1 ||
            shapes.exists(s => !graft.sources.ZType.strip(s._2)
              .isInstanceOf[graft.sources.ZType.Rec])) Seq(df)
        else {
          val zt = graft.sources.ZType
          val fusedText = zt.fullText(shapes.map(_._2).reduce(zt.fuse))
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putStringArray("shapes", Array(fusedText)).build()
          Seq(df.withColumn(graft.operators.Het.typeTag, lit(fusedText))
            .select(df.schema.fields.toIndexedSeq.map { f =>
              if (f.name == graft.operators.Het.typeTag)
                lit(fusedText).as(graft.operators.Het.typeTag, md)
              else col(s"`${f.name}`")
            }: _*))
        }

      case Stage.Pass => state

      case Stage.Load(target, author, message) =>
        // commit the stream to a lake pool (op load; lake required). The
        // write happens eagerly — load is a side-effecting sink — and the
        // stage yields the commit record, which callers typically discard
        val root = spark.conf.getOption("graft.lake.root").getOrElse(
          throw new IllegalArgumentException(
            "load: no lake configured (graft.lake.root)"))
        val (pool, branch) = target.indexOf('@') match {
          case -1 => (target, "main")
          case ix => (target.take(ix), target.drop(ix + 1))
        }
        require(graft.sources.Lake.exists(root, pool), s"load: no such pool: $pool")
        val df = single(state)
        // keep the typeTag column: Lake.load serializes the tag + shapes
        // metadata into the journal so zed types (ip/time/named) survive
        // a re-scan of the pool, matching the CLI `db load` path
        val id = graft.sources.Lake.load(
          df, root, pool,
          author = author.getOrElse("graft"),
          message = message.getOrElse(""), branch = branch)
        import spark.implicits._
        Seq(Seq(id).toDF("commit"))

      case Stage.Block(p) =>
        p.stages.foldLeft(state)((st, s) => compileStage(st, s))

      case Stage.Debug(eOpt) =>
        // emit the rendered expression per row on the debug channel and
        // pass the stream through untouched (runtime op debug). The CLI
        // surface drains the sink to stderr after the query runs.
        val df = single(state)
        val e = eOpt.getOrElse(Expr.Path(Seq.empty))
        val c = outExpr(df, e)
        val text =
          if (isVariantExpr(df, e)) graft.operators.Het.render(c)
          else {
            val dt = dtOr(df, c, StringType)
            graft.sources.ZsonIO.zsonOf(c, dt)
          }
        // row-capped: the debug channel is a diagnostic, not a data path —
        // an unbounded collect here would mirror the input size
        Compiler.addDebug(() =>
          df.select(text).limit(Compiler.debugRowCap).collect()
            .map(_.getString(0)).toSeq)
        Seq(df)

      case Stage.Assert(e, text) =>
        // failing rows become error({message:"assertion failed",
        // expr:"<text>",on:<row>}) values (op/assert semantics); passing
        // rows flow untouched, input order kept
        val df = single(state)
        val het = graft.operators.Het
        val pred = searchify(df, e)
        val ord = "__reord"
        val df1 = df.select(df.columns.toIndexedSeq.map(n => col(s"`$n`")) :+
          monotonically_increasing_id().as(ord, Compiler.scopeVarMeta): _*)
        val passDf = df1.filter(coalesce(pred, lit(false)))
        val failDf = df1.filter(!coalesce(pred, lit(false)))
        val dataF = df.schema.fields.toIndexedSeq.filterNot(f =>
          f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
        val onText = graft.sources.ZsonIO.zsonOf(
          struct(dataF.map(f => col(s"`${f.name}`").as(f.name)): _*),
          StructType(dataF))
        val onT = Shaper.zedTypeOf(StructType(dataF))
        val errT = s"""error({message:string,expr:string,on:$onT})"""
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", Array(errT)).build()
        val exprText = text.replace("\\", "\\\\").replace("\"", "\\\"")
        val errDf = failDf.select(
          het.errorValue(concat(
            lit(s"""{message:"assertion failed",expr:"$exprText",on:"""),
            onText, lit("}")), errT).as("this"),
          lit(errT).as(het.typeTag, md), col(ord))
        // an untagged pass branch needs a tag of its own or the union's
        // null tags break rendering
        val passT =
          if (isTagged(df)) passDf
          else {
            val pmd = new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("shapes", Array(onT)).build()
            passDf.select(passDf.columns.toIndexedSeq.map(n => col(s"`$n`")) :+
              lit(onT).as(het.typeTag, pmd): _*)
          }
        Seq(combineOrdered(Seq(passT, errDf), ord))
    }

  /** Switch compiles to ONE scan when every branch is projection-shaped
    * (pass/put/cut/record-yield): per-output-column first-match-wins CASE
    * chains (ZedOps.switchCase contract). Otherwise falls back to
    * per-branch filtered sub-plans (N scans — zed's own model).
    */
  private def compileSwitch(
      df: DataFrame,
      subject: Option[Expr],
      cases: Seq[(Expr, Pipeline)],
      default: Option[Pipeline],
      forceBranches: Boolean = false
  ): Seq[DataFrame] = {
    def rawPred(c: Expr): Column = subject match {
      // the == machinery handles union-typed/boxed subjects (error
      // propagation, total null semantics, leaf widening)
      case Some(s) => expr(df, Expr.Binary("==", s, c))
      case None => expr(df, c)
    }
    def predDt(c: Expr): DataType =
      try df.select(rawPred(c)).schema.head.dataType
      catch { case _: Exception => BooleanType }
    def casePred(c: Expr): Column = {
      val raw = rawPred(c)
      // an error-valued case condition matches nothing (switch-error
      // ztest: `case a / 0` is never taken)
      if (isVariant(predDt(c))) coalesce(raw.getField("b"), lit(false)) else raw
    }
    // a condition that ERRORS at runtime makes the switch emit the error
    // value itself as the row (switcher/switch-error ztest) — one extra
    // bare-value branch per variant-typed condition
    def errorBranches: Seq[DataFrame] = cases.zipWithIndex.flatMap { case ((c, _), i) =>
      if (!isVariant(predDt(c))) None
      else {
        val raw = rawPred(c)
        val isErr = raw.isNotNull && raw.getField("k") === 5
        val priors = cases.take(i).map { case (pc, _) => casePred(pc) }
        val full = priors.foldLeft(isErr)((acc, pr) => acc && !coalesce(pr, lit(false)))
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", Array("error(string)")).build()
        Some(df.filter(full).select(
          raw.as("this"),
          coalesce(raw.getField("t"), lit("error(string)"))
            .as(graft.operators.Het.typeTag, md)))
      }
    }

    def projectionOf(p: Pipeline): Option[Seq[(String, Column)]] = {
      var cols: Option[Seq[(String, Column)]] = Some(df.columns.toSeq.map(c => c -> col(c)))
      for (s <- p.stages) s match {
        case Stage.Pass => ()
        case Stage.Put(assigns) =>
          cols = cols.map { cur =>
            val m = scala.collection.mutable.LinkedHashMap(cur: _*)
            assigns.foreach { case (n, e) => m(n) = expr(df, e) }
            m.toSeq
          }
        case Stage.Cut(fields) =>
          cols = cols.flatMap { cur =>
            val m = cur.toMap
            val picked = fields.map {
              case (n, Some(e)) => n -> expr(df, e)
              case (n, None) => n -> m.getOrElse(n, col(n))
            }
            Some(picked)
          }
        case Stage.Yield(Seq(Expr.RecordLit(fields))) =>
          cols = Some(fields.map { case (n, e) => n -> expr(df, e) })
        case _ => cols = None
      }
      cols
    }

    val branchProjs = cases.map { case (_, p) => projectionOf(p) }
    val defaultProj = default.map(projectionOf)

    val anyErrorable = cases.exists(c => isVariant(predDt(c._1)))
    if (!forceBranches && !anyErrorable &&
        branchProjs.forall(_.isDefined) && defaultProj.forall(_.isDefined)) {
      // single-pass: names = union across branches, missing → typed null
      val projs = branchProjs.map(_.get)
      val dflt = defaultProj.map(_.get)
      val names = (projs ++ dflt.toSeq).flatMap(_.map(_._1)).distinct
      val preds = cases.map { case (c, _) => coalesce(casePred(c), lit(false)) }
      val out = names.map { name =>
        // branches may give one output column DIFFERENT types (zed forms a
        // union) — box them into variants so the CASE chain analyzes
        def dtOf(c: Column): DataType =
          dtOr(df, c, StringType)
        val cands = (projs.flatMap(_.toMap.get(name)) ++
          dflt.flatMap(_.toMap.get(name)).toSeq)
        val mixed = cands.map(dtOf).distinct.length > 1
        def wrap(cOpt: Option[Column]): Column = cOpt match {
          case Some(c) if mixed => graft.operators.Het.variant(c, dtOf(c))
          case Some(c) => c
          case None =>
            if (mixed) lit(null).cast(graft.operators.Het.variantType) else lit(null)
        }
        val chain = projs.zip(preds).foldRight(
          wrap(dflt.flatMap(_.toMap.get(name)))
        ) { case ((proj, pred), els) =>
          when(pred, wrap(proj.toMap.get(name))).otherwise(els)
        }
        chain.as(name)
      }
      val matched = if (default.isDefined) lit(true) else preds.reduce(_ || _)
      Seq(df.filter(matched).select(out: _*))
    } else {
      // general sub-pipelines: first-match-wins accumulated negation
      val guarded = cases.zipWithIndex.flatMap { case ((c, p), i) =>
        val priors = cases.take(i).map { case (pc, _) => casePred(pc) }
        val full = priors.foldLeft(casePred(c)) { (acc, pr) =>
          acc && !coalesce(pr, lit(false))
        }
        compilePipeline(Some(df.filter(full)), p)
      }
      val dflt = default.toSeq.flatMap { p =>
        val nonePrior = cases.map { case (pc, _) => !coalesce(casePred(pc), lit(false)) }
          .reduce(_ && _)
        compilePipeline(Some(df.filter(nonePrior)), p)
      }
      guarded ++ errorBranches ++ dflt
    }
  }

  /** Keyword search over every string field (search-expressions.md). */
  /** Search-expression compilation (docs/language/search-expressions.md):
    * bare words/strings are keyword searches over every string field,
    * globs are anchored regexes, and/or/not compose; anything else is an
    * ordinary predicate.
    */
  private def searchify(df: DataFrame, e: Expr): Column = e match {
    case Expr.Binary("and", l, r) => searchify(df, l) && searchify(df, r)
    case Expr.Binary("or", l, r) => searchify(df, l) || searchify(df, r)
    case Expr.Unary("not", x) => !searchify(df, x)
    case Expr.Unary("!", x) => !searchify(df, x)
    case Expr.StringLit(s) if s.matches("""\d{1,3}(\.\d{1,3}){3}/\d{1,2}""") =>
      netSearch(df, s) // bare net literal searches by subnet membership
    case Expr.StringLit(s) => keywordSearch(df, s)
    case Expr.Path(Seq(word)) => keywordSearch(df, word)
    case Expr.IntLit(v) => numberSearch(df, v.toDouble)
    case Expr.FloatLit(v) => numberSearch(df, v)
    case Expr.Call("__glob", Seq(Expr.StringLit(p))) => globSearch(df, p)
    case Expr.NullLit => lit(null).cast(BooleanType) // `filter null` drops all
    case _ =>
      val c = expr(df, e)
      // keep boolean predicates un-cast so they stay pushdown-able
      val dt = dtOr(df, c, BooleanType)
      if (dt == BooleanType) c
      else if (isVariant(dt))
        // an error-valued condition filters nothing (filter.go: errors
        // are not true) — read the boolean member of the probe's resolved
        // tree, so the filter does not analyze the condition again
        coalesce(typeOf(df, c).flatMap(_.resolved).fold(c)(Bridge.column)
          .getField("b"), lit(false))
      else
        // a statically non-boolean condition is never true (filter.go:
        // only bool true passes; `where this` over ints yields nothing —
        // vam/op/ztests/where.yaml)
        lit(false)
  }

  private def stringLeaves(df: DataFrame): Seq[Column] = {
    def walk(prefix: String, dt: DataType): Seq[Column] = dt match {
      case st: StructType if isVariant(st) =>
        Seq(col(prefix).getField("s")) // a union's string member
      case st: StructType =>
        st.fields.toIndexedSeq.flatMap(f =>
          walk(if (prefix.isEmpty) f.name else s"$prefix.${f.name}", f.dataType))
      case StringType => Seq(col(prefix))
      case _ => Seq.empty
    }
    df.schema.fields.filterNot(_.name == graft.operators.Het.typeTag).toIndexedSeq
      .flatMap(f => walk(f.name, f.dataType))
  }

  /** Container columns (arrays/maps incl. of records) rendered as JSON
    * text so value search walks INTO them (filter.go search Walk).
    */
  private def containerTexts(df: DataFrame): Seq[Column] =
    df.schema.fields.toIndexedSeq.filterNot(f =>
      f.name == graft.operators.Het.typeTag ||
        f.metadata.contains("graft.scopeVar")).collect {
      case f if f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] =>
        to_json(col(s"`${f.name}`"))
    }

  /** Field-NAME match (filter.go searchString.searchType: keyword search
    * also hits records with a matching field name): per-row via the shape
    * tag, statically via the schema otherwise.
    */
  private def fieldNameHit(df: DataFrame, nameRe: String): Column =
    if (isTagged(df))
      coalesce(col(graft.operators.Het.typeTag)
        .rlike(s"""[{(,]"?$nameRe[^":,{}()\\[\\]|]*"?:"""), lit(false))
    else {
      def names(prefix: String, dt: DataType): Seq[String] = dt match {
        case st: StructType if !isVariant(st) =>
          st.fields.toIndexedSeq.flatMap(f =>
            f.name +: names(s"$prefix.${f.name}", f.dataType))
        case _ => Seq.empty
      }
      val all = df.schema.fields.toIndexedSeq
        .filterNot(_.name == graft.operators.Het.typeTag)
        .flatMap(f => f.name +: names(f.name, f.dataType))
      lit(all.exists(_.matches(s"(?i).*$nameRe.*")))
    }

  private def globSearch(df: DataFrame, pattern: String): Column = {
    val re = "^" + pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*") + "$"
    val inner = pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString("[^\":,{}()\\[\\]|]*")
    val cols = stringLeaves(df) ++ containerTexts(df)
    val valueHit =
      if (cols.isEmpty) lit(false)
      else cols.map(c => coalesce(c.rlike(re), lit(false))).reduce(_ || _)
    valueHit || fieldNameHit(df, inner)
  }

  /** keywordSearch with a RUNTIME pattern column: substring over every
    * string leaf / container text, plus field names (via the shape tag
    * text for tagged frames, static schema names otherwise).
    */
  private def keywordSearchDyn(df: DataFrame, p: Column): Column = {
    // lateral scope vars are context, not data — never search targets
    val scopeVars = df.schema.fields
      .filter(_.metadata.contains("graft.scopeVar")).map(_.name)
    val df2 = if (scopeVars.isEmpty) df else df.drop(scopeVars.toIndexedSeq: _*)
    // BOXED values (lateral elements) hold strings and names in their
    // native caches — search their rendered text
    val variantTexts = df2.schema.fields.toIndexedSeq
      .filter(f => graft.sources.ZsonIO.isVariantType(f.dataType))
      .map(f => graft.operators.Het.render(col(s"`${f.name}`")))
    val strCols = stringLeaves(df2) ++ containerTexts(df2) ++ variantTexts
    val valueHit = strCols.map(c => coalesce(c.contains(p), lit(false)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val nameHit =
      if (isTagged(df2))
        coalesce(col(graft.operators.Het.typeTag).contains(p), lit(false))
      else {
        def names(prefix: String, dt: DataType): Seq[String] = dt match {
          case st: StructType if !isVariant(st) =>
            st.fields.toIndexedSeq.flatMap(f =>
              f.name +: names(s"$prefix.${f.name}", f.dataType))
          case _ => Seq.empty
        }
        val all = df2.schema.fields.toIndexedSeq
          .filterNot(_.name == graft.operators.Het.typeTag)
          .flatMap(f => f.name +: names(f.name, f.dataType))
        all.map(n => coalesce(lit(n).contains(p), lit(false)))
          .reduceOption(_ || _).getOrElse(lit(false))
      }
    valueHit || nameHit
  }

  private def keywordSearch(df: DataFrame, word: String): Column = {
    val strCols = stringLeaves(df) ++ containerTexts(df)
    val valueHit =
      if (strCols.isEmpty) lit(false)
      else F.grep(word, strCols: _*)
    valueHit || fieldNameHit(df, java.util.regex.Pattern.quote(word))
  }

  /** Bare number search (filter.go searchLiteral): any numeric leaf equal
    * to the value, a union's numeric member, and numbers inside container
    * columns (matched in their JSON text with number boundaries).
    */
  private def numberSearch(df: DataFrame, v: Double): Column = {
    def walk(prefix: String, dt: DataType): Seq[Column] = dt match {
      case st: StructType if isVariant(st) =>
        // numeric member; boxed containers (native a/m/d caches and the z
        // zson-text payload) searched element-wise / with number bounds
        val numText =
          if (v == Math.floor(v) && Math.abs(v) < 1e15) v.toLong.toString
          else v.toString
        // quote: a float literal's '.' must not match any character
        val numBound = "(^|[^0-9A-Za-z_.-])" +
          java.util.regex.Pattern.quote(numText) + "($|[^0-9A-Za-z_.-])"
        def elemHit(e: Column): Column =
          e.getField("n") === lit(v) || coalesce(e.getField("z").rlike(numBound), lit(false))
        val c = col(prefix)
        Seq(c.getField("n") === lit(v), c.getField("z").rlike(numBound)) ++
          st.fieldNames.toIndexedSeq.collect {
            case "a" => coalesce(exists(c.getField("a"), elemHit), lit(false))
            case f @ ("m" | "d") =>
              coalesce(exists(c.getField(f), x => elemHit(x.getField("v"))), lit(false))
          }
      case st: StructType =>
        st.fields.toIndexedSeq.flatMap(f => walk(s"$prefix.`${f.name}`", f.dataType))
      case LongType | IntegerType | DoubleType | FloatType | _: DecimalType =>
        Seq(col(prefix).cast(DoubleType) === lit(v))
      case _ => Seq.empty
    }
    val leafHits = df.schema.fields.toIndexedSeq
      .filterNot(f => f.name == graft.operators.Het.typeTag ||
        f.metadata.contains("graft.scopeVar"))
      .flatMap(f => walk(s"`${f.name}`", f.dataType))
      .map(c => coalesce(c, lit(false)))
    val numText = if (v == Math.floor(v) && Math.abs(v) < 1e15) v.toLong.toString
                  else v.toString
    // the text form also greps like a keyword ("Number 2" matches 2), and
    // that covers numbers inside containers via their JSON text
    val preds = leafHits :+ keywordSearch(df, numText)
    preds.reduce(_ || _)
  }

  /** Bare net-literal search (search-expressions.md): ip values match by
    * subnet membership, net values by equality, arrays element-wise.
    */
  private def netSearch(df: DataFrame, cidr: String): Column = {
    val net = lit(cidr)
    def m(c: Column): Column =
      coalesce(F.cidrMatch(net, c), lit(false)) || c <=> net
    def walk(prefix: String, dt: DataType): Seq[Column] = dt match {
      case st: StructType if !isVariant(st) =>
        st.fields.toIndexedSeq.flatMap(f => walk(s"$prefix.${f.name}", f.dataType))
      case StringType => Seq(m(col(prefix)))
      case ArrayType(StringType, _) =>
        Seq(coalesce(exists(col(prefix), x => m(x)), lit(false)))
      case _ => Seq.empty
    }
    val preds = df.schema.fields.filterNot(_.name == graft.operators.Het.typeTag)
      .toIndexedSeq.flatMap(f => walk(f.name, f.dataType))
    if (preds.isEmpty) lit(false) else preds.reduce(_ || _)
  }

  /** sort-key heuristic (sort.go GuessSortKey:218-234): first INTEGER
    * leaf (descending into nested records), else first float leaf, else
    * first non-time field; a non-record stream sorts by `this`.
    */
  private def guessSortKey(df: DataFrame): Seq[Column] = {
    val het = graft.operators.Het
    val fs = df.schema.fields.toIndexedSeq
      .filterNot(f => f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
    def firstMatching(fields: Seq[StructField], pred: DataType => Boolean): Option[Seq[String]] = {
      for (f <- fields) {
        if (pred(f.dataType)) return Some(Seq(f.name))
        f.dataType match {
          case nested: StructType if !isVariant(f.dataType) =>
            firstMatching(nested.fields.toIndexedSeq, pred) match {
              case Some(p) => return Some(f.name +: p)
              case None =>
            }
          case _ =>
        }
      }
      None
    }
    val path: Seq[String] =
      if (fs.map(_.name) == Seq("this")) Seq("this")
      else firstMatching(fs, isIntType)
        .orElse(firstMatching(fs, dt => dt == DoubleType || dt == FloatType))
        .orElse(firstMatching(fs,
          dt => !dt.isInstanceOf[TimestampType] && dt != TimestampNTZType && dt != NullType))
        .getOrElse(Seq(fs.head.name))
    val c = path.tail.foldLeft(col(s"`${path.head}`"))(_.getField(_))
    val dt = resolveType(df.schema, path)
    if (dt.exists(isVariant)) Seq(graft.operators.Het.compareKey(c))
    else sortKeyCols(df, Expr.Path(if (path == Seq("this")) Seq.empty else path), c)
  }

  private def resolveType(st: StructType, path: Seq[String]): Option[DataType] = {
    val self: DataType = st
    path.foldLeft(Option(self)) {
      case (Some(s: StructType), n) => s.fields.find(_.name == n).map(_.dataType)
      case _ => None
    }
  }

  // codegen'd CompareTypes-order binary keys (functions/ZSortKey.scala) —
  // native Catalyst expressions, not ScalaUDFs, so variant/type-value
  // sorts stay inside whole-stage codegen
  private def typeKeyUdf(c: Column): Column =
    graft.functions.Bridge.column(
      graft.functions.ZSortKey(graft.functions.Bridge.expression(c), 0))

  private def recordKeyUdf(c: Column): Column =
    graft.functions.Bridge.column(
      graft.functions.ZSortKey(graft.functions.Bridge.expression(c), 1))

  private def valueTypeKeyUdf(c: Column): Column =
    graft.functions.Bridge.column(
      graft.functions.ZSortKey(graft.functions.Bridge.expression(c), 2))

  /** Expand one sort key into its orderable column(s), matching the
    * reference comparator's semantics the plain column can't express:
    * NaN sorts before every number (Go cmp.Compare — sort.go comparator),
    * and TYPE VALUES sort in the CompareTypes total order via an
    * order-preserving binary key.
    */
  private def sortKeyCols(df: DataFrame, e: Expr, c: Column): Seq[Column] = {
    val parts = e match {
      case Expr.Path(ps) => if (ps.headOption.contains("this")) ps.tail else ps
      case _ => return Seq(c)
    }
    val dt = dtypeOf(df, e).orElse(
      if (parts.isEmpty && df.columns.contains("this"))
        Some(df.schema("this").dataType)
      else if (parts.isEmpty)
        typeOf(df, c).map(_.dt)
      else resolveType(df.schema, parts))
    val shapeTs = shapesOf(df).flatMap(s => pathIn(s._2, parts))
      .map(graft.sources.ZType.strip)
    // a typeof()-produced column carries its type-valueness as metadata
    val metaTypeValued = parts.length == 1 && df.schema.fields.exists(f =>
      f.name == parts.head && f.metadata.contains("graft.zedType") &&
        f.metadata.getString("graft.zedType") == "type")
    if (metaTypeValued ||
        (shapeTs.nonEmpty && shapeTs.forall(_ == graft.sources.ZType.Prim("type"))))
      Seq(typeKeyUdf(c))
    else if (dt.contains(DoubleType) || dt.contains(FloatType))
      Seq(when(isnan(c), lit(0)).otherwise(lit(1)), c)
    else dt match {
      case Some(st: StructType) if !isVariant(st) =>
        // records of DIFFERENT types order by CompareTypes first (a null
        // field makes a different record type), then by their zcode bytes
        // (sort.go compareValues:190,234); NULL records stay SQL-null so
        // nulls-last ordering holds. On a TAGGED stream the per-row shape
        // is the true type (the fused render can't distinguish an absent
        // field from a typed null).
        val text = graft.sources.ZsonIO.zsonOf(c, st)
        val typeK =
          if (parts.isEmpty && isTagged(df))
            typeKeyUdf(col(graft.operators.Het.typeTag))
          else when(c.isNull, lit(null).cast(BinaryType)).otherwise(valueTypeKeyUdf(text))
        Seq(typeK,
          when(c.isNull, lit(null).cast(BinaryType)).otherwise(recordKeyUdf(text)))
      case _ => Seq(c)
    }
  }

  // ---- aggregates (reference runtime/sam/expr/agg) ---------------------------

  /** `-aggmem` cap (agg.MaxValueSize, runtime/sam/expr/agg/collect.go):
    * when the per-aggregate value budget is set, discard OLDEST entries
    * until the collected value fits. Size proxy is the JSON encoding —
    * close enough to the reference's zng body sizes for budget purposes
    * (exact only at the pinned extremes: tiny caps drop everything).
    */
  private def aggMemTrim(arr: Column): Column =
    spark.conf.getOption("graft.agg.maxValueSize").map(_.toLong) match {
      case Some(max) =>
        val sizes = reverse(transform(arr, x =>
          octet_length(to_json(struct(x.as("v")))).cast("long")))
        val cum = aggregate(sizes,
          array().cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)),
          (acc, x) => concat(acc,
            array(coalesce(element_at(acc, -1), lit(0L)) + x)))
        val keep = size(filter(cum, c => c <= lit(max)))
        slice(arr, size(arr) - keep + 1, keep)
      case None => arr
    }

  private def aggColumn(df: DataFrame, a: AggCall): Column = {
    // an arg that resolves nowhere aggregates nothing — typed null keeps
    // avg/sum analyzable (zed: missing inputs are ignored by aggs)
    val base = a.arg.map {
      case p: Expr.Path if p.parts.nonEmpty &&
          ((dtypeOf(df, p).isEmpty && !isVariantExpr(df, p)) || zedNullPath(df, p)) =>
        lit(null).cast(DoubleType)
      case e => expr(df, e)
    }
    // `agg(e) where w` — deliver only matching inputs (null ignored by
    // aggs); searchify unwraps boxed (variant) predicates
    def guarded(c: Column): Column = a.where match {
      case Some(w) => when(searchify(df, w), c)
      case None => c
    }
    // a union-typed (variant) input aggregates over its VALUE: numeric
    // aggs read the numeric member, count/any skip typed nulls (a typed
    // null carries no payload), min/max order under the cross-type key
    val baseIsVariant = base.exists { c =>
      typeOf(df, c).exists(t => isVariant(t.dt))
    }
    if (baseIsVariant) {
      val het = graft.operators.Het
      val c = base.get
      // a TYPED NULL is a value (it counts, and distinct-counts by its
      // type — groupby/null ztest); only SQL-null (missing) is skipped
      val valueful = c.isNotNull && !(c.getField("n").isNull &&
        c.getField("s").isNull && c.getField("b").isNull && c.getField("z").isNull &&
        c.getField("a").isNull && c.getField("m").isNull)
      val value = when(valueful, c)
      a.fn match {
        case "count" => return count(guarded(c))
        case "sum" =>
          // the coercion lattice (expr/coerce.go): an all-integer union
          // sums to int64 (uint64 if all unsigned), floats to float64 —
          // the result is a variant boxing the per-group result type
          val gi = guarded(c)
          val n = sum(gi.getField("n"))
          val allInt = bool_and(when(gi.isNotNull,
            gi.getField("t").rlike("^u?int")))
          val allUint = bool_and(when(gi.isNotNull,
            gi.getField("t").startsWith("uint")))
          val tOut = when(allUint, lit("uint64"))
            .otherwise(when(allInt, lit("int64")).otherwise(lit("float64")))
          // integer sums carry exact text in z (render prefers z)
          val zOut = when(allInt, n.cast(LongType).cast(StringType))
            .otherwise(lit(null).cast(StringType))
          return when(n.isNull, lit(null).cast(het.variantType)).otherwise(
            het.mkVariant(lit(0), n,
              lit(null).cast(StringType),
              lit(null).cast(BooleanType),
              tOut, zOut))
        case "avg" => return avg(guarded(c.getField("n")))
        case "min" => return het.minVariant(guarded(value))
        case "max" => return het.maxVariant(guarded(value))
        case "any" => return first(guarded(c), ignoreNulls = true)
        case "dcount" => return Compiler.zdcount(guarded(c))
        case "count_distinct" => return count_distinct(guarded(c))
        // an agg that never fired yields null, not [] (agg.go: no state)
        case "collect" =>
          val l = aggMemTrim(collect_list(guarded(value)))
          return when(size(l) === 0, lit(null)).otherwise(l)
        case "union" =>
          val u = sort_array(collect_set(guarded(value)))
          return when(size(u) === 0, lit(null)).otherwise(u)
        case "and" => return bool_and(guarded(c.getField("b")))
        case "or" => return bool_or(guarded(c.getField("b")))
        case _ =>
      }
    }
    a.fn match {
      case "count" => count(guarded(base.getOrElse(lit(1))))
      case "sum" => sum(guarded(base.get))
      case "avg" => avg(guarded(base.get))
      case "min" => min(guarded(base.get))
      case "max" => max(guarded(base.get))
      case "any" => first(guarded(base.get), ignoreNulls = true)
      case "dcount" => Compiler.zdcount(guarded(base.get))
      case "count_distinct" => count_distinct(guarded(base.get))
      case "collect" =>
        // an agg that never fired yields null, not [] (agg.go: no state)
        val l = aggMemTrim(collect_list(guarded(base.get)))
        when(size(l) === 0, lit(null)).otherwise(l)
      case "union" =>
        // set semantics: normalized on construction, in zed's CANONICAL
        // byte order (complex.go NormalizeSet: the zcode tag is a length
        // uvarint, so SHORTER encodings sort before longer, then bytes)
        val u0 = collect_set(guarded(base.get))
        val et0 = base.map(c =>
          dtOr(df, c, StringType))
        val u =
          et0 match {
            case Some(StringType) =>
              transform(sort_array(transform(u0, x =>
                struct(length(x).as("l"), x.as("v")))), p => p.getField("v"))
            case Some(ArrayType(StringType, _)) =>
              // sets-of-sets: outer tag length first, then element-wise
              // length-prefixed bytes
              def bodyOf(x: Column) = aggregate(x, lit(""),
                (acc, e) => concat(acc, lpad(hex(length(e)), 4, "0"), e))
              def sizeOf(x: Column) = aggregate(x, lit(0),
                (acc, e) => acc + length(e) + 1) + size(x)
              transform(sort_array(transform(u0, x =>
                struct(sizeOf(x).as("l"), bodyOf(x).as("b"), x.as("v")))),
                p => p.getField("v"))
            case _ => sort_array(u0)
          }
        when(size(u) === 0, lit(null)).otherwise(u)
      case "and" => bool_and(guarded(base.get))
      case "or" => bool_or(guarded(base.get))
      case "collect_map" =>
        map_from_entries(flatten(collect_list(map_entries(guarded(base.get)))))
      case "fuse" =>
        // type-fusing agg (agg/fuse.go). With a static relational frame
        // the fused type is a plan-time constant; a tagged heterogeneous
        // frame fuses the DISTINCT PER-GROUP shapes at runtime — group
        // "bar" of `fuse(this) by b` sees only bar's row types
        // (docs/language/aggregates/fuse.md group-by example)
        val dataSchema = StructType(df.schema.fields.filterNot(f =>
          f.name == graft.operators.Het.typeTag || f.metadata.contains("graft.scopeVar")))
        val shapes = shapesOf(df)
        val zt = graft.sources.ZType
        // per-row type TEXT when shapes are live (null when the arg path
        // is absent from a row's shape — collect_set drops those)
        val rowTypeText: Option[Column] = a.arg match {
          case Some(Expr.Path(Seq())) | None if shapes.nonEmpty =>
            Some(col(graft.operators.Het.typeTag))
          case Some(Expr.Path(parts)) if shapes.nonEmpty =>
            Some(shapes.foldLeft(lit(null).cast(StringType)) {
              case (acc, (tagText, st)) => pathIn(st, parts) match {
                case Some(ft) =>
                  when(col(graft.operators.Het.typeTag) === tagText,
                    lit(zt.fullText(ft))).otherwise(acc)
                case None => acc
              }
            })
          case _ => None
        }
        rowTypeText match {
          case Some(rt) =>
            // fuse folds in STREAM order (field order of the fused record
            // follows first appearance) — collect_set is unordered, so
            // sort the group's texts by the frame's shape-list order
            val orderOf: Map[String, Int] = shapes.map(_._1).zipWithIndex.toMap ++
              shapes.flatMap { case (tagText, st) =>
                pathIn(st, a.arg match {
                  case Some(Expr.Path(parts)) => parts
                  case _ => Seq.empty
                }).map(ft => zt.fullText(ft))
              }.zipWithIndex.toMap
            val fuseFinish = org.apache.spark.sql.functions.udf(
              (texts: scala.collection.mutable.ArraySeq[String]) =>
                texts.iterator.filter(_ != null).toSeq
                  .sortBy(t => orderOf.getOrElse(t, Int.MaxValue))
                  .map(graft.sources.ZsonParser.parseType)
                  .reduceOption(zt.fuse).map(zt.fullText).getOrElse("null"))
            fuseFinish(collect_set(rt))
          case None =>
            val t = a.arg match {
              case Some(Expr.Path(Seq())) | None => Shaper.zedTypeOf(dataSchema)
              case Some(Expr.Path(parts)) =>
                Shaper.zedTypeOf(df.select(parts.mkString(".")).schema.head.dataType)
              case Some(other) =>
                Shaper.zedTypeOf(df.select(expr(df, other)).schema.head.dataType)
            }
            first(lit(t))
        }
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    }
  }

  // ---- expressions -----------------------------------------------------------

  // ---- per-row shape awareness (tagged heterogeneous frames) -----------------
  // A frame built from a mixed ZSON stream carries each row's original zed
  // type in the `__type` tag column, with the distinct shape list in the
  // tag's column metadata (ZsonReader). Presence of a field per shape is a
  // STATIC analysis over that list — the runtime check is a codegen'd
  // tag.isin(...) — so typeof/has/missing are per-row values (zed
  // semantics, complex.go:28-40) with no row-level type machinery.

  private def isTagged(df: DataFrame): Boolean =
    df.columns.contains(graft.operators.Het.typeTag)

  /** (tagText, parsed type) for each distinct shape, empty if untagged or
    * the metadata was lost along the way.
    */
  /** Re-pin the shape list metadata on a tagged frame's tag column. */
  private def withShapes(df: DataFrame, texts: Seq[String]): DataFrame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putStringArray("shapes", texts.distinct.toArray).build()
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.name == graft.operators.Het.typeTag) col(s"`${f.name}`").as(f.name, md)
      else col(s"`${f.name}`").as(f.name, f.metadata)
    }: _*)
  }

  /** Combine per-shape sub-frames back into one ordered stream: each part
    * carries `ordCol` (monotonic id taken BEFORE the split, so the sort
    * restores exact input order), frames union by name, and the merged
    * shape list lands in the tag metadata.
    */
  private def combineOrdered(parts: Seq[DataFrame], ordCol: String): DataFrame = {
    val het = graft.operators.Het
    val all = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val texts = parts.flatMap(p =>
      p.schema.fields.find(_.name == het.typeTag).toSeq.flatMap(f =>
        if (f.metadata.contains("shapes")) f.metadata.getStringArray("shapes").toSeq
        else Seq.empty))
    val merged = if (texts.nonEmpty) withShapes(all, texts) else all
    merged.orderBy(col(ordCol).asc).drop(ordCol)
  }

  private def shapesOf(df: DataFrame): Seq[(String, graft.sources.ZType)] =
    if (!isTagged(df)) Seq.empty
    else {
      val md = df.schema(graft.operators.Het.typeTag).metadata
      if (md.contains("shapes"))
        md.getStringArray("shapes").toSeq.flatMap { t =>
          try Some(t -> graft.sources.ZsonParser.parseType(
            graft.sources.ZType.stripNullWrap(t)))
          catch { case _: Exception => None }
        }
      else Seq.empty
    }

  /** Fast path for computed-field-name put/cut: the DISTINCT set of
    * resolved name tuples is almost always tiny (a handful of strings per
    * dataset), so resolve it with one distributed distinct (map-side
    * combined, KB-scale result), then emit one static Catalyst branch per
    * tuple — plain Project/Filter nodes that stay in whole-stage codegen
    * and keep pushdown alive, instead of the whole-row RDD value model.
    * Returns None (→ row-model fallback) for rename, boxed/multi-shape
    * frames, null/duplicate names (per-row error values), empty input, or
    * more than 16 distinct tuples.
    */
  /** Multi-element computed lvals (lval.go Lval over ExprLvalElem chains):
    * `this[a][b] := v` assigns at the per-row PATH [<a>,<b>]. Field
    * checks per putter.go CheckPutFields / renamer.go CheckRenameField /
    * the type-context duplicate-field rule; rewrite runs in the value
    * model and re-frames through shape discovery.
    */
  private def dynAssignMulti(df: DataFrame, op: String,
      assigns: Seq[(Expr, Expr)]): DataFrame = {
    val het = graft.operators.Het
    import graft.sources.{ZValue, ZType, ZsonParser, ZFormat, ZsonReader}
    def elemsOf(e: Expr): Seq[Expr] = e match {
      case Expr.Call("__lval", es) => es
      case other => Seq(other)
    }
    def asTextC(ne: Expr): Column = ne match {
      case Expr.StringLit(s) => lit(s)
      case _ =>
        val c = expr(df, ne)
        if (isVariantExpr(df, ne))
          when(het.isError(c), lit(null).cast(StringType))
            .otherwise(graft.functions.ZvOps.asText(c))
        else c.cast(StringType)
    }
    val lhsChains = assigns.map(a => elemsOf(a._1))
    val lhsCols = lhsChains.map(ch => array(ch.map(asTextC): _*))
    val isRename = op == "rename"
    val rhsPathCols =
      if (isRename) assigns.map(a => array(elemsOf(a._2).map(asTextC): _*))
      else Seq.empty
    val valueCols = if (isRename) Seq.empty
                    else assigns.map { case (_, ve) => outExpr(df, ve) }
    val origSchema = df.schema
    val withTemps = df.select(
      (df.columns.toIndexedSeq.map(n => col(s"`$n`")) ++
        lhsCols.zipWithIndex.map { case (c, i) => c.as(s"__dynP$i") } ++
        (if (isRename) rhsPathCols.zipWithIndex.map { case (c, i) => c.as(s"__dynS$i") }
         else valueCols.zipWithIndex.map { case (c, i) => c.as(s"__dynV$i") })): _*)
    val vTypes: Seq[(DataType, ZType)] =
      if (isRename) Seq.empty
      else withTemps.schema.fields.toIndexedSeq.takeRight(assigns.length).map { f =>
        (f.dataType,
          try ZsonParser.parseType(Shaper.zedTypeOf(f.dataType))
          catch { case _: Exception => ZType.Prim("string") })
      }
    val fn = ZFormat.rowValueFn(origSchema)
    val w = origSchema.fields.length
    val k = assigns.length
    val opName = op
    val rdd = withTemps.rdd.map { row =>
      import ZValue._
      val base = fn(row)
      def errRow(msg: String): ZValue =
        VErr(VRec(Vector("message" -> VStr(msg), "on" -> base)))
      def pathAt(ix: Int): Seq[String] =
        if (row.isNullAt(ix)) Seq(null)
        else row.getSeq[String](ix)
      val paths = (0 until k).map(i => pathAt(w + i))
      if (paths.exists(p => p == null || p.contains(null))) errRow(s"$opName: missing")
      else {
        def dotted(p: Seq[String]) = p.mkString(".")
        def extendsStrict(long: Seq[String], short: Seq[String]): Boolean =
          long.length > short.length && long.startsWith(short)
        // field-list check violation, if any (putter.go CheckPutFields)
        def putFieldErr: Option[String] = {
          for (i <- 0 until k; j <- i + 1 until k) {
            val (f, c) = (paths(i), paths(j))
            if (f == c)
              return Some(s"multiple assignments to ${dotted(f)}")
            if (extendsStrict(c, f))
              return Some(s"conflicting nested assignments to ${dotted(f)} and ${dotted(c)}")
            if (extendsStrict(f, c))
              return Some(s"conflicting nested assignments to ${dotted(c)} and ${dotted(f)}")
          }
          None
        }
        def setPath(fs: Vector[(String, ZValue)], path: Seq[String],
            v: ZValue): Vector[(String, ZValue)] = path match {
          case Seq(last) =>
            if (fs.exists(_._1 == last))
              fs.map { case (n, fv) => if (n == last) n -> v else n -> fv }
            else fs :+ (last -> v)
          case head +: rest =>
            val sub = fs.find(_._1 == head).map(x => ZValue.unwrap(x._2)) match {
              case Some(VRec(sfs)) => sfs
              case _ => Vector.empty[(String, ZValue)]
            }
            val updated = VRec(setPath(sub, rest, v))
            if (fs.exists(_._1 == head))
              fs.map { case (n, fv) => if (n == head) n -> (updated: ZValue) else n -> fv }
            else fs :+ (head -> (updated: ZValue))
        }
        // duplicate-aware nested insert (context.go duplicate-field rule)
        def insert(fs: Vector[(String, ZValue)], path: Seq[String],
            v: ZValue): Either[String, Vector[(String, ZValue)]] = path match {
          case Seq(last) =>
            if (fs.exists(_._1 == last)) Left(last)
            else Right(fs :+ (last -> v))
          case head +: rest =>
            fs.indexWhere(_._1 == head) match {
              case -1 => insert(Vector.empty, rest, v)
                .map(sub => fs :+ (head -> (VRec(sub): ZValue)))
              case ix => ZValue.unwrap(fs(ix)._2) match {
                case VRec(sub) => insert(sub, rest, v)
                  .map(s2 => fs.updated(ix, head -> (VRec(s2): ZValue)))
                case _ => Left(head)
              }
            }
        }
        def valueAt(i: Int): ZValue = {
          val (dt, zt2) = vTypes(i)
          if (row.isNullAt(w + k + i)) VNull(zt2)
          else ZValue.fromExternal(row.get(w + k + i), dt, zt2)
        }
        opName match {
          case "put" =>
            putFieldErr match {
              case Some(msg) => errRow(s"put: $msg")
              case None => ZValue.unwrap(base) match {
                case VRec(fs) =>
                  var out = fs
                  paths.zipWithIndex.foreach { case (p, i) =>
                    out = setPath(out, p, valueAt(i)) }
                  VRec(out)
                case _ => errRow("put: not a record")
              }
            }
          case "cut" =>
            var out = Vector.empty[(String, ZValue)]
            var err: String = null
            paths.zipWithIndex.foreach { case (p, i) =>
              if (err == null) insert(out, p, valueAt(i)) match {
                case Right(next) => out = next
                case Left(seg) => err = seg
              }
            }
            if (err != null) errRow(s"""cut: duplicate field: "$err"""")
            else VRec(out)
          case _ => // rename: LHS (dst) paths with RHS (src) paths
            val srcs = (0 until k).map(i => pathAt(w + k + i))
            if (srcs.exists(p => p == null || p.contains(null)))
              errRow("rename: missing")
            else {
              var err: String = null
              (0 until k).foreach { i =>
                if (err == null) {
                  val (dst, src) = (paths(i), srcs(i))
                  if (src.length != dst.length)
                    err = "left-hand side and right-hand side must have " +
                      s"the same depth (${dotted(src)} vs ${dotted(dst)})"
                  else (0 until src.length - 1).foreach { x =>
                    if (err == null && src(x) != dst(x))
                      err = s"cannot rename ${dotted(src)} to ${dotted(dst)} " +
                        s"(differ in ${src(x)} vs ${dst(x)})"
                  }
                }
              }
              if (err != null) errRow(s"rename: $err")
              else ZValue.unwrap(base) match {
                case VRec(fs) =>
                  def renameAt(fs0: Vector[(String, ZValue)], src: Seq[String],
                      dstLast: String): Vector[(String, ZValue)] = src match {
                    case Seq(last) => fs0.map { case (n, v) =>
                      if (n == last) dstLast -> v else n -> v }
                    case head +: rest => fs0.map { case (n, v) =>
                      if (n == head) ZValue.unwrap(v) match {
                        case VRec(sub) =>
                          n -> (VRec(renameAt(sub, rest, dstLast)): ZValue)
                        case _ => n -> v
                      } else n -> v
                    }
                  }
                  var out = fs
                  (0 until k).foreach { i =>
                    out = renameAt(out, srcs(i), paths(i).last) }
                  VRec(out)
                case _ => base
              }
            }
        }
      }
    }
    ZsonReader.fromRDD(df.sparkSession, rdd)
  }

  private def dynAssignFast(df: DataFrame, op: String,
      assigns: Seq[(Expr, Expr)], nameCols: Seq[Column],
      valueCols: Seq[Column]): Option[DataFrame] = try {
    if (op != "put" && op != "cut") return None
    val het = graft.operators.Het
    val zt = graft.sources.ZType
    val shapes = shapesOf(df)
    if (shapes.length > 1) return None
    val metaNames = df.schema.fields.filter(f =>
      f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
      .map(_.name).toSet
    val dataF = df.schema.fields.toIndexedSeq.filterNot(f => metaNames(f.name))
    // boxed frames (single variant `this`) aren't flat records here
    if (dataF.exists(f => isVariant(f.dataType))) return None
    val k = assigns.length
    val ord = "__dynord"
    val withTemps = df.select(
      df.columns.toIndexedSeq.map(n => col(s"`$n`")) ++
        nameCols.zipWithIndex.map { case (c, i) => c.as(s"__dynN$i") } ++
        valueCols.zipWithIndex.map { case (c, i) => c.as(s"__dynV$i") } :+
        monotonically_increasing_id().as(ord): _*)
    if (withTemps.schema.fields.slice(df.columns.length,
        df.columns.length + 2 * k).exists(f => isVariant(f.dataType)))
      return None // runtime-typed values: shape texts aren't static
    val tuples = withTemps
      .select((0 until k).map(i => col(s"__dynN$i")): _*).distinct()
      .limit(17).collect()
    if (tuples.isEmpty || tuples.length > 16) return None
    val tupleSets: Seq[Seq[String]] = tuples.toIndexedSeq.map(r =>
      (0 until k).map(i => if (r.isNullAt(i)) null else r.getString(i)))
    if (tupleSets.exists(t => t.contains(null) || t.distinct.length != t.length))
      return None
    import graft.sources.ZsonParser
    // zed type per original field (from the shape if tagged, else derived)
    val baseFieldTypes: Seq[(String, graft.sources.ZType)] = shapes.headOption match {
      case Some((_, t)) => zt.strip(t) match {
        case zt.Rec(fs) => fs
        case _ => return None
      }
      case None => dataF.map(f =>
        f.name -> ZsonParser.parseType(graft.functions.Shaper.zedTypeOf(f.dataType)))
    }
    val baseTypeMap = baseFieldTypes.toMap
    val valT: Seq[graft.sources.ZType] = (0 until k).map { i =>
      ZsonParser.parseType(graft.functions.Shaper.zedTypeOf(
        withTemps.schema(s"__dynV$i").dataType))
    }
    def branchCols(ts: Seq[String]): (Seq[Column], Seq[(String, graft.sources.ZType)]) = {
      val nameIdx = ts.zipWithIndex.toMap
      op match {
        case "put" =>
          val kept = dataF.map { f =>
            nameIdx.get(f.name) match {
              case Some(i) => (col(s"`__dynV$i`").as(f.name), f.name -> valT(i))
              case None => (col(s"`${f.name}`").as(f.name, f.metadata),
                f.name -> baseTypeMap.getOrElse(f.name,
                  ZsonParser.parseType(graft.functions.Shaper.zedTypeOf(f.dataType))))
            }
          }
          val added = ts.zipWithIndex
            .filter { case (n, _) => !dataF.exists(_.name == n) }
            .map { case (n, i) => (col(s"`__dynV$i`").as(n), n -> valT(i)) }
          ((kept ++ added).map(_._1), (kept ++ added).map(_._2))
        case _ => // cut: exactly the named fields, in assign order
          (ts.zipWithIndex.map { case (n, i) => col(s"`__dynV$i`").as(n) },
            ts.zipWithIndex.map { case (n, i) => n -> valT(i) })
      }
    }
    val scopeCols = df.schema.fields.toIndexedSeq
      .filter(f => f.metadata.contains("graft.scopeVar"))
      .map(f => col(s"`${f.name}`").as(f.name, f.metadata))
    if (tupleSets.length == 1) {
      val (cols, fields) = branchCols(tupleSets.head)
      if (!isTagged(df)) Some(withTemps.select(cols ++ scopeCols: _*))
      else {
        val tagText = zt.fullText(zt.Rec(fields.toVector))
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", Array(tagText)).build()
        Some(withTemps.select(cols ++ scopeCols :+
          lit(tagText).as(het.typeTag, md): _*))
      }
    } else {
      val parts = tupleSets.map { ts =>
        val (cols, fields) = branchCols(ts)
        val tagText = zt.fullText(zt.Rec(fields.toVector))
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("shapes", Array(tagText)).build()
        val pred = (0 until k).map(i =>
          col(s"__dynN$i") === lit(ts(i))).reduce(_ && _)
        withTemps.filter(pred).select(cols ++ scopeCols :+
          lit(tagText).as(het.typeTag, md) :+ col(ord): _*)
      }
      Some(combineOrdered(parts, ord))
    }
  } catch { case _: Exception => None }

  /** Walk a zed type along a field path (union alternatives searched). */
  private def pathIn(t: graft.sources.ZType, parts: Seq[String]): Option[graft.sources.ZType] = {
    import graft.sources.ZType._
    strip(t) match {
      case x if parts.isEmpty => Some(x)
      case Rec(fs) => fs.find(_._1 == parts.head).flatMap(f => pathIn(f._2, parts.tail))
      case Union(alts) => alts.flatMap(a => pathIn(a, parts)).headOption
      case _ => None
    }
  }

  /** Field access in an OUTPUT position (yield/put/cut): zed's missing
    * field is the VALUE error("missing") (complex.go:28-40), not null.
    * Shapes that have the field keep the native column; mixed presence
    * becomes a variant column gated on the shape tag.
    */
  private def outExpr(df: DataFrame, e: Expr): Column = e match {
    case Expr.Path(parts) if parts.headOption.contains("this") =>
      outExpr(df, Expr.Path(parts.tail))
    case Expr.Path(parts) if parts.nonEmpty => pathExpr(df, parts)
    case _ => expr(df, e)
  }

  private def pathExpr(df: DataFrame, parts: Seq[String]): Column = {
    val het = graft.operators.Het
    val dt = dtypeOf(df, Expr.Path(parts))
    // a path prefix landing on a variant column resolves row-level (boxed)
    val boxed = dt.isEmpty && (parts.length - 1 to 1 by -1)
      .exists(n => dtypeOf(df, Expr.Path(parts.take(n))).exists(isVariant))
    val shapes = shapesOf(df)
    // a stream of TYPE VALUES: field access navigates the type itself
    // (expr/eval.go deref over TypeOfType — dot-record-type ztest)
    if (shapes.nonEmpty && shapes.forall(_._2 == graft.sources.ZType.Prim("type")) &&
        df.columns.contains("this") && dt.isEmpty)
      return graft.functions.ZvOps.typeField(col("this"), parts)
    if (shapes.isEmpty)
      return if (dt.isDefined || boxed) expr(df, Expr.Path(parts))
             else if (isTagged(df)) het.errMissing
             else expr(df, Expr.Path(parts)) // untagged: keep null-mapping (relational frames)
    val present = shapes.collect { case (t, st) if pathIn(st, parts).isDefined => t }
    // a column in NO shape but in the schema was ADDED by an operator
    // after ingest (put/rename) — present on every row, stale tag or not
    if (present.isEmpty && dt.isDefined) expr(df, Expr.Path(parts))
    else if (present.isEmpty && !boxed) het.errMissing
    else if (present.size == shapes.size || boxed) expr(df, Expr.Path(parts))
    else dt match {
      case Some(d) =>
        // the box keeps the field's zed type where its carrier cannot say
        // it (a uint64 rides as decimal(20,0), a uint16 as a long);
        // numbers only — the other carriers' kinds and text already match
        // their zed types
        val zt = staticZedName(df, Expr.Path(parts)).filter(t =>
          t.substring(t.lastIndexOf('=') + 1).matches("^(u?int|float)(8|16|32|64)$"))
        when(col(het.typeTag).isin(present: _*),
          het.variant(expr(df, Expr.Path(parts)), d, zt.map(lit(_))))
          .otherwise(het.errMissing)
      case None => het.errMissing
    }
  }

  /** Typed shaper call over a tagged frame (ZShaper): per-row zed type
    * drives an exact ZValue-level reshape; subject travels as zson text
    * (the ZvOps interchange pattern), result is a variant whose z text
    * re-renders with full fidelity. Engages only on tagged streams —
    * relational frames keep the codegen'd Shaper.reshape path.
    */
  /** `typeof(p)`/`typeunder(p)` folded to a type TEXT when the subject's
    * zed type is the same in every shape (or derivable from the schema) —
    * lets cast/shape/… with a typeof argument stay on the static path.
    */
  private def staticTypeofArg(df: DataFrame, e: Expr): Option[String] = e match {
    case Expr.Call(f @ ("typeof" | "typeunder"), Seq(p: Expr.Path)) =>
      val parts = if (p.parts.headOption.contains("this")) p.parts.tail else p.parts
      val shapes = shapesOf(df)
      if (shapes.nonEmpty) {
        val ts = shapes.flatMap { case (_, st) => pathIn(st, parts) }
        val texts = ts.map { t =>
          graft.sources.ZType.fullText(
            if (f == "typeunder") graft.sources.ZType.strip(t) else t)
        }.distinct
        if (ts.length == shapes.length && texts.length == 1) Some(texts.head)
        else None
      } else dtypeOf(df, p).filterNot(isVariant).map(Shaper.zedTypeOf)
    case _ => None
  }

  private def typedShaperCol(
      df: DataFrame, fname: String, args: Seq[Expr]): Option[Column] = {
    val shapes = shapesOf(df)
    val het = graft.operators.Het
    // an UNTAGGED boxed frame (shape()'s own output) is also runtime-typed:
    // the variant's per-row type drives the shaper, same as a shape tag
    val boxedThis = {
      val dataFields = df.schema.fields.toIndexedSeq.filterNot(f =>
        f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
      dataFields.map(_.name) == Seq("this") && isVariant(dataFields.head.dataType)
    }
    // a RUNTIME type target (e.g. shape(types_map[_path])) engages the
    // row-level shaper even on a plain untagged record frame — the static
    // schema supplies the input type
    val runtimeTarget = args.last match {
      case Expr.StringLit(_) => false
      case Expr.Call("__typename", _) => false
      case _ => true
    }
    if (shapes.isEmpty && !boxedThis && !runtimeTarget) return None
    val tf = graft.functions.ZShaper.flagsOf(fname)
    val subjectE: Expr =
      if (args.length > 1) args.head else Expr.Path(Seq.empty)
    val (subjText, inTypeCol) = subjectE match {
      case Expr.Path(Seq()) if boxedThis =>
        (het.render(col("this")), het.variantTypeOf(col("this")))
      case Expr.Path(Seq())
          if !isTagged(df) && {
            val dataFields = df.schema.fields.toIndexedSeq.filterNot(f =>
              f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
            dataFields.map(_.name) == Seq("this") &&
              dataFields.head.dataType.isInstanceOf[StructType]
          } =>
        // an untagged bare-record CARRIER (this-only struct frame, e.g.
        // `yield nest_dotted(this)`'s output): `this` IS the value — do
        // NOT wrap it as {this: …} (shaping the wrapper adds null target
        // fields and keeps `this` as an extra field; shaping-zeek-ndjson)
        val f = df.schema("this")
        val zt =
          if (f.metadata.contains("graft.zedType")) f.metadata.getString("graft.zedType")
          else Shaper.zedTypeOf(f.dataType)
        (graft.sources.ZsonIO.zsonOf(col("this"), f.dataType), lit(zt))
      case Expr.Path(Seq()) =>
        val dataFields = df.schema.fields.toIndexedSeq.filterNot(f =>
          f.name == het.typeTag || f.metadata.contains("graft.scopeVar"))
        val stc = struct(dataFields.map(f => col(s"`${f.name}`").as(f.name)): _*)
        val tcol =
          if (isTagged(df)) col(het.typeTag)
          else lit(graft.sources.ZType.fullText(graft.sources.ZType.Rec(
            dataFields.map { f =>
              f.name -> (try graft.sources.ZsonParser.parseType(
                if (f.metadata.contains("graft.zedType"))
                  f.metadata.getString("graft.zedType")
                else Shaper.zedTypeOf(f.dataType))
              catch { case _: Exception => graft.sources.ZType.Prim("string") })
            }.toVector)))
        (graft.sources.ZsonIO.zsonOf(stc, StructType(dataFields)), tcol)
      case e =>
        val c = expr(df, e)
        val dt = dtypeOf(df, e).getOrElse(
          dtOr(df, c, StringType))
        if (isVariant(dt)) (het.render(c), het.variantTypeOf(c))
        else {
          val fallback: Column = lit(Shaper.zedTypeOf(dt))
          val tcol = e match {
            case Expr.Path(parts) if parts.nonEmpty && shapes.nonEmpty =>
              shapes.foldLeft(fallback) { case (acc, (t, st)) =>
                pathIn(st, parts).map(ft =>
                  when(col(het.typeTag) === t,
                    lit(graft.sources.ZType.fullText(ft))).otherwise(acc)
                ).getOrElse(acc)
              }
            case _ => fallback
          }
          (graft.sources.ZsonIO.zsonOf(c, dt), tcol)
        }
    }
    // named types defined only by the DATA (input typedefs like `(=person)`)
    // resolve from the shape tags — the program's own typedefs were already
    // expanded by the parser
    lazy val namedFromShapes: Map[String, graft.sources.ZType] = {
      val acc = scala.collection.mutable.Map.empty[String, graft.sources.ZType]
      def walk(t: graft.sources.ZType): Unit = t match {
        case n @ graft.sources.ZType.Named(name, i) => acc(name) = n; walk(i)
        case graft.sources.ZType.Rec(fs) => fs.foreach(f => walk(f._2))
        case graft.sources.ZType.Arr(e) => walk(e)
        case graft.sources.ZType.SetT(e) => walk(e)
        case graft.sources.ZType.MapT(k, v) => walk(k); walk(v)
        case graft.sources.ZType.Union(alts) => alts.foreach(walk)
        case graft.sources.ZType.ErrT(i) => walk(i)
        case _ =>
      }
      shapes.foreach { case (_, st) => walk(st) }
      acc.toMap
    }
    val targetCol: Column = args.last match {
      case Expr.StringLit(t)
          if t.matches("[A-Za-z_][A-Za-z0-9_]*") && namedFromShapes.contains(t) =>
        lit(graft.sources.ZType.fullText(namedFromShapes(t)))
      case Expr.StringLit(t) => lit(t)
      // `<name>` runtime named-type ref from the parser
      case Expr.Call("__typename", Seq(Expr.StringLit(n))) =>
        lit(namedFromShapes.get(n).map(graft.sources.ZType.fullText).getOrElse(n))
      case e =>
        val c = expr(df, e)
        if (isVariantExpr(df, e))
          when(c.getField("t") === "type", c.getField("s"))
            .when(c.getField("k") === 2, concat(lit("="), c.getField("s")))
            .otherwise(lit(null).cast(StringType))
        else {
          // a TYPE-VALUED string (map-of-types lookup) is already the
          // type text; a bare name is a named-type cast
          val s = c.cast(StringType)
          when(s.rlike("[{\\[|<=(]"), s).otherwise(concat(lit("="), s))
        }
    }
    Some(graft.functions.ZShaper.shaperUdf(tf)(subjText, inTypeCol, targetCol))
  }

  private def isVariant(dt: DataType): Boolean = graft.sources.ZsonIO.isVariantType(dt)

  /** Type probes of this query: (analyzed plan, column) → the column's
    * type and, when it resolves as a plain projection of the plan's own
    * output, its resolved expression. One full analysis per distinct
    * pair; `typeAnalyses` counts them.
    */
  private val probes = new java.util.IdentityHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    scala.collection.mutable.HashMap[Column, Option[Compiler.Typed]]]()
  private var analyses = 0
  private[graft] def typeAnalyses: Int = analyses

  /** The type of `c` over `df` (None when `c` does not analyze there). */
  private def typeOf(df: DataFrame, c: Column): Option[Compiler.Typed] = {
    val plan = df.queryExecution.analyzed
    var memo = probes.get(plan)
    if (memo == null) { memo = scala.collection.mutable.HashMap.empty; probes.put(plan, memo) }
    memo.getOrElseUpdate(c, {
      analyses += 1
      try {
        import org.apache.spark.sql.catalyst.expressions._
        val p = df.select(c).queryExecution.analyzed
        // lambda variables, outer references and subqueries stay inline:
        // RewriteWithExpression cannot place a common expression over them
        def bindable(e: Expression): Boolean =
          e.references.subsetOf(plan.outputSet) && !e.exists {
            case _: NamedLambdaVariable | _: OuterReference | _: SubqueryExpression => true
            case _ => false
          }
        val resolved = p match {
          case org.apache.spark.sql.catalyst.plans.logical.Project(Seq(ne), _) =>
            Some(ne match { case a: Alias => a.child; case other => other }).filter(bindable)
          case _ => None
        }
        Some(Compiler.Typed(p.schema.head.dataType, resolved))
      } catch { case _: Exception => None }
    })
  }

  private def dtOr(df: DataFrame, c: Column, orElse: DataType): DataType =
    typeOf(df, c).fold(orElse)(_.dt)

  /** Build `body` over each column of `cs` bound ONCE: a column that
    * resolves over `df` becomes a Catalyst common expression (`With`),
    * so the body may read it any number of times while the analyzer and
    * optimizer see its tree once; RewriteWithExpression later evaluates
    * it once per row in a projection below the operator. The definition
    * must be the RESOLVED operand (With types its refs from it), which
    * the type probe already produced. A column that does not resolve over
    * `df` alone (lambda variables, outer references) stays inline.
    * The body receives each column with its type (NullType when
    * unknown).
    */
  private def shared(df: DataFrame, cs: Column*)(body: Seq[(Column, DataType)] => Column): Column = {
    import org.apache.spark.sql.catalyst.expressions._
    // a constant operand folds to one literal; an attribute is as cheap
    // to read as a reference
    val typed = cs.map(c => c -> typeOf(df, c).map {
      case Compiler.Typed(dt, Some(e)) if e.foldable && !e.isInstanceOf[Literal] =>
        Compiler.Typed(dt, Some(try Literal.create(e.eval(), dt) catch { case _: Exception => e }))
      case t => t
    })
    def bind(e: Expression): Boolean = !e.isInstanceOf[Attribute] && !e.isInstanceOf[Literal]
    val defs = typed.collect { case (_, Some(Compiler.Typed(_, Some(e)))) if bind(e) => e }
    def args(refs: Iterator[Expression]): Seq[(Column, DataType)] = typed.map {
      case (c, Some(Compiler.Typed(dt, Some(e)))) =>
        (if (bind(e)) Bridge.column(refs.next())
         else if (e.isInstanceOf[Literal]) Bridge.column(e)
         else c) -> dt
      case (c, t) => c -> t.fold(NullType: DataType)(_.dt)
    }
    if (defs.isEmpty) body(args(Iterator.empty))
    else Bridge.column(With(defs: _*)(refs => Bridge.expression(body(args(refs.iterator)))))
  }

  /** Het.compareKey reads its value eight times: bind it once. */
  private def compareKeyOf(df: DataFrame, v: Column): Column =
    shared(df, v) { case Seq((b, _)) => graft.operators.Het.compareKey(b) }

  /** Does this expression evaluate to a variant column on df? */
  private def isVariantExpr(df: DataFrame, e: Expr): Boolean =
    dtypeOf(df, e).exists(isVariant) || (dtypeOf(df, e).isEmpty && {
      try typeOf(df, expr(df, e)).exists(t => isVariant(t.dt))
      catch { case _: Exception => false }
    })

  /** Lateral subquery in expression position — `(over e | …)` compiles to
    * higher-order array functions (aggregate/transform/filter/flatten),
    * the Spark-native form of the reference's per-value subquery
    * (OverExpr, compiler/kernel/expr.go:102). Fully codegen'd; no joins,
    * no shuffles — the subquery runs inside the row it belongs to.
    */
  private def subqueryExpr(df: DataFrame, p: Pipeline): Column =
    p.stages.head match {
      case Stage.Over(srcs, vars, body) if vars.isEmpty =>
        val tail = body.map(_.stages).getOrElse(Seq.empty) ++ p.stages.tail
        if (srcs.exists(e => isVariantExpr(df, e))) {
          // runtime-typed source (`over x` where x's type varies per
          // shape): elements are BOXED and each stage maps through the
          // row-level ZValue interpreter — still per-row, no shuffles
          val het = graft.operators.Het
          val zv = graft.functions.ZvOps
          val arrs = srcs.map { e =>
            if (isVariantExpr(df, e)) {
              val c = outExpr(df, e)
              coalesce(zv.elems(c), array(c))
            } else {
              val c = expr(df, e)
              val dt = dtypeOf(df, e).getOrElse(
                dtOr(df, c, StringType))
              dt match {
                case ArrayType(et, _) => transform(c, x => het.variant(x, et))
                case other => array(het.variant(c, other))
              }
            }
          }
          val arr0 = if (arrs.length == 1) arrs.head else concat(arrs: _*)
          val res = tail.foldLeft(arr0)((arr, s) => boxedArrayStage(df, arr, s))
          zv.unwrapSingle(res)
        } else {
          val arr0 =
            if (srcs.length == 1) expr(df, srcs.head)
            else concat(srcs.map(e => expr(df, e)): _*)
          val res = tail.foldLeft(arr0)((arr, s) => arrayStage(df, arr, s))
          // a subquery yielding exactly ONE value IS that value (the
          // reference's expression-subquery unwrap). With static Spark
          // types the two branches (element vs array) can't share a
          // column type, so RECORD elements box both sides as variants;
          // scalar subqueries keep their static array type (their
          // downstream consumers — sum(), sort — are length-agnostic),
          // and aggregation tails already yield exactly-one semantics
          // that spread/record consumers handle in their array form.
          val hasAgg = tail.exists {
            case _: Stage.Summarize => true
            case Stage.Block(p) => p.stages.exists(_.isInstanceOf[Stage.Summarize])
            case _ => false
          }
          elemType(df, res) match {
            case et: StructType if tail.nonEmpty && !hasAgg =>
              val het = graft.operators.Het
              when(size(res) === 1, het.variant(element_at(res, 1), et))
                .otherwise(het.variant(res, ArrayType(et)))
            case _ => res
          }
        }
      case _ => throw new IllegalArgumentException(
        "expression subquery must start with `over`")
    }

  /** Stages of a BOXED expression subquery (runtime-typed elements). */
  private def boxedArrayStage(df: DataFrame, arr: Column, s: Stage): Column = s match {
    case Stage.Block(Pipeline(Seq(sm: Stage.Summarize,
        Stage.Yield(Seq(Expr.Path(Seq(_))))))) =>
      boxedArrayStage(df, arr, sm)
    case Stage.Block(p) =>
      p.stages.foldLeft(arr)((acc, st) => boxedArrayStage(df, acc, st))
    case Stage.Yield(Seq(e)) => graft.functions.ZvOps.mapBoxed(e, arr)
    case Stage.Where(e) => graft.functions.ZvOps.filterBoxed(e, arr)
    case Stage.Head(n, _) => slice(arr, 1, n)
    case Stage.Tail(n, _) => reverse(slice(reverse(arr), 1, n))
    case Stage.Summarize(Seq((_, AggCall("collect", arg, None, false))), Seq()) =>
      val mapped = arg match {
        case None | Some(Expr.Path(Seq())) => arr
        case Some(e) => graft.functions.ZvOps.mapBoxed(e, arr)
      }
      // collect yields ONE value — a single-element list so the final
      // unwrap produces the array value itself
      array(graft.functions.ZvOps.collectBoxed(mapped))
    case other => throw new IllegalArgumentException(s"subquery stage (boxed) $other")
  }

  private def elemType(df: DataFrame, arr: Column): DataType =
    dtOr(df, arr, StringType) match {
      case ArrayType(et, _) => et
      case other => other
    }

  /** Evaluate an expression over a lambda element (`this` = the element). */
  private def lambdaExpr(df: DataFrame, e: Expr, x: Column): Column = e match {
    case Expr.Path(Seq()) => x
    case Expr.Path(parts) => parts.foldLeft(x)((acc, f) => acc.getField(f))
    case Expr.IntLit(v) => lit(v)
    case Expr.FloatLit(v) => lit(v)
    case Expr.StringLit(v) => lit(v)
    case Expr.BoolLit(v) => lit(v)
    case Expr.NullLit => lit(null)
    case Expr.Unary("-", inner) => -lambdaExpr(df, inner, x)
    case Expr.Unary("not", inner) => !lambdaExpr(df, inner, x)
    case Expr.Unary("!", inner) => !lambdaExpr(df, inner, x)
    case Expr.Binary(op, l, r) =>
      val (lc, rc) = (lambdaExpr(df, l, x), lambdaExpr(df, r, x))
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case "%" => lc % rc
        case "==" => lc === rc
        case "!=" => lc =!= rc
        case "<" => lc < rc
        case "<=" => lc <= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
        case "and" => lc && rc
        case "or" => lc || rc
        case other => throw new IllegalArgumentException(s"subquery op $other")
      }
    case Expr.Cond(c, t, f) =>
      when(lambdaExpr(df, c, x), lambdaExpr(df, t, x)).otherwise(lambdaExpr(df, f, x))
    case Expr.Call("string", Seq(inner)) => lambdaExpr(df, inner, x).cast(StringType)
    case Expr.Call("cast", Seq(inner, Expr.StringLit("time"))) =>
      // zed time is ns-domain: a numeric cast is NANOSECONDS since epoch
      // (map.md floatToTime) — box a time leaf so ns precision survives
      // rendering (Spark timestamps clip at µs)
      val ns = lambdaExpr(df, inner, x).cast(LongType)
      val secs = Bridge.intDiv(ns, lit(1000000000L))
      val frac = regexp_replace(
        lpad((ns % 1000000000L).cast(StringType), 9, "0"), "0+$", "")
      val iso = concat(
        date_format(timestamp_seconds(secs), "yyyy-MM-dd'T'HH:mm:ss"),
        when(frac === "", lit("")).otherwise(concat(lit("."), frac)), lit("Z"))
      graft.operators.Het.mkVariant(lit(1), ns.cast(DoubleType),
        lit(null).cast(StringType), lit(null).cast(BooleanType),
        lit("time"), iso)
    case Expr.Call("cast", Seq(inner, Expr.StringLit(t))) =>
      val xc = lambdaExpr(df, inner, x)
      Shaper.parseZedType(t) match {
        case Some(dt) => xc.cast(dt)
        case None => xc.cast(zedTypeToDdl(t))
      }
    case Expr.Call(fn1, Seq(inner)) if Compiler.lambdaUnary.contains(fn1) =>
      Compiler.lambdaUnary(fn1)(lambdaExpr(df, inner, x))
    case Expr.Index(inner, Expr.IntLit(i)) =>
      element_at(lambdaExpr(df, inner, x), (if (i >= 0) i + 1 else i).toInt)
    case other => throw new IllegalArgumentException(s"subquery expr $other")
  }

  private def arrayStage(df: DataFrame, arr: Column, s: Stage): Column = s match {
    // lone-agg yield (parser Block([summarize, yield <field>])): the
    // array form already produces the bare value
    case Stage.Block(Pipeline(Seq(sm: Stage.Summarize,
        Stage.Yield(Seq(Expr.Path(Seq(_))))))) =>
      arrayStage(df, arr, sm)
    case Stage.Block(p) =>
      p.stages.foldLeft(arr)((acc, st) => arrayStage(df, acc, st))
    case Stage.Where(e) => filter(arr, x => lambdaExpr(df, e, x))
    case Stage.Yield(Seq(e)) => transform(arr, x => lambdaExpr(df, e, x))
    case Stage.Put(assigns) =>
      // set/replace fields on each (record) element: withField handles
      // both add and overwrite, dotted names reach nested fields
      transform(arr, x =>
        assigns.foldLeft(x) { case (acc, (n, e)) =>
          acc.withField(n, lambdaExpr(df, e, x))
        })
    case Stage.Over(Seq(Expr.Path(Seq())), vars, None) if vars.isEmpty =>
      // over this: arrays-of-arrays flatten; scalar elements yield
      // themselves (traverse/over.go non-container values)
      elemType(df, arr) match {
        case _: ArrayType => flatten(arr)
        case _ => arr
      }
    case Stage.Head(n, _) => slice(arr, 1, n)
    case Stage.Tail(n, _) => reverse(slice(reverse(arr), 1, n))
    case Stage.Sort(Seq(), _) => array_sort(arr)
    // `sort this` inside a subquery sorts the elements themselves
    case Stage.Sort(Seq((Expr.Path(Seq() | Seq("this")), asc)), _) =>
      if (asc) array_sort(arr) else reverse(array_sort(arr))
    case Stage.Uniq(false) => array_distinct(arr)
    case Stage.Summarize(Seq((aggName, AggCall(fn, arg, None, aggNamed))), Seq()) =>
      val mapped = arg match {
        case None | Some(Expr.Path(Seq())) => arr
        case Some(e) => transform(arr, x => lambdaExpr(df, e, x))
      }
      val nn = filter(mapped, x => x.isNotNull)
      val aggV = fn match {
        case "sum" =>
          val et = elemType(df, nn)
          aggregate(nn, lit(null).cast(et), (acc, x) => coalesce(acc + x, x, acc))
        case "count" => size(nn).cast(LongType)
        case "collect" => nn
        case "union" => array_distinct(nn)
        case "min" => array_min(nn)
        case "max" => array_max(nn)
        case "avg" =>
          aggregate(nn, lit(0.0), (acc, x) => acc + x.cast(DoubleType)) / size(nn)
        case "and" => forall(nn, x => x)
        case "or" => exists(nn, x => x)
        case "any" => element_at(nn, 1)
        case other => throw new IllegalArgumentException(s"subquery agg $other")
      }
      // an ALIASED agg yields a one-field record ({sorted:[…]}), the
      // bare form the value itself (summarize semantics in expr position)
      if (aggNamed) struct(aggV.as(aggName)) else aggV
    case other => throw new IllegalArgumentException(s"subquery stage $other")
  }

  /** head/tail inside a lateral body act per OUTER row (traverse ztests):
    * a row_number window partitioned on the outer-row id, ordered by the
    * element position — no global limit, no shuffle beyond the window.
    */
  private def lateralLimit(df: DataFrame, n: Int, fromEnd: Boolean): Option[DataFrame] = {
    if (!df.columns.contains(Compiler.rowIdCol) || !df.columns.contains(Compiler.posCol))
      return None
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(Compiler.rowIdCol))
      .orderBy(if (fromEnd) col(Compiler.posCol).desc else col(Compiler.posCol).asc)
    val ranked = df.withColumn("__rank", row_number().over(w))
    // tail ranks descending to pick the last N, but the surviving rows
    // keep their ORIGINAL element order (tail.go preserves order)
    Some(ranked.filter(col("__rank") <= n).drop("__rank")
      .sortWithinPartitions(col(Compiler.rowIdCol), col(Compiler.posCol)))
  }

  /** ZSON text of an arbitrary expression (for error payloads etc.). */
  private def zsonTextOf(df: DataFrame, e: Expr): Column = {
    val c = expr(df, e)
    val dt = dtOr(df, c, StringType)
    graft.sources.ZsonIO.zsonOf(c, dt)
  }

  /** has(path): static when shapes agree, else a codegen'd tag test. */
  private def hasPath(df: DataFrame, parts: Seq[String]): Column = {
    val shapes = shapesOf(df)
    if (shapes.nonEmpty) {
      val present = shapes.collect { case (t, st) if pathIn(st, parts).isDefined => t }
      if (present.isEmpty)
        // operator-added columns live outside the (stale) shape tags
        if (dtypeOf(df, Expr.Path(parts)).isDefined) lit(true) else lit(false)
      else if (present.size == shapes.size) lit(true)
      else col(graft.operators.Het.typeTag).isin(present: _*)
    } else Shaper.has(df, parts.mkString("."))
  }

  private def pathWalk(dt: DataType, ps: Seq[String]): Option[DataType] = (dt, ps) match {
    case (t, Seq()) => Some(t)
    case (st: StructType, _) if isVariant(st) => None // boxed: ZvOps.get territory
    case (st: StructType, p +: rest) =>
      st.fields.find(_.name == p).flatMap(f => pathWalk(f.dataType, rest))
    case _ => None
  }

  /** Is the path this-relative? (Lateral bodies: the element rides as a
    * `this` struct column and bare field refs address ITS fields,
    * docs/language/lateral-subqueries.md.) Direct columns win.
    */
  private def thisRelative(df: DataFrame, parts: Seq[String]): Option[DataType] =
    if (parts.isEmpty || pathWalk(df.schema, parts).isDefined) None
    else df.schema.fields.find(f => f.name == "this" && !isVariant(f.dataType))
      .flatMap(f => pathWalk(f.dataType, parts))

  /** A lateral `with` var named by the path head (vars shadow data). */
  private def varType(df: DataFrame, parts: Seq[String]): Option[DataType] =
    if (parts.isEmpty) None
    else df.schema.fields.find(_.name == Compiler.varPrefix + parts.head)
      .flatMap(f => pathWalk(f.dataType, parts.tail))

  private def dtypeOf(df: DataFrame, e: Expr): Option[DataType] = e match {
    case Expr.Path(parts) if parts.headOption.contains("this") =>
      dtypeOf(df, Expr.Path(parts.tail))
    case Expr.Path(Seq()) =>
      // a bare-value carrier frame: `this` IS the single data column
      val dataCols = df.schema.fields.filterNot(f =>
        f.name == graft.operators.Het.typeTag || f.metadata.contains("graft.scopeVar"))
      if (dataCols.length == 1 && dataCols.head.name == "this")
        Some(dataCols.head.dataType)
      else None
    case Expr.Path(parts) =>
      varType(df, parts).orElse(pathWalk(df.schema, parts))
        .orElse(thisRelative(df, parts))
    case Expr.IntLit(_) => Some(LongType)
    case Expr.FloatLit(_) => Some(DoubleType)
    case Expr.StringLit(_) => Some(StringType)
    case Expr.BoolLit(_) => Some(BooleanType)
    case Expr.TimeLit(_, _) => Some(TimestampType)
    case Expr.DurationLit(_, _) => Some(LongType)
    case Expr.Unary(_, inner) => dtypeOf(df, inner)
    case Expr.Binary(op, l, r) if Set("+", "-", "*", "/", "%")(op) =>
      // on TAGGED frames / and % may box into error-carrying variants
      // (divide-by-zero is a VALUE) — the static prediction would lie
      if ((op == "/" || op == "%") && isTagged(df)) None
      else if (staticPromotedName(df, op, l, r).isDefined)
        Some(graft.operators.Het.variantType) // promoted-type arithmetic boxes
      else (dtypeOf(df, l), dtypeOf(df, r)) match {
        // time - time is a duration in ns (expr/eval.go coerceTime)
        case (Some(a), Some(b)) if op == "-" && F.isTimeDt(a) && F.isTimeDt(b) =>
          Some(LongType)
        case (Some(a), Some(b)) if a == b => Some(a)
        case (Some(DoubleType), _) | (_, Some(DoubleType)) => Some(DoubleType)
        case (a, _) => a
      }
    case Expr.Call(fn, _) if Set("lower", "upper", "trim", "replace", "join",
      "strftime", "network_of", "hex", "base64", "string", "__concat")(fn) => Some(StringType)
    case Expr.Call("__slice", args) => dtypeOf(df, args.head)
    case Expr.Call("split", _) => Some(ArrayType(StringType))
    case Expr.ArrayLit(items) =>
      Some(ArrayType(items.headOption.flatMap(dtypeOf(df, _)).getOrElse(NullType)))
    case Expr.Call("__setlit", items) =>
      Some(ArrayType(items.headOption.flatMap(dtypeOf(df, _)).getOrElse(NullType)))
    case Expr.Call("__maplit", _) => Some(MapType(StringType, StringType))
    case Expr.RecordLit(fields) if fields.exists {
        case ("...", se) => isVariantExpr(df, se)
        case _ => false
      } =>
      // runtime-typed spread assembles the record row-level → boxed value
      Some(graft.operators.Het.variantType)
    case Expr.RecordLit(fields) =>
      Some(StructType(fields.filterNot(_._1 == "...").map { case (n, fe) =>
        StructField(n, dtypeOf(df, fe).getOrElse(NullType))
      } ++ fields.collect { case ("...", se) => dtypeOf(df, se) }.flatten.collect {
        case st: StructType => st.fields.toSeq
      }.flatten))
    case _ => None
  }

  private def isIntType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def isStringy(df: DataFrame, e: Expr): Boolean =
    dtypeOf(df, e).contains(StringType)

  private def isIntegral(df: DataFrame, e: Expr): Boolean =
    dtypeOf(df, e).exists(isIntType)

  /** ns-long time columns (parquet nanosAsLong — GraftSession) compare
    * against time literals in the exact ns domain.
    */
  private def timeOperand(df: DataFrame, other: Expr, t: Expr.TimeLit): Column =
    dtypeOf(df, other) match {
      case Some(LongType) => lit(t.epochNs)
      // NTZ carrier: emit an NTZ literal (exact — session TZ is UTC) so the
      // comparison stays on the bare column and pushes down to the scan
      case Some(TimestampNTZType) => lit(java.time.Instant.ofEpochSecond(
        t.epochNs / 1000000000L, t.epochNs % 1000000000L)).cast(TimestampNTZType)
      case _ => lit(java.time.Instant.ofEpochSecond(
        t.epochNs / 1000000000L, t.epochNs % 1000000000L))
    }

  def expr(df: DataFrame, e: Expr): Column = e match {
    // `this` is the whole value, never a field lookup — normalize a
    // leading `this` segment before any column named "this" (the bare-
    // value CARRIER column) can shadow it
    case Expr.Path(parts) if parts.headOption.contains("this") =>
      expr(df, Expr.Path(parts.tail))
    case Expr.IntLit(v) => lit(v)
    case Expr.FloatLit(v) => lit(v)
    case Expr.StringLit(v) => lit(v)
    case Expr.BoolLit(v) => lit(v)
    case Expr.NullLit => lit(null)
    case t @ Expr.TimeLit(ns, _) =>
      lit(java.time.Instant.ofEpochSecond(ns / 1000000000L, ns % 1000000000L))
    case Expr.DurationLit(ns, _) => lit(ns)

    case Expr.Path(Seq()) =>
      val dataF = df.schema.fields
        .filterNot(f => f.name == graft.operators.Het.typeTag ||
          f.metadata.contains("graft.scopeVar"))
      val dataCols = dataF.map(_.name)
      if (dataCols.sameElements(Array("this"))) col("this")
      else {
        // a stream mixing BARE values (this carrier) and record shapes:
        // `this` is per-row — record rows box their own shape's struct
        // into the variant, bare rows pass the carrier through
        val zt = graft.sources.ZType
        val shapes = shapesOf(df)
        val recShapes = shapes.filter(s => zt.strip(s._2).isInstanceOf[zt.Rec])
        val hasBare = dataCols.contains("this") && shapes.size > recShapes.size
        if (hasBare && recShapes.nonEmpty) {
          val bare0 =
            if (isVariant(df.schema("this").dataType)) col("this")
            else graft.operators.Het.variant(col("this"), df.schema("this").dataType)
          recShapes.foldLeft(bare0) { case (acc, (t, st)) =>
            zt.strip(st) match {
              case zt.Rec(fs) if fs.forall(f => dataCols.contains(f._1)) =>
                val stc = struct(fs.map { case (n, _) => col(s"`$n`").as(n) }: _*)
                val sdt = StructType(fs.map { case (n, _) =>
                  df.schema.fields.find(_.name == n).get })
                when(col(graft.operators.Het.typeTag) === t,
                  graft.operators.Het.variant(stc, sdt)).otherwise(acc)
              case _ => acc
            }
          }
        } else struct(dataCols.map(n => col(s"`$n`")).toIndexedSeq: _*)
      }
    case Expr.Path(parts) =>
      // a reference to a nonexistent field is zed's error("missing") — a
      // VALUE, not a compile error (complex.go:28-40). In relational
      // (untagged) frames it maps to SQL NULL: it propagates through
      // arithmetic and comparisons and drops rows in filters. In output
      // positions on tagged frames, outExpr materializes the error value.
      if (varType(df, parts).isDefined)
        parts.tail.foldLeft(col(s"`${Compiler.varPrefix}${parts.head}`"))(_.getField(_))
      else if (pathWalk(df.schema, parts).isDefined) col(parts.mkString("."))
      else if (thisRelative(df, parts).isDefined)
        parts.foldLeft(col("this"))(_.getField(_))
      else if (df.schema.fields.exists(f => f.name == "this" &&
          isVariant(f.dataType)) && !df.columns.contains(parts.head))
        // element is a boxed (union-typed) record: row-level field access
        parts.foldLeft(col("this"))((acc, f) => graft.functions.ZvOps.get(acc, f))
      else {
        // a path prefix landing on a variant column → boxed field access
        val prefixLen = (parts.length - 1 to 1 by -1)
          .find(n => dtypeOf(df, Expr.Path(parts.take(n))).exists(isVariant))
        prefixLen match {
          case Some(n) =>
            parts.drop(n).foldLeft(col(parts.take(n).mkString("."))) {
              (acc, f) => graft.functions.ZvOps.get(acc, f)
            }
          case None => lit(null)
        }
      }

    case Expr.Index(inner: Expr.Path, _) if inner.parts.nonEmpty &&
        ((dtypeOf(df, inner).isEmpty && !isVariantExpr(df, inner)) ||
          zedNullPath(df, inner)) =>
      lit(null) // index into a missing or null-typed value

    case Expr.Index(Expr.Path(Seq()), idx) if df.columns.contains("this") &&
        isVariant(df.schema("this").dataType) && isTagged(df) =>
      // `this[i]` over a mixed stream: non-record rows (variant `this`)
      // index row-level; record rows index the relational columns —
      // an int index on a record is the reference's error value
      // (expr/eval.go indexRecord)
      val het = graft.operators.Het
      val thisC = col("this")
      val boxed = idx match {
        case Expr.StringLit(k) => graft.functions.ZvOps.get(thisC, k)
        case other if isVariantExpr(df, other) =>
          graft.functions.ZvOps.indexAny(thisC, expr(df, other))
        case other => graft.functions.ZvOps.index(thisC, expr(df, other).cast("int"))
      }
      val recCols = df.schema.fields.toIndexedSeq.filterNot(f =>
        f.name == "this" || f.name == het.typeTag ||
          f.metadata.contains("graft.scopeVar"))
      val recResult: Column = idx match {
        case Expr.StringLit(k) =>
          recCols.find(_.name == k)
            .map(f => het.variant(col(s"`${f.name}`"), f.dataType))
            .getOrElse(het.errMissing)
        case Expr.IntLit(i) =>
          het.errorValue(lit(s"""{message:"record index is not a string",on:$i}"""))
        case _ => het.errMissing
      }
      when(thisC.isNotNull, boxed).otherwise(recResult)

    case Expr.Index(inner, Expr.StringLit(k)) if !isVariantExpr(df, inner) &&
        !(dtypeOf(df, inner) match {
          case Some(MapType(kt, _, _)) => isVariant(kt) // fall through: box the key
          case _ => false
        }) =>
      expr(df, inner).getItem(k)
    case Expr.Index(inner, idx) =>
      // zed arrays are 0-indexed; negative indexes from the end
      val arr = expr(df, inner)
      if (isVariantExpr(df, inner)) idx match {
        case Expr.StringLit(k) => graft.functions.ZvOps.get(arr, k)
        case other if isVariantExpr(df, other) ||
            !dtypeOf(df, other).exists(_.isInstanceOf[NumericType]) =>
          // runtime-typed (or non-numeric) index: full Index semantics
          // incl. the reference's error payloads
          val idxC = expr(df, other)
          val boxed =
            if (isVariantExpr(df, other)) idxC
            else graft.operators.Het.variant(idxC,
              dtypeOf(df, other).getOrElse(
                dtOr(df, idxC, StringType)))
          graft.functions.ZvOps.indexAny(arr, boxed)
        case other => graft.functions.ZvOps.index(arr, expr(df, other).cast("int"))
      } else {
        val innerDt = dtOr(df, arr, NullType)
        innerDt match {
          case MapType(kt: StructType, _, _) if isVariant(kt) =>
            // union-keyed map: box the lookup key in the same encoding
            val idxC = expr(df, idx)
            val idxDt = dtypeOf(df, idx).getOrElse(
              dtOr(df, idxC, StringType))
            element_at(arr, graft.operators.Het.variant(idxC, idxDt))
          case MapType(kt, _, _) =>
            // map KEY lookup (no 0-base shift); a VARIANT key (field of a
            // boxed value) unboxes to the map's key type first
            val idxC = expr(df, idx)
            val idxDt = dtOr(df, idxC, NullType)
            if (isVariant(idxDt)) {
              val k = kt match {
                case StringType => idxC.getField("s")
                case _: NumericType => idxC.getField("n").cast(kt)
                case BooleanType => idxC.getField("b")
                case _ => idxC.getField("s").cast(kt)
              }
              element_at(arr, k)
            } else element_at(arr, idxC)
          case st: StructType if !isVariant(st) =>
            // dynamic record index: the index VALUE names the field
            // (expr/eval.go indexRecord); non-string index is an error
            val het = graft.operators.Het
            val idxC = expr(df, idx)
            val idxDt = dtypeOf(df, idx).getOrElse(
              dtOr(df, idxC, StringType))
            if (idxDt.isInstanceOf[NumericType])
              het.errorValue(concat(lit("{message:\"record index is not a string\",on:"),
                idxC.cast(StringType), lit("}")))
            else st.fields.toIndexedSeq.foldLeft(het.errMissing: Column) { (acc, f) =>
              when(idxC === lit(f.name),
                het.variant(arr.getField(f.name), f.dataType)).otherwise(acc)
            }
          case _ => idx match {
            case Expr.IntLit(i) if i >= 0 => element_at(arr, (i + 1).toInt)
            case Expr.IntLit(i) => element_at(arr, i.toInt)
            case other => element_at(arr, (expr(df, other) + lit(1)).cast("int"))
          }
        }
      }

    case Expr.Unary("-", inner) =>
      if (isVariantExpr(df, inner)) graft.functions.ZvOps.neg(expr(df, inner))
      else -expr(df, inner)
    case Expr.Unary("not" | "!", inner) =>
      val c = expr(df, inner)
      if (typeOf(df, c).exists(t => isVariant(t.dt)))
        // boxed boolean (comparison over union operands): negate the
        // member, propagate error values (eval.go Not)
        shared(df, c) { case Seq((v, _)) =>
          when(graft.operators.Het.isError(v), v)
            .otherwise(graft.operators.Het.variant(!coalesce(v.getField("b"), lit(false)), BooleanType))
        }
      else !coalesce(c, lit(false)) // a null boolean negates to TRUE (eval.go Not)
    case Expr.Unary(op, _) => throw new IllegalArgumentException(s"unary $op")

    case Expr.Binary(op, l, r) => binary(df, op, l, r)

    case Expr.Cond(c, t, f) if hasBareRunningAgg(t) || hasBareRunningAgg(f) =>
      // a running agg inside a ?: branch only advances when ITS branch is
      // taken (expr/agg evaluation is lazy per row) — push the condition
      // into each agg call as a where guard
      expr(df, Expr.Cond(c,
        guardRunningAggs(t, c),
        guardRunningAggs(f, Expr.Unary("not", c))))

    case Expr.Cond(c, t, f) =>
      // mismatched branch types form a zed union (put-changing-types) —
      // Spark would silently coerce (int→string), so box instead
      val (tc, fc) = (expr(df, t), expr(df, f))
      def dtOf(x: Column) =
        typeOf(df, x).map(_.dt)
      // a boxed (variant) condition — comparisons over union-typed
      // operands — reads its boolean member; errors are not-true
      def condC: Column = {
        val cc = expr(df, c)
        if (dtOf(cc).exists(isVariant)) coalesce(cc.getField("b"), lit(false))
        else cc
      }
      (dtOf(tc), dtOf(fc)) match {
        case (Some(a), Some(b)) if a != b && a != NullType && b != NullType &&
            !isVariant(a) && !isVariant(b) &&
            !(a.isInstanceOf[NumericType] && b.isInstanceOf[NumericType]) =>
          when(condC, graft.operators.Het.variant(tc, a))
            .otherwise(graft.operators.Het.variant(fc, b))
        // one branch already a union value (e.g. `… ? original : error(…)`,
        // shaping.md error handling): box the plain side to match
        case (Some(a), Some(b)) if isVariant(a) != isVariant(b) &&
            a != NullType && b != NullType =>
          when(condC, if (isVariant(a)) tc else graft.operators.Het.variant(tc, a))
            .otherwise(if (isVariant(b)) fc else graft.operators.Het.variant(fc, b))
        case _ =>
          when(condC, tc).otherwise(fc)
      }

    case rc: Expr.RecCall =>
      // recursive user func: row-level interpreter over zson-text args
      val argTexts = rc.args.map { a =>
        val c = expr(df, a)
        if (isVariantExpr(df, a)) graft.operators.Het.render(c)
        else {
          val dt = dtypeOf(df, a).getOrElse(
            dtOr(df, c, StringType))
          graft.sources.ZsonIO.zsonOf(c, dt)
        }
      }
      graft.functions.ZvOps.recCall(rc.name, rc.table, argTexts)

    case Expr.Call(fn, args) => call(df, fn, args)

    case Expr.SubQuery(p) => subqueryExpr(df, p)

    case Expr.RecordLit(fields) if fields.exists {
        case ("...", se) => isVariantExpr(df, se)
        case _ => false
      } =>
      // a spread whose operand is RUNTIME-typed (e.g. {...unflatten(this)})
      // assembles the record row-level from rendered values
      val names = array(fields.map {
        case ("...", _) => lit(null).cast(StringType)
        case (n, _) => lit(n)
      }: _*)
      val vals = array(fields.map { case (_, fe) =>
        val c = expr(df, fe)
        if (isVariantExpr(df, fe)) graft.operators.Het.render(c)
        else zsonTextOf(df, fe)
      }: _*)
      graft.functions.ZvOps.recordLit(names, vals)

    case Expr.RecordLit(fields) =>
      // `...expr` spreads a record's fields in place; later names override
      // earlier ones at the original position (record-spread semantics)
      val expanded = fields.flatMap {
        case (n, Expr.Path(Seq()) | Expr.Path(Seq("this")))
            if n != "..." && isTagged(df) && shapesOf(df).count(s =>
              graft.sources.ZType.strip(s._2)
                .isInstanceOf[graft.sources.ZType.Rec]) > 1 =>
          // `this` embedded in a record on a MULTI-SHAPE frame: box each
          // row's OWN shape (the unified het columns would leak nulls
          // from sibling shapes into the value). Scoped here — predicate
          // positions keep the cheap struct form (len/sort subjects)
          val zt = graft.sources.ZType
          val dataCols = df.schema.fields
            .filterNot(f => f.name == graft.operators.Het.typeTag ||
              f.metadata.contains("graft.scopeVar")).map(_.name).toSet
          val chain = shapesOf(df).foldLeft(
            lit(null).cast(graft.operators.Het.variantType)) {
            case (acc, (t, st)) =>
              zt.strip(st) match {
                case zt.Rec(fs) if fs.forall(f => dataCols.contains(f._1)) =>
                  val stc = struct(fs.map { case (fn, _) => col(s"`$fn`").as(fn) }: _*)
                  val sdt = StructType(fs.map { case (fn, _) =>
                    df.schema.fields.find(_.name == fn).get })
                  when(col(graft.operators.Het.typeTag) === t,
                    graft.operators.Het.variant(stc, sdt)).otherwise(acc)
                case _ => acc
              }
          }
          Seq(n -> chain)
        case ("...", se) =>
          val base = expr(df, se)
          dtypeOf(df, se).orElse(
            typeOf(df, base).map(_.dt)) match {
            case Some(st: StructType) if !isVariant(st) =>
              st.fields.toSeq.map(f => f.name -> base.getField(f.name))
            case _ => Seq.empty // spread of missing/non-record: contributes nothing
          }
        case (n, fe: Expr.Path) if fe.parts.nonEmpty && isTagged(df) &&
            pathMixed(df, fe) =>
          // a shape-missing field embeds error("missing") in the record
          Seq(n -> outExpr(df, fe))
        case (n, fe) => Seq(n -> expr(df, fe))
      }
      val ordered = scala.collection.mutable.LinkedHashMap.empty[String, Column]
      expanded.foreach { case (n, c) => ordered(n) = c }
      struct(ordered.toSeq.map { case (n, c) => c.as(n) }: _*)

    case Expr.ArrayLit(items) if items.exists {
        case Expr.Call("__spread", Seq(se)) => isVariantExpr(df, se)
        case _ => false
      } =>
      // a spread over a union-typed operand resolves row-level
      vectorLitVariant(df, items, isSet = false)

    case Expr.ArrayLit(items) =>
      if (items.exists { case Expr.Call("__spread", _) => true; case _ => false }) {
        val parts = items.map {
          case Expr.Call("__spread", Seq(se)) => (expr(df, se), true)
          case e2 => (array(expr(df, e2)), false)
        }
        val dts = parts.map { case (c, _) =>
          dtOr(df, c, NullType)
        }
        if (dts.distinct.length <= 1) concat(parts.map(_._1): _*)
        else
          // mixed element types across spreads → zed forms a union
          concat(parts.zip(dts).map {
            case ((c, _), ArrayType(et, _)) if !isVariant(et) =>
              transform(c, x => graft.operators.Het.variant(x, et))
            case ((c, _), _) => c
          }: _*)
      }
      else array(items.map(expr(df, _)): _*)
  }

  /** Box a pair of columns into a common type when their Spark types
    * differ (zed forms a union).
    */
  private def unifyPair(df: DataFrame, a: Column, b: Column): (Column, Column) = {
    def dt(c: Column) =
      dtOr(df, c, StringType)
    val (da, db) = (dt(a), dt(b))
    if (da == db) (a, b)
    else {
      val het = graft.operators.Het
      def box(c: Column, d: DataType) = if (isVariant(d)) c else het.variant(c, d)
      (box(a, da), box(b, db))
    }
  }

  /** Array/set literal with union-typed spread operands: every item
    * travels as zson text, the splice happens row-level (ZvOps.vectorLit).
    */
  private def vectorLitVariant(df: DataFrame, items: Seq[Expr], isSet: Boolean): Column = {
    def textOf(e: Expr): Column = {
      val c = expr(df, e)
      if (isVariantExpr(df, e)) graft.operators.Het.render(c)
      else {
        val dt = dtypeOf(df, e).getOrElse(
          dtOr(df, c, StringType))
        graft.sources.ZsonIO.zsonOf(c, dt)
      }
    }
    val (texts, flags) = items.map {
      case Expr.Call("__spread", Seq(se)) => (textOf(se), true)
      case e => (textOf(e), false)
    }.unzip
    graft.functions.ZvOps.vectorLit(array(texts: _*),
      lit(flags.toArray), isSet)
  }

  /** Path operand whose presence varies across shapes (its output form is
    * a variant gated on the tag).
    */
  /** Path whose zed type is null in EVERY shape (a typed-null column —
    * relationally a string, but ops must treat it as null).
    */
  private def zedNullPath(df: DataFrame, e: Expr): Boolean = e match {
    case Expr.Path(parts) if parts.nonEmpty =>
      val shapes = shapesOf(df)
      shapes.nonEmpty && {
        val ts = shapes.flatMap(s => pathIn(s._2, parts)).map(graft.sources.ZType.strip)
        ts.nonEmpty && ts.forall(_ == graft.sources.ZType.Prim("null"))
      }
    case _ => false
  }

  /** Every named type appearing anywhere in the frame's shape set, as
    * (name, full text `name=<def>`) — the static analog of the
    * reference's runtime type context.
    */
  private def namedTypesOf(df: DataFrame): Seq[(String, String)] = {
    val zt = graft.sources.ZType
    def walk(t: graft.sources.ZType): Seq[zt.Named] = t match {
      case n @ zt.Named(_, inner) => n +: walk(inner)
      case zt.Rec(fs) => fs.flatMap(f => walk(f._2))
      case zt.Arr(e2) => walk(e2)
      case zt.SetT(e2) => walk(e2)
      case zt.MapT(k, v) => walk(k) ++ walk(v)
      case zt.Union(alts) => alts.flatMap(walk)
      case zt.ErrT(i) => walk(i)
      case _ => Seq.empty
    }
    shapesOf(df).flatMap { case (_, st) => walk(st) }
      .map(n => n.name -> zt.fullText(n)).distinct
  }

  private def resolveNamedType(df: DataFrame, name: String): Option[String] =
    namedTypesOf(df).collectFirst { case (n, text) if n == name => text }

  /** The STATIC zed type text of an operand, when the tagged stream's
    * shapes agree on one (full text keeps named forms — "port=uint16" —
    * which PromoteTypeName resolves to their underlying primitive).
    */
  private def staticZedName(df: DataFrame, e: Expr): Option[String] = e match {
    case Expr.IntLit(_) => Some("int64")
    case Expr.FloatLit(_) => Some("float64")
    case Expr.Binary(op2, l2, r2) if Set("+", "-", "*", "/", "%")(op2) =>
      // promoted-lattice arithmetic yields a statically-known type when
      // both operand types are static (chains fold: (a+p1)+p2 → int32)
      for {
        a <- staticZedName(df, l2)
        b <- staticZedName(df, r2)
        p <- Option(graft.functions.PromoteTypeName.promote(
          org.apache.spark.unsafe.types.UTF8String.fromString(a),
          org.apache.spark.unsafe.types.UTF8String.fromString(b)))
        n = p.toString
        if n.matches("^(u?int|float)(8|16|32|64)$")
      } yield n
    case Expr.Path(ps0) =>
      val ps = if (ps0.headOption.contains("this")) ps0.tail else ps0
      if (ps.isEmpty) None
      else {
        val ts = shapesOf(df).flatMap(s => pathIn(s._2, ps))
          .map(graft.sources.ZType.fullText).distinct
        if (ts.size == 1) Some(ts.head) else None
      }
    case _ => None
  }

  /** The zed type of top-level field `cn`, names kept: its marker, else
    * the one type every shape gives it. None when a shape lacks the field
    * (its rows carry error("missing")) or the shapes disagree.
    */
  private def fieldZedType(df: DataFrame, cn: String): Option[String] = {
    val f = df.schema(cn)
    if (f.metadata.contains("graft.zedType")) Some(f.metadata.getString("graft.zedType"))
    else {
      val ts = shapesOf(df).map { case (_, t) => graft.sources.ZType.strip(t) match {
        case graft.sources.ZType.Rec(fs) =>
          fs.collectFirst { case (`cn`, ft) => graft.sources.ZType.fullText(ft) }
        case _ => None
      } }.distinct
      if (ts.size == 1) ts.head else None
    }
  }

  /** `this` over a bare-value stream (one `this` column, non-record
    * shapes) whose shapes agree on one zed type: that type's text. The
    * tag that carries it does not survive a projection of `this`.
    */
  private def bareValueType(df: DataFrame, e: Expr): Option[String] = e match {
    case Expr.Path(Seq()) | Expr.Path(Seq("this")) if df.schema.fields.count(f =>
        f.name != graft.operators.Het.typeTag && !f.metadata.contains("graft.scopeVar")) == 1 =>
      val shapes = shapesOf(df)
      val ts = shapes.map { case (_, t) => graft.sources.ZType.fullText(t) }.distinct
      if (ts.size == 1 && !shapes.exists { case (t, zt) =>
            graft.sources.ZType.isNullWrap(t) ||
              graft.sources.ZType.strip(zt).isInstanceOf[graft.sources.ZType.Rec] })
        ts.headOption
      else None
    case _ => None
  }

  /** Non-plain STATIC numeric operands (uint8..uint64, int8..int32,
    * float16/32, incl. named forms) promote under the reference lattice
    * and must carry the promoted type — such arithmetic takes the
    * variant path (math-coerce ztest). Plain int64/float64 pairs stay
    * static (the carrier is exact and renders bare).
    */
  private def staticPromotedName(df: DataFrame, op: String, l: Expr,
      r: Expr): Option[String] =
    if (!Set("+", "-", "*", "/", "%")(op)) None
    else (staticZedName(df, l), staticZedName(df, r)) match {
      case (Some(a), Some(b)) =>
        def under(t: String) = t.substring(t.lastIndexOf('=') + 1)
        val plain = Set("int64", "float64")
        if (plain(under(a)) && plain(under(b))) None // static path is exact
        else Option(graft.functions.PromoteTypeName.promote(
          org.apache.spark.unsafe.types.UTF8String.fromString(a),
          org.apache.spark.unsafe.types.UTF8String.fromString(b)))
          .map(_.toString)
          .filter(_.matches("^(u?int|float)(8|16|32|64)$"))
      case _ => None
    }

  private def pathMixed(df: DataFrame, e: Expr): Boolean = e match {
    case Expr.Path(parts) if parts.nonEmpty =>
      val shapes = shapesOf(df)
      shapes.nonEmpty && {
        val present = shapes.count { case (_, st) => pathIn(st, parts).isDefined }
        present > 0 && present < shapes.size
      }
    case _ => false
  }

  /** A path present in NO shape of a tagged stream — evaluates to
    * error("missing") (complex.go:28-40), so operators must propagate it
    * rather than null-map it.
    */
  private def missingStatic(df: DataFrame, e: Expr): Boolean = e match {
    case Expr.Path(parts) if parts.nonEmpty =>
      isTagged(df) && varType(df, parts).isEmpty && dtypeOf(df, e).isEmpty &&
        pathWalk(df.schema, parts).isEmpty &&
        thisRelative(df, parts).isEmpty && !pathMixed(df, e) &&
        !(parts.length - 1 to 1 by -1)
          .exists(n => dtypeOf(df, Expr.Path(parts.take(n))).exists(isVariant)) &&
        !(df.schema.fields.exists(f => f.name == "this" && isVariant(f.dataType)) &&
          !df.columns.contains(parts.head))
    case _ => false
  }

  private def binary(df: DataFrame, op: String, l: Expr, r: Expr): Column = {
    // variant (union-typed / per-shape-missing / statically-missing)
    // operand: compare under the cross-type total order, operate
    // numerically, PROPAGATE error values
    // (complex.go Under + coercion lattice; error propagation complex.go:28)
    val lVar = isVariantExpr(df, l) || pathMixed(df, l) || missingStatic(df, l)
    val rVar = isVariantExpr(df, r) || pathMixed(df, r) || missingStatic(df, r)
    // STATIC operands whose zed types promote to a non-plain numeric
    // (uint8..uint64, int8..int32, float16/float32 — coerce/promote.go)
    // also take the variant path: the result must carry its promoted
    // type so writers decorate it (math-coerce ztest: uint8-uint16 →
    // 1(uint16)). Plain int64/float64 results stay on the static path.
    val staticPromoted: Option[String] =
      if (!lVar && !rVar) staticPromotedName(df, op, l, r) else None
    if ((lVar || rVar || staticPromoted.isDefined) &&
        Set("==", "!=", "<", "<=", ">", ">=", "+", "-", "*", "/", "%")(op)) {
      val het = graft.operators.Het
      def asVar(e: Expr, isVar: Boolean): Column =
        if (isVar) outExpr(df, e)
        else het.variant(expr(df, e), dtypeOf(df, e).getOrElse(StringType),
          staticZedName(df, e).map(n => lit(n)))
      // Sharing contract: every arm below reads each operand many times
      // (nullish 7x, compareKey 8x, isError/boxed, the arithmetic slots),
      // so `shared` binds the two RESOLVED operands from their type probes
      // as common expressions and the arms read refs — a per-shape path
      // operand is a CASE over the shape tag, and inlining it at every read
      // made a one-comparison search a 5k-node condition. An operand that
      // does not resolve over df alone stays inline (see `shared`).
      return shared(df, asVar(l, lVar), asVar(r, rVar)) { case Seq((lv, ldt), (rv, rdt)) =>
        val (lk, rk) = (het.compareKey(lv), het.compareKey(rv))
        // null values (untyped or typed — all payload members null) compare
        // EQUAL to the null literal and never yield SQL null (zed
        // comparisons are total; expressions.md "Comparisons")
        def nullish(v: Column): Column = v.isNull ||
          (v.getField("n").isNull && v.getField("s").isNull &&
            v.getField("b").isNull && v.getField("z").isNull &&
            v.getField("a").isNull && v.getField("m").isNull)
        // an ERROR operand propagates out of ANY comparison (eval.go
        // numeric.eval / Compare.Eval return the error value) — the boxed
        // result keeps predicate contexts working (searchify reads `b`,
        // which is NULL on errors, so and/or partials still skip —
        // logical-partials ztest)
        // operands may be 6-slot LEAF carriers (values plucked from a/m
        // caches) — widen to the canonical variant so the CASE branches
        // share one type
        def widen(v: Column, dt: DataType): Column =
          if (dt == het.variantType) v
          else struct((het.variantType.fields.map { f =>
            (if (dt.isInstanceOf[StructType] &&
                 dt.asInstanceOf[StructType].fieldNames.contains(f.name))
               v.getField(f.name).cast(f.dataType)
             else lit(null).cast(f.dataType)).as(f.name)
          }).toIndexedSeq: _*)
        val (lvW, rvW) = (widen(lv, ldt), widen(rv, rdt))
        def boxed(b: Column): Column =
          when(het.isError(lvW), lvW).when(het.isError(rvW), rvW)
            .otherwise(het.variant(b, BooleanType))
        op match {
          case "==" =>
            boxed(when(nullish(lv) || nullish(rv), nullish(lv) && nullish(rv))
              .otherwise(coalesce(lk === rk, lit(false))))
          case "!=" =>
            boxed(when(nullish(lv) || nullish(rv), !(nullish(lv) && nullish(rv)))
              .otherwise(coalesce(lk =!= rk, lit(true))))
          case "<" | "<=" | ">" | ">=" =>
            val cmp = op match {
              case "<" => lk < rk
              case "<=" => lk <= rk
              case ">" => lk > rk
              case _ => lk >= rk
            }
            boxed(coalesce(cmp, lit(false)))
          case _ =>
            // arithmetic under the reference's RUNTIME promotion lattice
            // (coerce/promote.go, applied per row by PromoteTypeName): the
            // result type follows the operand types — int+int stays int,
            // either-float floats (vam/op/ztests/arith.yaml), named types
            // strip to their underlying primitive (port-math.yaml),
            // string+string concatenates (eval.go Add), a failed promote is
            // error("incompatible types"), and a promote to a
            // non-arithmetic type is the reference's "type <t> incompatible
            // with '<op>' operator" (eval.go Add/Subtract/.../Modulo)
            val resT0 = Bridge.column(graft.functions.PromoteTypeName(
              Bridge.expression(lv.getField("t")),
              Bridge.expression(rv.getField("t"))))
            // time - time is a duration (eval.go Subtract)
            val resT =
              if (op == "-") when(resT0 === "time", lit("duration")).otherwise(resT0)
              else resT0
            val isFloatRes = resT.startsWith("float")
            val isNumRes = resT.rlike("^(u?int|float)(8|16|32|64|128|256)$") ||
              resT === "duration" || resT === "time"
            // null payloads act as zero (coerce.ToNumeric returns 0 on null)
            val ln = coalesce(lv.getField("n"), lit(0.0))
            val rn = coalesce(rv.getField("n"), lit(0.0))
            val raw = op match {
              case "+" => ln + rn
              case "-" => ln - rn
              case "*" => ln * rn
              case "/" => ln / rn
              case "%" => ln % rn
            }
            // integer ops truncate toward zero like Go int division (the
            // double carrier is exact through 2^53)
            val n = op match {
              case "/" => when(isFloatRes, raw)
                .otherwise(raw.cast(LongType).cast(DoubleType))
              case "%" => (ln.cast(LongType) % rn.cast(LongType)).cast(DoubleType)
              case _ => raw
            }
            val divZero = Set("/", "%")(op)
            val typeIncompat = het.errorValue(concat(
              lit("\"type "), resT, lit(s" incompatible with '$op' operator\"")))
            when(het.isError(lv), lv)
              .when(het.isError(rv), rv)
              .when(resT.isNull, het.errorValue(lit("\"incompatible types\"")))
              .when(if (op == "+") resT === "string" else lit(false),
                het.variant(concat(coalesce(lv.getField("s"), lit("")),
                  coalesce(rv.getField("s"), lit(""))), StringType))
              .when(if (op == "%") isFloatRes || !isNumRes else !isNumRes,
                typeIncompat)
              .when(if (divZero) rn === 0 else lit(false),
                het.errorValue(lit("\"divide by zero\"")))
              .otherwise(het.mkVariant(
                when(resT === "time", lit(1)).otherwise(lit(0)), n,
                lit(null).cast(StringType), lit(null).cast(BooleanType),
                resT, lit(null).cast(StringType)))
        }
      }
    }
    // an enum operand in arithmetic/comparison coerces to its ordinal
    // (ztests/enum.yaml: %foo(enum(foo,bar,baz)) + 1 = 1)
    def enumSyms(e: Expr): Option[Vector[String]] = e match {
      case Expr.Path(ps) =>
        val parts = if (ps.headOption.contains("this")) ps.tail else ps
        shapesOf(df).flatMap(s => pathIn(s._2, parts))
          .map(graft.sources.ZType.strip).collectFirst {
            case graft.sources.ZType.EnumT(syms) => syms
          }
      case _ => None
    }
    if (Set("+", "-", "*", "/", "%")(op)) {
      def ord(e: Expr): Option[Column] = enumSyms(e).map { syms =>
        syms.zipWithIndex.foldLeft(lit(null).cast(LongType)) {
          case (acc, (s, i)) => when(expr(df, e) === lit(s), lit(i.toLong)).otherwise(acc)
        }
      }
      (ord(l), ord(r)) match {
        case (None, None) =>
        case (lo, ro) =>
          val lc2 = lo.getOrElse(expr(df, l))
          val rc2 = ro.getOrElse(expr(df, r))
          return op match {
            case "+" => lc2 + rc2
            case "-" => lc2 - rc2
            case "*" => lc2 * rc2
            case "/" => Bridge.intDiv(lc2, rc2)
            case "%" => lc2 % rc2
          }
      }
    }
    // number + string is zed's error("incompatible types"), not concat
    // (expr/eval.go Add); string + string stays concatenation
    if (op == "+") {
      val lStr = isStringy(df, l)
      val rStr = isStringy(df, r)
      def numeric(e: Expr) = dtypeOf(df, e).exists(_.isInstanceOf[NumericType])
      if ((lStr && numeric(r)) || (rStr && numeric(l)))
        return graft.operators.Het.errorValue(lit("\"incompatible types\""))
    }
    // arithmetic on containers is the reference's error VALUE
    // ("type <t> incompatible with '<op>' operator", expr/eval.go)
    if (Set("+", "-", "*", "/", "%")(op)) {
      def contType(e: Expr): Option[String] = {
        val zt = e match {
          case Expr.Path(ps) =>
            val parts = if (ps.headOption.contains("this")) ps.tail else ps
            val ts = shapesOf(df).flatMap(s => pathIn(s._2, parts))
              .map(graft.sources.ZType.strip).distinct
            if (ts.length == 1) ts.headOption else None
          case _ => None
        }
        zt match {
          case Some(t @ (graft.sources.ZType.Rec(_) | graft.sources.ZType.Arr(_) |
                         graft.sources.ZType.SetT(_) | graft.sources.ZType.MapT(_, _))) =>
            Some(graft.sources.ZType.text(t))
          case Some(_) => None
          case None => dtypeOf(df, e) match {
            case Some(dt @ (_: ArrayType | _: MapType)) => Some(Shaper.zedTypeOf(dt))
            case Some(st: StructType) if !isVariant(st) => Some(Shaper.zedTypeOf(st))
            case _ => None
          }
        }
      }
      contType(l).orElse(contType(r)) match {
        case Some(t) =>
          return graft.operators.Het.errorValue(
            lit(s""""type $t incompatible with '$op' operator""""))
        case None =>
      }
    }
    // time-literal vs ns-long column: compare in the ns domain
    val (lc0, rc0) = (l, r) match {
      case (t: Expr.TimeLit, _) => (timeOperand(df, r, t), expr(df, r))
      case (_, t: Expr.TimeLit) => (expr(df, l), timeOperand(df, l, t))
      case _ => (expr(df, l), expr(df, r))
    }
    // time ± duration stays in the time domain (expr/eval.go coerceTime):
    // timestamps shift by the duration's ns. TIMESTAMP_NTZ carriers behave
    // like TIMESTAMP — session TZ is pinned UTC so the casts are exact —
    // and the result keeps the operand's carrier dtype.
    def dtQ(c: Column): DataType =
      dtOr(df, c, NullType)
    def usOf(c: Column): Column =
      if (dtQ(c) == TimestampNTZType) unix_micros(c.cast(TimestampType))
      else unix_micros(c)
    val (ldt, rdt) = (dtQ(lc0), dtQ(rc0))
    val (lc, rc) = if (Set("+", "-")(op)) (ldt, rdt) match {
      case (t, LongType) if F.isTimeDt(t) =>
        (usOf(lc0) * 1000L, rc0) // operate in ns, rebuild below
      case (LongType, t) if F.isTimeDt(t) => (lc0, usOf(rc0) * 1000L)
      case _ => (lc0, rc0)
    } else (lc0, rc0)
    val timeResult = Set("+", "-")(op) &&
      ((F.isTimeDt(ldt) && rdt == LongType) ||
        (ldt == LongType && F.isTimeDt(rdt)))
    if (timeResult) {
      val ns = if (op == "+") lc + rc else lc - rc
      val tsCarrier = if (F.isTimeDt(ldt)) ldt else rdt
      return timestamp_micros(Bridge.intDiv(ns, lit(1000L))).cast(tsCarrier)
    }
    // time - time is a duration in ns
    if (op == "-" && F.isTimeDt(ldt) && F.isTimeDt(rdt))
      return (usOf(lc0) - usOf(rc0)) * 1000L
    // zed cross-type comparison returns false, not an error
    // (expressions.md "Comparisons": 1 > "a" → false); fold at plan time
    def crossType: Boolean = (dtypeOf(df, l), dtypeOf(df, r)) match {
      case (Some(a), Some(b)) =>
        def numeric(t: DataType) = t.isInstanceOf[NumericType]
        (numeric(a) && b == StringType) || (a == StringType && numeric(b)) ||
          (a == BooleanType) != (b == BooleanType)
      case _ => false
    }
    op match {
      case "+" =>
        if (isStringy(df, l) || isStringy(df, r)) concat(lc, rc) else lc + rc
      case "-" => lc - rc
      case "*" => lc * rc
      case "/" =>
        // zed 1/0 is the VALUE error("divide by zero") (expr/eval.go)
        if (r == Expr.IntLit(0)) graft.operators.Het.errorValue(lit("\"divide by zero\""))
        // zed int/int stays integral (expr/eval.go coercion lattice);
        // on a typed stream a zero divisor in the DATA is the error value
        else if (isIntegral(df, l) && isIntegral(df, r)) {
          if (isTagged(df))
            when(rc === 0, graft.operators.Het.errorValue(lit("\"divide by zero\"")))
              .otherwise(graft.operators.Het.variant(Bridge.intDiv(lc, rc), LongType))
          else Bridge.intDiv(lc, rc)
        } else if (isTagged(df)) {
          // float division by a zero in the DATA is also the error VALUE
          // (expr/eval.go) — only typed streams pay the variant carrier
          when(rc === 0, graft.operators.Het.errorValue(lit("\"divide by zero\"")))
            .otherwise(graft.operators.Het.variant(lc / rc, DoubleType))
        } else lc / rc
      case "%" =>
        val het = graft.operators.Het
        if (r == Expr.IntLit(0)) het.errorValue(lit("\"divide by zero\""))
        else if (isTagged(df)) {
          // zed %: integers only (expr/eval.go) — float operand and zero
          // divisor are error VALUES; result mixes ints and errors
          val lF = dtQ(lc0) == DoubleType || dtQ(lc0) == FloatType
          val rF = dtQ(rc0) == DoubleType || dtQ(rc0) == FloatType
          if (lF || rF)
            het.errorValue(lit("\"type float64 incompatible with '%' operator\""))
          else when(rc === 0, het.errorValue(lit("\"divide by zero\"")))
            .otherwise(het.variant(lc % rc, LongType))
        } else lc % rc
      // zed comparisons are total: a null operand compares false (and !=
      // true), never null (expressions.md "Comparisons"). Only tagged
      // (heterogeneous) frames pay for it — on relational frames the raw
      // comparison stays pushdown-able into the parquet scan (a coalesce
      // wrap would defeat PushedFilters; filters already treat null as
      // false there).
      case "==" =>
        if (crossType) lit(false) else if (isTagged(df)) lc <=> rc else lc === rc
      case "!=" =>
        if (crossType) lit(true) else if (isTagged(df)) !(lc <=> rc) else lc =!= rc
      case "<" =>
        if (crossType) lit(false)
        else if (isTagged(df)) coalesce(lc < rc, lit(false)) else lc < rc
      case "<=" =>
        if (crossType) lit(false)
        else if (isTagged(df)) coalesce(lc <= rc, lit(false)) else lc <= rc
      case ">" =>
        if (crossType) lit(false)
        else if (isTagged(df)) coalesce(lc > rc, lit(false)) else lc > rc
      case ">=" =>
        if (crossType) lit(false)
        else if (isTagged(df)) coalesce(lc >= rc, lit(false)) else lc >= rc
      case "and" | "or" =>
        // zed logic (sam/expr boolean): a null boolean is FALSE; a false
        // (true for or) operand SHORT-CIRCUITS even past errors; an
        // error (missing) otherwise propagates
        val het = graft.operators.Het
        val lVar = isVariant(dtQ(lc))
        val rVar = isVariant(dtQ(rc))
        def tb(c: Column, isVar: Boolean): Column =
          if (isVar) coalesce(c.getField("b"), lit(false))
          else coalesce(c, lit(false))
        def te(c: Column, isVar: Boolean): Column =
          if (isVar) coalesce(het.isError(c), lit(false)) else lit(false)
        val (lb, rb) = (tb(lc, lVar), tb(rc, rVar))
        val (le, re2) = (te(lc, lVar), te(rc, rVar))
        if (!lVar && !rVar) {
          if (op == "and") lb && rb else lb || rb
        } else {
          def bv(c: Column): Column = het.variant(c, BooleanType)
          def isMissing(c: Column): Column =
            coalesce(het.isError(c) &&
              c.getField("z") === lit("\"missing\""), lit(false))
          if (op == "and") {
            // eval.go And: lhs error wins, then lhs false, then rhs error,
            // then rhs false
            var res = when(lit(false), bv(lit(false)))
            if (lVar) res = res.when(le, lc)
            res = res.when(!lb, bv(lit(false)))
            if (rVar) res = res.when(re2, rc)
            res.when(!rb, bv(lit(false))).otherwise(bv(lit(true)))
          } else {
            // eval.go Or: lhs true wins; a NON-missing lhs error wins; a
            // missing lhs defers entirely to the rhs
            var res = when(!le && lb, bv(lit(true)))
            if (lVar) res = res.when(le && !isMissing(lc), lc)
            if (rVar) res = res.when(re2, rc)
            res.otherwise(bv(rb))
          }
        }
      case "=~" =>
        r match {
          case Expr.StringLit(re) => lc.cast(StringType).rlike(re)
          case Expr.Call("__regexsearch", Seq(Expr.StringLit(re))) =>
            lc.cast(StringType).rlike(re)
          case _ => throw new IllegalArgumentException("=~ needs a literal regexp")
        }
      case "in" =>
        // `x in <record>` tests field values, `x in <map>` keys AND
        // values (expressions.md "in"; in-map ztest); a union-typed or
        // missing needle compares under the variant order, and an error
        // needle (e.g. error("missing")) propagates out
        val het = graft.operators.Het
        // a shape-missing needle or container makes the whole test
        // error("missing") (complex.go:28-40 error propagation)
        val lcN = l match {
          case p @ Expr.Path(parts) if parts.nonEmpty && isTagged(df) &&
              pathMixed(df, p) => outExpr(df, p)
          case _ => lc
        }
        val rMissing: Option[Column] = r match {
          case Expr.Path(parts) if parts.nonEmpty && isTagged(df) &&
              pathMixed(df, Expr.Path(parts)) =>
            Some(!coalesce(hasPath(df, parts), lit(false)))
          case _ => None
        }
        val rdt = dtOr(df, rc, NullType)
        val ldt = dtOr(df, lcN, NullType)
        val lVarC = isVariant(ldt)
        def eqTo(e: Column, et: DataType): Column =
          if (lVarC) het.compareKey(het.variant(e, et)) === het.compareKey(lcN)
          else if (et == ldt) e <=> lcN
          else if (et.isInstanceOf[NumericType] && ldt.isInstanceOf[NumericType])
            e.cast(DoubleType) <=> lcN.cast(DoubleType)
          else lit(false)
        // membership RECURSES into nested containers (expressions.md:
        // `1 in this` hits {d:{e:1}})
        def containsVal(e: Column, et: DataType): Column = et match {
          case st: StructType if !isVariant(st) =>
            st.fields.toIndexedSeq
              .map(f => containsVal(e.getField(f.name), f.dataType))
              .reduceOption(_ || _).getOrElse(lit(false))
          case MapType(kt, vt, _) =>
            coalesce(exists(map_keys(e), k => containsVal(k, kt)), lit(false)) ||
              coalesce(exists(map_values(e), v => containsVal(v, vt)), lit(false))
          case ArrayType(et2, _) =>
            coalesce(exists(e, x => containsVal(x, et2)), lit(false))
          case other => eqTo(e, other)
        }
        val res: Column = rdt match {
          case _: StructType | _: MapType | _: ArrayType if !isVariant(rdt) =>
            containsVal(rc, rdt)
          case _ => array_contains(rc, lcN)
        }
        val boxedRes = rMissing match {
          case Some(miss) if lVarC =>
            when(het.isError(lcN), lcN)
              .when(miss, het.errMissing)
              .otherwise(het.variant(res, BooleanType))
          case Some(miss) =>
            when(miss, het.errMissing).otherwise(het.variant(res, BooleanType))
          case None if lVarC =>
            when(het.isError(lcN), lcN).otherwise(het.variant(res, BooleanType))
          case None => res
        }
        boxedRes
      case other => throw new IllegalArgumentException(s"binary op $other")
    }
  }

  /** zed type names → Spark DDL (SURVEY.md §1.4 mapping). */
  private def zedTypeToDdl(name: String): String = name match {
    case "int8" => "tinyint"
    case "int16" => "smallint"
    case "int32" => "int"
    case "int64" => "bigint"
    case "uint8" => "smallint"
    case "uint16" => "int"
    case "uint32" => "bigint"
    case "uint64" => "decimal(20,0)"
    case "float16" | "float32" => "float"
    case "float64" => "double"
    case "bool" => "boolean"
    case "bytes" => "binary"
    case "time" => "timestamp"
    case "duration" => "bigint"
    case "ip" | "net" => "string"
    case other => other // already a Spark DDL type (decimal(18,2), string…)
  }

  /** String functions applied to a union-typed value: apply on string
    * members, otherwise the reference's error value
    * (`error({message:"<fn>: string arg required",on:<val>})`,
    * function/<fn>.go).
    */
  private val stringGuarded: Map[String, String] = Map(
    "trim" -> "trim: string arg required",
    "lower" -> "lower: string arg required",
    "upper" -> "upper: string arg required",
    "rune_len" -> "rune_len: string arg required",
    "replace" -> "replace: string arg required",
    "split" -> "split: string arg required",
    "levenshtein" -> "levenshtein: string args required")

  private def call(df: DataFrame, fn: String, args: Seq[Expr]): Column = {
    stringGuarded.get(fn) match {
      case Some(msg) if args.exists(e => isVariantExpr(df, e)) =>
        val het = graft.operators.Het
        // outExpr: a missing field reaches the function as error("missing")
        // (complex.go:28-40), so the error payload echoes it
        val argCols = args.map { e =>
          val c = outExpr(df, e)
          val isVar = isVariantExpr(df, e) ||
            (typeOf(df, c).exists(t => isVariant(t.dt)))
          (c, isVar)
        }
        def strOk(p: (Column, Boolean)): Column =
          if (p._2) p._1.isNotNull && p._1.getField("k") === 2 else lit(true)
        def sOf(p: (Column, Boolean)): Column =
          if (p._2) p._1.getField("s") else p._1.cast(StringType)
        val allStr = argCols.map(strOk).reduce(_ && _)
        val anyNull = argCols.map(p => strOk(p) && sOf(p).isNull).reduce(_ || _)
        val firstBad = argCols.collect { case (c, true) =>
            when(c.isNull || c.getField("k") =!= 2, het.render(c)) }
          .reduce((a, b) => coalesce(a, b))
        val base = callBase(df, fn, args)
        val baseDt =
          dtOr(df, base, StringType)
        val payload = concat(lit(s"""{message:"$msg",on:"""), firstBad, lit("}"))
        // null-arg policy varies per function (function/string.go): the
        // to-lower family passes typed string nulls through, replace makes
        // a string error, levenshtein coerces null to "", split yields a
        // typed null array
        val nullResult: Column = fn match {
          case "replace" => het.errorValue(lit("\"replace: an input arg is null\""))
          case "levenshtein" => het.variant(
            levenshtein(coalesce(sOf(argCols(0)), lit("")),
                        coalesce(sOf(argCols(1)), lit(""))).cast(LongType), LongType)
          case _ => lit(null).cast(het.variantType)
        }
        return when(allStr && anyNull, nullResult)
          .when(allStr, het.variant(base, baseDt))
          .otherwise(het.errorValue(payload))
      case _ =>
    }
    callBase(df, fn, args)
  }

  private def callBase(df: DataFrame, fn: String, args: Seq[Expr]): Column = {
    // functions that understand variant (union-typed) arguments natively;
    // everything else receives the scalar text unwrap (zed Under semantics)
    val variantSafe = Set("len", "compare", "typeof", "kind", "is_error",
      "quiet", "coalesce", "is", "has", "missing", "error", "under", "nameof")
    def a(i: Int): Column = {
      val c = expr(df, args(i))
      if (!variantSafe(fn) && isVariantExpr(df, args(i)))
        graft.functions.ZvOps.asText(c)
      else c
    }
    def litStr(i: Int): String = {
      // constant string concatenation folds at compile time ("a" + "b")
      def fold(e: Expr): Option[String] = e match {
        case Expr.StringLit(s) => Some(s)
        case Expr.Binary("+", l, r) =>
          for (a0 <- fold(l); b0 <- fold(r)) yield a0 + b0
        case Expr.Call("__concat", parts) =>
          val fs = parts.map(fold)
          if (fs.forall(_.isDefined)) Some(fs.flatten.mkString) else None
        case _ => None
      }
      args(i) match {
        case Expr.StringLit(s) => s
        // `<name>` runtime named-type ref: resolve against the frame's
        // named types; the bare name stands in when unresolved
        case Expr.Call("__typename", Seq(Expr.StringLit(n))) =>
          resolveNamedType(df, n).getOrElse(n)
        case other => fold(other).getOrElse(throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a string literal, got $other"))
      }
    }
    fn match {
      // math (function/math.go)
      case "abs" if isVariantExpr(df, args.head) =>
        // union-typed subject: keep the numeric member's TYPE (abs of
        // -1(int8) is 1(int8)); non-numbers error (math.go Abs)
        val het = graft.operators.Het
        val c = outExpr(df, args.head)
        val isNum = c.getField("k") === 0
        val n2 = abs(c.getField("n"))
        val intish = c.getField("t").rlike("^u?int")
        when(het.isError(c), c)
          .when(isNum, het.mkVariant(lit(0), n2,
            lit(null).cast(StringType), lit(null).cast(BooleanType),
            c.getField("t"),
            when(intish, n2.cast(LongType).cast(StringType))
              .otherwise(lit(null).cast(StringType))))
          .otherwise(het.errorValue(concat(
            lit("{message:\"abs: not a number\",on:"), het.render(c), lit("}"))))
      case "abs" => abs(a(0))
      case "ceil" => ceil(a(0))
      case "floor" => floor(a(0))
      case "round" => if (args.length > 1) round(a(0), args(1).asInstanceOf[Expr.IntLit].v.toInt) else round(a(0))
      case "pow" => pow(a(0), a(1))
      case "sqrt" => sqrt(a(0))
      case "log" if isVariantExpr(df, args.head) =>
        // log: non-positive and non-numeric subjects are error values
        // (math.go Log)
        val het = graft.operators.Het
        val c = outExpr(df, args.head)
        val isNum = c.getField("k") === 0
        when(het.isError(c), c)
          .when(isNum && c.getField("n") > 0,
            het.variant(log(c.getField("n")), DoubleType))
          .when(isNum, het.errorValue(concat(
            lit("{message:\"log: illegal argument\",on:"), het.render(c), lit("}"))))
          .otherwise(het.errorValue(concat(
            lit("{message:\"log: not a number\",on:"), het.render(c), lit("}"))))
      case "log" => log(a(0))
      // single-arg min/max falls through to the RUNNING aggregate (the
      // agg reading wins in expression position, aggregates/min.md)
      case "min" if args.length > 1 => F.minScalar(args.map(expr(df, _)): _*)
      case "max" if args.length > 1 => F.maxScalar(args.map(expr(df, _)): _*)

      // string (function/string.go)
      case "lower" => lower(a(0))
      case "upper" => upper(a(0))
      case "trim" => trim(a(0))
      case "replace" => replace(a(0), a(1), a(2))
      case "split" => args(1) match {
        // empty separator splits between every char with no trailing empty
        // (Go strings.Split semantics, function/string.go)
        case Expr.StringLit("") => split(a(0), "(?!^)(?=.)")
        case Expr.StringLit(sep) => split(a(0), java.util.regex.Pattern.quote(sep))
        case _ => // column separator: \Q..\E-quote it dynamically
          when(a(1) === "", split(a(0), "(?!^)(?=.)"))
            .otherwise(call_function("split", a(0), concat(lit("\\Q"), a(1), lit("\\E"))))
      }
      case "join" =>
        // full reference dispatch (function/string.go Join): s must be an
        // array (null string elements join as ""), sep must be a string
        val hetJ = graft.operators.Het
        val sVar = isVariantExpr(df, args(0))
        val sepVar = args.length > 1 && isVariantExpr(df, args(1))
        val sDt = dtypeOf(df, args(0))
        if (sVar || sepVar) {
          val sB = if (sVar) expr(df, args(0))
                   else hetJ.variant(expr(df, args(0)), sDt.getOrElse(StringType))
          val sepB = if (args.length <= 1) lit(null).cast(hetJ.variantType)
                     else if (sepVar) expr(df, args(1))
                     else hetJ.variant(expr(df, args(1)),
                       dtypeOf(df, args(1)).getOrElse(StringType))
          graft.functions.ZvOps.joinZed(sB, sepB)
        } else sDt match {
          case Some(ArrayType(_, _)) =>
            val sep: Column = if (args.length > 1) a(1).cast(StringType) else lit("")
            coalesce(call_function("array_join", a(0), sep, lit("")), lit(""))
          case _ =>
            hetJ.errorValue(concat(
              lit("{message:\"join: array of string arg required\",on:"),
              zsonTextOf(df, args.head), lit("}")))
        }
      case "rune_len" => F.runeLen(a(0))
      case "levenshtein" => levenshtein(a(0), a(1))

      // regexp (function/regexp.go)
      case "regexp" =>
        (args.head match {
          case Expr.Call("__regexsearch", Seq(s @ Expr.StringLit(_))) => s
          case other => other
        }) match {
          case Expr.StringLit(re) if graft.functions.GoRe.goError(re).isEmpty &&
              (isVariantExpr(df, args(1)) || pathMixed(df, args(1)) ||
                missingStatic(df, args(1))) =>
            // union-typed subject: non-string rows (incl. a missing
            // field's error) become the reference's wrapped error —
            // indexing that error then yields error("missing")
            // (regexp.go Call; search-expressions.md)
            val het = graft.operators.Het
            val c = outExpr(df, args(1))
            when(c.isNotNull && c.getField("k") === 2,
              het.variant(
                F.regexpMatch(graft.functions.GoRe.toJavaPattern(re), c.getField("s")),
                ArrayType(StringType)))
              .otherwise(het.errorValue(concat(
                lit("{message:\"regexp: string required for second arg\",on:"),
                het.render(c), lit("}"))))
          case Expr.StringLit(re) if graft.functions.GoRe.goError(re).isEmpty =>
            F.regexpMatch(graft.functions.GoRe.toJavaPattern(re), a(1))
          case Expr.StringLit(re) =>
            graft.operators.Het.errorValue(
              lit(graft.sources.ZValue.zsonText(graft.sources.ZValue.VStr(
                s"regexp: ${graft.functions.GoRe.goError(re).get}"))))
          case _ => // runtime pattern → row-level match (function/regexp.go)
            graft.functions.GoRe.regexpMatch(a(0), a(1))
        }
      case "regexp_replace" =>
        val het = graft.operators.Het
        val anyVariant = args.exists(e => isVariantExpr(df, e))
        if (anyVariant) {
          val cs = args.map(e => (expr(df, e), isVariantExpr(df, e)))
          def strOk(p: (Column, Boolean)) =
            if (p._2) p._1.isNull || p._1.getField("k") === 2 else lit(true)
          def sOf(p: (Column, Boolean)) =
            if (p._2) p._1.getField("s") else p._1.cast(StringType)
          val allStr = cs.map(strOk).reduce(_ && _)
          val firstBad = cs.collect { case (c, true) =>
              when(c.isNotNull && c.getField("k") =!= 2, het.render(c)) }
            .reduce((x, y) => coalesce(x, y))
          when(allStr, graft.functions.GoRe.regexpReplace(sOf(cs(0)), sOf(cs(1)), sOf(cs(2))))
            .otherwise(het.errorValue(concat(
              lit("{message:\"regexp_replace: string arg required\",on:"),
              firstBad, lit("}"))))
        } else {
          // a /re/ literal in pattern position is the pattern string
          val patE = args(1) match {
            case Expr.Call("__regexsearch", Seq(s @ Expr.StringLit(_))) => s
            case other => other
          }
          (patE, args(2)) match {
            case (Expr.StringLit(re), Expr.StringLit(nw))
                if graft.functions.GoRe.goError(re).isEmpty =>
              regexp_replace(a(0), graft.functions.GoRe.toJavaPattern(re),
                graft.functions.GoRe.toJavaReplacement(nw))
            case _ => graft.functions.GoRe.regexpReplace(a(0), expr(df, patE), a(2))
          }
        }
      case "bytes" =>
        // utf-8 bytes of text; an IP casts to its binary address
        // (function/cast.go bytes of ip)
        if (isVariantExpr(df, args.head))
          graft.functions.ZvOps.bytesZed(expr(df, args.head))
        else a(0).cast(BinaryType)
      case "under" =>
        // strip named/union/error wrapping (function/under.go): an error's
        // underlying value is its payload, a named type drops its name
        val c = expr(df, args.head)
        if (isVariantExpr(df, args.head)) {
          val het = graft.operators.Het
          val z = c.getField("z")
          val payloadStr = z.startsWith("\"") // quoted string payload
          val unquoted = regexp_replace(
            regexp_replace(z.substr(lit(2), length(z) - 2), "\\\\\"", "\""),
            "\\\\\\\\", "\\\\")
          when(het.isError(c) && z.isNull, lit(null).cast(het.variantType))
            .when(het.isError(c) && payloadStr, het.mkVariant(
              lit(2), lit(null).cast(DoubleType),
              unquoted, lit(null).cast(BooleanType),
              lit("string"), lit(null).cast(StringType)))
            .when(het.isError(c), c.withField("k", lit(4))
              .withField("t", regexp_replace(c.getField("t"), "^error\\(", "")))
            .otherwise(c.withField("t",
              regexp_replace(c.getField("t"), "^[A-Za-z_][A-Za-z0-9_.]*=", "")))
        } else c
      case "typeunder" =>
        val shapes = shapesOf(df)
        val zt = graft.sources.ZType
        args.head match {
          case Expr.Path(Seq()) if shapes.nonEmpty =>
            shapes.foldLeft(lit(null).cast(StringType)) { case (acc, (t, st)) =>
              when(col(graft.operators.Het.typeTag) === t,
                lit(zt.fullText(zt.strip(st)))).otherwise(acc)
            }
          case e if isVariantExpr(df, e) => graft.operators.Het.variantTypeOf(expr(df, e))
          case Expr.Path(Seq()) => graft.operators.Het.typeofRow(df)
          case other => lit(Shaper.zedTypeOf(df.select(expr(df, other)).schema.head.dataType))
        }
      case "has_error" =>
        // true when the value or any nested field is an error (function/
        // haserror.go) — static walk over the schema, variant test per leaf
        def errLeaves(prefix: Column, dt: DataType): Seq[Column] = dt match {
          case st: StructType if isVariant(st) =>
            // a boxed container can hold errors anywhere inside — deep scan
            Seq(graft.operators.Het.isError(prefix) ||
              ((prefix.getField("z").isNotNull || prefix.getField("a").isNotNull ||
                prefix.getField("m").isNotNull) &&
                graft.functions.ZvOps.hasErrorDeep(prefix)))
          case st: StructType =>
            st.fields.toIndexedSeq.flatMap(f => errLeaves(prefix.getField(f.name), f.dataType))
          case ArrayType(et: StructType, _) if isVariant(et) =>
            Seq(coalesce(exists(prefix, x => graft.operators.Het.isError(x)), lit(false)))
          case MapType(_, vt: StructType, _) if isVariant(vt) =>
            Seq(coalesce(exists(map_values(prefix),
              x => graft.operators.Het.isError(x)), lit(false)))
          case _ => Seq.empty
        }
        val subject = args.headOption.getOrElse(Expr.Path(Seq.empty))
        val preds = subject match {
          case Expr.Path(Seq()) =>
            df.schema.fields.toIndexedSeq
              .filterNot(_.name == graft.operators.Het.typeTag)
              .flatMap(f => errLeaves(col(s"`${f.name}`"), f.dataType))
          case e =>
            val c = expr(df, e)
            val dt = dtOr(df, c, StringType)
            errLeaves(c, dt)
        }
        if (preds.isEmpty) lit(false) else preds.reduce(_ || _)

      // bare /re/ — regexp search over every string field
      case "__regexsearch" =>
        val re = litStr(0)
        val strCols = df.schema.fields.filter(_.dataType == StringType).map(f => col(f.name))
        if (strCols.isEmpty) lit(false)
        else strCols.map(c => coalesce(c.rlike(re), lit(false))).reduce(_ || _)

      // grep (function/grep.go): no value arg → search the whole record
      case "grep" if (args.headOption match {
          case Some(Expr.Call("__glob", _)) => true
          case _ => false
        }) =>
        // grep(<glob>) — glob match over string values (grep.md globs)
        val Expr.Call("__glob", Seq(Expr.StringLit(p))) = args.head: @unchecked
        val re = "^" + p.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*") + "$"
        if (args.length > 1)
          args.drop(1).map { e2 =>
            // globs match STRING values only: variants read their s slot,
            // static non-strings never match (glob-mul: grep(a*b,s) over
            // {s:7(int32)} is false, not a type error)
            val c = expr(df, e2)
            val t =
              if (isVariantExpr(df, e2)) c.getField("s")
              else {
                val dt = dtOr(df, c, StringType)
                if (dt == StringType) c else lit(null).cast(StringType)
              }
            coalesce(t.rlike(re), lit(false))
          }.reduce(_ || _)
        else globSearch(df, p) // full search semantics incl. field names
      case "grep" if (args.headOption match {
          case Some(Expr.Call("__regexsearch", Seq(Expr.StringLit(_)))) => true
          case _ => false
        }) =>
        // grep(/re/[, e]) — regexp match over string values (grep.md)
        val Expr.Call(_, Seq(Expr.StringLit(p))) = args.head: @unchecked
        val re = graft.functions.GoRe.toJavaPattern(p)
        val targets =
          if (args.length > 1) args.drop(1).map(expr(df, _))
          else stringLeaves(df) ++ containerTexts(df)
        val valueHit = targets.map(c => coalesce(c.rlike(re), lit(false)))
          .reduceOption(_ || _).getOrElse(lit(false))
        // single-arg grep is a full SEARCH: regexps match field names too
        // (grep.go NewSearchString; grep.md /foo|baz/ hits {foo:10})
        if (args.length > 1) valueHit
        else valueHit || fieldNameHit(df, re.stripPrefix("^").stripSuffix("$"))
      case "grep" =>
        val dynPattern: Option[Column] = args.head match {
          case Expr.StringLit(_) => None
          case Expr.Binary("+", _, _) | Expr.Call("__concat", _) => None
          case Expr.Call("__typename", _) => None
          case e0 =>
            // a RUNTIME pattern (field ref, func param): per-row deep
            // search with the pattern column (function/grep.go dynamic)
            Some(expr(df, e0) match { case c => c.cast(StringType) })
        }
        dynPattern match {
          case Some(pc) =>
            val subjectIsThis = args.length <= 1 ||
              args(1) == Expr.Path(Seq.empty) || args(1) == Expr.Path(Seq("this"))
            if (subjectIsThis) keywordSearchDyn(df, pc)
            else {
              val subj = args(1)
              val sc = expr(df, subj)
              val text =
                if (isVariantExpr(df, subj)) graft.operators.Het.render(sc)
                else sc.cast(StringType)
              coalesce(text.contains(pc), lit(false))
            }
          case None =>
            if (args.length > 1 && (args(1) == Expr.Path(Seq.empty) ||
                args(1) == Expr.Path(Seq("this"))) && args.length == 2)
              // grep(pat, this) is the full search form
              keywordSearch(df, litStr(0))
            else if (args.length > 1)
              F.grep(litStr(0), args.drop(1).map(expr(df, _)): _*)
            // default subject is `this` — FULL keyword-search semantics:
            // every string inside the value plus field names (grep.go
            // NewSearchString; grep.md "foo" hits {foo:10})
            else keywordSearch(df, litStr(0))
        }

      // time (function/time.go)
      case "now" => current_timestamp()
      case "strftime" =>
        args.head match {
          case Expr.StringLit(_) if !isVariantExpr(df, args(1)) =>
            if (dtypeOf(df, args(1)).contains(LongType)) F.strftimeNs(litStr(0), a(1))
            else F.strftime(litStr(0), a(1))
          case _ => // runtime format string → row-level formatting
            val u = udf((fmt: String, micros: java.lang.Long) =>
              if (fmt == null || micros == null) null
              else try {
                java.time.format.DateTimeFormatter
                  .ofPattern(F.strftimeToJava(fmt))
                  .withZone(java.time.ZoneOffset.UTC)
                  .format(java.time.Instant.ofEpochSecond(
                    Math.floorDiv(micros.longValue, 1000000L),
                    Math.floorMod(micros.longValue, 1000000L) * 1000L))
              } catch { case _: Exception => null })
            val fVar = isVariantExpr(df, args(0))
            val vVar = isVariantExpr(df, args(1))
            val fC = expr(df, args(0))
            val vC = expr(df, args(1))
            if (!fVar && !vVar) {
              val micros =
                if (dtypeOf(df, args(1)).contains(LongType)) Bridge.intDiv(a(1), lit(1000L))
                else unix_micros(a(1).cast(TimestampType)) // NTZ-safe (UTC session)
              u(a(0), micros)
            } else {
              // variant args: exact reference dispatch (function/time.go
              // Strftime): non-string format / non-time value / bad
              // directive each yield a structured error
              val het = graft.operators.Het
              val fmtS = if (fVar) fC.getField("s") else fC.cast(StringType)
              val fmtOk = if (fVar) fC.isNotNull && fC.getField("k") === 2 else lit(true)
              val timeOk = if (vVar) vC.isNotNull && vC.getField("k") === 1 else lit(true)
              val timeNull = if (vVar) timeOk && vC.getField("n").isNull else vC.isNull
              val micros = if (vVar) (vC.getField("n") * 1e6).cast(LongType)
                           else unix_micros(vC.cast(TimestampType))
              // first directive not in the supported set (lestrrat
              // specification set in the reference)
              val badDir = udf((fmt: String) =>
                if (fmt == null) null
                else try { F.strftimeToJava(fmt); null }
                catch { case e: IllegalArgumentException =>
                  val c = e.getMessage.replace("strftime: unsupported %", "")
                  s"%$c" })
              val bd = badDir(fmtS)
              when(!fmtOk, het.errorValue(concat(
                  lit("{message:\"strftime: string value required for format arg\",on:"),
                  (if (fVar) het.render(fC) else fmtS), lit("}"))))
                .when(!timeOk, het.errorValue(concat(
                  lit("{message:\"strftime: time value required for time arg\",on:"),
                  (if (vVar) het.render(vC) else vC.cast(StringType)), lit("}"))))
                .when(bd.isNotNull, het.errorValue(concat(
                  lit("{message:\"strftime: failed to compile format: pattern compilation failed: lookup failed: '"),
                  bd, lit("' was not found in specification set\",on:\""), fmtS, lit("\"}"))))
                .when(timeNull, lit(null).cast(het.variantType))
                .otherwise(het.variant(u(fmtS, micros), StringType))
            }
        }
      case "bucket" if args.length == 2 &&
          (isVariantExpr(df, args.head) || isVariantExpr(df, args(1))) =>
        // union-typed operands (mixed time/duration/number rows): align
        // row-level in the value domain (function/bucket.go)
        def vtext(e: Expr): Column = e match {
          // a duration literal must keep its unit — as a bare long it
          // would read as SECONDS in the bin coercion
          case Expr.DurationLit(_, text) => lit(text)
          case _ =>
            val c = expr(df, e)
            if (isVariantExpr(df, e)) graft.operators.Het.render(c)
            else {
              val dt = dtypeOf(df, e).getOrElse(
                dtOr(df, c, StringType))
              graft.sources.ZsonIO.zsonOf(c, dt)
            }
        }
        graft.functions.ZvOps.bucketZed(vtext(args.head), vtext(args(1)))
      case "bucket" =>
        args(1) match {
          case Expr.DurationLit(_, text) =>
            if (dtypeOf(df, args(0)).contains(LongType)) ZedOps.timeBucketNs(a(0), text)
            else ZedOps.timeBucket(a(0), text)
          case other => // runtime duration column (ns): floor-align
            val binNs = expr(df, other)
            if (dtypeOf(df, args(0)).contains(LongType))
              a(0) - (a(0) % binNs)
            else {
              val us = unix_micros(a(0).cast(TimestampType)) // NTZ-safe
              val binUs = Bridge.intDiv(binNs, lit(1000L))
              timestamp_micros(us - (us % binUs))
            }
        }
      case "every" =>
        val dur = args(0) match {
          case Expr.DurationLit(_, text) => text
          case other => throw new IllegalArgumentException(s"every: need duration, got $other")
        }
        // every(d) = bucket(ts, d) on the stream's time field (time.go);
        // resolve ts through the expression compiler so boxed (variant
        // `this`) streams deref row-level (every.md multi-yield example)
        val tsE = Expr.Path(Seq("ts"))
        if (dtypeOf(df, tsE).contains(LongType))
          ZedOps.timeBucketNs(expr(df, tsE), dur)
        else if (isVariantExpr(df, tsE) ||
            (df.columns.contains("this") && !df.columns.contains("ts") &&
              isVariant(df.schema("this").dataType)))
          ZedOps.timeBucket(graft.functions.ZvOps.asText(expr(df, tsE))
            .cast(TimestampType), dur)
        else ZedOps.timeBucket(expr(df, tsE), dur)

      // parsing (function/parse.go, grok.go)
      case "parse_uri" =>
        // per-row Go url.Parse with the reference's typed-null record and
        // error payloads; the shape drives the string-arg check
        val c = expr(df, args.head)
        val isVar = isVariantExpr(df, args.head)
        val text = if (isVar) graft.operators.Het.render(c) else c.cast(StringType)
        val shapeC: Column = args.head match {
          case Expr.Path(parts0) if isTagged(df) =>
            val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
            shapesOf(df).foldLeft(lit(null).cast(StringType)) { case (acc, (t, st)) =>
              pathIn(st, parts) match {
                case Some(ft) => when(col(graft.operators.Het.typeTag) === t,
                  lit(graft.sources.ZType.fullText(ft))).otherwise(acc)
                case None => acc
              }
            }
          case e2 =>
            lit(Shaper.zedTypeOf(dtypeOf(df, e2).getOrElse(
              dtOr(df, c, StringType))))
        }
        graft.functions.ZvOps.parseUriZed(text, shapeC)
      case "grok" =>
        // full reference semantics — runtime patterns, omitted groups,
        // dup squash, error payloads — via the row-level ZvOps form
        def strArg(i: Int): Column = {
          val c = expr(df, args(i))
          if (isVariantExpr(df, args(i))) c.getField("s") else c.cast(StringType)
        }
        graft.functions.ZvOps.grokZed(strArg(0), strArg(1),
          if (args.length > 2) strArg(2) else lit(null).cast(StringType))
      case "parse_zson" if args.length == 1 =>
        // one-arg form: per-row parse into a boxed value (zed infers the
        // type per value — function/parsezson.go); non-string input and
        // syntax errors are the reference's error payloads
        val c = expr(df, args.head)
        val isVar = isVariantExpr(df, args.head)
        val text = if (isVar) graft.operators.Het.render(c) else c.cast(StringType)
        val shapeC: Column = args.head match {
          case Expr.Path(parts0) if isTagged(df) =>
            val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
            shapesOf(df).foldLeft(lit(null).cast(StringType)) { case (acc, (t, st)) =>
              pathIn(st, parts) match {
                case Some(ft) => when(col(graft.operators.Het.typeTag) === t,
                  lit(graft.sources.ZType.fullText(ft))).otherwise(acc)
                case None => acc
              }
            }
          case e2 =>
            lit(Shaper.zedTypeOf(dtypeOf(df, e2).getOrElse(
              dtOr(df, c, StringType))))
        }
        graft.functions.ZvOps.parseZsonZed(text, shapeC)
      case "parse_zson" =>
        // relational adaptation of parse_zson(s): the result type must be
        // declared (zed infers it per value; a frame needs one schema).
        // ZSON→JSON conversion is row-wise parsing, same as zed's.
        val schema = StructType.fromDDL(litStr(1))
        val toJson = udf((s: String) =>
          if (s == null) null else graft.sources.ZsonIO.zsonLineToJson(s))
        from_json(toJson(a(0)), schema)

      // bytes/encoding (function/bytes.go, ksuid.go): string args DECODE
      // (hex text → bytes, base64 text → bytes), bytes args ENCODE
      case "hex" | "base64" =>
        val het = graft.operators.Het
        val validRe = if (fn == "hex") "^([0-9a-fA-F]{2})*$"
                      else "^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
        val badMsg = if (fn == "hex") "hex: string argument is not hexidecimal"
                     else "base64: string argument is not base64"
        def bytesVariant(hexText: Column): Column = graft.operators.Het.mkVariant(
          lit(4), lit(null).cast(DoubleType),
          concat(lit("0x"), lower(hexText)),
          lit(null).cast(BooleanType), lit("bytes"),
          lit(null).cast(StringType))
        def decode(s: Column): Column =
          if (fn == "hex") s else hex(unbase64(s))
        def encode(hexDigits: Column): Column = // bytes (as 0x-less hex) → text
          if (fn == "hex") lower(hexDigits) else base64(unhex(hexDigits))
        if (isVariantExpr(df, args.head)) {
          val c = expr(df, args.head)
          val s = c.getField("s")
          val isStr = c.isNotNull && c.getField("k") === 2
          val isBytes = c.isNotNull && c.getField("t") === "bytes"
          when(isStr && s.isNull, lit(null).cast(het.variantType))
            .when(isStr && s.rlike(validRe), bytesVariant(decode(s)))
            .when(isStr, het.errorValue(concat(
              lit(s"""{message:"$badMsg",on:"""), het.render(c), lit("}"))))
            .when(isBytes && s.isNull,
              het.errorValue(lit(s""""$fn: illegal null argument"""")))
            .when(isBytes, het.variant(encode(substring(s, 3, Int.MaxValue)), StringType))
            .otherwise(het.errorValue(concat(
              lit(s"""{message:"$badMsg",on:"""), het.render(c), lit("}"))))
        } else {
          // decide by the COMPUTED type (a bare `this` string stream
          // must decode, not encode)
          val dt = try df.select(a(0)).schema.head.dataType
                   catch { case _: Exception => StringType }
          if (dt == StringType || isStringy(df, args(0)))
            // static string column: decode to bytes (null-through)
            if (fn == "hex") unhex(a(0)) else unbase64(a(0))
          else
            // static binary column: encode to text
            if (fn == "hex") lower(hex(a(0))) else base64(a(0))
        }
      case "ksuid" =>
        val het = graft.operators.Het
        if (args.isEmpty) {
          // K-sortable unique id: 4-byte timestamp + 16 random bytes
          // (function/ksuid.go). Row-wise generation is inherently
          // imperative — a UDF matches the reference's cost.
          val gen = udf(() => graft.functions.Ksuid.newIdBytes())
          gen()
        } else if (isVariantExpr(df, args.head)) {
          val c = expr(df, args.head)
          val s = c.getField("s")
          val isStr = c.isNotNull && c.getField("k") === 2
          val isBytes = c.isNotNull && c.getField("t") === "bytes"
          val dec = udf((txt: String) => graft.functions.Ksuid.decodeHex(txt))
          val enc = udf((hx: String) => graft.functions.Ksuid.encodeHex(hx))
          def bytesVariant(hexText: Column): Column = graft.operators.Het.mkVariant(
            lit(4), lit(null).cast(DoubleType),
            concat(lit("0x"), lower(hexText)),
            lit(null).cast(BooleanType), lit("bytes"),
            lit(null).cast(StringType))
          when(isBytes && s.isNull,
              het.errorValue(lit("\"ksuid: illegal null argument\"")))
            .when(isBytes, het.variant(enc(substring(s, 3, Int.MaxValue)), StringType))
            .when(isStr && (s.isNull || length(s) =!= 27), het.errorValue(concat(
              lit("{message:\"ksuid: Valid encoded KSUIDs are 27 characters\",on:"),
              het.render(c), lit("}"))))
            .when(isStr, bytesVariant(dec(s)))
            .otherwise(het.errorValue(concat(
              lit("{message:\"ksuid: argument must a bytes or string type\",on:"),
              het.render(c), lit("}"))))
        } else if (isStringy(df, args.head)) {
          val dec = udf((txt: String) => graft.functions.Ksuid.decodeHex(txt))
          unhex(dec(a(0)))
        } else {
          val enc = udf((hx: String) => graft.functions.Ksuid.encodeHex(hx))
          enc(lower(hex(a(0))))
        }

      // network (function/ip.go)
      case "cidr_match" =>
        // matches when ANY ip inside the value lies in the net; non-ip
        // values are false, never null (function/ip.go CIDRMatch walk).
        // A statically non-net first arg is the reference's error value
        // ({message:"cidr_match: not a net",on:<arg>}), not a crash
        val netDt0 = dtypeOf(df, args(0)).getOrElse(
          try df.select(a(0)).schema.head.dataType
          catch { case _: Exception => StringType })
        if (netDt0 != StringType && !isVariant(netDt0)) {
          val onText = graft.sources.ZsonIO.zsonOf(a(0), netDt0)
          return graft.operators.Het.errorValue(
            concat(lit("{message:\"cidr_match: not a net\",on:"), onText, lit("}")),
            "error({message:string,on:" + Shaper.zedTypeOf(netDt0) + "})")
        }
        val net = a(0)
        def hit(c: Column): Column = coalesce(F.cidrMatch(net, c), lit(false))
        if (isVariantExpr(df, args(1))) {
          val v = expr(df, args(1)) // the BOXED value, not its text form
          val st = dtypeOf(df, args(1)) match {
            case Some(s: StructType) => s
            case _ => graft.operators.Het.variantType
          }
          val extra = st.fieldNames.toIndexedSeq.collect {
            case "a" => coalesce(
              exists(v.getField("a"), e => hit(e.getField("s"))), lit(false))
            case f @ ("m" | "d") => coalesce(
              exists(v.getField(f), x => hit(x.getField("v").getField("s"))),
              lit(false))
          }
          (hit(v.getField("s")) +: extra).reduce(_ || _)
        } else hit(a(1))
      case "network_of" =>
        // full reference dispatch (function/ip.go NetworkOf): classful
        // IPv4 default, int-bits / ip-mask second arg, error payloads
        val het = graft.operators.Het
        val netOfU = udf((ip: String, mask: String, kind: String, on: String) =>
          graft.functions.ZedFunctions.networkOfZed(ip, mask, kind, on))
        val ipC = a(0).cast(StringType)
        val (maskC, kindC): (Column, Column) = if (args.length <= 1)
          (lit(null).cast(StringType), lit("none"))
        else args(1) match {
          case Expr.IntLit(_) => (a(1).cast(StringType), lit("int"))
          case _ =>
            val c = a(1)
            dtypeOf(df, args(1)) match {
              case Some(LongType) | Some(IntegerType) | Some(DoubleType) =>
                (c.cast(StringType), lit("int"))
              case _ =>
                val t = c.cast(StringType)
                (t, when(t.rlike("""^\d{1,3}(\.\d{1,3}){3}$""") ||
                         (t.contains(":") && t.rlike("""^[0-9a-fA-F:]+$""")),
                    lit("ip")).otherwise(lit("string")))
            }
        }
        val res = netOfU(ipC, maskC, kindC, zsonTextOf(df, args.head))
        when(res.getField("_2").isNotNull, het.errorValue(res.getField("_2")))
          .otherwise(het.mkVariant(
            lit(4), lit(null).cast(DoubleType),
            res.getField("_1"), lit(null).cast(BooleanType),
            lit("net"), lit(null).cast(StringType)))

      // type introspection (function/types.go) — static over the schema,
      // per-row via the shape tag / variant t on heterogeneous frames
      case "typeof" => args.head match {
        case Expr.Path(Seq()) => graft.operators.Het.typeofRow(df)
        case Expr.Path(Seq(n)) if df.schema.fields.exists(f =>
            f.name == n && f.metadata.contains("graft.zedType")) =>
          // a typeof/typeunder-produced column is TYPE-VALUED
          lit(df.schema.fields.find(_.name == n).get.metadata.getString("graft.zedType"))
        case Expr.Path(parts) =>
          val shapes = shapesOf(df)
          // the SHAPE answers first: a field deref keeps its declared type
          // — in particular a union-typed field reports the UNION, not the
          // row's member (dot.go:50 NewValue(fieldType, …); only indexing
          // and under() deunion). The runtime carrier t — which holds the
          // member — answers only when no shape covers the path (boxed
          // streams without tags).
          if (shapes.nonEmpty &&
              shapes.exists(s => pathIn(s._2, parts).isDefined)) {
            val perShape = shapes.map { case (t, st) =>
              t -> pathIn(st, parts).map(graft.sources.ZType.text).getOrElse("missing")
            }
            if (perShape.map(_._2).distinct.size == 1) lit(perShape.head._2)
            else perShape.foldLeft(lit(null).cast(StringType)) { case (acc, (tag, ty)) =>
              when(col(graft.operators.Het.typeTag) === tag, lit(ty)).otherwise(acc)
            }
          } else if (dtypeOf(df, args.head).exists(isVariant))
            graft.operators.Het.variantTypeOf(expr(df, args.head))
          else Shaper.typeof(df, parts.mkString("."))
        // typeof of a type value is <type> (typeof.md)
        case Expr.Call("typeof" | "typeunder" | "__typeval" | "__typename" |
            "typename", _) => lit("type")
        case other =>
          // a computed VARIANT (e.g. 1/this's number-or-error) carries its
          // type per row in `t` (data-types.md: typeof(1/this) on 0 ->
          // <error(string)>)
          val c = expr(df, other)
          val dt = dtOr(df, c, StringType)
          if (isVariant(dt)) graft.operators.Het.variantTypeOf(c)
          else lit(Shaper.zedTypeOf(dt))
      }
      case "kind" =>
        // kind classifies the value's type (function/kind.go); the shape
        // tag carries union/error/named info the variant encoding loses,
        // so Path subjects dispatch per shape. Type VALUES classify their
        // referent type (kind(<{s:string}>) = "record") at runtime.
        val zt = graft.sources.ZType
        def classifyT(t: graft.sources.ZType): Option[String] = zt.strip(t) match {
          case _: zt.Rec => Some("record")
          case _: zt.Arr => Some("array")
          case _: zt.SetT => Some("set")
          case _: zt.MapT => Some("map")
          case _: zt.Union => Some("union")
          case _: zt.EnumT => Some("enum")
          case _: zt.ErrT => Some("error")
          case zt.Prim("type") => None // classify the type value itself
          case _ => Some("primitive")
        }
        val classifyTypeVal = udf((text: String) =>
          if (text == null) "primitive"
          else try classifyT(graft.sources.ZsonParser.parseType(text)).getOrElse("primitive")
          catch { case _: Exception => "primitive" })
        val kShapes = shapesOf(df)
        def variantKind(v: Column): Column = {
          val t = v.getField("t")
          when(v.isNull, lit("primitive"))
            .when(v.getField("k") === 5, lit("error"))
            .when(t === "type", classifyTypeVal(v.getField("s")))
            .when(t.startsWith("("), lit("union"))
            .when(v.getField("k") <= 3, lit("primitive"))
            .when(t.startsWith("|["), lit("set"))
            .when(t.startsWith("|{"), lit("map"))
            .when(t.startsWith("["), lit("array"))
            .when(t.startsWith("{"), lit("record"))
            .when(t.startsWith("enum"), lit("enum"))
            .otherwise(lit("primitive"))
        }
        args.head match {
          case Expr.Path(parts) if kShapes.nonEmpty =>
            val pairs = kShapes.flatMap { case (tag, st) =>
              (if (parts.isEmpty) Some(st) else pathIn(st, parts)).map(tag -> _)
            }
            val carrier: Option[Column] =
              if (parts.isEmpty)
                df.schema.fields.find(_.name == "this").map(_ => col("this"))
              else df.schema.fields.find(_.name == parts.head).map(_ =>
                col(parts.mkString(".")))
            val carrierVar = carrier.exists(c =>
              typeOf(df, c).exists(t => isVariant(t.dt)))
            if (pairs.isEmpty) lit("primitive")
            else pairs.foldLeft(lit("primitive")) { case (acc, (tag, t)) =>
              val k: Column = classifyT(t) match {
                case Some(s) => lit(s)
                case None =>
                  if (carrierVar) classifyTypeVal(carrier.get.getField("s"))
                  else carrier.map(c => classifyTypeVal(c.cast(StringType)))
                    .getOrElse(lit("primitive"))
              }
              when(col(graft.operators.Het.typeTag) === tag, k).otherwise(acc)
            }
          case p @ Expr.Path(parts) if parts.nonEmpty &&
              (dtypeOf(df, p).exists(isVariant) || isVariantExpr(df, p)) =>
            // a variant field (e.g. over-a-record's boxed `value`)
            // classifies row-level from its runtime type
            variantKind(expr(df, p))
          case Expr.Path(parts) if parts.nonEmpty => Shaper.kind(df, parts.mkString("."))
          case Expr.Path(_) => lit("record")
          case e if isVariantExpr(df, e) => variantKind(expr(df, e))
          case e =>
            // computed argument: classify by the COMPILED type — an
            // expression yielding a variant (e.g. 1/0's error value)
            // dispatches row-level (kind.md: kind(1/0) = "error")
            val c = expr(df, e)
            val dt = dtOr(df, c, NullType)
            if (isVariant(dt)) variantKind(c)
            else dt match {
              case _: StructType => lit("record")
              case _: ArrayType => lit("array")
              case _: MapType => lit("map")
              case _ => lit("primitive")
            }
        }
      case "has" =>
        val het = graft.operators.Het
        // a field whose VALUE is error("missing") counts as missing too
        // (has.go evaluates the argument; `{x:error("missing")}` has(x)
        // → false)
        def valueMissing(p: Expr): Column =
          if (isVariantExpr(df, p)) {
            val c = expr(df, p)
            het.isError(c) && c.getField("z") === lit("\"missing\"")
          } else lit(false)
        val checks: Seq[Column] = args.map {
          case p @ Expr.Path(parts) if parts.nonEmpty =>
            hasPath(df, parts) && !valueMissing(p)
          case Expr.Path(Seq()) => lit(true)
          case e =>
            // evaluate error-aware: error("missing") → false; any OTHER
            // error propagates OUT of has() (function/has.go)
            val c = expr(df, e)
            val actual = dtOr(df, c, StringType)
            if (isVariant(actual))
              when(het.isError(c) && c.getField("z") === lit("\"missing\""),
                het.variant(lit(false), BooleanType))
                .when(het.isError(c), c)
                .otherwise(het.variant(c.isNotNull, BooleanType))
            else c.isNotNull
        }
        if (checks.length == 1) checks.head
        else checks.map { ch =>
          val adt = dtOr(df, ch, BooleanType)
          if (isVariant(adt)) coalesce(ch.getField("b"), lit(false)) else ch
        }.reduce(_ && _)
      case "missing" => args.head match {
        case p @ Expr.Path(parts) if parts.nonEmpty =>
          val base = !hasPath(df, parts)
          if (isVariantExpr(df, p)) {
            // a present field VALUED error("missing") is missing (has.go)
            val het = graft.operators.Het
            val c = expr(df, p)
            base || (het.isError(c) && c.getField("z") === lit("\"missing\""))
          } else base
        case Expr.Path(Seq()) => lit(false)
        case e if isVariantExpr(df, e) =>
          val het = graft.operators.Het
          val c = expr(df, e)
          het.isError(c) && c.getField("z") === lit("\"missing\"")
        case e => expr(df, e).isNull
      }
      case "is" =>
        // is(<type>) — type test against this (or an explicit first arg);
        // comparison is STRUCTURAL with named types matching by name
        // (function/typematch.go)
        val target = litStr(args.length - 1)
        val subject = if (args.length > 1) args.head else Expr.Path(Seq.empty)
        val zt = graft.sources.ZType
        val targetT = try Some(graft.sources.ZsonParser.parseType(target))
                      catch { case _: Exception => None }
        def zMatch(a: graft.sources.ZType, b: graft.sources.ZType): Boolean =
          // EXACT type identity (types.go Is: typ == subject.Type()) — a
          // named type does NOT match its bare structure; names compare
          // by name
          a == b || ((a, b) match {
            case (zt.Named(n1, _), zt.Named(n2, _)) => n1 == n2
            case (zt.Named(n1, _), zt.Prim(n2)) => n1 == n2
            case (zt.Prim(n1), zt.Named(n2, _)) => n1 == n2
            case _ => false
          })
        // name-PRESERVING path walk (pathIn strips the leaf's name, but
        // exact identity needs it — is-typedef ztest)
        def pathKeep(t: graft.sources.ZType, parts: Seq[String]): Option[graft.sources.ZType] =
          if (parts.isEmpty) Some(t)
          else zt.strip(t) match {
            case zt.Rec(fs) =>
              fs.find(_._1 == parts.head).flatMap(f => pathKeep(f._2, parts.tail))
            case zt.Union(alts) => alts.flatMap(a2 => pathKeep(a2, parts)).headOption
            case _ => None
          }
        val shapes = shapesOf(df)
        (subject, targetT) match {
          case (Expr.Path(parts), Some(tt)) if shapes.nonEmpty =>
            val matching = shapes.collect {
              case (tag, st) if (if (parts.isEmpty) zMatch(st, tt)
                                 else pathKeep(st, parts).exists(zMatch(_, tt))) => tag
            }
            if (matching.isEmpty) lit(false)
            else if (matching.size == shapes.size) lit(true)
            else col(graft.operators.Het.typeTag).isin(matching: _*)
          case (Expr.Path(Seq()), _) =>
            graft.operators.Het.typeofRow(df) === lit(target)
          case (Expr.Path(parts), _) =>
            Shaper.typeof(df, parts.mkString(".")) === lit(target)
          case (other, _) => lit(Shaper.zedTypeOf(
            df.select(expr(df, other)).schema.head.dataType)) === lit(target)
        }
      case "is_error" =>
        if (isVariantExpr(df, args.head))
          graft.operators.Het.isError(expr(df, args.head))
        else lit(false)
      case "quiet" =>
        // quiet(x): error("missing") becomes error("quiet"), which writers
        // drop (function/quiet.go); named error types pass through.
        // Shape-missing and statically-missing paths box via outExpr so
        // the missing rows actually ARE error values here.
        if (isVariantExpr(df, args.head) || pathMixed(df, args.head) ||
            missingStatic(df, args.head)) {
          val het = graft.operators.Het
          val c = outExpr(df, args.head)
          val isMissing = het.isError(c) && c.getField("z") === lit("\"missing\"") &&
            c.getField("t") === lit("error(string)")
          when(isMissing, het.errQuiet).otherwise(c)
        } else a(0)
      case "__instar" =>
        // `x in *` — x appears anywhere in the record (search-expressions)
        val v = a(0).cast(StringType)
        def walk(prefix: String, dt: DataType): Seq[Column] = dt match {
          case st: StructType if !isVariant(st) =>
            st.fields.toIndexedSeq.flatMap(f => walk(s"$prefix.${f.name}", f.dataType))
          case ArrayType(_, _) =>
            Seq(array_contains(col(prefix).cast(ArrayType(StringType)), v))
          case _ => Seq(col(prefix).cast(StringType) === v)
        }
        val preds = df.schema.fields.filterNot(_.name == graft.operators.Het.typeTag)
          .toIndexedSeq.flatMap(f => walk(f.name, f.dataType))
        if (preds.isEmpty) lit(false) else preds.reduce(_ || _)
      case "__typename" =>
        // `<name>` with an unknown name: resolve against the data's OWN
        // named types (the runtime type context in the reference —
        // data-types.md); unresolved -> error("missing")
        resolveNamedType(df, litStr(0)) match {
          case Some(text) => lit(text)
          case None => graft.operators.Het.errMissing
        }
      case "typename" =>
        // typename(name) — look up a named type (function/typename.go)
        args.head match {
          case Expr.StringLit(n) =>
            resolveNamedType(df, n) match {
              case Some(text) => lit(text)
              case None => graft.operators.Het.errMissing
            }
          case e =>
            // runtime name: CASE over every named type the frame carries
            val names = namedTypesOf(df)
            val nc = expr(df, e)
            val het = graft.operators.Het
            val hit = names.foldLeft(lit(null).cast(StringType)) {
              case (acc, (n, text)) => when(nc === lit(n), lit(text)).otherwise(acc)
            }
            when(hit.isNotNull, het.typeValueVariant(hit)).otherwise(het.errMissing)
        }
      case "__typeval" =>
        // a declared type name used as a VALUE: its canonical type text
        // (typeof-style string carrier; writers/canon treat it as a type)
        val raw = litStr(0)
        lit(try graft.sources.ZType.fullText(
            graft.sources.ZsonParser.parseType(raw))
          catch { case _: Exception => raw })
      case "__glob" =>
        args.head match {
          case Expr.StringLit(p) => globSearch(df, p)
          case _ => lit(false)
        }
      case "nameof" =>
        // name of a named type (function/nameof.go) — per-shape static
        val shapes = shapesOf(df)
        val het = graft.operators.Het
        def nameOfTag(t: String): Option[String] = {
          val eq = t.indexOf('=')
          // named-type names may be package-qualified (data.Object,
          // lake.BranchTip — zson type names admit dots)
          if (eq > 0 && t.take(eq).forall(c =>
              c.isLetterOrDigit || c == '_' || c == '.')) Some(t.take(eq))
          else None
        }
        // a TYPE VALUE's name comes from ITS OWN text (<foo={x:int64}>);
        // data values from their shape tag
        val nameOfTypeValU = udf((s: String) => {
          if (s == null) None
          else try graft.sources.ZsonParser.parseType(s) match {
            case graft.sources.ZType.Named(n, _) => Some(n)
            case _ => None
          } catch { case _: Exception => None }
        })
        if (shapes.isEmpty) het.errMissing
        else shapes.foldLeft(het.errMissing) { case (acc, (t, st)) =>
          if (nameOfTag(t).isEmpty &&
              graft.sources.ZType.strip(st) == graft.sources.ZType.Prim("type") &&
              df.columns.contains("this")) {
            val tv =
              if (isVariant(df.schema("this").dataType)) col("this").getField("s")
              else col("this").cast(StringType)
            when(col(het.typeTag) === t,
              when(nameOfTypeValU(tv).isNotNull,
                het.variant(nameOfTypeValU(tv), StringType)).otherwise(het.errMissing))
              .otherwise(acc)
          } else nameOfTag(t) match {
            case Some(n) =>
              when(col(het.typeTag) === t, het.variant(lit(n), StringType)).otherwise(acc)
            case None => acc
          }
        }
      case "error" =>
        graft.operators.Het.errorValue(zsonTextOf(df, args.head))
      case "fields" =>
        // fields(this): per-row when shapes differ — record shapes give
        // static path lists, type VALUES give their type's paths, anything
        // else error("missing") (function/fields.go)
        val fShapes = shapesOf(df)
        val hetF = graft.operators.Het
        if (args.headOption.forall(_ == Expr.Path(Seq.empty)) && fShapes.nonEmpty) {
          val zt = graft.sources.ZType
          val thisVar = df.schema.fields.find(_.name == "this").exists(f => isVariant(f.dataType))
          def thisText(want: String): Column =
            if (!df.columns.contains("this")) lit(null).cast(StringType)
            else if (thisVar) (if (want == "type") col("this").getField("s")
                               else col("this").getField("t"))
            else col("this").cast(StringType)
          def pathsBox(paths: Column): Column =
            when(paths.isNotNull, hetF.mkVariant(lit(4),
                lit(null).cast(DoubleType), lit(null).cast(StringType),
                lit(null).cast(BooleanType), lit("[[string]]"),
                paths))
              .otherwise(hetF.errMissing)
          fShapes.foldLeft(hetF.errMissing: Column) { case (acc, (tag, st)) =>
            val r: Column = zt.strip(st) match {
              case _: zt.Rec =>
                pathsBox(graft.functions.ZvOps.typePaths(lit(zt.stripNullWrap(tag))))
              case zt.Prim("type") =>
                pathsBox(graft.functions.ZvOps.typePaths(thisText("type")))
              case u: zt.Union if thisVar =>
                // a boxed member: record values / type values resolve
                // row-level from the variant payload; a RECORD member
                // lands in real columns (no `this`) — its paths come from
                // the union's record member type
                val recMember = u.alts.collectFirst {
                  case r: zt.Rec => zt.fullText(r)
                }
                recMember match {
                  case Some(rt) =>
                    when(col("this").isNotNull,
                      graft.functions.ZvOps.fieldsVar(col("this")))
                      .otherwise(pathsBox(graft.functions.ZvOps.typePaths(lit(rt))))
                  case None => graft.functions.ZvOps.fieldsVar(col("this"))
                }
              case u: zt.Union =>
                u.alts.collectFirst { case r: zt.Rec => zt.fullText(r) } match {
                  case Some(rt) => pathsBox(graft.functions.ZvOps.typePaths(lit(rt)))
                  case None => hetF.errMissing
                }
              case _ => hetF.errMissing
            }
            when(col(hetF.typeTag) === tag, r).otherwise(acc)
          }
        } else Shaper.fieldsOf(df)
      case "flatten" if isTagged(df) && shapesOf(df).length > 1 =>
        // heterogeneous stream: flatten per-row with exact types
        // (function/flatten.go — non-records pass through unchanged)
        val dataF = df.schema.fields.toIndexedSeq.filterNot(f =>
          f.name == graft.operators.Het.typeTag ||
            f.metadata.contains("graft.scopeVar"))
        val subject =
          if (dataF.map(_.name) == Seq("this")) col("this")
          else struct(dataF.map(f => col(s"`${f.name}`").as(f.name)): _*)
        val subjText =
          if (dataF.map(_.name) == Seq("this") && isVariant(dataF.head.dataType))
            graft.operators.Het.render(subject)
          else graft.sources.ZsonIO.zsonOf(subject, StructType(dataF))
        graft.functions.ZvOps.flattenZed(subjText, col(graft.operators.Het.typeTag))
      case "flatten" =>
        // flatten(<path>) flattens the SUBTREE at the path, keys relative
        val basePath = args.headOption.collect {
          case Expr.Path(ps) if ps.nonEmpty &&
              dtypeOf(df, Expr.Path(ps)).exists(_.isInstanceOf[StructType]) => ps
        }
        Shaper.flattenCol(df, basePath)

      // shaper functions (runtime/sam/expr/shaper.go Cast/Crop/Fill/Order)
      case f @ ("shape" | "crop" | "fill" | "order" | "fit")
          if typedShaperCol(df, f, args).isDefined =>
        typedShaperCol(df, f, args).get
      case f @ ("shape" | "crop" | "fill" | "order" | "fit") =>
        val target = Shaper.parseZedType(litStr(args.length - 1)) match {
          case Some(st: StructType) => st
          case other => throw new IllegalArgumentException(
            s"$f: need a record type, got $other")
        }
        val flags = f match {
          case "shape" => Shaper.ShapeFlags.shape
          case "crop" => Shaper.ShapeFlags(crop = true)
          case "fill" => Shaper.ShapeFlags(fill = true)
          case "fit" => Shaper.ShapeFlags(crop = true, fill = true)
          case "order" => Shaper.ShapeFlags(order = true)
        }
        val (srcType, parent) =
          if (args.length > 1 && args.head != Expr.Path(Seq.empty)) {
            dtypeOf(df, args.head) match {
              case Some(st: StructType) => (st, Some(expr(df, args.head)))
              case other => throw new IllegalArgumentException(
                s"$f: first argument must be a record, got $other")
            }
          } else {
            val dataFields = df.schema.fields.toIndexedSeq.filterNot(f =>
              f.name == graft.operators.Het.typeTag ||
                f.metadata.contains("graft.scopeVar"))
            dataFields match {
              // untagged bare-record carrier: `this` IS the subject — do
              // not shape the {this: …} wrapper (shaping-zeek-ndjson)
              case Seq(f) if f.name == "this" && !isTagged(df) &&
                  f.dataType.isInstanceOf[StructType] =>
                (f.dataType.asInstanceOf[StructType], Some(col("this")))
              case _ => (StructType(dataFields), None)
            }
          }
        val shaped = struct(Shaper.reshapeCols(parent, srcType, target, flags): _*)
        // set-typed target fields re-normalize after shaping (zed set
        // values are ordered — zson.md §2.5.2); the Spark mapping loses
        // setness, the target TEXT still has it
        val setFields: Seq[String] =
          try graft.sources.ZType.strip(
            graft.sources.ZsonParser.parseType(litStr(args.length - 1))) match {
            case graft.sources.ZType.Rec(fs) => fs.collect {
              case (n, t) if graft.sources.ZType.strip(t).isInstanceOf[graft.sources.ZType.SetT] => n
            }
            case _ => Seq.empty
          } catch { case _: Exception => Seq.empty }
        setFields.foldLeft(shaped) { (acc, n) =>
          acc.withField(n, array_sort(acc.getField(n)))
        }

      // misc (coalesce.go, len.go, compare.go, cast.go)
      case "coalesce" =>
        // zed coalesce skips nulls (incl. typed nulls), error("missing")
        // and error("quiet") (function/coalesce.go); mixed argument types
        // box into variants so Spark's coalesce sees ONE type
        val het = graft.operators.Het
        val compiled = args.map { e =>
          val c = expr(df, e)
          val dt = dtOr(df, c, NullType)
          (e, c, dt)
        }
        val mixed = compiled.map(_._3).filterNot(_ == NullType).distinct.size > 1
        def skipFiltered(c: Column): Column = {
          val skipErr = het.isError(c) &&
            c.getField("z").isin("\"missing\"", "\"quiet\"")
          val typedNull = c.getField("n").isNull && c.getField("s").isNull &&
            c.getField("b").isNull && c.getField("z").isNull &&
            c.getField("a").isNull && c.getField("m").isNull
          when(skipErr || typedNull, lit(null)).otherwise(c)
        }
        coalesce(compiled.map { case (e, c, dt) =>
          if (isVariant(dt)) skipFiltered(c)
          else if (mixed) {
            if (dt == NullType) lit(null).cast(het.variantType)
            else het.variant(c, dt)
          } else c
        }: _*)
      case "len" =>
        // zed len is TYPE-dependent (function/len.go): strings by bytes,
        // ip/net by address size, containers by entry count. With mixed
        // shapes the dispatch is a static CASE on the shape tag.
        val zt = graft.sources.ZType
        val c0 = a(0)
        val varCol =
          typeOf(df, c0).exists(t => isVariant(t.dt))
        if (varCol) return graft.functions.ZvOps.lenZed(c0)
        // scalar text of the subject for the per-shape dispatch
        val cTxt = if (varCol) coalesce(c0.getField("s"), c0.getField("z")) else c0.cast(StringType)
        def lenFor(t: graft.sources.ZType): Column = zt.strip(t) match {
          case zt.Prim("ip") => when(cTxt.contains(":"), lit(16L)).otherwise(lit(4L))
          case zt.Prim("net") => when(cTxt.contains(":"), lit(32L)).otherwise(lit(8L))
          case zt.Prim("string") => coalesce(length(cTxt).cast(LongType), lit(0L))
          case zt.Prim("bytes")
              if typeOf(df, c0).exists(_.dt == BinaryType) =>
            coalesce(length(c0).cast(LongType), lit(0L)) // native binary: byte count
          case zt.Prim("bytes") =>
            coalesce(((length(cTxt) - 2) / 2).cast(LongType), lit(0L)) // "0x…" text
          case zt.Rec(fs) => lit(fs.length.toLong)
          case zt.Arr(_) | zt.SetT(_) | zt.MapT(_, _) =>
            if (varCol) coalesce(graft.functions.ZvOps.len(c0).getField("n").cast(LongType), lit(0L))
            else coalesce(size(c0).cast(LongType), lit(0L))
          case zt.Prim("type") => lit(1L)
          case zt.Prim("null") => lit(0L)
          case _ => coalesce(length(cTxt).cast(LongType), lit(0L))
        }
        val shapes0 = shapesOf(df)
        val perShape: Option[Column] = args.head match {
          case Expr.Path(parts) if shapes0.nonEmpty =>
            val pairs = shapes0.flatMap { case (tag, st) =>
              (if (parts.isEmpty) Some(st) else pathIn(st, parts)).map(tag -> _)
            }
            // the carrier of bare (non-record) values: for `this` the frame
            // keeps bare shapes in a `this` column, which is variant when
            // shapes mix — per-shape record arity is static, everything
            // else dispatches on the variant value itself (function/len.go)
            val carrier: Option[Column] =
              if (parts.isEmpty)
                df.schema.fields.find(_.name == "this").map(_ => col("this"))
              else df.schema.fields.find(_.name == parts.head).map(_ =>
                col(parts.mkString(".")))
            val carrierVar = carrier.exists(c =>
              typeOf(df, c).exists(t => isVariant(t.dt)))
            if (pairs.isEmpty) None
            else if (carrierVar) {
              val het = graft.operators.Het
              Some(pairs.foldLeft(graft.functions.ZvOps.lenZed(carrier.get)) {
                case (acc, (tag, t)) => zt.strip(t) match {
                  case zt.Rec(fs) =>
                    when(col(het.typeTag) === tag,
                      het.variant(lit(fs.length.toLong), LongType)).otherwise(acc)
                  case _ => acc
                }
              })
            }
            else if (pairs.map(p => zt.strip(p._2)).distinct.length == 1)
              Some(lenFor(pairs.head._2))
            else Some(pairs.foldLeft(lit(null).cast(LongType)) { case (acc, (tag, t)) =>
              when(col(graft.operators.Het.typeTag) === tag, lenFor(t)).otherwise(acc)
            })
          case _ => None
        }
        // non-path args (e.g. len(ksuid())) have no static shape entry —
        // resolve the actual column dtype so binary/array results measure
        // correctly instead of falling through to a lossy string cast
        val argDt = dtypeOf(df, args.head).orElse(
          try Some(df.select(a(0)).schema.head.dataType)
          catch { case _: Exception => None })
        perShape.getOrElse(argDt match {
          case Some(_: ArrayType) | Some(_: MapType) => size(a(0)).cast(LongType)
          case Some(StringType) => length(a(0)).cast(LongType)
          case Some(BinaryType) => length(a(0)).cast(LongType) // byte count
          case Some(st: StructType) if isVariant(st) => graft.functions.ZvOps.len(a(0))
          case _ if isVariantExpr(df, args.head) => graft.functions.ZvOps.len(a(0))
          case Some(st: StructType) => lit(st.fields.length)
          case _ => length(a(0).cast("string"))
        })
      case "compare" =>
        // optional third arg: nullsMax (must be a bool — compare.go)
        val nullsMaxOpt: Either[Expr, Boolean] = args.lift(2) match {
          case None => Right(true)
          case Some(Expr.BoolLit(b)) => Right(b)
          case Some(other) => Left(other)
        }
        nullsMaxOpt match {
          case Left(bad) =>
            graft.operators.Het.errorValue(concat(
              lit("{message:\"compare: nullsMax arg is not bool\",on:"),
              zsonTextOf(df, bad), lit("}")))
          case Right(nm) =>
            if (isVariantExpr(df, args(0)) || isVariantExpr(df, args(1))) {
              val het = graft.operators.Het
              def vk(i: Int): Column = {
                val c = expr(df, args(i))
                if (isVariantExpr(df, args(i))) compareKeyOf(df, c)
                else compareKeyOf(df, het.variant(c, dtypeOf(df, args(i)).getOrElse(StringType)))
              }
              F.compareVals(vk(0), vk(1), nm)
            } else {
              def sdt(i: Int): DataType = dtypeOf(df, args(i)).getOrElse(
                try df.select(expr(df, args(i))).schema.head.dataType
                catch { case _: Exception => StringType })
              val (d0, d1) = (sdt(0), sdt(1))
              if (d0 != d1 &&
                  !(d0.isInstanceOf[NumericType] && d1.isInstanceOf[NumericType])) {
                // cross-TYPE compare: zed total order ranks by type kind
                // (compare.md: compare(2, "1") = -1, numbers < strings)
                val het = graft.operators.Het
                F.compareVals(compareKeyOf(df, het.variant(expr(df, args(0)), d0)),
                  compareKeyOf(df, het.variant(expr(df, args(1)), d1)), nm)
              } else F.compareVals(a(0), a(1), nm)
            }
        }
      case "cast" if args.length == 2 && isVariantExpr(df, args.head) =>
        // union-typed subject (and possibly a runtime type VALUE): full
        // value-level cast with createStep union compatibility. The
        // variant's t member only carries the MEMBER type — the declared
        // union/named type comes from the row's shape.
        val toC = expr(df, args(1))
        val declaredC: Column = args.head match {
          case Expr.Path(parts0) if isTagged(df) =>
            val parts = if (parts0.headOption.contains("this")) parts0.tail else parts0
            shapesOf(df).foldLeft(lit(null).cast(StringType)) { case (acc, (t, st)) =>
              pathIn(st, parts) match {
                case Some(ft) => when(col(graft.operators.Het.typeTag) === t,
                  lit(graft.sources.ZType.fullText(ft))).otherwise(acc)
                case None => acc
              }
            }
          case _ => lit(null).cast(StringType)
        }
        graft.functions.ZvOps.castAny(expr(df, args.head), declaredC,
          toC.cast(StringType))
      case "cast" | "shape" | "crop" | "fill" | "order"
          if args.length == 2 && staticTypeofArg(df, args(1)).isDefined =>
        // `cast(b, typeof(a))` with a STATICALLY-known subject type folds
        // to a literal type value at compile time (semantic constant
        // propagation) — the general runtime-type path needs a variant
        expr(df, Expr.Call(fn,
          Seq(args(0), Expr.StringLit(staticTypeofArg(df, args(1)).get))))
      case "cast" if typedShaperCol(df, "cast", args).isDefined =>
        typedShaperCol(df, "cast", args).get
      case "cast" =>
        // single-arg form casts `this` (shaper.md: cast(<type>))
        val subject =
          if (args.length == 1) expr(df, Expr.Path(Seq.empty)) else a(0)
        val t = litStr(args.length - 1)
        def castTo(c: Column, srcDt: DataType, dt: DataType): Column = (srcDt, dt) match {
          // record casts align by FIELD NAME (shaper.go Cast), never by
          // position — Spark's struct cast is positional; a null record
          // stays null rather than becoming a record of nulls
          case (src: StructType, target: StructType) if !isVariant(src) && !isVariant(target) =>
            val rec = struct(target.fields.toIndexedSeq.map { f =>
              src.fields.find(_.name == f.name) match {
                case Some(sf) => castTo(c.getField(f.name), sf.dataType, f.dataType).as(f.name)
                case None => lit(null).cast(f.dataType).as(f.name)
              }
            }: _*)
            when(c.isNull, lit(null).cast(target)).otherwise(rec)
          case (ArrayType(se, _), ArrayType(te, _)) =>
            transform(c, x => castTo(x, se, te))
          case (s, target) if isVariant(target) && !isVariant(s) =>
            graft.operators.Het.variant(c, s) // cast to a union boxes
          case _ => c.cast(dt)
        }
        Shaper.parseZedType(t) match {
          case Some(dt) =>
            val srcDt = dtOr(df, subject, StringType)
            castTo(subject, srcDt, dt)
          case None => subject.cast(zedTypeToDdl(t))
        }

      // type-name casts (zed `<type>(expr)` constructor form)
      case "bool" =>
        // zed truthiness: nonzero numbers are true, T/F zeek-style strings
        // parse (cast.go ToBool) — Spark's string cast only takes 0/1
        def boolOfStr(c: Column): Column =
          when(lower(c).isin("t", "true", "1", "yes"), lit(true))
            .when(lower(c).isin("f", "false", "0", "no"), lit(false))
            .otherwise(c.cast(BooleanType))
        val c = expr(df, args.head)
        val dt = dtOr(df, c, StringType)
        dt match {
          case _: NumericType => c =!= lit(0)
          case StringType => boolOfStr(c)
          case st: StructType if isVariant(st) =>
            when(c.getField("k") === 0, c.getField("n") =!= 0.0)
              .when(c.getField("k") === 2, boolOfStr(c.getField("s")))
              .when(c.getField("k") === 3, c.getField("b"))
              .otherwise(lit(null).cast(BooleanType))
          case _ => c.cast(BooleanType)
        }
      // type-name constructors are casts (semantic/expr.go): on tagged
      // streams they run the typed caster for exact zed semantics
      // (ns time domain, range-checked ints, error({message,on}) wraps)
      case t @ ("int8" | "int16" | "int32" | "int64" | "uint8" | "uint16"
          | "uint32" | "uint64" | "float16" | "float32" | "float64" | "string"
          | "time" | "duration" | "ip" | "net" | "bytes" | "type")
          if typedShaperCol(df, "cast", Seq(args.head, Expr.StringLit(t))).isDefined =>
        typedShaperCol(df, "cast", Seq(args.head, Expr.StringLit(t))).get
      case t @ ("int8" | "int16" | "int32" | "int64" | "uint8" | "uint16"
          | "uint32" | "uint64" | "float32" | "float64" | "string") =>
        a(0).cast(zedTypeToDdl(t))
      case "time" =>
        if (dtypeOf(df, args(0)).contains(LongType))
          timestamp_micros(Bridge.intDiv(a(0), lit(1000L)))
        else a(0).cast("timestamp")
      case "duration" => a(0).cast("bigint") // ns (zed duration domain)
      case "ip" | "net" => a(0).cast("string") // ip/net travel as strings

      // map(v, f) — parser rewrote f to a lambda body over the element
      // (map.md); compiles to a codegen'd transform, never a UDF
      case "__mapf" =>
        transform(a(0), x => lambdaExpr(df, args(1), x))

      // nest_dotted is unflatten's record form (function/nestdotted.go):
      // dotted field names nest into records
      case "nest_dotted" => callBase(df, "unflatten", args)

      case "unflatten" if (args.headOption match {
          case Some(e) =>
            val adt = dtypeOf(df, e).orElse(
              try Some(df.select(expr(df, e)).schema.head.dataType)
              catch { case _: Exception => None })
            adt.exists(d => d.isInstanceOf[ArrayType] || isVariant(d))
          case None =>
            df.columns.contains("this") &&
              (df.schema("this").dataType.isInstanceOf[ArrayType] ||
                isVariant(df.schema("this").dataType))
        }) =>
        // an ARRAY of {key,value} entries builds a nested record row-level
        // (function/unflatten.go; the record form below handles dotted
        // top-level column names)
        val e = args.headOption.getOrElse(Expr.Path(Seq.empty))
        val c = expr(df, e)
        val text =
          if (isVariantExpr(df, e)) graft.operators.Het.render(c)
          else {
            val adt = dtOr(df, c, StringType)
            graft.sources.ZsonIO.zsonOf(c, adt)
          }
        graft.functions.ZvOps.unflattenZed(text)
      case "unflatten" =>
        // dotted names nest into records (function/unflatten.go)
        def build(entries: Seq[(List[String], Column)]): Seq[Column] =
          entries.groupBy(_._1.head).toSeq.sortBy { case (k, _) =>
            entries.indexWhere(_._1.head == k)
          }.map { case (head, group) =>
            val leaves = group.filter(_._1.length == 1)
            val deeper = group.filter(_._1.length > 1)
            if (deeper.isEmpty) leaves.head._2.as(head)
            else struct(build(deeper.map { case (p, c) => (p.tail, c) }): _*).as(head)
          }
        // a STATIC record argument nests its own fields (nest_dotted(nest))
        val argStruct: Option[(Column, StructType)] = args.headOption.flatMap {
          case Expr.Path(Seq()) | Expr.Path(Seq("this")) => None
          case e => dtypeOf(df, e) match {
            case Some(st: StructType) if !isVariant(st) => Some((expr(df, e), st))
            case _ => None
          }
        }
        argStruct match {
          case Some((c, st)) =>
            struct(build(st.fields.toIndexedSeq.map(f =>
              (f.name.split('.').toList, c.getField(f.name)))): _*)
          case None =>
            val dataFields = df.schema.fields.toIndexedSeq.filterNot(f =>
              f.name == graft.operators.Het.typeTag ||
                f.metadata.contains("graft.scopeVar"))
            struct(build(dataFields.map(f =>
              (f.name.split('.').toList, col(s"`${f.name}`")))): _*)
        }

      case "__getfield" =>
        // field access after an index/call: a variant base resolves
        // row-level (union-deref: r[0].a where r is a union array)
        if (isVariantExpr(df, args.head))
          graft.functions.ZvOps.get(expr(df, args.head), litStr(1))
        else a(0).getField(litStr(1))

      // set literal: dedup + sorted on construction (SURVEY §1.4)
      case "__setlit" if args.exists {
          case Expr.Call("__spread", Seq(se)) => isVariantExpr(df, se)
          case _ => false
        } =>
        vectorLitVariant(df, args, isSet = true)
      case "__setlit" =>
        if (args.isEmpty) array()
        else {
          val hasSpread = args.exists {
            case Expr.Call("__spread", _) => true
            case _ => false
          }
          val arr =
            if (hasSpread) concat(args.map {
              case Expr.Call("__spread", Seq(se)) => expr(df, se)
              case e2 => array(expr(df, e2))
            }: _*)
            else array(args.map(expr(df, _)): _*)
          sort_array(array_distinct(arr))
        }

      // map literal |{k:v,…}|: alternating key/value args; zed NORMALIZES
      // maps on construction — keys dedup (last wins) and sort
      case "__maplit" =>
        if (args.isEmpty) map_from_arrays(array(), array())
        else {
          val pairs = args.grouped(2).collect { case Seq(k, v) => (k, v) }.toSeq
          val allLit = pairs.forall {
            case (Expr.StringLit(_), _) | (Expr.IntLit(_), _) => true
            case _ => false
          }
          if (allLit) {
            val deduped = scala.collection.mutable.LinkedHashMap.empty[Expr, Expr]
            pairs.foreach { case (k, v) => deduped(k) = v }
            val sorted = deduped.toSeq.sortBy {
              case (Expr.StringLit(s), _) => s
              case (Expr.IntLit(i), _) => f"$i%019d"
              case _ => ""
            }
            map(sorted.flatMap { case (k, v) => Seq(expr(df, k), expr(df, v)) }: _*)
          } else map(args.map(expr(df, _)): _*)
        }

      // f-string concatenation: every part cast to string (expressions.md);
      // union-typed parts render their VALUE text (a raw string member
      // stays unquoted)
      case "__concat" => concat(args.map { x =>
        val c = expr(df, x)
        // decide by the COMPUTED type: some expressions (e.g. float
        // division on typed streams) produce variants from non-variant
        // inputs, which isVariantExpr's path analysis can't see
        val dt = if (isVariantExpr(df, x)) graft.operators.Het.variantType
          else dtOr(df, c, StringType)
        if (isVariant(dt)) graft.functions.ZvOps.asText(c)
        else c.cast("string")
      }: _*)

      // slice `a[lo:hi]` — 0-based, end-exclusive, negative from end
      case "__slice" if args.head.isInstanceOf[Expr.Path] &&
          !isVariantExpr(df, args.head) &&
          (dtypeOf(df, args.head).isEmpty || zedNullPath(df, args.head)) =>
        lit(null) // slice of a missing or null-typed value
      case "__slice" if isVariantExpr(df, args.head) =>
        // union-typed subject: exact row-level slice semantics
        def idxText(e: Expr): Column = e match {
          case Expr.NullLit => lit("null")
          case other =>
            val c = expr(df, other)
            if (isVariantExpr(df, other)) graft.operators.Het.render(c)
            else c.cast(StringType)
        }
        graft.functions.ZvOps.sliceZed(expr(df, args.head),
          idxText(args(1)), idxText(args(2)))
      case "__slice" if (dtypeOf(df, args.head).contains(StringType) ||
          (dtypeOf(df, args.head).isEmpty && {
            try df.select(a(0)).schema.head.dataType == StringType
            catch { case _: Exception => false }
          })) =>
        // string slice: byte-range substring (expressions.md slices)
        val s0 = a(0)
        val len = length(s0)
        def norm(e: Expr, dflt: Column): Column = e match {
          case Expr.NullLit => dflt
          case other =>
            val c = expr(df, other)
            when(c >= 0, c).otherwise(len + c)
        }
        val start0 = norm(args(1), lit(0)).cast("int")
        val end0 = norm(args(2), len).cast("int")
        s0.substr(start0 + 1, greatest(end0 - start0, lit(0)))
      case "__slice" =>
        val arr = a(0)
        val sz = size(arr)
        def norm(e: Expr, dflt: Column): Column = e match {
          case Expr.NullLit => dflt
          case other =>
            val c = expr(df, other)
            when(c >= 0, c).otherwise(sz + c)
        }
        val start0 = norm(args(1), lit(0)).cast("int")
        val end0 = norm(args(2), sz).cast("int")
        slice(arr, start0 + 1, greatest(end0 - start0, lit(0)))

      case "__aggwhere" =>
        args match {
          case Seq(Expr.Call(aggFn, aggArgs), cond) =>
            runningAgg(df, aggFn, aggArgs, Some(cond))
          case _ => throw new IllegalArgumentException("__aggwhere needs agg + condition")
        }
      case fn2 if Compiler.runningAggFns(fn2) => runningAgg(df, fn2, args, None)

      case other => throw new IllegalArgumentException(s"unknown function: $other")
    }
  }

  /** An aggregate in cut/put EXPRESSION position is a RUNNING aggregate
    * over stream order (agg-expr-where ztest: each row carries the
    * cumulative value; `where` filters contributions). Ordered-stream
    * semantics need a global running window — inherently sequential, like
    * the reference's per-row aggregate evaluation.
    */
  private def runningAgg(df: DataFrame, fn: String, args: Seq[Expr],
      where: Option[Expr]): Column = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(monotonically_increasing_id())
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val arg0 = args.headOption.map(expr(df, _)).getOrElse(lit(1))
    val arg = where match {
      case Some(c) => when(searchify(df, c), arg0)
      case None => arg0
    }
    // union-typed (variant) subjects aggregate over the right member:
    // and/or consume only the BOOL values (agg/agg.go: non-bools skip),
    // numeric aggs the numeric member
    val argIsVariant =
      typeOf(df, arg).exists(t => isVariant(t.dt))
    def boolArg: Column = if (argIsVariant) arg.getField("b") else arg.cast(BooleanType)
    def numArg: Column = if (argIsVariant) arg.getField("n") else arg
    fn match {
      case "sum" => sum(numArg).over(w)
      case "count" =>
        count(where.map(c => when(searchify(df, c), lit(1))).getOrElse(lit(1))).over(w)
      case "min" => min(numArg).over(w)
      case "max" => max(numArg).over(w)
      case "avg" => avg(numArg).over(w)
      case "and" => min(boolArg).over(w)
      case "or" => max(boolArg).over(w)
      case "collect" => collect_list(arg).over(w)
      // set/dedup transforms wrap OUTSIDE the window frame (Spark rejects
      // non-aggregate expressions as window functions)
      case "union" => array_distinct(collect_list(arg).over(w))
      case "dcount" | "count_distinct" =>
        size(array_distinct(collect_list(arg).over(w))).cast(LongType)
      case "collect_map" =>
        map_from_entries(array_distinct(
          flatten(collect_list(map_entries(arg)).over(w))))
      case "any" => first(arg, ignoreNulls = true).over(w)
      case other => throw new IllegalArgumentException(s"running aggregate '$other' not supported")
    }
  }
}

/** Public API: compile+run a Zed query string against an sf directory. */
object Compiler {
  private[lang] val log =
    org.slf4j.LoggerFactory.getLogger("graft.lang.Compiler")

  /** The reference's dcount sketch (metro-hashed loglog-beta HLL) as a
    * Spark aggregate — documented estimates reproduce exactly.
    */
  private[graft] def zdcount(c: Column): Column =
    graft.functions.Bridge.column(
      graft.functions.ZDCountAgg(graft.functions.Bridge.expression(c))
        .toAggregateExpression())

  /** single-arg builtins usable inside array lambdas (map(v, f), map.md) */
  private[lang] val lambdaUnary: Map[String, Column => Column] = Map(
    "upper" -> upper, "lower" -> lower, "trim" -> trim, "abs" -> abs,
    "ceil" -> ceil, "floor" -> floor, "sqrt" -> sqrt)

  /** aggregate fns usable as RUNNING aggregates in expression position */
  private[lang] val runningAggFns = Set(
    "sum", "count", "min", "max", "avg", "and", "or", "collect", "union",
    "any", "dcount", "count_distinct", "collect_map")

  /** marks lateral-scope context columns (over … with vars, outer-row id) */
  val scopeVarMeta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder().putBoolean("graft.scopeVar", true).build()
  val rowIdCol = "__row"
  val posCol = "__pos"

  /** `debug` operator output: DEFERRED renderers, scoped per thread so
    * concurrent queries don't interleave. Registered at compile time,
    * materialized only when the surface drains after running the query —
    * compiling a query never executes its pipeline.
    */
  private val debugThunks =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[() => Seq[String]]] {
      override def initialValue() =
        scala.collection.mutable.ArrayBuffer.empty[() => Seq[String]]
    }
  /** debug-channel row cap (diagnostics, not a data path) */
  val debugRowCap = 1024
  def addDebug(t: () => Seq[String]): Unit = debugThunks.get() += t
  def drainDebug(): Seq[String] = {
    val ts = debugThunks.get()
    val out = ts.toList.flatMap(t =>
      try t() catch { case _: Exception => Nil })
    ts.clear()
    out
  }
  /** Discard any registered debug thunks without running them — pooled
    * server threads must not accumulate DataFrame-capturing closures
    * across requests.
    */
  def clearDebug(): Unit = debugThunks.get().clear()
  /** reserved column-name prefix for lateral `with` scope vars */
  val varPrefix = "__var_"

  /** A type probe's result: the column's type and, when it is a plain
    * projection of the probed plan's output, its resolved expression.
    */
  private[lang] final case class Typed(dt: DataType,
      resolved: Option[org.apache.spark.sql.catalyst.expressions.Expression])
}

object Graft {
  def query(spark: SparkSession, dir: String, zed: String): DataFrame =
    new Compiler(spark, dir).run(Parser.parse(zed))

  def queryOn(input: DataFrame, zed: String): DataFrame = {
    val c = new Compiler(input.sparkSession, "")
    c.runOn(input, Parser.parse(zed))
  }

  /** Named multi-output flowgraph (op/mux.go): each `output <name>` leg
    * by label plus "main" for the unterminated flow.
    */
  def queryOutputs(spark: SparkSession, dir: String, zed: String): Seq[(String, DataFrame)] =
    new Compiler(spark, dir).runOutputs(None, Parser.parse(zed))
}
