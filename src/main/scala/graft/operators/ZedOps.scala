package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Zed pipeline operators re-expressed as idiomatic Spark DataFrame
  * transformations (reference: brimdata/zed `runtime/sam/op`; see
  * SURVEY.md §2.1 for file:line citations per operator).
  *
  * Everything here is declarative — each op emits a Catalyst plan and lets
  * the optimizer pick the physical strategy (partial/final agg, broadcast
  * vs shuffle join, TakeOrderedAndProject, …). Nothing collects to the
  * driver; all ops scale horizontally with input partitions.
  */
object ZedOps {

  /** `cut a,b:=expr` — projection by (possibly dotted) field paths.
    * Reference: runtime/sam/expr/cutter.go. Spark: a plain Project node,
    * so column pruning reaches the parquet scan.
    */
  def cut(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.select(cols.map { case (n, c) => c.as(n) }: _*)

  /** `put a:=expr` — add/overwrite fields; all RHS evaluated against the
    * *input* record (simultaneous-write), matching zed putter.go semantics
    * and Spark's `withColumns` contract exactly.
    */
  def put(df: DataFrame, cols: (String, Column)*): DataFrame = {
    // dotted targets update IN PLACE inside the nested record
    // (putter.go): a.b := e → withField, not a flat "a.b" column —
    // unless a column is literally NAMED with a dot (this["x.y"] target)
    val (nested, flat) = cols.partition { case (n, _) =>
      n.contains(".") && !df.columns.contains(n) }
    val base = if (flat.isEmpty) df else df.withColumns(flat.toMap)
    nested.foldLeft(base) { case (d, (path, c)) =>
      val root = path.takeWhile(_ != '.')
      val rest = path.drop(root.length + 1)
      if (d.columns.contains(root))
        d.withColumn(root, col(s"`$root`").withField(rest, c))
      else d.withColumn(root, struct(c.as(rest)))
    }
  }

  /** `drop a,b` — remove fields by path (runtime/sam/expr/dropper.go).
    * Dotted paths drop nested struct fields via dropFields.
    */
  def drop(df: DataFrame, paths: String*): DataFrame = {
    val (nested, topLevel) = paths.partition(_.contains("."))
    val dropped = df.drop(topLevel: _*)
    nested.foldLeft(dropped) { (d, p) =>
      val root = p.takeWhile(_ != '.')
      val rest = p.drop(root.length + 1)
      // dropping a struct's ONLY remaining field drops the struct itself
      // (zed records have no empty type at a field position; the cut/drop
      // ztests and schools.md pin this)
      val dropsAll = !rest.contains(".") &&
        d.schema.fields.find(_.name == root).map(_.dataType).exists {
          case st: org.apache.spark.sql.types.StructType =>
            st.fields.length == 1 && st.fields.head.name == rest
          case _ => false
        }
      if (dropsAll) d.drop(root)
      else d.withColumn(root, col(root).dropFields(rest))
    }
  }

  /** `rename new:=old` — move a field within the record
    * (runtime/sam/expr/renamer.go). Dotted paths rename nested fields in
    * place (zed requires old and new to share the same parent record).
    */
  def rename(df: DataFrame, renames: (String, String)*): DataFrame =
    renames.foldLeft(df) { case (d, (to, from)) =>
      if (!from.contains(".")) d.withColumnRenamed(from, to)
      else {
        val fromParts = from.split("\\.").toSeq
        val toLeaf = to.split("\\.").last
        require(fromParts.init == to.split("\\.").toSeq.init,
          s"rename: old and new must share a parent record ($from vs $to)")
        val parent = fromParts.init.mkString(".")
        val oldLeaf = fromParts.last
        val parentType = d.select(parent).schema.head.dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        // rebuild the parent struct preserving field order (in-place move)
        val rebuilt = struct(parentType.fields.toIndexedSeq.map { f =>
          val c = col(s"$parent.${f.name}")
          if (f.name == oldLeaf) c.as(toLeaf) else c.as(f.name)
        }: _*)
        d.withColumn(fromParts.head,
          if (fromParts.length == 2) rebuilt
          else col(fromParts.head).withField(fromParts.tail.init.mkString("."), rebuilt))
      }
    }

  /** `sort [-r] expr,…` — total sort, nulls last by default (zed default;
    * runtime/sam/expr/sort.go). Spark's sort is external (spills) and
    * range-partitions first — the same external-merge strategy zed uses,
    * but distributed.
    */
  def sort(df: DataFrame, keys: (Column, Boolean)*): DataFrame = {
    // zed sort is STABLE (sort.md:45, sort.go SortStable): ties keep
    // input order. A partition-prefixed row id as the final key makes the
    // distributed sort stable for one extra long per row in the exchange.
    val ord = "__sort_ord"
    df.withColumn(ord, monotonically_increasing_id())
      .orderBy(keys.map { case (c, asc) =>
        if (asc) c.asc_nulls_last else c.desc_nulls_last
      } :+ col(ord).asc: _*)
      .drop(ord)
  }

  /** `head N` (runtime/sam/op/head/head.go) — Spark limit; when preceded
    * by a sort, Catalyst fuses into TakeOrderedAndProject (no full sort).
    */
  def head(df: DataFrame, n: Int = 1): DataFrame = df.limit(n)

  /** `tail N` (runtime/sam/op/tail/tail.go) — last N under `order`.
    * Implemented as reverse-order top-N (TakeOrderedAndProject, O(N)
    * memory per partition) then re-sorted forward — no global shuffle.
    */
  def tail(df: DataFrame, n: Int, order: Column*): DataFrame =
    df.orderBy(order.map(_.desc_nulls_first): _*)
      .limit(n)
      .orderBy(order.map(_.asc_nulls_last): _*)

  /** `top N expr` — top-N by key descending (runtime/sam/op/top/top.go;
    * max-heap, O(N) memory). Catalyst compiles sort+limit to
    * TakeOrderedAndProject — the identical per-partition-heap + merge
    * algorithm, distributed.
    */
  def top(df: DataFrame, n: Int, keys: Column*): DataFrame =
    df.orderBy(keys.map(_.desc_nulls_last): _*).limit(n)

  /** `uniq` — collapse adjacent duplicates (runtime/sam/op/uniq/uniq.go).
    * Zed's idiom is `sort | uniq`, which is exactly `distinct` in Spark
    * (partial-agg dedup before the shuffle, so it scales).
    */
  def uniq(df: DataFrame): DataFrame = Het.canonicalRows(df).distinct()

  /** `uniq -c` — adjacent dedup with counts; the post-sort idiom is a
    * group-by count.
    */
  def uniqCount(df: DataFrame): DataFrame = {
    val c = Het.canonicalRows(df)
    c.groupBy(c.columns.map(col): _*).agg(count(lit(1)).as("count"))
  }

  /** Adjacent-duplicate semantics under an explicit order (true Unix-uniq,
    * runtime/sam/op/uniq/uniq.go) — DISTRIBUTED: range-partition by the
    * order keys, then drop predecessor-equal rows per partition.
    *
    * Scale argument: a full-row duplicate necessarily has equal order-key
    * values, and the range partitioner sends equal keys to one partition —
    * so every duplicate pair is adjacent WITHIN a partition and no
    * cross-partition fix-up is needed. N parallel windows, no
    * single-partition Exchange (the r1 version's scale-killer).
    */
  def uniqAdjacent(df0: DataFrame, order: Column*): DataFrame = {
    val df = Het.canonicalRows(df0)
    val ranged = df
      .repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val rowStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    val prev = lag(rowStruct, 1).over(w)
    ranged
      .withColumn("__dup", prev.isNotNull && (rowStruct <=> prev))
      .filter(!col("__dup"))
      .drop("__pid", "__dup")
  }

  /** `summarize agg [by keys]` — hash group-by
    * (runtime/sam/op/groupby/groupby.go). Spark natively runs the same
    * partials-out/partials-in decomposition (partial agg before the
    * shuffle, final after) that zed's scatter/merge rewrite builds.
    */
  def summarize(
      df: DataFrame,
      keys: Seq[(String, Column)],
      aggs: Seq[(String, Column)]
  ): DataFrame = {
    val aggCols = aggs.map { case (n, c) => c.as(n) }
    if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
    else {
      // variant-typed keys group on the canonical leaf (the a/m caches are
      // derived data and must not split groups)
      val keySchema = df.select(keys.map { case (n, c) => c.as(n) }: _*).schema
      val keyCols = keys.zip(keySchema.fields).map { case ((n, c), f) =>
        if (graft.sources.ZsonIO.isVariantType(f.dataType)) Het.canonical(c).as(n)
        else c.as(n)
      }
      df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** `summarize … every d` — time-bucketed group-by: zed's
    * `bucket(ts, d)` (function/time.go) = truncate ts to the d-aligned
    * bucket start. Arithmetic on the long micros keeps it inside
    * whole-stage codegen.
    */
  def timeBucket(ts: Column, duration: String): Column = {
    val us = durationMicros(duration)
    // cast makes TIMESTAMP_NTZ carriers work (exact: session TZ is UTC —
    // GraftSession); on TIMESTAMP it's a no-op
    val tsUtc = ts.cast(org.apache.spark.sql.types.TimestampType)
    timestamp_micros(graft.functions.Bridge.intDiv(unix_micros(tsUtc), lit(us)) * us)
  }

  /** Same, for ns-since-epoch long columns (zed time is ns-native; parquet
    * TIMESTAMP(NANOS) is read as long — see GraftSession). All arithmetic
    * stays in the exact long domain; result is a µs Spark timestamp.
    */
  def timeBucketNs(tsNs: Column, duration: String): Column = {
    val us = durationMicros(duration)
    val tsUs = graft.functions.Bridge.intDiv(tsNs, lit(1000L))
    timestamp_micros(graft.functions.Bridge.intDiv(tsUs, lit(us)) * us)
  }

  /** Parse a zed duration literal to exact nanoseconds. */
  private[graft] def durationNanos(d: String): Long = {
    // compound forms compose (1h30m; nano.go ParseDuration units incl. y)
    val part = "([0-9]+)\\s*(ns|us|ms|s|m|h|d|w|y)".r
    val parts = part.findAllMatchIn(d.trim).toSeq
    if (parts.isEmpty || parts.map(_.matched.replaceAll("\\s", "")).mkString != d.trim.replaceAll("\\s", ""))
      throw new IllegalArgumentException(s"bad duration: $d")
    parts.map { m =>
      val base = m.group(2) match {
        case "ns" => 1L
        case "us" => 1000L
        case "ms" => 1000000L
        case "s"  => 1000000000L
        case "m"  => 60L * 1000000000L
        case "h"  => 3600L * 1000000000L
        case "d"  => 86400L * 1000000000L
        case "w"  => 7L * 86400L * 1000000000L
        case "y"  => 365L * 86400L * 1000000000L
      }
      m.group(1).toLong * base
    }.sum
  }

  /** Duration in whole µs; rejects sub-µs durations rather than silently
    * bucketing 1000× too coarse (zed is ns-native, Spark timestamps µs).
    */
  private[graft] def durationMicros(d: String): Long = {
    val ns = durationNanos(d)
    require(ns % 1000L == 0, s"duration $d is finer than Spark's µs timestamps")
    ns / 1000L
  }

  /** `fork (=> … => …)` + `combine` — run branches over one input and
    * union them (runtime/sam/op/fork, op/combine). Branch plans share the
    * scan; caller may `.cache()` the input if it is expensive.
    */
  def forkCombine(df: DataFrame, branches: (DataFrame => DataFrame)*): DataFrame =
    branches.map(_(df)).reduce(_.unionByName(_, allowMissingColumns = true))

  /** `switch case <bool> … default` where every branch is a projection —
    * the common case — compiled to ONE pass over the input: each output
    * column is a first-match-wins CASE WHEN chain (runtime/sam/op/switcher
    * semantics without zed's per-branch streams). N cases = 1 scan, vs
    * `switchOp`'s N scans; at 100 TB this is the only acceptable shape.
    * Rows matching no case and no default are dropped, as in zed.
    */
  def switchCase(
      df: DataFrame,
      cases: Seq[(Column, Seq[(String, Column)])],
      default: Option[Seq[(String, Column)]] = None
  ): DataFrame = {
    val outNames = cases.head._2.map(_._1)
    require(cases.forall(_._2.map(_._1) == outNames) &&
      default.forall(_.map(_._1) == outNames),
      "switchCase branches must project the same column names")
    // null predicates count as no-match (zed boolean case semantics)
    val preds = cases.map { case (p, _) => coalesce(p, lit(false)) }
    val out = outNames.zipWithIndex.map { case (name, i) =>
      val chain = cases.zip(preds).foldRight(
        default.map(d => d(i)._2).getOrElse(lit(null))
      ) { case (((_, outs), pred), els) => when(pred, outs(i)._2).otherwise(els) }
      chain.as(name)
    }
    val matched =
      if (default.isDefined) lit(true) else preds.reduce(_ || _)
    df.filter(matched).select(out: _*)
  }

  /** `switch <e> case v1 … default` with arbitrary per-branch sub-pipelines
    * (runtime/sam/op/switcher). Compiled as per-branch filters with
    * accumulated negations (first-match-wins), then combine.
    *
    * NOTE: each branch re-executes the input plan — N branches = N scans of
    * the source. Use `switchCase` when branches are projections (one pass);
    * keep this form only for genuinely different sub-pipelines, and
    * `.cache()` the input if it is expensive.
    */
  def switchOp(
      df: DataFrame,
      cases: Seq[(Column, DataFrame => DataFrame)],
      default: Option[DataFrame => DataFrame] = None
  ): DataFrame = {
    val guarded = cases.zipWithIndex.map { case ((pred, f), i) =>
      val priors = cases.take(i).map(_._1)
      val full = priors.foldLeft(pred) { (p, prior) => p && !coalesce(prior, lit(false)) }
      (d: DataFrame) => f(d.filter(full))
    }
    val dflt = default.map { f =>
      val nonePrior = cases.map(_._1).map(p => !coalesce(p, lit(false))).reduce(_ && _)
      (d: DataFrame) => f(d.filter(nonePrior))
    }
    forkCombine(df, (guarded ++ dflt): _*)
  }

  /** `merge expr` — order-preserving combine of branches
    * (runtime/sam/op/merge). Spark idiom: union then ONE global sort.
    *
    * A branch whose plan tops out in its own global Sort (the common
    * `fork(...|sort k)(...|sort k) | merge k` shape) would otherwise pay
    * a full range exchange + sort per branch AND again for the merge —
    * but the merge's total order subsumes any branch ordering, so the
    * branch Sort contributes nothing to the result. It is stripped
    * before the union: the reference consumes pre-sorted upstreams with
    * a streaming heap (merge/merge.go:15-40); the Spark-first equivalent
    * of "don't sort what the merge re-orders" is eliminating the
    * redundant per-branch exchange entirely — at scale this halves the
    * pipeline's shuffle volume. (Catalyst's EliminateSorts does not look
    * through Union, so the surgery happens here.)
    */
  def merge(order: Seq[(Column, Boolean)], branches: DataFrame*): DataFrame = {
    val stripped =
      if (branches.length > 1) branches.map(stripRedundantSort) else branches
    sort(stripped.reduce(_.unionByName(_, allowMissingColumns = true)), order: _*)
  }

  /** Drop a branch's top-level global Sort — only the order is lost
    * (re-imposed by the caller's merge sort), never rows. Limits above a
    * sort keep their Sort (the plan then tops out in the Limit, not the
    * Sort, and nothing is stripped).
    */
  private def stripRedundantSort(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    df.queryExecution.analyzed match {
      case s: logical.Sort if s.global =>
        graft.functions.Bridge.ofRows(df.sparkSession, s.child)
      // the stable-sort shape: Project(drop __sort_ord, Sort(..., Project(
      // add __sort_ord, child))) — strip the whole sandwich, keep child
      case logical.Project(outer, s: logical.Sort)
          if s.global && (s.child match {
            case logical.Project(inner, _) =>
              inner.exists(_.name == "__sort_ord") &&
                !outer.exists(_.name == "__sort_ord")
            case _ => false
          }) =>
        val inner = s.child.asInstanceOf[logical.Project].child
        graft.functions.Bridge.ofRows(df.sparkSession, inner)
      case _ => df
    }
  }

  /** `combine` — unordered union of branches (runtime/sam/op/combine). */
  /** Give an UNTAGGED single-shape frame its shape tag so a het union
    * keeps per-branch type identity (two parquet files of different
    * schemas stay two record types, reference zio/parquetio combine).
    */
  private def ensureTagged(df: DataFrame): DataFrame = {
    val het = graft.operators.Het
    if (df.columns.contains(het.typeTag)) return df
    val fieldTexts = df.schema.fields.toIndexedSeq
      .filterNot(_.metadata.contains("graft.scopeVar"))
      .map { f =>
        val t =
          if (f.metadata.contains("graft.zedType")) f.metadata.getString("graft.zedType")
          else try graft.functions.Shaper.zedTypeOf(f.dataType)
          catch { case _: Exception => "string" }
        graft.sources.ZType.fieldName(f.name) + ":" + t
      }
    val shapeText = fieldTexts.mkString("{", ",", "}")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putStringArray("shapes", Array(shapeText)).build()
    df.withColumn(het.typeTag, lit(shapeText))
      .select((df.schema.fields.toIndexedSeq.map(f =>
        col(s"`${f.name}`").as(f.name, f.metadata)) :+
        col(het.typeTag).as(het.typeTag, md)): _*)
  }

  def combine(branches: DataFrame*): DataFrame = {
    if (branches.length == 1) return branches.head
    // distinct static schemas merge as DISTINCT record types: tag each
    // untagged branch with its own shape before the union
    if (branches.map(_.schema.fieldNames.toSeq).distinct.length > 1)
      return combineTagged(branches.map(ensureTagged): _*)
    combineTagged(branches: _*)
  }

  private def combineTagged(branches: DataFrame*): DataFrame = {
    // zed forms a UNION TYPE when branches disagree on a column's type
    // (switch/fork semantics): box the incompatible sides into variants
    // instead of failing the Spark union. Numeric-only disagreements are
    // left to Spark's own widening.
    val het = graft.operators.Het
    def dtOf(df: DataFrame, n: String) =
      df.schema.fields.find(_.name == n).map(_.dataType)
    val allCols = branches.flatMap(_.schema.fieldNames).distinct
      .filterNot(_ == het.typeTag)
    val boxCols: Set[String] = allCols.filter { n =>
      val ts = branches.flatMap(dtOf(_, n)).distinct
        .filterNot(_ == org.apache.spark.sql.types.NullType)
      ts.length > 1 &&
        !ts.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
    }.toSet
    val prepped = branches.map { df =>
      if (boxCols.exists(df.columns.contains)) {
        df.select(df.schema.fields.toIndexedSeq.map { f =>
          if (boxCols(f.name) && !graft.sources.ZsonIO.isVariantType(f.dataType))
            het.variant(col(s"`${f.name}`"), f.dataType).as(f.name, f.metadata)
          else col(s"`${f.name}`").as(f.name, f.metadata)
        }: _*)
      } else df
    }
    val out = prepped.reduce(_.unionByName(_, allowMissingColumns = true))
    // merge the branches' shape lists into the union's tag metadata
    val shapeTexts = branches.flatMap(df =>
      df.schema.fields.find(_.name == het.typeTag).toSeq.flatMap(f =>
        if (f.metadata.contains("shapes")) f.metadata.getStringArray("shapes").toSeq
        else Seq.empty)).distinct
    if (shapeTexts.nonEmpty && out.columns.contains(het.typeTag)) {
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putStringArray("shapes", shapeTexts.toArray).build()
      out.select(out.schema.fields.toIndexedSeq.map { f =>
        if (f.name == het.typeTag) col(s"`${f.name}`").as(f.name, md)
        else col(s"`${f.name}`").as(f.name, f.metadata)
      }: _*)
    } else out
  }

  /** `over e` (simple form) — flatten an array column: one output row per
    * element (runtime/sam/op/traverse/over.go). `explode` keeps outer
    * columns; zed's bare `over` yields just elements — drop the rest.
    */
  def over(df: DataFrame, arr: Column, as: String = "this"): DataFrame =
    df.select(explode(arr).as(as))

  /** `over e with …=> ( … )` — lateral subquery: flatten while keeping
    * outer scope columns, then apply the body per element.
    */
  def overLateral(
      df: DataFrame,
      arr: Column,
      as: String,
      keep: Seq[String]
  ): DataFrame =
    df.select(keep.map(col) :+ explode(arr).as(as): _*)

  /** `explode <expr> by <type> as <field>` — one output per embedded value
    * of a type (runtime/sam/op/explode/explode.go): gather matching leaf
    * fields into an array and explode.
    */
  def explodeBy(df: DataFrame, as: String, fields: Column*): DataFrame =
    df.select(explode(array(fields: _*)).as(as))

  /** By-type leaf discovery form: walks the schema for every (possibly
    * nested) leaf of the zed type and explodes those (explode.go's
    * type-driven field enumeration, done at plan time against the schema).
    */
  def explodeByType(df: DataFrame, zedType: String, as: String): DataFrame = {
    import org.apache.spark.sql.types._
    def matches(dt: DataType): Boolean =
      graft.functions.Shaper.zedTypeOf(dt) == zedType
    // scalar leaves OF the type and arrays of it both explode — an
    // array's ELEMENTS are values of the type (explode.go); null/missing
    // leaves yield nothing
    def leaves(st: StructType, prefix: String): (Seq[(String, DataType)], Seq[(String, DataType)]) =
      st.fields.toSeq.foldLeft((Seq.empty[(String, DataType)], Seq.empty[(String, DataType)])) {
        case ((sc, ar), f) =>
          val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
          f.dataType match {
            case s: StructType if !graft.sources.ZsonIO.isVariantType(s) =>
              val (s2, a2) = leaves(s, path)
              (sc ++ s2, ar ++ a2)
            case dt if matches(dt) => (sc :+ (path -> dt), ar)
            case ArrayType(et, _) if matches(et) => (sc, ar :+ (path -> et))
            case _ => (sc, ar)
          }
      }
    val dataSchema = StructType(df.schema.fields.filterNot(f =>
      f.name == graft.operators.Het.typeTag ||
        f.metadata.contains("graft.scopeVar")))
    val (scalars, arrays) = leaves(dataSchema, "")
    require(scalars.nonEmpty || arrays.nonEmpty,
      s"no leaf of type $zedType in ${df.schema.simpleString}")
    val elemDt = (scalars ++ arrays).head._2
    val pieces: Seq[Column] =
      scalars.map { case (p, _) =>
        when(col(p).isNotNull, array(col(p))).otherwise(array().cast(ArrayType(elemDt)))
      } ++ arrays.map { case (p, _) =>
        coalesce(col(p), array().cast(ArrayType(elemDt)))
      }
    df.select(explode(concat(pieces: _*)).as(as))
  }

  /** `fuse` — unify all record types into one wide schema
    * (runtime/sam/op/fuse/fuse.go). Across DataFrames this is
    * unionByName(allowMissing); a single DataFrame is already fused
    * (its source merged its inputs' schemas when it planned the read — a
    * lake scan merges its objects' footer schemas on the driver).
    */
  def fuse(dfs: DataFrame*): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** `shape`/`sample` — one representative value per distinct shape
    * (runtime/sam/op/shape/shaper.go; sample desugars to
    * `val:=any(e) by typeof(e)`). With a fixed relational schema the
    * shape key is the null-mask of the row.
    */
  def sampleByShape(df: DataFrame): DataFrame = {
    val shapeKey = concat_ws(",", df.columns.map(c => col(c).isNull.cast("int")): _*)
    df.groupBy(shapeKey.as("__shape"))
      .agg(first(struct(df.columns.map(col): _*)).as("sample"))
      .select("sample.*")
  }

  /** Deterministic `sample`: the representative of each shape is the row
    * with the smallest `key` (the reference's `any` picks an arbitrary
    * one; min-by-key fixes the choice so results are oracle-comparable
    * and stable across cluster sizes).
    */
  def sampleByShapeMin(df: DataFrame, key: Column): DataFrame = {
    val shapeKey = concat_ws(",", df.columns.map(c => col(c).isNull.cast("int")): _*)
    df.groupBy(shapeKey.as("__shape"))
      .agg(min_by(struct(df.columns.map(col): _*), key).as("sample"))
      .select("sample.*")
  }

  /** `assert <expr>` — pass rows through; rows failing the predicate get a
    * structured error column (semantic/op.go:753 desugaring).
    */
  def assertOp(df: DataFrame, pred: Column, label: String): DataFrame =
    df.withColumn(
      "error",
      when(pred, lit(null).cast("string")).otherwise(lit(s"assertion failed: $label"))
    )

  /** zed join (`anti|inner|left|right`) on lk=rk with right-side field
    * grafting (runtime/sam/op/join/join.go). Zed only has sort-merge
    * equi-join; Spark picks broadcast/shuffle-hash/SMJ per stats — a
    * strict superset. `graft` = columns pulled from the right record.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      style: String,
      graft: Seq[(String, Column)]
  ): DataFrame = {
    val sparkStyle = style match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case "right" => "right_outer"
      case "anti"  => "left_anti"
      case s       => s
    }
    // zed's merge join matches NULL keys as equal (join auto-sort ztest:
    // {a:null} joins {b:null}) — null-safe equality. The non-output side
    // carries a constant hit marker (null-key matches can't be told from
    // misses by key nullness) and an input-order ordinal so duplicate
    // matches keep the side's arrival order through the key sort.
    val outputLeft = sparkStyle != "right_outer"
    val decorate = graft.nonEmpty && sparkStyle != "left_anti"
    val hitC = "__hit_marker"
    val ordC = "__rord"
    val (l2, r2) =
      if (!decorate) (left, right)
      else if (outputLeft)
        (left, right.withColumn(hitC, lit(true))
          .withColumn(ordC, monotonically_increasing_id()))
      else
        (left.withColumn(hitC, lit(true))
          .withColumn(ordC, monotonically_increasing_id()), right)
    val joined = l2.join(r2, leftKey <=> rightKey, sparkStyle)
    if (style == "anti") joined
    else {
      val base =
        if (style == "right") right.columns.map(right(_))
        else left.columns.map(left(_))
      val extras =
        if (!decorate) Seq.empty
        else Seq(col(hitC).isNotNull.as(matchedCol), col(ordC).as(orderCol))
      joined.select(base ++ graft.map { case (n, c) => c.as(n) } ++ extras: _*)
    }
  }

  /** Join match marker column (internal; stripped by the compiler). */
  val matchedCol = "__joined"

  /** Non-output-side arrival ordinal (internal; sort tiebreak). */
  val orderCol = "__rord"
}
