package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by SparkEntry / Verify / Bench / tests.
  *
  * Design notes (100 TB scale): all knobs are set for a real cluster first
  * — AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * shuffle partitions sized by the driver env, parquet vectorized reads.
  * Local tests just shrink the numbers; the plan shapes stay identical.
  */
/** Injects the engine's optimizer rules into the OPERATOR OPTIMIZATION
  * batches (via spark.sql.extensions), which run BEFORE SchemaPruning —
  * required so CollapseVariantAccess's parts rewrites are visible when
  * nested-column pruning decides the parquet ReadSchema. The
  * experimental.extraOptimizations registration in [[GraftSession.ready]]
  * runs in the LAST batch and stays as the idempotent safety net for
  * sessions created without this config. It also injects the AQE
  * query-stage preparation rule [[graft.operators.OneTaskSort]] and the
  * resolution rule [[graft.functions.VariantNumericCast]], which have no
  * such fallback: a session without this config keeps Spark's plan and
  * refuses a numeric cast of a variant column.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.functions.CollapseVariantAccess)
    e.injectQueryStagePrepRule(_ => graft.operators.OneTaskSort)
    e.injectResolutionRule(_ => graft.functions.VariantNumericCast)
  }
}

object GraftSession {

  /** Shared config applied to every session the engine creates.
    *
    * `file:` paths go through [[graft.sources.NioLocalFileSystem]]: where
    * Hadoop's native library is absent, the stock local filesystem forks a
    * `chmod` for every file, `.crc` and directory it creates (15 per lake
    * load), and this one sets the same modes in-process. The setting
    * reaches tasks through the session's Hadoop configuration (and
    * `HadoopFs.confMap`); it covers the `file:` scheme only.
    */
  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // joins too big to broadcast: let AQE rewrite SMJ→SHJ at RUNTIME
      // when every post-shuffle partition is under 64 MB (guide: shuffled
      // hash beats sort-merge when a build side fits per-partition). The
      // static preferSortMergeJoin=false form was removed: it decides from
      // plan-time size ESTIMATES, and the custom DSv2 sources feed
      // discovery-time stats a misestimate of which would pick an
      // unspillable hash build statically; the AQE rewrite instead sees
      // the REAL post-shuffle partition sizes, so its SHJ choice is
      // bounded by measured data. Pinned by PlanSpec's beyond-broadcast
      // regime test.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // zed NEVER throws per-row — failed casts/arithmetic yield error
      // values (complex.go error("…")); non-ANSI evaluation maps them to
      // NULL, the engine's error-value convention (see MissingSpec)
      .config("spark.sql.ansi.enabled", "false")
      // zed map values normalize duplicate keys to the last occurrence
      // (|{"b":2,"a":1,"b":2}| is legal input — zson.md §2.5.3)
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // zed is ns-native (nano.Ts — reference value.go:84); Spark timestamps
      // are µs. Read parquet TIMESTAMP(NANOS) as long ns and convert at the
      // edges — keeps scan pushdown on the raw column and loses nothing.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")

  /** Post-create setup shared by every entry point: the engine's own
    * optimizer rules (idempotent — getOrCreate may return a live session).
    */
  def ready(s: SparkSession): SparkSession = {
    val rule = graft.functions.CollapseVariantAccess
    if (!s.experimental.extraOptimizations.contains(rule))
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule
    s
  }

  /** Width threshold above which the per-operator consume split is turned
    * off for the next-executed query (see tuneWideCodegen).
    */
  val wideSchemaCols = 60

  /** Wide-row codegen guard, applied per compiled query. Spark's default
    * per-operator consume split packs every column of an operator's output
    * into ONE generated JVM method — at zeek width (~94 columns) that
    * method's body exceeds the 64 KB bytecode limit, Janino fails ("Code
    * grows beyond 64 KB"), and the whole stage silently drops to
    * interpreted execution. Inlining the consume (split=false) avoids the
    * cliff for wide plans but taxes every narrow decode-heavy path with
    * huge un-JIT-able methods (r9 bench: ingest_zng +53%). So: keep
    * Spark's default for narrow plans, flip the split off only when the
    * compiled plan carries wide rows anywhere. The conf is read at
    * whole-stage codegen time — each query's compile happens right before
    * its execution in every engine surface, so setting it here scopes it
    * to the query (worst case under concurrency is a perf fallback, never
    * wrong results).
    */
  def tuneWideCodegen(df: DataFrame): DataFrame = {
    // the OPTIMIZED plan: column pruning has run, so a narrow projection
    // over a wide table doesn't trip the guard
    val wide =
      try df.queryExecution.optimizedPlan.collectFirst {
        case p if p.output.size > wideSchemaCols => p
      }.isDefined
      catch { case _: Exception => false }
    df.sparkSession.conf.set(
      "spark.sql.codegen.splitConsumeFuncByOperator", (!wide).toString)
    df
  }

  def local(cores: Int = 32): SparkSession = {
    val s = ready(configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores.toString
    ).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load one of the driver-provided TPC-H-ish tables from an sf dir. The
    * schema comes from the footer of the table's first data file, read on
    * the driver and cached per (file, mtime), so opening a table starts no
    * Spark job (schema inference reads that same footer in a job).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(tableSchema(spark, path)).parquet(path)
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]

  private def tableSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = graft.sources.HadoopFs.listDataFiles(spark, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"$path: no data files"))
    val p = new org.apache.hadoop.fs.Path(first)
    val mtime = p.getFileSystem(conf).getFileStatus(p).getModificationTime
    val cached = schemaCache.get(first)
    if (cached != null && cached._1 == mtime) cached._2
    else {
      val schema = org.apache.spark.sql.graftshim.SchemaBridge.footerSchema(conf, first)
      schemaCache.put(first, (mtime, schema))
      schema
    }
  }
}
