package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 batch source for ZNG streams — homogeneous or
  * heterogeneous (ZngIO.read routes every stream here after pass-1
  * shape discovery). Every scan is columnar: values decode straight
  * from the wire into column vectors (strings stay UTF-8 bytes, no
  * external-Row conversion) through one per-(wire type, column type)
  * fill decision; each record shape gets its own appender projecting BY
  * NAME into the merged frame, so mixed-shape zeek/zng data — the
  * reference's normal input — decodes at the same per-row cost as a
  * single-shape stream. Column pruning reaches the decoder (a
  * pruned-away field is skipped via its length tag), so `count()`-class
  * queries cost I/O plus tag arithmetic, like pass 1.
  *
  * String predicates push down as a pre-decode FRAME prefilter (the
  * reference's BufferFilter, runtime/sam/expr/bufferfilter.go): a frame
  * whose decompressed bytes can't contain the predicate's literal is
  * skipped without building a row. Filters are reported residual, so
  * Spark still evaluates them exactly above the scan — the prefilter is
  * a pure scan-rate win on selective searches. Disable with
  * `spark.conf.set("graft.zng.prefilter", "false")` (bench A/B).
  *
  * Options (set by ZngIO.read): `files` (newline-separated part list),
  * `shapes` (newline-separated shape texts, first-appearance order),
  * `splits` (per-file stream start offsets), `counts` (per-file row
  * counts), `sizes` (per-file byte lengths).
  * The reference's zngio reader is the semantic model
  * (zio/zngio/reader.go); the Spark surface is a standard TableProvider
  * so `spark.read.format(...).schema(...).load()` composes with
  * Catalyst's pruning and whole-stage codegen.
  */
class ZngDataSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "zng data source: read ZNG through ZngIO.read, which discovers the schema")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ZngTable(schema, new CaseInsensitiveStringMap(properties))
}

/** The options ZngIO.read and VngIO.read pass their DataSource. */
private object ZngDataSource {
  def filesOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("files")).getOrElse(
      throw new IllegalArgumentException("no files option: read through ZngIO.read or VngIO.read"))
      .split('\n').toIndexedSeq.filter(_.nonEmpty)

  def longsOf(options: CaseInsensitiveStringMap, key: String,
      n: Int): Option[Seq[Long]] =
    Option(options.get(key))
      .map(_.split('\n').toIndexedSeq.filter(_.nonEmpty).map(_.toLong))
      .filter(_.length == n)

  /** (numRows, sizeInBytes) for Catalyst's cost model, from discovery's
    * per-file counts and the listing's byte lengths (like parquet's
    * file-size estimate), so a small dim table read from zng/vng still
    * gets broadcast in joins.
    */
  def statsOf(options: CaseInsensitiveStringMap,
      files: Seq[String]): (Option[Long], Option[Long]) =
    (longsOf(options, "counts", files.length).map(_.sum),
      longsOf(options, "sizes", files.length).map(_.sum))

  /** The per-file row counts count(*) pushdown answers from. */
  def countsOf(options: CaseInsensitiveStringMap, files: Seq[String]): Seq[Long] =
    longsOf(options, "counts", files.length).getOrElse(
      throw new IllegalArgumentException("no counts option: read through ZngIO.read or VngIO.read"))
}

private class ZngTable(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "zng"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(caseInsensitiveOptions)
    new ZngScanBuilder(fullSchema, new CaseInsensitiveStringMap(merged))
  }
}

private class ZngScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var countAggs = 0
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  // every filter stays residual (Spark re-evaluates exactly); we only
  // mine them for frame-skip byte patterns, like parquet row-group stats
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  // count(*) with no filters answers from the discovery counts the
  // reader passed — zero data bytes read (the reference must
  // still stream the whole file; zed has no count shortcut either).
  // Residual filters block this automatically (Spark only pushes
  // aggregates when every filter was consumed by the scan).
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar])
    if (ok) countAggs = agg.aggregateExpressions.length
    ok
  }
  override def build(): Scan = {
    val files = ZngDataSource.filesOf(options)
    if (countAggs > 0)
      return new CountScan(ZngDataSource.countsOf(options, files), countAggs,
        s"graft zng (${files.length} files, count pushdown)")
    val enabled = SparkSession.active.conf
      .getOption("graft.zng.prefilter").forall(_.toBoolean)
    // only genuine zed `string` fields qualify: their UTF-8 bytes sit
    // raw in the values frame. Enum symbols live in the TYPES frame,
    // ip/time render at decode, and the synthesized __type tag never
    // appears on the wire — a pattern on any of those would skip frames
    // that DO match. In a heterogeneous stream a field qualifies only
    // when it is a string in EVERY shape that carries it (a frame of the
    // other-typed shape could match the predicate after decode — e.g. an
    // enum symbol — without the literal's bytes appearing raw).
    val shapeList = Option(options.get("shapes")).map(
      _.split('\n').toIndexedSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val stringCols: Set[String] = {
      val perShape = shapeList.map { sh =>
        ZType.strip(ZsonParser.parseType(ZType.stripNullWrap(sh))) match {
          case ZType.Rec(fields) => fields.iterator
            .map { case (n, ft) => n -> (ZType.strip(ft) == ZType.Prim("string")) }
            .toMap
          case _ => Map.empty[String, Boolean]
        }
      }
      val all = perShape.flatMap(_.keys).toSet
      all.filter(n => perShape.forall(m => m.getOrElse(n, true)))
    }
    new ZngScan(
      files = files,
      splits = Option(options.get("splits"))
        .map(_.split('\n').toIndexedSeq).filter(_.length == files.length),
      sizes = ZngDataSource.longsOf(options, "sizes", files.length),
      cleaned = StructType(full.fields.filterNot(_.name == graft.operators.Het.typeTag)),
      required = required,
      prefilter = if (enabled) BufferFilter.fromFilters(pushed, stringCols) else None,
      confMap = HadoopFs.confMap(SparkSession.active),
      stats = ZngDataSource.statsOf(options, files))
  }
}

/** One read split: a byte range of independent streams within a file
  * (length -1 = the whole file, possibly gzipped).
  */
private case class ZngPartition(file: String, start: Long, length: Long)
    extends InputPartition

/** Sum of values frames skipped by the BufferFilter prefilter — a DSv2
  * custom metric, so the Spark UI shows the skip rate per scan on a
  * real cluster.
  */
private class FramesSkippedMetric extends CustomSumMetric {
  override def name(): String = "framesSkipped"
  override def description(): String = "zng values frames skipped by prefilter"
}
private class FramesReadMetric extends CustomSumMetric {
  override def name(): String = "framesRead"
  override def description(): String = "zng values frames decoded"
}
/** Cells (and non-record rows) the scan filled through the value model
  * rather than the primitive table — the slow-path counter.
  */
private class ValueFillsMetric extends CustomSumMetric {
  override def name(): String = "valueFills"
  override def description(): String = "zng cells filled through the value model"
}

private class ZngScan(files: Seq[String], splits: Option[Seq[String]],
    sizes: Option[Seq[Long]],
    cleaned: StructType, required: StructType, prefilter: Option[BufferFilter],
    confMap: Map[String, String], stats: (Option[Long], Option[Long]))
    extends Scan with Batch with SupportsReportStatistics {
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong =
      stats._1.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    override def sizeInBytes(): java.util.OptionalLong =
      stats._2.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft zng (${files.length} files, ${required.fields.length} of " +
      s"${cleaned.fields.length + 1} columns" +
      (if (prefilter.isDefined) ", frame prefilter" else "") + ", vectorized)"
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new FramesSkippedMetric, new FramesReadMetric, new ValueFillsMetric)
  override def planInputPartitions(): Array[InputPartition] =
    files.indices.flatMap { i =>
      val f = files(i)
      val spec = splits.map(_(i)).getOrElse("-1")
      val size = sizes.map(_(i)).getOrElse(-1L)
      if (spec == "-1" || spec.isEmpty || size < 0)
        Seq(ZngPartition(f, 0L, -1L): InputPartition)
      else {
        val starts = spec.split(';').map(_.toLong)
        starts.indices.map { j =>
          val end = if (j + 1 < starts.length) starts(j + 1) else size
          ZngPartition(f, starts(j), end - starts(j)): InputPartition
        }
      }
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ZngReaderFactory(cleaned, required, prefilter, confMap)
}

/** count(*) pushdown: one partial-count row per file, from the counts
  * discovery already tallied — no data byte is read.
  */
private case class CountPartition(count: Long) extends InputPartition

private class CountScan(counts: Seq[Long], nAggs: Int, desc: String)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType((1 to nAggs).map(i =>
      org.apache.spark.sql.types.StructField(s"count$i",
        org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = desc
  override def planInputPartitions(): Array[InputPartition] =
    counts.map(CountPartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    val n = nAggs
    (partition: InputPartition) => {
      val c = partition.asInstanceOf[CountPartition].count
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = { val first = !emitted; emitted = true; first }
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array.fill[Any](n)(c))
        override def close(): Unit = ()
      }
    }
  }
}

/** Every ZNG scan is columnar: Spark asks only for batch readers. */
private class ZngReaderFactory(cleaned: StructType, required: StructType,
    prefilter: Option[BufferFilter], confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("zng scans read column batches")

  private def bytesOf(partition: InputPartition): Array[Byte] = {
    val p = partition.asInstanceOf[ZngPartition]
    if (p.length < 0) Gzip.maybeGunzip(HadoopFs.readAll(confMap, p.file))
    else {
      val rr = new HadoopFs.RangeReader(confMap, p.file)
      try rr.read(p.start, p.length.toInt) finally rr.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val stats = new ZngIO.FrameStats
    val (it, closeFn) =
      ZngIO.decodeToColumnarBatches(bytesOf(partition), cleaned, required, prefilter, stats)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = { val h = it.hasNext; if (h) batch = it.next(); h }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
      override def close(): Unit = closeFn()
      override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
        taskMetric("framesSkipped", stats.skipped),
        taskMetric("framesRead", stats.read),
        taskMetric("valueFills", stats.valueFills))
    }
  }

  private def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}
