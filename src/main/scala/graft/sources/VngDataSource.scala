package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 batch source for VNG record streams — one record shape
  * or several (a Dynamic root) — the columnar half of VngIO.read. VNG is
  * the reference's columnar format (vng/, one metadata tree + per-vector
  * data segments); this scan fills column vectors and turns Catalyst's
  * column pruning into SEGMENT-LEVEL I/O: a pruned-away field's segments
  * are never read (positioned reads skip them entirely), never
  * LZ4-decoded, never value-decoded. A count()-class query reads only
  * each file's metadata section.
  *
  * Options (set by VngIO.read): `files` (newline-separated part list),
  * `shapes` (the streams' record shape texts), `counts` and `sizes`
  * (per-file row counts and byte sizes). Filters are not consumed here —
  * parquet-grade stats pruning would need per-segment min/max the format
  * doesn't carry; Spark evaluates every predicate above the scan.
  */
class VngDataSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VngIO.inferSingleShape(SparkSession.active, VngDataSource.filesOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new VngTable(schema, new CaseInsensitiveStringMap(properties))
}

private object VngDataSource {
  def filesOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("files")) match {
      case Some(fs) => fs.split('\n').toIndexedSeq.filter(_.nonEmpty)
      case None =>
        val path = Option(options.get("path")).getOrElse(
          throw new IllegalArgumentException("vng data source: no files/path option"))
        HadoopFs.listDataFiles(SparkSession.active, path)
    }
}

private class VngTable(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "vng"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(caseInsensitiveOptions)
    new VngScanBuilder(fullSchema, new CaseInsensitiveStringMap(merged))
  }
}

private class VngScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = full
  private var countAggs = 0
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  // count(*) answers from each file's metadata section (row counts live
  // in the Record metadata) — zero data-section bytes read
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar])
    if (ok) countAggs = agg.aggregateExpressions.length
    ok
  }
  override def build(): Scan = {
    val files = VngDataSource.filesOf(options)
    if (countAggs > 0)
      new VngCountScan(files,
        Option(options.get("counts"))
          .map(_.split('\n').toIndexedSeq.filter(_.nonEmpty).map(_.toLong)),
        countAggs, HadoopFs.confMap(SparkSession.active))
    else new VngScan(
      files = files,
      shapes = Option(options.get("shapes"))
        .map(_.split('\n').toIndexedSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty),
      required = required,
      confMap = HadoopFs.confMap(SparkSession.active),
      stats = ZngDataSource.statsOf(options, files))
  }
}

/** count(*) pushdown twin of ZngCountScan: per-file partial counts from
  * the `counts` option (discovery already knows them) or one metadata
  * read — the data section is never touched.
  */
private case class VngCountPartition(file: String, count: Long) extends InputPartition

private class VngCountScan(files: Seq[String], counts: Option[Seq[Long]], nAggs: Int,
    confMap: Map[String, String]) extends Scan with Batch {
  private val aligned = counts.filter(_.length == files.length)
  override def readSchema(): StructType =
    StructType((1 to nAggs).map(i =>
      org.apache.spark.sql.types.StructField(s"count$i",
        org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = s"vng files=${files.length} count-pushdown"
  override def planInputPartitions(): Array[InputPartition] =
    files.zipWithIndex.map { case (f, i) =>
      VngCountPartition(f, aligned.map(_(i)).getOrElse(-1L)): InputPartition
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = confMap
    val n = nAggs
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[VngCountPartition]
      val c = if (p.count >= 0) p.count else VngIO.fileRowCount(conf, p.file)
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

private case class VngPartition(file: String) extends InputPartition

private class VngScan(files: Seq[String], shapes: Seq[String], required: StructType,
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
    s"vng files=${files.length} shapes=${shapes.length} " +
      s"columns=${required.fieldNames.mkString(",")} vectorized"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(VngPartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new VngReaderFactory(required, confMap)
}

/** Every VNG scan is columnar: Spark asks only for batch readers. */
private class VngReaderFactory(required: StructType, confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("vng scans read column batches")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val file = partition.asInstanceOf[VngPartition].file
    val (it, closeFn) = VngIO.columnarBatches(confMap, file, required)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = { val h = it.hasNext; if (h) batch = it.next(); h }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
      override def close(): Unit = closeFn()
    }
  }
}
