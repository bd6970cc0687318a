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
    throw new UnsupportedOperationException(
      "vng data source: read VNG through VngIO.read, which discovers the schema")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new VngTable(schema, new CaseInsensitiveStringMap(properties))
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
    val files = ZngDataSource.filesOf(options)
    if (countAggs > 0)
      new CountScan(ZngDataSource.countsOf(options, files), countAggs,
        s"vng files=${files.length} count-pushdown")
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
