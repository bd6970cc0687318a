package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet schema planning without a Spark job: the lake reads one
  * footer per data object on the driver and merges the schemas with the
  * same `StructType.merge` that parquet `mergeSchema` inference runs
  * (private[sql]).
  */
object SchemaBridge {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  /** The Spark schema one parquet file's footer declares — what schema
    * inference derives for that file.
    */
  def footerSchema(hadoopConf: Configuration, file: String): StructType = {
    val path = new Path(file)
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(path, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta),
      new ParquetToSparkSchemaConverter(SQLConf.get))
  }
}
