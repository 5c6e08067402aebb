package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's parquet footer-to-schema conversion (sibling of
  * `org.apache.spark.sql.graft.ColumnBridge`), for
  * `graft.sink.Parquet.read`. It converts one file's footer exactly as
  * `ParquetFileFormat.mergeSchemasInParallel` converts each footer it
  * reads during schema inference — the same footer read, the same
  * converter settings from the session conf, and the Spark schema
  * stored in the footer when there is one — but on the driver, with
  * no Spark job.
  */
object FooterSchema {
  def of(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sql.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), converter)
  }
}
