package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into `ParquetFileFormat.readSchemaFromFooter` (`private[parquet]`):
  * one parquet file's Spark schema read from its footer on the driver,
  * converted exactly as non-merging schema inference converts it — the
  * Spark row-metadata key when the writer stored one, otherwise
  * `ParquetToSparkSchemaConverter` under the same session flags
  * `ParquetFileFormat.mergeSchemasInParallel` reads. */
object FooterSchemaBridge {
  def schemaOf(hadoopConf: Configuration, sqlConf: SQLConf,
      file: Path): StructType = {
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = new Footer(file, ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, hadoopConf), SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer, converter)
  }
}
