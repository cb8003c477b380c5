package org.apache.spark.sql.execution.datasources.parquet

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** Spark's own parquet read function for small files this engine wrote
  * itself (merge-on-read sidecars), callable on the driver and inside a
  * task alike. Built on the driver by
  * `ParquetFileFormat.buildReaderWithPartitionValues` — the function a
  * file scan runs per file — so a sidecar decodes exactly as a scan of
  * it would (vectorized when the session allows, int→long upcasts,
  * rebase modes). Building it broadcasts the Hadoop conf and schedules
  * no Spark job; the function is serializable and ships inside the
  * expression that uses it. */
final class SidecarReader private (
    read: PartitionedFile => Iterator[InternalRow]) extends Serializable {

  /** The rows of the parquet file at qualified `path` (`size` bytes),
    * under the reader's schema. The reader reuses its row objects: copy
    * what you keep. The file closes when the iterator is exhausted. */
  def rows(path: String, size: Long): Iterator[InternalRow] =
    read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, size, Array.empty[String], 0L, size))
}

object SidecarReader {
  /** A reader of parquet files under `schema` (columns matched by name,
    * as `spark.read.schema(schema).parquet` matches them). */
  def apply(spark: SparkSession, schema: StructType): SidecarReader = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    new SidecarReader(new ParquetFileFormat().buildReaderWithPartitionValues(
      cs, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      cs.sessionState.newHadoopConf()))
  }
}
