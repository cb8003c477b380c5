package graft

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Table loaders for the driver's testdata layout (TESTDATA.md): one parquet
  * file per table under a scale-factor directory.
  *
  * Scale posture: these are plain parquet scans — column pruning and predicate
  * pushdown reach the scan via Catalyst, so callers should express filters on
  * the returned DataFrame (never pre-collect). A single file is read under
  * its footer schema, read on the driver — the schema inference would pick,
  * without inference's Spark job. At 100 TB each "file" becomes a directory
  * of row-grouped parquet, which `spark.read.parquet(path)` discovers.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val isFile = Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).isFile).getOrElse(false)
    if (isFile)
      spark.read.schema(ColumnBridge.parquetFooterSchema(spark, Seq(path)))
        .parquet(path)
    else spark.read.parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")

  /** `events.parquet` carries TIMESTAMP(NANOS) which vanilla Spark rejects;
    * see [[Events.events]] for the normalizing loader. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Exact money arithmetic: cast a double column to DECIMAL(18,2) so sums
    * and running totals are associative (bit-identical regardless of
    * partitioning / aggregation order — required both for the DuckDB oracle
    * hash-compare and for run-to-run determinism on a real cluster). Final
    * outputs go back to double AFTER the exact aggregation. */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")

  /** Pin a compute-bound per-row pipeline to cluster parallelism when its
    * input scan is too small to split: a single-row-group parquet file
    * yields ONE scan task whatever `maxPartitionBytes` says, serializing
    * every per-row stage stacked on it (the r21 StageProbe showed 0.6-1 s
    * single-task stages across the text keys). Dispatched through
    * [[SizeTier]] at [[SizeTier.LocalBytes]]: above it the scan already
    * splits and this is the identity, so it never shuffles a warehouse
    * corpus. Round-robin repartition sorts before assignment, so re-runs
    * are bit-identical.
    *
    * `maxParts` caps the width per site: these stages are memory-
    * bandwidth-bound, and r21 measured CPU-seconds growing superlinearly
    * past ~8-way at flat wall (2.3 s at 4-way, 22 s at 32-way for one
    * q_substring_dedup); the heaviest expand/gram sites cap at 4.
    *
    * `sizeOf` dispatches on another frame, the base scan of a derived
    * `df`: Catalyst's estimate multiplies through joins and aggregations
    * and lands over the ceiling at kilobyte volume (q_cooccurrence's
    * post-join docToks did), while the scan has exact file-size stats
    * and upper-bounds the derived rows. */
  def fanOutSmallScan(df: DataFrame, maxParts: Int = 8,
      sizeOf: Option[DataFrame] = None): DataFrame =
    if (SizeTier.small(sizeOf.getOrElse(df), SizeTier.LocalBytes))
      df.repartition(
        math.min(df.sparkSession.sparkContext.defaultParallelism, maxParts))
    else df
}
