package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the `events` table.
  *
  * The driver has generated `events.parquet` with two different physical
  * encodings for `ts` across rounds, so this loader dispatches on the type
  * the scan actually surfaces instead of assuming one:
  *
  *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
  *     ([PARQUET_TYPE_ILLEGAL]) unless
  *     `spark.sql.legacy.parquet.nanosAsLong=true`, under which `ts`
  *     arrives as a LongType of epoch-nanoseconds.
  *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
  *     TIMESTAMP_NTZ (a wall-clock value with no zone).
  *
  * Both normalize to the same downstream contract used by every events
  * operator (Behavior/SetOps/Windows/Advanced/Strings):
  *
  *   - `ts`    — epoch-nanos LongType (exact; as-of comparisons lose no
  *               precision against the DuckDB oracle, whose `epoch_ns(ts)`
  *               likewise works on both TIMESTAMP and TIMESTAMP_NS)
  *   - `ts_t`  — TimestampType at microsecond precision (for window ops)
  *
  * The NTZ → TIMESTAMP casts name UTC themselves instead of reading the
  * session time zone, so the loader works the same whoever built the
  * session and never resets the caller's zone: an NTZ wall-clock value
  * casts to TimestampType without any zone shift, and `unix_micros` of
  * the cast equals DuckDB's `epoch_us` of the naive value.
  */
object Events {
  def events(spark: SparkSession, dir: String): DataFrame = {
    // a session setting, not a plan property: the parquet reader reads it
    // when the scan executes, so it has to be on the session that runs it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(Tables.eventsRaw(spark, dir))
  }

  /** `c` (TIMESTAMP_NTZ) as TIMESTAMP, reading the wall clock as UTC. */
  private def utcTimestamp(c: Column): Column = ColumnBridge.column(
    Cast(ColumnBridge.expression(c), TimestampType, Some("UTC")))

  /** Normalize a raw events frame (batch or streaming) to the
    * `ts`=epoch-nanos-long / `ts_t`=timestamp contract. Fails fast with a
    * named error on an unrecognized encoding so the next silent testdata
    * regeneration self-diagnoses instead of breaking 15 keys downstream. */
  def normalize(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => // nanos file read under nanosAsLong
      raw.withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType | TimestampType => // micros file
      raw
        .withColumn("ts_t", utcTimestamp(col("ts")))
        .withColumn("ts", unix_micros(utcTimestamp(col("ts"))) * lit(1000L))
    case other =>
      throw new IllegalStateException(
        s"events.parquet schema drift: column `ts` surfaced as $other; " +
          "expected LongType (TIMESTAMP(NANOS) under nanosAsLong) or " +
          "Timestamp/TimestampNTZ (TIMESTAMP(MICROS)). Update graft.Events " +
          "for the new encoding.")
  }
}
