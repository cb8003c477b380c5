package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.4 X14 streaming form).
  *
  * The batch operator [[graft.ops.Windows.qTimeWindow]] and this module
  * share the same `window()` expression — the Spark design point where a
  * batch aggregation becomes a streaming one by adding `readStream` + a
  * watermark. The reference has no streaming at all (SURVEY.md §2.3);
  * this is extension surface sized for the events firehose case:
  * watermarked state eviction keeps per-executor state bounded no matter
  * how long the stream runs.
  */
object EventStream {

  /** Events schema with `ts` as the given type — LongType when the file
    * carries TIMESTAMP(NANOS) read under nanosAsLong, Timestamp(NTZ) when
    * it carries TIMESTAMP(MICROS). `readStream` needs the schema up front,
    * so [[readEvents]] peeks at the batch-read footer to pick it. */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of an events parquet directory. Normalization (epoch-
    * nanos `ts` + TimestampType `ts_t`) is shared with the batch loader
    * ([[graft.Events.normalize]]) so batch == streaming by construction
    * whichever encoding the testdata carries. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // read by the parquet reader when the scan executes (see Events.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .schema("ts").dataType
    graft.Events.normalize(
      spark.readStream
        .schema(eventsSchema(tsType))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark —
    * identical shape to the batch q_time_window. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_t", "2 hours")
      .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        col("sum_value"))

  /** Streaming windowed approx-distinct users via the mergeable KMV
    * sketch ([[graft.functions.KmvDistinct]]): a TypedImperativeAggregate
    * merges partial sketches exactly the way streaming state requires, so
    * per-window state is k=256 longs no matter how many users the window
    * sees — the streaming form of the sketch-rollup pattern. Estimates
    * are deterministic (hash-based), so streaming == batch exactly
    * (StreamingSpec pins it). */
  def windowedDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_t", "2 hours")
      .groupBy(window(col("ts_t"), "1 hour").as("w"))
      .agg(graft.functions.KmvDistinct
        .kmvDistinct(xxhash64(col("user_id"))).as("est_users"))
      .select(col("w.start").as("wstart"), col("est_users"))

  /** Streaming windowed value-quantile sketches via the mergeable HDR
    * histogram ([[graft.functions.HdrHistogram]]): per-window state is
    * the bounded bucket map regardless of event volume, merged by
    * streaming state exactly as the batch partial/final split merges it.
    * The emitted column is the SERIALIZED sketch — the same artifact a
    * warehouse sketch table persists — so downstream consumers merge
    * windows or decode p50/p95/p99 without touching raw events, and
    * because bucket counts add under union the streaming bytes are
    * BIT-identical to the batch sketch of the same window (StreamingSpec
    * pins it; the determinism argument is HdrHistogram's scaladoc). */
  def windowedValueQuantiles(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_t", "2 hours")
      .groupBy(window(col("ts_t"), "1 hour").as("w"))
      .agg(graft.functions.HdrHistogram.hdrSketch(
        (graft.Tables.dec2(col("value")) * 100).cast("long")).as("sketch"))
      .select(col("w.start").as("wstart"), col("sketch"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming form of X1 (state = one key per id, evicted by the
    * watermark, so memory stays bounded). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_t", "2 hours")
      .dropDuplicates("event_id")

  /** Streaming warehouse ingest via foreachBatch: each micro-batch is
    * aggregated and appended to a parquet table keyed by batchId, so a
    * replayed batch overwrites its own output instead of duplicating it
    * (the standard idempotent-sink recipe when the format has no
    * transactional upsert). The checkpoint dir carries the source offsets
    * — together they give effectively-once delivery into the warehouse. */
  def ingestToWarehouse(events: DataFrame, warehouseDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .parquet(s"$warehouseDir/batch_id=$batchId")
        ()
      }
      .start()

  /** Stream-static enrichment: every event joins the (batch) customer
    * dimension on user_id. The static side is planned per micro-batch as
    * an ordinary broadcast join — no state, no watermark needed — which
    * is why dimension enrichment is the cheapest streaming join and the
    * default way to attach warehouse attributes to a firehose. */
  def enrichedEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey").as("user_id"),
        col("c_mktsegment"))),
      Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"))

  /** Stream-stream interval join: each purchase joins the same user's
    * clicks from the preceding hour. Both sides carry watermarks and the
    * join condition bounds event time on BOTH ends, so Spark can evict
    * buffered rows once the watermark passes the interval — state stays
    * bounded no matter how long the streams run (the unbounded-state
    * stream-stream join is rejected by the planner in append mode).
    * StreamingSpec proves streaming == batch on the same window. */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts_t").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
  }
}
