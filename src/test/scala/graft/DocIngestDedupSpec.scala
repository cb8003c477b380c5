package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocIngest

/** The streaming ingest dedup must agree with the batch incremental
  * MERGE (q_incremental_dedup) on the same corpus fixture: existing docs
  * arrive first, the new batch arrives afterwards in doc_id order, and
  * the streamed first-arrival survivors among the new batch equal the
  * batch operator's output exactly. A second phase pins the documented
  * state-bound tradeoff: once the watermark passes a fingerprint's
  * horizon its state is evicted and a late duplicate re-emits. */
class DocIngestDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // fixture corpus — ids chosen so qIncrementalDedup's split applies:
  // existing = id % 5 != 0, incoming = id % 5 == 0
  private val existing = Seq(
    (1L, "alpha beta gamma"),
    (2L, "delta epsilon"),
    (3L, "zeta eta theta"),
    (4L, "zeta eta theta")) // duplicate within existing
  private val incoming = Seq(
    (5L, "Alpha  Beta gamma"),  // dup of existing doc 1 (normalized)
    (10L, "iota kappa lambda"), // new
    (15L, "iota kappa lambda"), // dup of incoming doc 10 → min id wins
    (20L, "mu nu xi"),          // new
    (25L, "delta epsilon"))     // dup of existing doc 2

  private def fixtureDir(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    (existing ++ incoming).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("a"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("streamed first-arrival survivors == batch incremental MERGE") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = fixtureDir()
    val batchOut =
      try ops.Text.qIncrementalDedup(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      finally org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))

    val ms = MemoryStream[(Long, String, Long)](spark)
    val docs = ms.toDF().toDF("doc_id", "text", "tsec")
      .withColumn("ingest_t", timestamp_seconds(col("tsec")))
    val q = DocIngest.dedupOnIngest(docs)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_dedup_out")
      .start()
    val t0 = 1000000L
    try {
      // phase 1: the warehouse's existing docs arrive first
      ms.addData(existing.map { case (id, t) => (id, t, t0) }: _*)
      q.processAllAvailable()
      // phase 2: the new batch, one micro-batch per doc in id order (the
      // arrival order under which first-arrival == min doc_id)
      incoming.foreach { case (id, t) =>
        ms.addData((id, t, t0))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamedIncoming = spark.table("ingest_dedup_out")
      .where(col("doc_id") % 5 === 0)
      .select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batchOut.nonEmpty)
    assert(streamedIncoming == batchOut)
  }

  test("state horizon: a duplicate beyond the watermark re-emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[(Long, String, Long)](spark)
    val docs = ms.toDF().toDF("doc_id", "text", "tsec")
      .withColumn("ingest_t", timestamp_seconds(col("tsec")))
    val q = DocIngest.dedupOnIngest(docs)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_evict_out")
      .start()
    val t0 = 2000000L
    try {
      ms.addData((1L, "same content", t0))
      q.processAllAvailable()
      // in-horizon duplicate: suppressed
      ms.addData((2L, "same content", t0 + 60))
      q.processAllAvailable()
      // advance the watermark past the key's 1-hour horizon
      ms.addData((3L, "watermark advancer", t0 + 3 * 3600))
      q.processAllAvailable()
      // beyond-horizon duplicate: state evicted → re-emits
      ms.addData((4L, "same content", t0 + 3 * 3600 + 60))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("ingest_evict_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L),
      s"expected in-horizon dup 2 suppressed and late dup 4 re-emitted: $ids")
  }

  test("state partitions size to the ingest rate, not the batch default") {
    import graft.streaming.DocIngest.statePartitionsFor
    // per-batch commit cost is linear in state partitions, so tiny
    // batches must never inherit a batch-tuned shuffle default
    assert(statePartitionsFor(5000L, 32) == 5)
    assert(statePartitionsFor(500L, 32) == 1) // floor at one partition
    // a real edge's batches scale the shards up to the core ceiling
    assert(statePartitionsFor(1000000L, 32) == 32)
  }
}
