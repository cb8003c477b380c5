package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ManifestStreamProvider

/** Pins the manifest streaming source ([[graft.streaming.ManifestStreamProvider]]):
  * version-offset incremental delivery, commit-granular admission
  * control, checkpoint resume, startingVersion, and the loud refusal on
  * a REPLACE commit inside a batch range (the [[graft.ops.Layout.readChanges]]
  * contract lifted to Structured Streaming). */
class ManifestStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private var nameSeq = 0
  private def freshName(): String = { nameSeq += 1; s"mstream_$nameSeq" }

  private def freshTable(suffix: String): String = {
    val t = s"target/graft_io/spec/stream_$suffix"
    val root = new Path(t)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    t
  }

  private def nation: DataFrame = Tables.nation(spark, sf)

  private def startStream(table: String, name: String,
      options: Map[String, String] = Map.empty,
      checkpoint: Option[String] = None) = {
    var reader = spark.readStream.format("graft-manifest")
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val writer = reader.load(table)
      .select(col("n_nationkey"), col("n_name"))
      .writeStream.format("memory").queryName(name)
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  test("each commit arrives exactly once; batches carry only the delta") {
    import graft.ops.Layout._
    val table = freshTable("inc")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 10))
    val name = freshName()
    val q = startStream(table, name)
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 10,
        "initial snapshot batch must stream the full v1 content")
      // a second commit must arrive as a delta — no re-read of v1 rows
      commitSnapshot(spark, table, nation.where(col("n_nationkey") >= 10))
      q.processAllAvailable()
      val got = spark.table(name)
      assert(got.count() == nation.count(),
        "the appended commit's rows did not arrive")
      assert(got.select("n_nationkey").distinct().count() == nation.count(),
        "a row was delivered twice — the source re-read an old version")
      // idle trigger: nothing new, nothing re-delivered
      q.processAllAvailable()
      assert(spark.table(name).count() == nation.count())
    } finally q.stop()
  }

  test("maxVersionsPerTrigger drains a commit backlog one version per batch") {
    import graft.ops.Layout._
    val table = freshTable("cap")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 8))
    commitSnapshot(spark, table,
      nation.where(col("n_nationkey") >= 8 && col("n_nationkey") < 16))
    commitSnapshot(spark, table, nation.where(col("n_nationkey") >= 16))
    val name = freshName()
    val q = startStream(table, name,
      Map("maxVersionsPerTrigger" -> "1"))
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == nation.count())
      // admission control: three commits → three non-empty micro-batches
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"expected 3 capped batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the capped backlog fully, then stops") {
    import graft.ops.Layout._
    val table = freshTable("availnow")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 8))
    commitSnapshot(spark, table,
      nation.where(col("n_nationkey") >= 8 && col("n_nationkey") < 16))
    commitSnapshot(spark, table, nation.where(col("n_nationkey") >= 16))
    val name = freshName()
    // without native SupportsTriggerAvailableNow, the wrapper would
    // capture ONE capped offset (v1) as the final target and terminate
    // after 8 of 25 rows — the capped backlog must still drain fully
    val q = spark.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(table)
      .select(col("n_nationkey"), col("n_name"))
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query did not self-terminate")
      assert(spark.table(name).count() == nation.count(),
        "AvailableNow under-delivered the capped backlog")
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "expected 3 commit-granular batches under the cap")
    } finally q.stop()
  }

  test("startingVersion skips history before it") {
    import graft.ops.Layout._
    val table = freshTable("sv")
    val v1 = commitSnapshot(spark, table,
      nation.where(col("n_nationkey") < 12))
    commitSnapshot(spark, table, nation.where(col("n_nationkey") >= 12))
    val name = freshName()
    val q = startStream(table, name,
      Map("startingVersion" -> v1.toString))
    try {
      q.processAllAvailable()
      val got = spark.table(name)
      assert(got.count() == nation.where(col("n_nationkey") >= 12).count())
      assert(got.agg(min(col("n_nationkey"))).head.getInt(0) == 12,
        "a pre-startingVersion row leaked into the stream")
    } finally q.stop()
  }

  test("checkpoint restart resumes at the committed version, not from scratch") {
    import graft.ops.Layout._
    val table = freshTable("ckpt")
    val ckpt = freshTable("ckpt_loc")  // reuse the deleter for fresh dirs
    val out = freshTable("ckpt_out")   // file sink: supports recovery
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 12))
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(table)
        .select(col("n_nationkey"), col("n_name"))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == 12)
    // new data lands while no stream is running; the restarted query on
    // the same checkpoint must append ONLY the delta — a source that
    // re-read v1 would duplicate the first 12 rows in the sink
    commitSnapshot(spark, table, nation.where(col("n_nationkey") >= 12))
    run()
    val got = spark.read.parquet(out)
    assert(got.count() == nation.count(),
      "restart re-delivered rows before the checkpointed version")
    assert(got.select("n_nationkey").distinct().count() == nation.count())
  }

  test("table-to-table: stream a manifest table into a manifest sink") {
    import graft.ops.Layout._
    val src = freshTable("pipe_src")
    val dst = freshTable("pipe_dst")
    val ckpt = freshTable("pipe_ckpt")
    commitSnapshot(spark, src, nation.where(col("n_nationkey") < 8))
    commitSnapshot(spark, src,
      nation.where(col("n_nationkey") >= 8 && col("n_nationkey") < 16))
    commitSnapshot(spark, src, nation.where(col("n_nationkey") >= 16))
    val q = spark.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt)
      .option("path", dst)
      .start()
    try q.processAllAvailable() finally q.stop()
    // content equality AND commit-granular versions on the sink side
    assert(readSnapshot(spark, dst).count() == nation.count())
    assert(readSnapshot(spark, dst).select("n_nationkey").distinct()
      .count() == nation.count(), "a batch was double-committed")
    val root = new Path(dst)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(currentVersion(fs, root) == 3,
      "expected one sink commit per source version")
    // the exactly-once ledger carries the checkpoint-derived appId,
    // normalized to a qualified URI so a respelled path (relative vs
    // absolute) keeps the same ledger identity across restarts
    val app = fs.makeQualified(new Path(ckpt)).toUri.toString
    assert(lastCommittedBatch(spark, dst, app).contains(2L),
      "txn marker missing or wrong: " + lastCommittedBatch(spark, dst, app))
  }

  test("a replayed (appId, batchId) commit is a no-op, atomically") {
    import graft.ops.Layout._
    val table = freshTable("txn_replay")
    val app = "spec-writer"
    val v1 = commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") < 12), app, 0L)
    assert(v1.contains(1))
    // replay of batch 0: skipped, no version, no rows
    assert(commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") < 12), app, 0L).isEmpty)
    assert(readSnapshot(spark, table).count() == 12)
    // next batch lands; a compaction between batches must CARRY the
    // marker, or a replay after the compaction would double-write
    assert(commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") >= 12), app, 1L).contains(2))
    compactSnapshot(spark, table)
    assert(lastCommittedBatch(spark, table, app).contains(1L),
      "compaction dropped the txn marker")
    assert(commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") >= 12), app, 1L).isEmpty)
    assert(readSnapshot(spark, table).count() == nation.count())
    // a DIFFERENT writer's batch 0 is not confused with this one's
    assert(commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") === 0), "other-writer", 0L).isDefined)
  }

  test("Complete mode REPLACE-swaps the table per batch, idempotently") {
    import graft.ops.Layout._
    val table = freshTable("complete")
    val sink = new ManifestStreamProvider().createSink(spark.sqlContext,
      Map("path" -> table, "appId" -> "agg-query"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Complete())
    sink.addBatch(0, nation.where(col("n_nationkey") < 10))
    assert(readSnapshot(spark, table).count() == 10)
    sink.addBatch(1, nation.where(col("n_nationkey") < 5))
    assert(readSnapshot(spark, table).count() == 5,
      "Complete mode must replace, not append")
    // replayed batch 1: table unchanged, no new version
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentVersion(fs, root)
    sink.addBatch(1, nation.where(col("n_nationkey") < 5))
    assert(currentVersion(fs, root) == v &&
      readSnapshot(spark, table).count() == 5)
    // time travel still reaches batch 0's content (REPLACE, not erase)
    assert(readSnapshot(spark, table, Some(1)).count() == 10)
  }

  test("batch format: SaveModes map to commit verbs; time travel; pushdown") {
    import graft.ops.Layout._
    val table = freshTable("batch_fmt")
    val a = nation.where(col("n_nationkey") < 10)
    val b = nation.where(col("n_nationkey") >= 10)
    a.write.format("graft-manifest").mode("append").save(table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t1 = fs.getFileStatus(new Path(root, "manifests/v1.manifest"))
      .getModificationTime
    Thread.sleep(20) // separate the two commits' mtimes
    b.write.format("graft-manifest").mode("append").save(table)
    def readFmt(opts: (String, String)*) = {
      var r = spark.read.format("graft-manifest")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(table)
    }
    assert(readFmt().count() == nation.count())
    // the relation is real file-source machinery: the filter pushes
    // into the parquet scan, not a post-scan Filter over opaque rows
    val plan = readFmt().where(col("n_nationkey") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"),
      s"filter did not push into the scan:\n$plan")
    // time travel: by version and by commit wall clock
    assert(readFmt("versionAsOf" -> "1").count() == 10)
    assert(readFmt("timestampAsOf" -> t1.toString).count() == 10)
    // overwrite = full REPLACE; the pre-overwrite version stays pinned
    nation.where(col("n_nationkey") < 3)
      .write.format("graft-manifest").mode("overwrite").save(table)
    assert(readFmt().count() == 3)
    assert(readSnapshot(spark, table, Some(2)).count() == nation.count())
    // errorIfExists refuses a live table; ignore is a no-op
    intercept[IllegalArgumentException] {
      a.write.format("graft-manifest").mode("errorifexists").save(table)
    }
    a.write.format("graft-manifest").mode("ignore").save(table)
    assert(readFmt().count() == 3)
  }

  test("sink refuses to start without a ledger identity unless opted out") {
    import graft.ops.Layout._
    val table = freshTable("identity")
    val provider = new ManifestStreamProvider()
    // no appId, no checkpointLocation option: refusing beats silently
    // degrading to at-least-once (a session-conf checkpoint is invisible
    // to this API and not query-unique anyway)
    intercept[IllegalArgumentException] {
      provider.createSink(spark.sqlContext, Map("path" -> table),
        Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
    }
    // the explicit opt-out: at-least-once, replays double-append — the
    // documented trade, exercised so it stays deliberate
    val sink = provider.createSink(spark.sqlContext,
      Map("path" -> table, "deliveryMode" -> "at-least-once"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0, nation.where(col("n_nationkey") < 3))
    sink.addBatch(0, nation.where(col("n_nationkey") < 3))
    assert(readSnapshot(spark, table).count() == 6)
  }

  test("a txn append racing a concurrent compaction: both land, nothing lost") {
    import graft.ops.Layout._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = freshTable("txn_race")
    val app = "race-writer"
    commitSnapshot(spark, table,
      nation.where(col("n_nationkey") < 12).repartition(5))
    // an APPEND (the sink's verb) and a REPLACE (OPTIMIZE) race: the
    // append's rebase is always input-safe, the compaction aborts only
    // if ITS inputs were swapped (they aren't — appends add lines), so
    // both must eventually land via CAS retries in either order
    val fa = Future(commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") >= 12), app, 7L))
    val fb = Future(
      try Some(compactSnapshot(spark, table))
      catch { case _: IllegalArgumentException => None }) // conflict-abort is legal
    val a = Await.result(fa, 120.seconds)
    val b = Await.result(fb, 120.seconds)
    assert(a.isDefined, "the txn append must never conflict-abort")
    // whatever the interleaving: full content, marker recorded, and a
    // replay of the batch is STILL a no-op (compaction carried it)
    assert(readSnapshot(spark, table).count() == nation.count(),
      s"rows lost in the race (compact ran: ${b.isDefined})")
    assert(lastCommittedBatch(spark, table, app).contains(7L))
    assert(commitSnapshotTxn(spark, table,
      nation.where(col("n_nationkey") >= 12), app, 7L).isEmpty)
    assert(readSnapshot(spark, table).count() == nation.count())
  }

  test("versionAt refuses timestamps before the table existed") {
    import graft.ops.Layout._
    val table = freshTable("version_at")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 5))
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t1 = fs.getFileStatus(new Path(root, "manifests/v1.manifest"))
      .getModificationTime
    assert(versionAt(spark, table, t1) == 1)
    intercept[IllegalArgumentException] {
      versionAt(spark, table, t1 - 10000) // before the first commit
    }
  }

  test("a REPLACE commit inside the batch range fails the stream loudly") {
    import graft.ops.Layout._
    val table = freshTable("repl")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 12))
    val name = freshName()
    val q = startStream(table, name)
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 12)
      // copy-on-write delete = REPLACE: the next batch's line-diff is
      // not a change log, the stream must refuse rather than answer wrong
      deleteWhere(spark, table, col("n_nationkey") === 3)
      val ex = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("REPLACE") ||
        Option(ex.getCause).exists(_.getMessage.contains("REPLACE")),
        s"wrong failure: ${ex.getMessage}")
    } finally q.stop()
  }

  test("a merge-on-read delete fails the stream as loudly as a REPLACE") {
    import graft.ops.Layout._
    val table = freshTable("mor_stream")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 12),
      props = Map(RowLevelModeProp -> "mor"))
    val name = freshName()
    val q = startStream(table, name)
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 12)
      // a MOR delete keeps every PATH — the path diff alone would pass
      // and the raw-file batch would re-expose the deleted row on a
      // restart; the dv check must refuse instead
      deleteWhere(spark, table, col("n_nationkey") === 3)
      val ex = intercept[StreamingQueryException] {
        commitSnapshot(spark, table,
          nation.where(col("n_nationkey") === 20))
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("deletion vector") ||
        Option(ex.getCause).exists(
          _.getMessage.contains("deletion vector")),
        s"wrong failure: ${ex.getMessage}")
    } finally q.stop()
    // the batch veneer stays CORRECT on the same table: the dv-applying
    // TableScan fallback serves the masked snapshot instead of raw files
    val got = spark.read.format("graft-manifest").load(table)
      .select("n_nationkey").collect()
      .map(_.getAs[Number](0).longValue).toSet
    assert(!got.contains(3L) && got.contains(20L) && got.size == 12,
      s"batch veneer leaked or lost rows on a MOR table: $got")
    // the DOCUMENTED recovery works: compact (materializes the
    // vectors), restart from a startingVersion at the compacted head —
    // the new stream emits the post-restart appends, no dv refusal
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Layout.compactSnapshot(spark, table,
      sortBy = Seq("n_nationkey"))
    val headV = graft.ops.Layout.currentVersion(fs, root)
    val name2 = freshName()
    val q2 = startStream(table, name2,
      Map("startingVersion" -> headV.toString))
    try {
      q2.processAllAvailable() // baseline consumed, nothing to emit
      graft.ops.Layout.commitSnapshot(spark, table,
        nation.where(col("n_nationkey") === 21))
      q2.processAllAvailable()
      val keys2 = spark.table(name2).collect()
        .map(_.getAs[Number](0).longValue).toSet
      assert(keys2 == Set(21L),
        s"post-compaction restart emitted wrong delta: $keys2")
    } finally q2.stop()
  }

  test("readChangeFeed: upsert commits stream as tombstones + inserts; " +
      "folding them reconstructs the masked read") {
    import graft.ops.Layout._
    import spark.implicits._
    val table = freshTable("cdc_feed")
    commitSnapshot(spark, table,
      (1L to 10L).map(i => (i, s"v$i", 0L)).toDF("id", "name", "ver"),
      props = Map(RowLevelModeProp -> "mor"))
    // v2: plain append; v3: upsert (keys 1,2 re-land + key 11 insert);
    // v4: deleteOnly tombstones (keys 9,10)
    commitSnapshot(spark, table,
      Seq((20L, "v20", 0L)).toDF("id", "name", "ver"))
    upsertByKeys(spark, table,
      Seq((1L, "v1b", 1L), (2L, "v2b", 1L), (11L, "v11", 1L))
        .toDF("id", "name", "ver"), "id")
    upsertByKeys(spark, table,
      Seq(9L, 10L).toDF("id"), "id", deleteOnly = true)
    val name = freshName()
    val q = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(table)
      .writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table(name)
      .select("id", "name", "ver", "_change_type", "_commit_version")
      .as[(java.lang.Long, String, java.lang.Long, String, Long)]
      .collect().toSeq
    // deleteOnly batches surface as delete rows: keys populated,
    // non-key columns null
    val dels = feed.filter(_._4 == "delete")
    assert(dels.map(r => (r._1.longValue, r._5)).toSet ==
      Set((1L, 3L), (2L, 3L), (11L, 3L), (9L, 4L), (10L, 4L)),
      s"tombstones wrong: $dels")
    assert(dels.forall(r => r._2 == null && r._3 == null),
      "non-key columns of a tombstone must be null")
    // fold the feed in _commit_version order: delete-then-insert per
    // version must reconstruct the masked batch read exactly
    var state = Map.empty[Long, (String, Long)]
    feed.map(_._5).distinct.sorted.foreach { v =>
      val rows = feed.filter(_._5 == v)
      val dead = rows.filter(_._4 == "delete").map(_._1.longValue).toSet
      state = state -- dead
      rows.filter(_._4 == "insert").foreach(r =>
        state += r._1.longValue -> (r._2, r._3.longValue))
    }
    val batch = readSnapshot(spark, table).select("id", "name", "ver")
      .as[(Long, String, Long)].collect()
      .map { case (i, n, ve) => i -> (n, ve) }.toMap
    assert(state == batch,
      s"folded feed != masked read\nfeed:  $state\nbatch: $batch")
    // the plain-schema stream still refuses the same history
    val e = intercept[StreamingQueryException] {
      val q2 = spark.readStream.format("graft-manifest").load(table)
        .writeStream.format("memory").queryName(freshName()).start()
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getCause.getMessage.contains("readChangeFeed"),
      e.getCause.getMessage)
  }

  test("readChangeFeed: an upsert row with a NULL key inserts and emits " +
      "no tombstone") {
    import graft.ops.Layout._
    import spark.implicits._
    val table = freshTable("cdc_null_key")
    commitSnapshot(spark, table,
      (1L to 3L).map(i => (Option(i), s"v$i")).toDF("id", "name"),
      props = Map(RowLevelModeProp -> "mor"))
    // one data file holds both rows, so it is a key file with a NULL key
    upsertByKeys(spark, table,
      Seq((Option(2L), "v2b"), (Option.empty[Long], "nokey"))
        .toDF("id", "name").coalesce(1), "id")
    val name = freshName()
    val q = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").load(table)
      .writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val feed = spark.table(name)
      .select("id", "name", "_change_type", "_commit_version")
      .as[(java.lang.Long, String, String, Long)].collect().toSeq
    val dels = feed.filter(_._3 == "delete")
    assert(dels.map(r => (Option(r._1).map(_.longValue), r._4)) ==
      Seq((Some(2L), 2L)), s"tombstones wrong: $dels")
    assert(feed.filter(r => r._3 == "insert" && r._4 == 2L).map(_._2)
      .toSet == Set("v2b", "nokey"))
  }

  test("readChangeFeed: a REPLACE anywhere in the range refuses — " +
      "including history before a from=0 initial load") {
    import graft.ops.Layout._
    import spark.implicits._
    val table = freshTable("cdc_replace")
    commitSnapshot(spark, table,
      (1L to 10L).map(i => (i, 0L)).toDF("id", "ver"))
    // v2 is a COW rewrite: the per-version feed cannot express it even
    // though the ENDPOINT diff (from=0) hides it entirely
    deleteWhere(spark, table, col("id") === 5L)
    commitSnapshot(spark, table, Seq((11L, 0L)).toDF("id", "ver"))
    val e = intercept[StreamingQueryException] {
      val q = spark.readStream.format("graft-manifest")
        .option("readChangeFeed", "true").load(table)
        .writeStream.format("memory").queryName(freshName()).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getCause.getMessage.contains("REPLACE commit") &&
      e.getCause.getMessage.contains("startingVersion"),
      e.getCause.getMessage)
    // …while starting AFTER the rewrite streams cleanly
    val name = freshName()
    val q2 = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(table)
      .writeStream.format("memory").queryName(name).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table(name).count() == 1) // exactly v3's append
    // empty-range replay answers in the source's DECLARED (CDC) shape —
    // a batch two columns short kills recovery mid-restart
    val src = new graft.streaming.ManifestStreamSource(spark
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      table, readSnapshot(spark, table).schema, 0, None, None, None,
      false, true)
    val empty = src.getBatch(
      Some(graft.streaming.ManifestOffset(3)),
      graft.streaming.ManifestOffset(3))
    assert(empty.columns.contains("_change_type") &&
      empty.columns.contains("_commit_version"),
      s"empty CDC batch lost the feed columns: ${empty.columns.toSeq}")
  }

  test("readChangeFeed: checkpoint resume across an upsert replays nothing") {
    import graft.ops.Layout._
    import spark.implicits._
    val table = freshTable("cdc_resume")
    val ckpt = freshTable("cdc_resume_ckpt")
    commitSnapshot(spark, table,
      (1L to 5L).map(i => (i, 0L)).toDF("id", "ver"),
      props = Map(RowLevelModeProp -> "mor"))
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.lang.Long, java.lang.Long, String, Long)]()
    def run() = spark.readStream.format("graft-manifest")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load(table)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("id", "ver", "_change_type", "_commit_version")
          .as[(java.lang.Long, java.lang.Long, String, Long)]
          .collect().foreach(sink.add); ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    val seen1 = sink.size()
    // two upserts land while the stream is DOWN
    upsertByKeys(spark, table,
      Seq((1L, 1L), (6L, 1L)).toDF("id", "ver"), "id")
    upsertByKeys(spark, table, Seq(5L).toDF("id"), "id",
      deleteOnly = true)
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val feed = scala.jdk.CollectionConverters
      .CollectionHasAsScala(sink).asScala.toSeq
    assert(feed.size.toLong == seen1 + 2 + 2 + 1,
      s"resume must deliver exactly the missed changes once: $feed")
    // fold → masked read (the resume did not double- or under-apply)
    var state = Map.empty[Long, Long]
    feed.map(_._4).distinct.sorted.foreach { v =>
      val rows = feed.filter(_._4 == v)
      state = state -- rows.filter(_._3 == "delete").map(_._1.longValue)
      rows.filter(_._3 == "insert").foreach(r =>
        state += r._1.longValue -> r._2.longValue)
    }
    val batch = readSnapshot(spark, table).select("id", "ver")
      .as[(Long, Long)].collect().toMap
    assert(state == batch, s"$state != $batch")
  }

  test("streaming CDC upsert sink: foreachBatch upserts by key, last version wins") {
    // r19: the equality-delete verb exists exactly for this shape — a
    // micro-batch sink that must upsert by key WITHOUT re-scanning the
    // table per batch (upsertByKeys reads zero data files; cost ∝ the
    // batch + one manifest annotation pass)
    import graft.ops.Layout._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val table = freshTable("eq_upsert_sink")
    commitSnapshot(spark, table,
      (1L to 10L).map(i => (i, 0L)).toDF("id", "ver"),
      props = Map(RowLevelModeProp -> "mor"))
    val src = MemoryStream[(Long, Long)](spark)
    val q = src.toDF().toDF("id", "ver").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertByKeys(spark, table, batch, "id"); ()
      }
      .option("checkpointLocation", freshTable("eq_upsert_ckpt"))
      .start()
    try {
      src.addData((1L, 1L), (2L, 1L), (11L, 1L))
      q.processAllAvailable()
      src.addData((1L, 2L)) // second version of key 1 across batches
      q.processAllAvailable()
    } finally q.stop()
    val m = readSnapshot(spark, table).select("id", "ver")
      .as[(Long, Long)].collect().toMap
    assert(m.size == 11, s"expected 11 live keys, got ${m.size}: $m")
    assert(m(1L) == 2L && m(2L) == 1L && m(11L) == 1L,
      s"upserted keys must serve their NEWEST version: $m")
    assert((3L to 10L).forall(m(_) == 0L),
      s"untouched keys must keep the seed version: $m")
  }

  test("a MOR delete on a not-yet-emitted file masks in-batch — no " +
      "restart, stream ≡ batch read") {
    import graft.ops.Layout._
    val table = freshTable("mor_mask")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 12),
      props = Map(RowLevelModeProp -> "mor"))
    // v2 appends the >= 12 half; v3 position-deletes key 20 from it —
    // BEFORE the stream sees v2, so the dv sits on files first seen in
    // the (0, 3] batch: maskable, no retraction involved. (Committed
    // before the stream starts: a free-running trigger could otherwise
    // race v2 into its own batch and turn the dv into a retraction.)
    commitSnapshot(spark, table,
      nation.where(col("n_nationkey") >= 12))
    deleteWhere(spark, table, col("n_nationkey") === 20)
    val name = freshName()
    val q = startStream(table, name)
    try {
      q.processAllAvailable()
      val keys = spark.table(name).collect()
        .map(_.getAs[Number](0).longValue).toSet
      val expect = nation.select("n_nationkey").collect()
        .map(_.getAs[Number](0).longValue).toSet - 20L
      assert(keys == expect,
        s"masked batch wrong: got $keys, want $expect")
      // ≡ the dv-applying batch read of the same head
      val batch = readSnapshot(spark, table)
        .select("n_nationkey").collect()
        .map(_.getAs[Number](0).longValue).toSet
      assert(keys == batch)
      // the stream stays LIVE across the dv version: later appends flow
      commitSnapshot(spark, table, nation.where(lit(false)))
      commitSnapshot(spark, table,
        nation.where(col("n_nationkey") === 20))
      q.processAllAvailable()
      assert(spark.table(name).count() == keys.size + 1,
        "append after the masked dv batch did not arrive")
    } finally q.stop()
  }

  test("ignoreDeletes=true streams past a dv on an already-emitted " +
      "file; later appends keep flowing") {
    import graft.ops.Layout._
    val table = freshTable("mor_ignore")
    commitSnapshot(spark, table, nation.where(col("n_nationkey") < 12),
      props = Map(RowLevelModeProp -> "mor"))
    val name = freshName()
    val q = startStream(table, name, Map("ignoreDeletes" -> "true"))
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 12)
      // retraction case: dv lands on the file batch 1 already emitted —
      // with ignoreDeletes the stream continues (the emitted row simply
      // stays in the sink), and the next append still arrives
      deleteWhere(spark, table, col("n_nationkey") === 3)
      commitSnapshot(spark, table,
        nation.where(col("n_nationkey") === 20))
      q.processAllAvailable()
      val keys = spark.table(name).collect()
        .map(_.getAs[Number](0).longValue).toSet
      assert(keys.contains(3L),
        "ignoreDeletes must not retract already-emitted rows")
      assert(keys.contains(20L), "append after the dv version lost")
      assert(keys.size == 13)
    } finally q.stop()
  }

  test("maxBytesPerTrigger packs a 100x size-skewed backlog into byte-bounded batches") {
    import graft.ops.Layout._
    import org.apache.spark.sql.streaming.Trigger
    val table = freshTable("bytecap")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val mn = o.agg(min(col("o_orderkey"))).head.getLong(0)
    val one = o.where(col("o_orderkey") === mn).coalesce(1)
    val big = o.where(col("o_orderkey") =!= mn).coalesce(4)
    commitSnapshot(spark, table, one) // v1: tiny
    commitSnapshot(spark, table, big) // v2: ~100x v1, four files
    commitSnapshot(spark, table, one) // v3: tiny
    commitSnapshot(spark, table, one) // v4: tiny
    val root = new Path(table)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // delta bytes per version, straight from the manifest's @bytes
    // tokens — the admission path must never need a getFileStatus
    def cum(v: Int): Long =
      versionFileEntries(hfs, root, v).map(_._2.get).sum
    val d3 = cum(3) - cum(2)
    val d4 = cum(4) - cum(3)
    // cap = exactly the two tiny commits together: v1 batches alone
    // (adding v2 would cross), v2 passes alone (oversized first
    // version — soft cap, no wedge), v3+v4 pack into one final batch
    val name = freshName()
    val q = spark.readStream.format("graft-manifest")
      .option("maxBytesPerTrigger", (d3 + d4).toString).load(table)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query did not self-terminate under a byte cap")
      assert(spark.table(name).count() == o.count() + 2,
        "byte-capped backlog under-delivered")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.numInputRows).toSeq
      assert(batches == Seq(1, o.count() - 1, 2),
        s"expected byte-bounded batches [1, big, 2] — got $batches")
    } finally q.stop()
    // file-count admission over the same history: v2's four files
    // exceed a 1-file cap but pass alone; every tiny commit is its own
    // batch — four batches in all
    val name2 = freshName()
    val q2 = spark.readStream.format("graft-manifest")
      .option("maxFilesPerTrigger", "1").load(table)
      .writeStream.format("memory").queryName(name2)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q2.awaitTermination(120000))
      assert(spark.table(name2).count() == o.count() + 2)
      assert(q2.recentProgress.count(_.numInputRows > 0) == 4,
        "expected one batch per commit under maxFilesPerTrigger=1")
    } finally q2.stop()
  }
}
