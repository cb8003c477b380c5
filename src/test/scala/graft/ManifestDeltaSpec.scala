package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 delta+checkpoint manifest format (`ops/Layout.scala`,
  * the `#delta`/`#rm` grammar): physical form selection, logical
  * transparency (every consumer sees FULL-equivalent content),
  * checkpoint cadence, CAS races on delta commits, time travel across
  * checkpoint boundaries, and the expire-time `.ckpt` dependency cut.
  * The scaling claim itself (per-commit bytes flat in table file
  * count) is measured by `graft.Probe manifest-scale` and recorded in
  * BASELINE.md. */
class ManifestDeltaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** PHYSICAL first line of a version's manifest file — the form probe
    * (reconstruction-transparent reads can't see it by design). */
  private def firstLine(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      v: Int): String = {
    val in = fs.open(new Path(root, s"manifests/v$v.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .find(_.nonEmpty).getOrElse("")
    finally in.close()
  }

  private def manifestLen(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      v: Int): Long =
    fs.getFileStatus(new Path(root, s"manifests/v$v.manifest")).getLen

  test("append commits write DELTA files; content stays FULL-equivalent") {
    import ops.Layout._
    val table = "target/graft_io/spec/delta_append"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val n = Tables.nation(spark, sf)
    val v1 = commitSnapshot(spark, table, n.where(col("n_nationkey") < 8))
    val v2 = commitSnapshot(spark, table,
      n.where(col("n_nationkey") >= 8 && col("n_nationkey") < 16))
    val v3 = commitSnapshot(spark, table, n.where(col("n_nationkey") >= 16))

    // v1 is FULL (no base), later appends are deltas and SMALLER than
    // the head they extend would be in full form
    assert(!firstLine(fs, root, v1).startsWith("#delta"))
    assert(firstLine(fs, root, v2).startsWith("#delta\t1\t1"))
    assert(firstLine(fs, root, v3).startsWith("#delta\t2\t2"))
    assert(manifestLen(fs, root, v3) < manifestLen(fs, root, v1) +
      manifestLen(fs, root, v2),
      "a delta append should not carry the whole prior list")

    // logical transparency: every version reads whole, time travel
    // crosses the full→delta boundary, and the line ledger matches
    assert(readSnapshot(spark, table).count() == n.count())
    assert(readSnapshot(spark, table, Some(v1)).count() ==
      n.where(col("n_nationkey") < 8).count())
    assert(readSnapshot(spark, table, Some(v2)).count() ==
      n.where(col("n_nationkey") < 16).count())
    val l2 = manifestLinesOf(spark, table, v2)
    val l3 = manifestLinesOf(spark, table, v3)
    assert(l2.toSet.subsetOf(l3.toSet), "delta append dropped head lines")
    assert(l3.size > l2.size)
  }

  test("replace/delete verbs delta with #rm; reconstruction drops exactly the inputs") {
    import ops.Layout._
    val table = "target/graft_io/spec/delta_replace"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val n = Tables.nation(spark, sf)
    // many small files so a one-file rewrite is a genuine delta
    (0 until 5).foreach(i => commitSnapshot(spark, table,
      n.where(pmod(col("n_nationkey"), lit(5)) === i)))
    val before = manifestLinesOf(spark, table, 5)
    val (v6, _, _) = deleteWhere(spark, table, col("n_nationkey") === 3)
    val after = manifestLinesOf(spark, table, v6)
    assert(firstLine(fs, root, v6).startsWith("#delta"),
      "a one-file rewrite against a 5-file head should commit as a delta")
    // exactly one input line swapped for the rewrite's output(s)
    assert((before.toSet -- after.toSet).size == 1)
    assert(readSnapshot(spark, table)
      .where(col("n_nationkey") === 3).count() == 0)
    assert(readSnapshot(spark, table).count() == n.count() - 1)
    // the pre-delete snapshot still answers through the delta chain
    assert(readSnapshot(spark, table, Some(5)).count() == n.count())
  }

  test("the checkpoint interval bounds delta chains; props/schema/txns ride every form") {
    import ops.Layout._
    val table = "target/graft_io/spec/delta_ckpt"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val old = conf.get(CheckpointIntervalConf)
    conf.setInt(CheckpointIntervalConf, 4)
    try {
      val n = Tables.nation(spark, sf)
      val props = Map("graft.stats.columns" -> "n_nationkey")
      (0 until 8).foreach(i => commitSnapshot(spark, table,
        n.where(pmod(col("n_nationkey"), lit(8)) === i),
        statsColumns = Seq("n_nationkey"),
        props = if (i == 0) props else Map.empty))
      // interval 4 → depths cycle 0,1,2,3,0,1,2,3: v5 is the checkpoint
      val forms = (1 to 8).map(v => firstLine(fs, root, v)
        .startsWith("#delta"))
      assert(forms == Seq(false, true, true, true, false, true, true, true),
        s"checkpoint cadence broken: $forms")
      // header records survive both forms at every version
      (1 to 8).foreach { v =>
        assert(tableProps(spark, table, Some(v))
          .get("graft.stats.columns").contains("n_nationkey"),
          s"props lost at v$v")
        assert(versionSchema(spark, table, Some(v)).isDefined,
          s"schema lost at v$v")
      }
      assert(readSnapshot(spark, table).count() == n.count())
      // manifest bounds recorded through delta commits still prune
      val (kept, total) = rangeFileSelection(spark, table,
        "n_nationkey", 0, 0)
      assert(total >= 8 && kept.size < total,
        s"stats recorded via deltas must prune: kept ${kept.size}/$total")
    } finally {
      if (old == null) conf.unset(CheckpointIntervalConf)
      else conf.set(CheckpointIntervalConf, old)
    }
  }

  test("CAS race on delta commits: rebased intents reconstruct without loss") {
    import ops.Layout._
    val table = "target/graft_io/spec/delta_race"
    dropTable(spark, table)
    val n = Tables.nation(spark, sf)
    commitSnapshot(spark, table, n.where(col("n_nationkey") === 0))
    // eight concurrent one-key appends — every one a delta candidate
    // racing the same head
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs2 = scala.concurrent.Future.sequence((1 to 8).map(k =>
      scala.concurrent.Future(commitSnapshot(spark, table,
        n.where(col("n_nationkey") === k)))))
    val versions = scala.concurrent.Await.result(fs2,
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(versions.sorted == (2 to 9), s"non-serialized versions: $versions")
    assert(readSnapshot(spark, table).count() == 9)
    // every intermediate version reconstructs to a strictly growing ledger
    val sizes = (1 to 9).map(v => manifestLinesOf(spark, table, v).size)
    assert(sizes == sizes.sorted && sizes.distinct == sizes,
      s"delta rebase lost or duplicated lines: $sizes")
  }

  test("expireSnapshots cuts delta bases with a .ckpt; retained history stays readable") {
    import ops.Layout._
    val table = "target/graft_io/spec/delta_expire"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = Tables.nation(spark, sf)
    (0 until 6).foreach(i => commitSnapshot(spark, table,
      n.where(pmod(col("n_nationkey"), lit(6)) === i)))
    // keepLast 3 → cutoff v4, whose file is a delta based on expired v3
    assert(firstLine(fs, root, 4).startsWith("#delta"))
    val expectV4 = readSnapshot(spark, table, Some(4)).count()
    val (dropped, _) = expireSnapshots(spark, table, keepLast = 3,
      orphanOlderThanMs = 0)
    assert(dropped == 3)
    assert(fs.exists(new Path(root, "manifests/v4.ckpt")),
      "the oldest retained delta must get its dependency cut")
    assert(!fs.exists(new Path(root, "manifests/v3.manifest")))
    // cold reads (fresh cache, bases gone): ckpt serves v4, the chain
    // serves v5/v6 on top of it
    invalidateManifestCache(spark, table)
    assert(readSnapshot(spark, table, Some(4)).count() == expectV4)
    assert(readSnapshot(spark, table).count() == n.count())
    // crash-shaped rerun: a second sweep is idempotent (ckpt already
    // present, nothing newly expired) and leaves reads intact
    val (dropped2, _) = expireSnapshots(spark, table, keepLast = 3,
      orphanOlderThanMs = 0)
    assert(dropped2 == 0)
    assert(readSnapshot(spark, table, Some(4)).count() == expectV4)
    // the sidecar dies with its version once the cutoff passes it
    commitSnapshot(spark, table, n.limit(1))
    expireSnapshots(spark, table, keepLast = 2, orphanOlderThanMs = 0)
    assert(!fs.exists(new Path(root, "manifests/v4.ckpt")),
      "expired version's ckpt sidecar must be swept")
    assert(readSnapshot(spark, table).count() == n.count() + 1)
  }

  test("a rollback-shaped big swap degrades to FULL, never a bloated delta") {
    import ops.Layout._
    val table = "target/graft_io/spec/delta_rollback"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = Tables.nation(spark, sf)
    commitSnapshot(spark, table, n.where(col("n_nationkey") < 12))
    commitSnapshot(spark, table, n.where(col("n_nationkey") >= 12))
    // compactSnapshot swaps EVERY line — more churn than half the list
    val (v3, _) = compactSnapshot(spark, table)
    assert(!firstLine(fs, root, v3).startsWith("#delta"),
      "a whole-table rewrite must checkpoint, not delta")
    assert(readSnapshot(spark, table).count() == n.count())
    // rollback to v1 against the compacted head: swap is total again
    val v4 = rollbackTo(spark, table, 1)
    assert(readSnapshot(spark, table, Some(v4)).count() ==
      n.where(col("n_nationkey") < 12).count())
  }
}
