package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.sql.MorPerFileDispatch]] (r17 verdict task 1): on a
  * session with GraftExtensions, a SQL read of a merge-on-read snapshot
  * with live deletion vectors plans a Union of
  *
  *   - a VECTORIZED BatchScan over exactly the dv-FREE files (the
  *     `#dvfree` twin — filter pushdown intact), and
  *   - the dv-applying masked read over only the dv-CARRYING files,
  *
  * instead of the table-wide row-based fallback — results identical to
  * the programmatic dv-applying read in every shape (plain, filtered,
  * aggregated, all-files-dv'd, post-compaction, time-traveled), and the
  * row-level machinery (`_file`/`_pos` reads) is never rewritten. */
class MorScanDispatchSpec extends AnyFunSuite {

  private val wh = "target/graft_io/spec/mor_dispatch_wh"

  lazy val spark: SparkSession = {
    // getOrCreate only applies extensions when it CREATES the session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.conf.set("spark.sql.catalog.gmor", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    val p = new Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s
  }

  private def tablePath(name: String) = s"$wh/default/$name"

  /** MOR table with three single-file commits of disjoint key ranges. */
  private def makeMor(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS gmor.default.$name")
    spark.sql(s"""CREATE TABLE gmor.default.$name
                 |  (k BIGINT, v STRING)
                 |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')"""
      .stripMargin)
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(
        s"""INSERT INTO gmor.default.$name
           |SELECT /*+ REPARTITION(1) */ id AS k, concat('v', id) AS v
           |FROM range($lo, $hi)""".stripMargin)
    }
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("one dv'd file: Union(vectorized #dvfree BatchScan, masked read)" +
      " — not a table-wide row-based scan") {
    val t = "d1"
    makeMor(t)
    // position-delete k in [0, 10): dv lands on the FIRST file only
    spark.sql(s"DELETE FROM gmor.default.$t WHERE k < 10")
    val root = new Path(tablePath(t))
    assert(ops.Layout.versionMasks(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      ops.Layout.history(spark, tablePath(t)).map(_._1).max)._1,
      "precondition: the DELETE must have produced a deletion vector")

    val df = spark.sql(s"SELECT k, v FROM gmor.default.$t")
    val plan = planOf(df)
    assert(plan.contains("#dvfree"),
      s"expected the dv-free twin BatchScan in the plan:\n$plan")
    assert(plan.contains("Union"), s"expected a Union:\n$plan")
    assert(!plan.contains("graft-cow-scan"),
      s"table-wide row-based fallback still planned:\n$plan")
    // the dv-free branch rides Spark's V2 parquet scan (vectorized)
    assert(plan.contains("ParquetScan"),
      s"expected the dv-free branch on the parquet BatchScan:\n$plan")
    assert(df.collect().length == 290)
    // AQE's FINAL plan (post-execution) shows the columnar transition
    val finalPlan = planOf(df)
    assert(finalPlan.contains("ColumnarToRow"),
      s"expected a vectorized (columnar) branch:\n$finalPlan")
    assert(df.selectExpr("min(k)").collect().head.getLong(0) == 10L)

    // filter pushdown reaches the dv-free branch's parquet scan
    val f = spark.sql(s"SELECT k FROM gmor.default.$t WHERE k >= 250")
    assert(planOf(f).contains("PushedFilters: [IsNotNull(k), " +
      "GreaterThanOrEqual(k,250)"),
      s"pushdown lost on the dv-free branch:\n${planOf(f)}")
    assert(f.count() == 50)

    // aggregate over the union — exact despite the dv
    val agg = spark.sql(
      s"SELECT count(*) AS n, sum(k) AS s FROM gmor.default.$t")
      .collect().head
    assert(agg.getLong(0) == 290)
    assert(agg.getLong(1) == (10L until 300L).sum)
  }

  test("every file dv'd: masked read only, no vectorized branch, " +
      "ids preserved") {
    val t = "dall"
    makeMor(t)
    // INSERT OVERWRITE drops CREATE's empty seed file too — ONE line
    spark.sql(
      s"""INSERT OVERWRITE gmor.default.$t
         |SELECT /*+ REPARTITION(1) */ id AS k, concat('v', id) AS v
         |FROM range(0, 300)""".stripMargin)
    spark.sql(s"DELETE FROM gmor.default.$t WHERE k % 100 < 5")
    val df = spark.sql(s"SELECT v, k FROM gmor.default.$t WHERE k < 150")
    val plan = planOf(df)
    assert(!plan.contains("#dvfree"),
      s"no dv-free files exist, yet a twin branch planned:\n$plan")
    assert(df.count() == 140) // 150 - deleted {0-4, 100-104}
    assert(spark.sql(s"SELECT count(*) FROM gmor.default.$t")
      .collect().head.getLong(0) == 285)
  }

  test("row-level commands still work with the rule active; " +
      "compaction restores the single vectorized scan") {
    val t = "dlife"
    makeMor(t)
    spark.sql(s"DELETE FROM gmor.default.$t WHERE k IN (7, 107)")
    // MERGE on a dv-carrying table: the delta path must be untouched by
    // the dispatch rewrite (its reads ask for _file/_pos)
    spark.sql(
      s"""MERGE INTO gmor.default.$t AS t
         |USING (SELECT id * 50 AS k, concat('m', id * 50) AS v
         |       FROM range(0, 8)) AS s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
        .stripMargin)
    val rows = spark.sql(s"SELECT k, v FROM gmor.default.$t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(7L) && !rows.contains(107L))
    assert(rows(50L) == "m50" && rows(300L) == "m300" &&
      rows(350L) == "m350")
    assert(rows(8L) == "v8")
    // 300 - 2 deleted + 2 inserted (300, 350)
    assert(rows.size == 300)

    // UPDATE (delta path) on the same table
    spark.sql(s"UPDATE gmor.default.$t SET v = 'x9' WHERE k = 9")
    assert(spark.sql(s"SELECT v FROM gmor.default.$t WHERE k = 9")
      .collect().head.getString(0) == "x9")

    // compaction materializes the dvs: back to ONE vectorized scan
    spark.sql(s"CALL gmor.system.compact('default.$t', " +
      "only_dv => true)")
    val after = spark.sql(s"SELECT k, v FROM gmor.default.$t")
    val plan = planOf(after)
    assert(!plan.contains("Union") && !plan.contains("#dvfree"),
      s"post-compaction read must be a single vectorized scan:\n$plan")
    assert(after.count() == 300)
  }

  test("time travel: the pre-delete version reads without the dispatch;" +
      " the post-delete version reads masked") {
    val t = "dtt"
    makeMor(t)
    val v0 = ops.Layout.history(spark, tablePath(t)).map(_._1).max
    spark.sql(s"DELETE FROM gmor.default.$t WHERE k >= 290")
    val old = spark.sql(
      s"SELECT count(*) FROM gmor.default.$t VERSION AS OF $v0")
    assert(!planOf(old).contains("#dvfree"))
    assert(old.collect().head.getLong(0) == 300)
    assert(spark.sql(s"SELECT count(*) FROM gmor.default.$t")
      .collect().head.getLong(0) == 290)
  }

  test("SQL read of an equality-upserted snapshot serves through the dispatch") {
    // r19: equality deletes mask by KEY — the dispatch rewrite's masked
    // branch (readManifestLines' in-task mask) applies them, as the
    // row-based scan does without extensions. With extensions on, plain
    // SQL must serve the post-upsert state exactly.
    val t = "equ"
    makeMor(t)
    import spark.implicits._
    ops.Layout.upsertByKeys(spark, tablePath(t),
      (40L to 60L).map(i => (i, s"NEW$i")).toDF("k", "v"), "k")
    val viaSql = spark.sql(s"SELECT k, v FROM gmor.default.$t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(viaSql.size == 300, s"got ${viaSql.size}")
    assert((40L to 60L).forall(i => viaSql(i) == s"NEW$i"),
      "SQL read must serve the upserted row versions")
    assert(viaSql(39L) == "v39" && viaSql(61L) == "v61")
    // pushdown through the Union still prunes and filters correctly
    assert(spark.sql(
      s"SELECT COUNT(*) FROM gmor.default.$t WHERE k BETWEEN 40 AND 60")
      .head.getLong(0) == 21)
    // ≡ programmatic core
    val viaCore = ops.Layout.readSnapshot(spark, tablePath(t))
      .select("k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(viaSql == viaCore)
  }

  test("SQL read of a dv snapshot ≡ programmatic readSnapshot") {
    val t = "deq"
    makeMor(t)
    spark.sql(s"DELETE FROM gmor.default.$t WHERE k BETWEEN 42 AND 123")
    val viaSql = spark.sql(s"SELECT k, v FROM gmor.default.$t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaCore = ops.Layout.readSnapshot(spark, tablePath(t))
      .select("k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql == viaCore)
    assert(viaSql.size == 300 - 82)
  }

  test("versionDvs and a dv'd SQL read plan schedule no Spark job") {
    val t = "nojob"
    makeMor(t)
    spark.sql(s"DELETE FROM gmor.default.$t WHERE k < 10 OR k >= 290")
    val v = ops.Layout.history(spark, tablePath(t)).map(_._1).max
    val root = new Path(tablePath(t))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var df: DataFrame = null
    val jobs = JobCount.during(spark, "dispatch-plan") {
      // the row-based scan's mask, as its reader factory builds it
      ops.Layout.linesMaskSpec(spark, fs, root,
        ops.Layout.versionSchema(spark, tablePath(t), Some(v)).get,
        ops.Layout.manifestLinesOf(spark, tablePath(t), v))
      df = spark.sql(s"SELECT k, v FROM gmor.default.$t")
      df.queryExecution.executedPlan
    }
    assert(jobs == 0, s"mask build + planning scheduled $jobs job(s)")
    // the first file's first ten ordinals, the last file's last ten:
    // exactly the row ids a `_file`/`_pos` scan no longer serves
    val missing = spark.sql(s"SELECT _file, _pos FROM gmor.default.$t")
      .collect().groupBy(_.getString(0)).values
      .map(rs => (0L until 100L).filterNot(rs.map(_.getLong(1)).toSet))
      .filter(_.nonEmpty).toSet
    assert(missing == Set(0L until 10L, 90L until 100L), missing)
    assert(df.count() == 280)
  }
}
