package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL `CALL` maintenance procedures (GraftProcedures) beyond
  * the q_manifest_maintenance_sql oracle: result relations, manifest
  * deletion, named/default arguments, and error surfaces. */
class GraftProcedureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // the deployed session shape: system.upsert's post-upsert SELECT
    // needs the MOR per-file dispatch (equality masks), which rides
    // GraftExtensions — clear the handles so getOrCreate really
    // applies them regardless of suite order
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private val wh = "target/graft_io/spec/proc_catalog"
  private def cat = sql.GraftSql.catalogFor(spark, wh)

  private def freshTable(name: String): String = {
    val c = cat
    spark.sql(s"DROP TABLE IF EXISTS $c.default.$name")
    spark.sql(s"CREATE TABLE $c.default.$name (k BIGINT, v STRING)")
    name
  }

  test("compact returns stats and preserves state under fewer files") {
    val c = cat
    val t = freshTable("proc_compact") // CREATE TABLE commits v1 (empty)
    (1 to 4).foreach(i => spark.sql(
      s"INSERT INTO $c.default.$t VALUES ($i, 'row$i')")) // v2..v5
    val before = ops.Layout.readSnapshot(spark, s"$wh/default/$t")
    val beforeRows = before.orderBy("k").collect().toSeq
    val beforeFiles = before.inputFiles.length
    val res = spark.sql(s"CALL $c.system.compact('default.$t')").head()
    assert(res.getInt(0) == 6, "compact should commit version 6")
    assert(res.getInt(1) == beforeFiles, "files_before mismatch")
    assert(res.getInt(2) < beforeFiles,
      s"compact should shrink the file count (${res.getInt(1)} -> " +
        s"${res.getInt(2)})")
    val after = ops.Layout.readSnapshot(spark, s"$wh/default/$t")
    assert(after.orderBy("k").collect().toSeq == beforeRows,
      "compact changed table contents")
  }

  test("rollback moves the head back and reports both versions") {
    val c = cat
    val t = freshTable("proc_rollback") // CREATE commits v1 (empty)
    spark.sql(s"INSERT INTO $c.default.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO $c.default.$t VALUES (2, 'b')") // v3
    val res = spark.sql(s"CALL $c.system.rollback('default.$t', 2)").head()
    assert(res.getInt(0) == 2 && res.getInt(1) == 4,
      s"expected (rolled_back_to=2, new_version=4), got $res")
    assert(spark.sql(s"SELECT count(*) FROM $c.default.$t").head().getLong(0)
      == 1, "head should answer like v2 after the rollback")
    // the rolled-past version stays readable for forensics until expired
    assert(spark.sql(
      s"SELECT count(*) FROM $c.default.$t VERSION AS OF 3")
      .head().getLong(0) == 2)
  }

  test("expire_snapshots deletes old manifests; named + default args bind") {
    val c = cat
    val t = freshTable("proc_expire") // CREATE commits v1 (empty)
    spark.sql(s"INSERT INTO $c.default.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO $c.default.$t VALUES (2, 'b')") // v3
    spark.sql(s"INSERT INTO $c.default.$t VALUES (3, 'c')") // v4
    // named argument binding, keep only the head
    val res = spark.sql(
      s"CALL $c.system.expire_snapshots('default.$t', keep_last => 1)")
      .head()
    assert(res.getInt(0) == 3, s"expected 3 expired manifests, got $res")
    // expired versions are gone; the head still answers
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $c.default.$t VERSION AS OF 1").collect()
    }
    assert(spark.sql(s"SELECT count(*) FROM $c.default.$t").head().getLong(0)
      == 3)
    // all-defaults invocation binds (keep_last=2 keeps everything left)
    val res2 = spark.sql(
      s"CALL $c.system.expire_snapshots('default.$t')").head()
    assert(res2.getInt(0) == 0)
  }

  test("history reports one row per surviving version, then shrinks with expire") {
    val c = cat
    val t = freshTable("proc_history") // v1 (empty CREATE commit)
    spark.sql(s"INSERT INTO $c.default.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO $c.default.$t VALUES (2, 'b')") // v3
    val compacted =
      spark.sql(s"CALL $c.system.compact('default.$t')").head() // v4
    val h = spark.sql(s"CALL $c.system.history('default.$t')").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(h.forall(_.getLong(1) > 0), "committed_at_ms must be real")
    assert(h.forall(_.getString(4).length == 36), "commit UUID per row")
    assert(h.last.getInt(2) == compacted.getInt(2),
      "head file count must equal compact's files_after")
    assert(h.last.getLong(3) > 0, "recorded bytes ride the manifest")
    // the operation column names the committing VERB per version:
    // CREATE + both INSERTs are append commits, v4 is the compaction
    assert(h.map(_.getString(5)).toSeq ==
      Seq("commitSnapshot", "commitSnapshot", "commitSnapshot",
        "compactSnapshot"),
      h.map(_.getString(5)).mkString(","))
    spark.sql(s"CALL $c.system.expire_snapshots('default.$t', keep_last => 1)")
    val h2 = spark.sql(s"CALL $c.system.history('default.$t')").collect()
    assert(h2.map(_.getInt(0)).toSeq == Seq(4),
      "expired versions must leave the history")
  }

  test("detail reports head version, files, bytes, schema and props from metadata") {
    val c = cat
    val t = "proc_detail"
    spark.sql(s"DROP TABLE IF EXISTS $c.default.$t")
    spark.sql(s"""CREATE TABLE $c.default.$t (k BIGINT, v STRING)
                |TBLPROPERTIES ('graft.stats.columns' = 'k')""".stripMargin)
    spark.sql(s"INSERT INTO $c.default.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO $c.default.$t VALUES (2, 'b')") // v3
    val d = spark.sql(s"CALL $c.system.detail('default.$t')").head()
    assert(d.getInt(0) == 3, "head version")
    assert(d.getInt(1) == 3, "empty CREATE file + two insert files")
    assert(d.getLong(2) > 0, "recorded bytes")
    assert(d.getString(3).contains("k BIGINT") &&
      d.getString(3).contains("v STRING"), d.getString(3))
    assert(d.getString(4).contains("graft.stats.columns=k"),
      d.getString(4))
    assert(d.getInt(5) == 0 && d.getInt(6) == 0,
      "no deletion vectors on a COW table")
    // a MOR delete surfaces in the dv-health columns; compaction resets
    spark.sql(s"""ALTER TABLE $c.default.$t
                 |SET TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')"""
      .stripMargin)
    spark.sql(s"DELETE FROM $c.default.$t WHERE k = 1")
    val d2 = spark.sql(s"CALL $c.system.detail('default.$t')").head()
    assert(d2.getInt(5) == 1 && d2.getInt(6) == 1,
      s"expected one dv-masked file and one sidecar, got " +
        s"(${d2.getInt(5)}, ${d2.getInt(6)})")
    // targeted maintenance: only_dv rewrites JUST the dv'd files
    spark.sql(s"CALL $c.system.compact('default.$t', only_dv => true)")
    val d3 = spark.sql(s"CALL $c.system.detail('default.$t')").head()
    assert(d3.getInt(5) == 0 && d3.getInt(6) == 0,
      "compaction must materialize deletion vectors away")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $c.default.$t")
      .head.getLong(0) == 1)
    // only_dv cannot re-cluster — refuse loudly
    val eDv = intercept[Exception] {
      spark.sql(s"CALL $c.system.compact('default.$t', " +
        "sort_by => 'k', only_dv => true)")
    }
    assert(eDv.getMessage.contains("only_dv"), eDv.getMessage)
  }

  test("CDC delta reads as SQL text through the veneer's changesFrom") {
    // NOT a CALL procedure on purpose: Spark 4.1 procedures only return
    // driver-local relations, and a delta is executor-sized — the SQL
    // door is CREATE TEMPORARY VIEW ... USING with changesFrom/-To,
    // a genuinely distributed scan (GraftProcedures has the rationale)
    val c = cat
    val t = freshTable("proc_changes") // v1 (empty CREATE commit)
    spark.sql(s"INSERT INTO $c.default.$t VALUES (1, 'a')") // v2
    spark.sql(s"INSERT INTO $c.default.$t VALUES (2, 'b')") // v3
    spark.sql(s"INSERT INTO $c.default.$t VALUES (3, 'c')") // v4
    val dir = s"$wh/default/$t"
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW proc_changes_delta
                 |USING `graft-manifest`
                 |OPTIONS (path '$dir', changesFrom '2')""".stripMargin)
    val delta = spark.table("proc_changes_delta")
    assert(delta.columns.toSeq == Seq("k", "v"),
      "the delta reads under the table schema")
    assert(delta.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // bounded range since genesis = the whole table
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW proc_changes_all
                 |USING `graft-manifest`
                 |OPTIONS (path '$dir', changesFrom '0', changesTo '4')"""
      .stripMargin)
    assert(spark.table("proc_changes_all").count() == 3)
    // empty delta: zero rows, schema intact
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW proc_changes_empty
                 |USING `graft-manifest`
                 |OPTIONS (path '$dir', changesFrom '4', changesTo '4')"""
      .stripMargin)
    val empty = spark.table("proc_changes_empty")
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "v"))
    // a REPLACE (compact) inside the range breaks line-set diff
    // semantics — must refuse loudly, not answer wrong
    spark.sql(s"CALL $c.system.compact('default.$t')") // v5
    val e = intercept[Exception] {
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW proc_changes_bad
                   |USING `graft-manifest`
                   |OPTIONS (path '$dir', changesFrom '2')""".stripMargin)
      spark.table("proc_changes_bad").collect()
    }
    assert(e.getMessage.contains("REPLACE commit landed"), e.getMessage)
  }

  test("compact sort_by turns a scattered table into a pruning one") {
    import org.apache.spark.sql.graft.SnapshotScanBuilder
    val c = cat
    val t = "proc_sorted_compact"
    spark.sql(s"DROP TABLE IF EXISTS $c.default.$t")
    spark.sql(s"""CREATE TABLE $c.default.$t (k BIGINT, v STRING)
                 |TBLPROPERTIES ('graft.stats.columns' = 'k')"""
      .stripMargin)
    // hash-scattered inserts: each file's k-bounds span ~the full range
    // (a VALUES list splits into ORDERED chunks whose bounds are tight
    // subranges — that layout pruned already and proved nothing), so
    // bounds exist but prune ~nothing
    (0 until 3).foreach { i =>
      spark.sql(s"""INSERT INTO $c.default.$t
                   |SELECT CAST(id * 3 + $i AS BIGINT) AS k, 'x' AS v
                   |FROM range(0, 100) DISTRIBUTE BY hash(id)"""
        .stripMargin)
    }
    def keptOf(q: String): (Long, Int, Int) = {
      SnapshotScanBuilder.lastPrune = None
      val n = spark.sql(q).count()
      val (kept, total) = SnapshotScanBuilder.lastPrune.get
      (n, kept, total)
    }
    val q = s"SELECT k FROM $c.default.$t WHERE k < 30"
    val (n0, kept0, total0) = keptOf(q)
    assert(n0 == 30)
    assert(kept0 > total0 / 2,
      s"scattered files should mostly survive the prune ($kept0/$total0)")
    // OPTIMIZE with range clustering: small target bytes force several
    // output files, each now covering a DISJOINT k range
    spark.sql(s"CALL $c.system.compact('default.$t', 512, sort_by => 'k')")
    val (n1, kept1, total1) = keptOf(q)
    assert(n1 == 30, "compaction must not change results")
    assert(total1 > 1 && kept1 < kept0 && kept1 <= total1 / 2,
      s"range-clustered files should prune ($kept1/$total1, was " +
        s"$kept0/$total0)")
    // zorder_by arity is validated loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL $c.system.compact('default.$t', 512, " +
        "zorder_by => 'k')")
    }
    assert(e.getMessage.contains("two to six"), e.getMessage)
  }

  test("relayout re-buckets a populated table; pinned readers keep the old spec") {
    // the legal path to the layout change ALTER TBLPROPERTIES refuses:
    // one REPLACE commit re-fans out + swaps the props atomically
    val c = cat
    val t = s"$c.default.proc_relayout"
    val dir = s"$wh/default/proc_relayout"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"""CREATE TABLE $t (k BIGINT, v DOUBLE)
                |PARTITIONED BY (bucket(16, k))""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, id * 0.5 FROM range(0, 800)")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = ops.Layout.currentVersion(fs, root)
    assert(ops.Layout.spjFileKeys(spark, dir, v0).map(_._1)
      .contains(ops.Layout.SpjBucket("k", 16)))
    val res = spark.sql(
      s"""CALL $c.system.relayout('default.proc_relayout',
         |bucket_by => 'k', bucket_count => 8)""".stripMargin).head()
    val v1 = res.getInt(0)
    assert(v1 == v0 + 1 && res.getInt(1) > 0 && res.getInt(2) > 0)
    // SPJ eligibility holds IMMEDIATELY under the new spec: every file
    // re-keyed by the spec-qualified #bucket:8:k group, ids in [0, 8)
    val keys = ops.Layout.spjFileKeys(spark, dir, v1)
    assert(keys.map(_._1).contains(ops.Layout.SpjBucket("k", 8)),
      s"post-relayout snapshot must key under bucket(8), got $keys")
    assert(keys.get._2.values.map(_._2.head.asInstanceOf[Long]).toSet ==
      (0L until 8L).toSet)
    // a reader pinned to the pre-relayout version keys under the OLD
    // spec — per-version props make time travel sound for free
    assert(ops.Layout.spjFileKeys(spark, dir, v0).map(_._1)
      .contains(ops.Layout.SpjBucket("k", 16)),
      "pinned pre-relayout reads must keep the old keying")
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF $v0")
      .count() == 800)
    // contents identical, point lookup prunes under the NEW placement
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 800)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 42").head.getDouble(0)
      == 21.0)
    val (kept, total) = ops.Layout.fileSelection(spark, dir,
      Seq(ops.Layout.SkipRange("k", 42L, 42L)))
    assert(total >= 8 && kept.size <= total / 4,
      s"post-relayout lookup kept ${kept.size} of $total")
    // relayout to identity partitioning, then flatten — both preserve
    // contents and the final layout drops all layout props
    spark.sql(s"""CALL $c.system.relayout('default.proc_relayout',
                 |partitioned_by => 'k')""".stripMargin)
    assert(ops.Layout.spjFileKeys(spark, dir,
      ops.Layout.currentVersion(fs, root)).map(_._1)
      .contains(ops.Layout.SpjIdentity(Seq("k"))))
    spark.sql(s"CALL $c.system.relayout('default.proc_relayout')")
    assert(ops.Layout.spjFileKeys(spark, dir,
      ops.Layout.currentVersion(fs, root)).isEmpty,
      "flattened table must not claim a keyed layout")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 800)
  }

  test("detail counts the files equality deletes mask and their key files") {
    val c = cat
    val t = "proc_detail_eq"
    spark.sql(s"DROP TABLE IF EXISTS $c.default.$t")
    spark.sql(s"""CREATE TABLE $c.default.$t (k BIGINT, v STRING)
                |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')""".stripMargin)
    spark.sql(s"INSERT INTO $c.default.$t " +
      "SELECT /*+ REPARTITION(1) */ id, 'a' FROM range(10)")
    def masks() = {
      val d = spark.sql(s"CALL $c.system.detail('default.$t')").head()
      (d.getInt(5), d.getInt(6))
    }
    // no stats: a key set masks both lines, the empty CREATE file's too
    spark.range(0, 3).selectExpr("id AS k")
      .createOrReplaceTempView("proc_detail_eq_dead")
    spark.sql(s"""CALL $c.system.upsert('default.$t',
      |source => 'proc_detail_eq_dead', key => 'k',
      |delete_only => true)""".stripMargin)
    assert(masks() == ((2, 1)), "one key-only file masks two lines")
    // an upsert's own data file is its key file
    spark.sql("SELECT 5L AS k, 'b' AS v")
      .createOrReplaceTempView("proc_detail_eq_src")
    spark.sql(s"""CALL $c.system.upsert('default.$t',
      |source => 'proc_detail_eq_src', key => 'k')""".stripMargin)
    assert(masks() == ((2, 2)), "two key files mask the same two lines")
    spark.sql(s"CALL $c.system.compact('default.$t', only_dv => true)")
    assert(masks() == ((0, 0)), "compaction materializes the masks")
    assert(spark.sql(s"SELECT k, v FROM $c.default.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (3L to 9L).map(k => (k, if (k == 5L) "b" else "a")))
  }

  test("system.upsert merges by key through SQL; detail reports manifest stats") {
    val c = cat
    val t = s"$c.default.proc_upsert"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"""CREATE TABLE $t (id BIGINT, v DOUBLE)
                |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor',
                |  'graft.stats.columns' = 'id')""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(100)")
    spark.range(40, 60)
      .selectExpr("id", "CAST(id * 100.0 AS DOUBLE) AS v")
      .createOrReplaceTempView("proc_upsert_src")
    val res = spark.sql(s"""CALL $c.system.upsert('default.proc_upsert',
      |source => 'proc_upsert_src', key => 'id')""".stripMargin).head()
    assert(res.getInt(1) > 0 && res.getInt(2) > 0)
    // the SQL read (per-file dispatch) serves the upserted versions
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 100)
    assert(spark.sql(s"SELECT v FROM $t WHERE id = 50").head.getDouble(0)
      == 5000.0)
    // tombstones through the same procedure
    spark.range(0, 10).selectExpr("id")
      .createOrReplaceTempView("proc_upsert_dead")
    spark.sql(s"""CALL $c.system.upsert('default.proc_upsert',
      |source => 'proc_upsert_dead', key => 'id',
      |delete_only => true)""".stripMargin)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 90)
    // detail's appended stats columns: exact row count (upper bound
    // until masks compact — the annotations mask 30 dead versions) and
    // the declared column's NDV
    val d = spark.sql(s"CALL $c.system.detail('default.proc_upsert')")
      .head()
    assert(d.getLong(8) >= 90, s"row_count ${d.getLong(8)}")
    assert(d.getString(9).contains("id="), s"ndv '${d.getString(9)}'")
  }

  test("relayout refuses mid-flight WAP branches and bad arguments") {
    val c = cat
    val t = s"$c.default.proc_relayout_guard"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(100)")
    spark.sql(
      s"CALL $c.system.create_branch('default.proc_relayout_guard', 'w')")
    val e = intercept[Exception] {
      spark.sql(s"""CALL $c.system.relayout(
        |'default.proc_relayout_guard',
        |bucket_by => 'k', bucket_count => 4)""".stripMargin)
    }
    assert(e.getMessage.contains("live branch"), e.getMessage)
    spark.sql(
      s"CALL $c.system.drop_branch('default.proc_relayout_guard', 'w')")
    // bucket_by without bucket_count refuses; unknown column refuses
    intercept[Exception] {
      spark.sql(s"CALL $c.system.relayout(" +
        "'default.proc_relayout_guard', bucket_by => 'k')")
    }
    val eCol = intercept[Exception] {
      spark.sql(s"CALL $c.system.relayout(" +
        "'default.proc_relayout_guard', partitioned_by => 'nope')")
    }
    assert(eCol.getMessage.contains("unknown column"), eCol.getMessage)
    // identity + bucket together refuses
    intercept[Exception] {
      spark.sql(s"""CALL $c.system.relayout(
        |'default.proc_relayout_guard', partitioned_by => 'k',
        |bucket_by => 'k', bucket_count => 4)""".stripMargin)
    }
    // after the refusals the table still works and was never mutated
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 100)
  }

  test("unknown procedures and namespaces fail with a named error") {
    val c = cat
    val e = intercept[Exception] {
      spark.sql(s"CALL $c.system.vacuum('default.x')")
    }
    // Spark wraps loadProcedure failures in FAILED_TO_LOAD_ROUTINE; the
    // named message rides the cause chain
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("unknown procedure"), msgs)
  }
}
