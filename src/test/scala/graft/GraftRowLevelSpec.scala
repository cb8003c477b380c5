package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SnapshotScanBuilder
import org.scalatest.funsuite.AnyFunSuite

/** Pins the row-level SQL surface ([[graft.sql.GraftRowLevel]]):
  * `MERGE INTO` / `UPDATE` / subquery-`DELETE` on graft-manifest tables
  * through Spark's group-based rewrite — semantics against hand-computed
  * expectations, copy-on-write GROUP PRUNING (untouched files must carry
  * by manifest line, never rewrite), and snapshot history staying
  * readable behind the rewrite. */
class GraftRowLevelSpec extends AnyFunSuite {

  private val wh = "target/graft_io/spec/rowlevel_wh"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.graftrl", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftrl.warehouse", wh)
    val p = new Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s
  }

  private def tablePath(name: String) = s"$wh/default/$name"

  /** CREATE + three single-file INSERT commits with disjoint key ranges
    * — three file-groups whose fate under each command is decidable. */
  private def makeTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graftrl.default.$name")
    spark.sql(s"""CREATE TABLE graftrl.default.$name
                 |  (k BIGINT, v STRING, amt DOUBLE)""".stripMargin)
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(
        s"""INSERT INTO graftrl.default.$name
           |SELECT /*+ REPARTITION(1) */ id AS k,
           |  concat('v', id) AS v, CAST(id AS DOUBLE) AS amt
           |FROM range($lo, $hi)""".stripMargin)
    }
  }

  private def snapFiles(name: String): Seq[String] =
    ops.Layout.snapshotLayout(spark, tablePath(name), None)._1

  private def rowsOf(name: String): Map[Long, (String, Double)] =
    spark.sql(s"SELECT k, v, amt FROM graftrl.default.$name")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap

  /** Same three-group table, but merge-on-read: row-level SQL must take
    * the DELTA path (position deletes + appends, zero file rewrites). */
  private def makeMorTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graftrl.default.$name")
    spark.sql(s"""CREATE TABLE graftrl.default.$name
                 |  (k BIGINT, v STRING, amt DOUBLE)
                 |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')"""
      .stripMargin)
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(
        s"""INSERT INTO graftrl.default.$name
           |SELECT /*+ REPARTITION(1) */ id AS k,
           |  concat('v', id) AS v, CAST(id AS DOUBLE) AS amt
           |FROM range($lo, $hi)""".stripMargin)
    }
  }

  test("MOR MERGE/UPDATE/DELETE: delta path, zero data-file rewrites, exact state") {
    val t = "mor_delta"
    makeMorTable(t)
    val before = snapFiles(t).toSet
    // MERGE: update k in [50,60), delete k in [150,160), insert 1000-1004
    spark.sql(
      s"""MERGE INTO graftrl.default.$t AS t
         |USING (SELECT id AS k, concat('u', id) AS v,
         |         CAST(id * 10 AS DOUBLE) AS amt
         |       FROM range(50, 60)
         |       UNION ALL
         |       SELECT id, 'x', 0.0 FROM range(150, 160)
         |       UNION ALL
         |       SELECT id, concat('n', id), CAST(id AS DOUBLE)
         |       FROM range(1000, 1005)) AS s
         |ON t.k = s.k
         |WHEN MATCHED AND s.v = 'x' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
         |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
         |""".stripMargin)
    val after = snapFiles(t).toSet
    assert(before.subsetOf(after),
      "MOR MERGE rewrote or dropped a pre-merge data file")
    assert(after.size > before.size, "no appended merge output")
    val m = rowsOf(t)
    assert(m.size == 300 - 10 + 5)
    assert(m(55L) == ("u55", 550.0), s"update missed: ${m(55L)}")
    assert(!m.contains(155L), "delete missed")
    assert(m(1002L) == ("n1002", 1002.0), "insert missed")
    assert(m(42L) == ("v42", 42.0), "untouched row changed")
    // UPDATE over a dv'd file: ordinals must be TRUE file ordinals, so a
    // second update of already-updated rows (and of never-touched rows
    // in the same file) hits exactly the intended rows
    spark.sql(
      s"""UPDATE graftrl.default.$t SET amt = amt + 1
         |WHERE k >= 52 AND k <= 54 OR k = 70""".stripMargin)
    assert(snapFiles(t).toSet.intersect(before) == before,
      "MOR UPDATE rewrote a data file")
    val m2 = rowsOf(t)
    assert(m2(53L) == ("u53", 531.0) && m2(70L) == ("v70", 71.0),
      s"${m2(53L)} / ${m2(70L)}")
    assert(m2(55L) == ("u55", 550.0) && m2.size == m.size)
    // DELETE with an untranslatable predicate rides the row-level path
    spark.sql(s"DELETE FROM graftrl.default.$t WHERE k % 100 = 99")
    val m3 = rowsOf(t)
    assert(!m3.contains(99L) && !m3.contains(199L) && !m3.contains(299L))
    assert(m3.size == m2.size - 3)
    assert(snapFiles(t).toSet.intersect(before) == before,
      "MOR DELETE rewrote a data file")
    // compaction materializes everything; state identical
    ops.Layout.compactSnapshot(spark, tablePath(t), sortBy = Seq("k"))
    assert(rowsOf(t) == m3, "post-compaction state drifted")
  }

  test("MERGE INTO: update + delete + insert clauses, hand-checked") {
    makeTable("m1")
    spark.sql(
      """SELECT id AS k, concat('u', id) AS v, CAST(-1 AS DOUBLE) AS amt,
        |  id >= 90 AS del
        |FROM range(50, 100)
        |UNION ALL
        |SELECT id, concat('n', id), CAST(0 AS DOUBLE), false
        |FROM range(1000, 1005)""".stripMargin)
      .createOrReplaceTempView("m1_src")
    spark.sql(
      """MERGE INTO graftrl.default.m1 AS t USING m1_src AS s
        |ON t.k = s.k
        |WHEN MATCHED AND s.del THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
        |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
        |""".stripMargin)
    val got = rowsOf("m1")
    assert(got.size == 300 - 10 + 5) // 90..99 deleted, 5 inserted
    assert(!got.contains(95L))
    assert(got(55L) == ("u55", -1.0))      // updated
    assert(got(42L) == ("v42", 42.0))      // carried in the same file
    assert(got(250L) == ("v250", 250.0))   // untouched group
    assert(got(1002L) == ("n1002", 0.0))   // inserted
  }

  test("MERGE rewrites ONLY the matched file-group; others carry by line") {
    makeTable("m2")
    val before = snapFiles("m2")
    // all source keys live in the first data group (k < 100)
    spark.sql(
      """SELECT id AS k, 'upd' AS v, CAST(7 AS DOUBLE) AS amt
        |FROM range(10, 20)""".stripMargin)
      .createOrReplaceTempView("m2_src")
    spark.sql(
      """MERGE INTO graftrl.default.m2 AS t USING m2_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
        |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
        |""".stripMargin)
    val after = snapFiles("m2")
    val carried = before.toSet.intersect(after.toSet)
    // runtime group filtering pins the rewrite to the one matched file:
    // the 100-199 and 200-299 files (and the empty CREATE file) must
    // survive VERBATIM — a full-table rewrite here is the r14 "surface
    // without the scale property" failure mode, and this assertion is
    // what makes it impossible to ship
    assert(carried.size >= before.size - 1,
      s"expected at most one rewritten group; before=$before after=$after")
    assert(rowsOf("m2")(15L) == ("upd", 7.0))
    assert(rowsOf("m2").size == 300)
  }

  test("UPDATE SQL rewrites copy-on-write with group pruning") {
    makeTable("u1")
    val before = snapFiles("u1")
    spark.sql(
      """UPDATE graftrl.default.u1
        |SET v = concat(v, '!'), amt = amt * 2
        |WHERE k BETWEEN 110 AND 120""".stripMargin)
    val after = snapFiles("u1")
    assert(before.toSet.intersect(after.toSet).size >= before.size - 1)
    val got = rowsOf("u1")
    assert(got(115L) == ("v115!", 230.0))
    assert(got(109L) == ("v109", 109.0))
    assert(got(205L) == ("v205", 205.0))
    assert(got.size == 300)
  }

  test("DELETE with a subquery takes the row-level rewrite path") {
    makeTable("d1")
    // IN-subquery is not v1-Filter-translatable, so SupportsDelete
    // refuses and Spark falls to the SupportsRowLevelOperations rewrite
    spark.sql(
      """DELETE FROM graftrl.default.d1
        |WHERE k IN (SELECT id FROM range(250, 260))""".stripMargin)
    val got = rowsOf("d1")
    assert(got.size == 290)
    assert(!got.contains(255L))
    assert(got.contains(249L) && got.contains(260L))
  }

  test("history stays pinned behind a MERGE; Scala and SQL reads agree") {
    makeTable("h1")
    val vBefore = spark.sql(
      "SELECT max(k) FROM graftrl.default.h1").head.getLong(0)
    spark.sql("SELECT 5 AS k, 'x' AS v, CAST(9 AS DOUBLE) AS amt")
      .createOrReplaceTempView("h1_src")
    spark.sql(
      """MERGE INTO graftrl.default.h1 AS t USING h1_src AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
        |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
        |""".stripMargin)
    // v4 = the pre-merge head (v1 create + 3 inserts)
    val old = spark.sql(
      "SELECT v FROM graftrl.default.h1 VERSION AS OF 4 WHERE k = 5")
      .head.getString(0)
    assert(old == "v5" && vBefore == 299L)
    // the Scala snapshot API reads the same post-merge truth
    val viaApi = ops.Layout.readSnapshot(spark, tablePath("h1"))
      .where("k = 5").head.getString(1)
    assert(viaApi == "x")
  }

  test("MERGE-time schema evolution: a source-only column auto-ADDs " +
      "under the opt-in property; refused without it") {
    val t = "merge_evolve"
    spark.sql(s"DROP TABLE IF EXISTS graftrl.default.$t")
    spark.sql(s"""CREATE TABLE graftrl.default.$t (k BIGINT, v STRING)
                 |TBLPROPERTIES ('graft.merge.schema_evolution' = 'true')"""
      .stripMargin)
    spark.sql(s"""INSERT INTO graftrl.default.$t
                 |SELECT id AS k, concat('v', id) AS v FROM range(0, 10)"""
      .stripMargin)
    // both consents required: the table property (capability) AND the
    // statement-level WITH SCHEMA EVOLUTION syntax
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graftrl.default.$t AS t
         |USING (SELECT id AS k, concat('u', id) AS v,
         |       id * 10 AS extra FROM range(5, 15)) AS s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(
      s"SELECT k, v, extra FROM graftrl.default.$t").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(rows.size == 15)
    // pre-evolution rows null-fill the new column
    (0L until 5L).foreach(k =>
      assert(rows(k) == (s"v$k", None), s"k=$k: ${rows(k)}"))
    // matched rows updated, new column populated
    (5L until 10L).foreach(k =>
      assert(rows(k) == (s"u$k", Some(k * 10)), s"k=$k: ${rows(k)}"))
    // inserted rows carry the new column
    (10L until 15L).foreach(k =>
      assert(rows(k) == (s"u$k", Some(k * 10)), s"k=$k: ${rows(k)}"))

    // without the property (no AUTOMATIC_SCHEMA_EVOLUTION capability)
    // the same statement never grows the schema — star assignments
    // resolve only the target's columns, the source-only column is
    // ignored, and an explicit reference to it refuses
    val t2 = "merge_noevolve"
    makeTable(t2)
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graftrl.default.$t2 AS t
         |USING (SELECT id AS k, concat('u', id) AS v,
         |       CAST(id AS DOUBLE) AS amt, id * 10 AS extra
         |       FROM range(5, 15)) AS s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT * FROM graftrl.default.$t2").columns.toSeq
      == Seq("k", "v", "amt"),
      "schema grew on a table without the opt-in property")
    val ex = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graftrl.default.$t2 AS t
           |USING (SELECT id AS k, id * 10 AS extra FROM range(0, 5)) AS s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET extra = s.extra"""
          .stripMargin)
    }
    assert(ex.getMessage != null)
  }

  // ---- live equality deletes (upsertByKeys) under row-level verbs ----

  private def masksOf(name: String): (Boolean, Boolean) = {
    val root = new Path(tablePath(name))
    ops.Layout.versionMasks(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      ops.Layout.currentVersion(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root))
  }

  private def allRows(name: String): Seq[(Long, String, Double)] =
    spark.sql(s"SELECT k, v, amt FROM graftrl.default.$name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq.sorted

  /** The three-group table with live equality deletes — k 5, 150 and
    * 250 upserted (their old rows key-masked, new rows appended), k 7
    * and 160 tombstoned — and a position delete on k 42; then switched
    * to `mode`. */
  private def makeEqTable(name: String, mode: String): Unit = {
    import spark.implicits._
    makeMorTable(name)
    ops.Layout.upsertByKeys(spark, tablePath(name),
      Seq((5L, "u5", 5.5), (150L, "u150", 150.5), (250L, "u250", 250.5))
        .toDF("k", "v", "amt"), "k")
    ops.Layout.upsertByKeys(spark, tablePath(name), Seq(7L, 160L).toDF("k"),
      "k", deleteOnly = true)
    spark.sql(s"DELETE FROM graftrl.default.$name WHERE k = 42")
    spark.sql(s"ALTER TABLE graftrl.default.$name SET TBLPROPERTIES " +
      s"('graft.rowlevel.mode' = '$mode')")
  }

  /** `verb` (given the table's name) on a `mode` table with live
    * equality deletes leaves exactly the rows it leaves on the same
    * table after `compactDeletes` (what `CALL system.compact(only_dv =>
    * true)` runs) materialized the deletes. Returns those rows. */
  private def sameAsCompacted(mode: String, name: String)(
      verb: String => Unit): Map[Long, (String, Double)] = {
    val (live, done) = (s"${name}_live", s"${name}_done")
    Seq(live, done).foreach(makeEqTable(_, mode))
    ops.Layout.compactDeletes(spark, tablePath(done))
    assert(masksOf(live) == ((true, true)) && masksOf(done) == ((false, false)))
    verb(live)
    verb(done)
    val got = allRows(live)
    assert(got == allRows(done), s"$mode: the live masks changed the result")
    assert(got == ops.Layout.readSnapshot(spark, tablePath(live))
      .select("k", "v", "amt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted)
    got.map { case (k, v, a) => k -> ((v, a)) }.toMap
  }

  test("UPDATE over live equality deletes = the same UPDATE after compaction") {
    Seq("cow", "mor").foreach { mode =>
      val got = sameAsCompacted(mode, s"eq_upd_$mode") { t =>
        spark.sql(s"UPDATE graftrl.default.$t SET v = concat('x', v) " +
          "WHERE k < 10 OR k BETWEEN 150 AND 165 OR k = 42")
      }
      assert(got(5L) == (("xu5", 5.5)) && got(150L) == (("xu150", 150.5)))
      assert(!got.contains(7L) && !got.contains(160L) && !got.contains(42L))
      assert(got(6L) == (("xv6", 6.0)) && got.size == 297, mode)
    }
  }

  test("MERGE INTO over live equality deletes = the same MERGE after " +
      "compaction") {
    spark.sql(
      """SELECT id AS k, concat('m', id) AS v, CAST(-1 AS DOUBLE) AS amt,
        |  id IN (150, 151) AS del
        |FROM VALUES (5), (7), (150), (151), (160), (250), (1000) AS s(id)
        |""".stripMargin).createOrReplaceTempView("eq_mrg_src")
    Seq("cow", "mor").foreach { mode =>
      val got = sameAsCompacted(mode, s"eq_mrg_$mode") { t =>
        spark.sql(
          s"""MERGE INTO graftrl.default.$t AS t USING eq_mrg_src AS s
             |ON t.k = s.k
             |WHEN MATCHED AND s.del THEN DELETE
             |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
             |WHEN NOT MATCHED AND NOT s.del THEN
             |  INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
             |""".stripMargin)
      }
      // a tombstoned key inserts; an upserted key updates its live row
      assert(got(7L) == (("m7", -1.0)) && got(160L) == (("m160", -1.0)))
      assert(got(5L) == (("m5", -1.0)) && got(250L) == (("m250", -1.0)))
      assert(!got.contains(150L) && !got.contains(151L))
      assert(got(1000L) == (("m1000", -1.0)) && got.size == 298, mode)
    }
  }

  test("rewrite-path DELETE over live equality deletes = the same DELETE " +
      "after compaction") {
    Seq("cow", "mor").foreach { mode =>
      val got = sameAsCompacted(mode, s"eq_del_$mode") { t =>
        spark.sql(s"DELETE FROM graftrl.default.$t " +
          "WHERE k IN (SELECT id FROM range(0, 300) WHERE id % 50 = 0 " +
          "OR id IN (5, 7))")
      }
      assert(!got.contains(5L) && !got.contains(150L) &&
        !got.contains(250L) && !got.contains(7L))
      assert(got(6L) == (("v6", 6.0)) && got.size == 290, mode)
    }
  }

  test("Layout.mergeInto over live equality deletes = the same merge " +
      "after compaction") {
    import spark.implicits._
    val src = Seq((5L, "g5", 1.0, false), (7L, "g7", 1.0, false),
      (160L, "g160", 1.0, true), (250L, "g250", 1.0, true),
      (151L, "g151", 1.0, false), (2000L, "g2000", 1.0, false))
      .toDF("k", "v", "amt", "gone")
    Seq("cow", "mor").foreach { mode =>
      val got = sameAsCompacted(mode, s"eq_lmrg_$mode") { t =>
        ops.Layout.mergeInto(spark, tablePath(t), src, "k",
          deleteWhen = Some($"gone"))
      }
      assert(got(5L) == (("g5", 1.0)) && got(7L) == (("g7", 1.0)))
      assert(!got.contains(160L) && !got.contains(250L))
      assert(got(151L) == (("g151", 1.0)) && got(2000L) == (("g2000", 1.0)))
      assert(got.size == 298, mode)
    }
  }

  test("UPDATE and DELETE keep every row of a multi-row-group file " +
      "that carries deletes") {
    import spark.implicits._
    Seq("cow", "mor").foreach { mode =>
      val t = s"row_groups_$mode"
      spark.sql(s"DROP TABLE IF EXISTS graftrl.default.$t")
      spark.sql(s"""CREATE TABLE graftrl.default.$t
                   |  (k BIGINT, v STRING, amt DOUBLE)
                   |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')"""
        .stripMargin)
      spark.conf.set("parquet.block.size", "4096")
      try spark.sql(
        s"""INSERT INTO graftrl.default.$t
           |SELECT /*+ REPARTITION(1) */ id AS k, concat('v', id) AS v,
           |  CAST(id AS DOUBLE) AS amt
           |FROM range(0, 6000, 1, 1)""".stripMargin)
      finally spark.conf.unset("parquet.block.size")
      val groups = snapFiles(t).map { f =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(f), spark.sparkContext.hadoopConfiguration))
        try footer.getRowGroups.size finally footer.close()
      }
      assert(groups.max > 2, "one row group only")
      // a position and an equality delete on the file
      spark.sql(s"DELETE FROM graftrl.default.$t WHERE k = 42")
      ops.Layout.upsertByKeys(spark, tablePath(t), Seq(7L).toDF("k"), "k",
        deleteOnly = true)
      spark.sql(s"ALTER TABLE graftrl.default.$t SET TBLPROPERTIES " +
        s"('graft.rowlevel.mode' = '$mode')")
      assert(masksOf(t) == ((true, true)))
      // each condition holds in one row group only; the untranslatable
      // conjunct keeps the DELETE off the metadata-only path
      spark.sql(s"UPDATE graftrl.default.$t SET v = 'x' WHERE k = 5000")
      spark.sql(s"DELETE FROM graftrl.default.$t " +
        "WHERE k = 5001 AND length(v) > 0")
      val expected = (0L until 6000L).filterNot(Set(7L, 42L, 5001L))
        .map(k => (k, if (k == 5000L) "x" else s"v$k", k.toDouble))
      assert(allRows(t) == expected, mode)
      assert(ops.Layout.readSnapshot(spark, tablePath(t))
        .select("k", "v", "amt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq.sorted == expected, mode)
    }
  }

  test("Layout.mergeInto: a source key whose target rows are all deleted " +
      "affects no file") {
    import spark.implicits._
    Seq("cow", "mor").foreach { mode =>
      val t = s"eq_dead_$mode"
      makeEqTable(t, mode)
      // dv positions over the head's sidecars
      def positions: Long = {
        val root = new Path(tablePath(t))
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val dvs = ops.Layout.manifestLinesOf(spark, tablePath(t),
          ops.Layout.currentVersion(fs, root))
          .flatMap(ops.Layout.entryDvs).distinct
        if (dvs.isEmpty) 0L
        else spark.read.parquet(dvs.map(new Path(root, _).toString): _*)
          .count()
      }
      // k 160 is tombstoned: the merge only inserts it
      val (_, rewritten, inserted) = ops.Layout.mergeInto(spark,
        tablePath(t), Seq((160L, "g160", 1.0)).toDF("k", "v", "amt"), "k")
      assert(rewritten == 0 && inserted == 1, mode)
      // beside live k 8 of the same file, tombstoned k 7 inserts and its
      // dead row takes no position delete
      val before = positions
      val (_, rewritten2, inserted2) = ops.Layout.mergeInto(spark,
        tablePath(t), Seq((7L, "g7", 1.0), (8L, "g8", 1.0))
          .toDF("k", "v", "amt"), "k")
      assert(rewritten2 == 1 && inserted2 == 1, mode)
      if (mode == "mor") assert(positions == before + 1)
      val got = allRows(t).map { case (k, v, a) => k -> ((v, a)) }.toMap
      assert(got(7L) == (("g7", 1.0)) && got(8L) == (("g8", 1.0)) &&
        got(160L) == (("g160", 1.0)) && got.size == 300 - 3 + 2, mode)
    }
  }

  test("without GraftExtensions, SELECT * and count(*) of an " +
      "equality-upserted table = readSnapshot") {
    makeEqTable("eq_plain", "mor")
    val plain = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.builder().getOrCreate()
    }
    try {
      plain.conf.set("spark.sql.catalog.graftplain", "graft.sql.GraftCatalog")
      plain.conf.set("spark.sql.catalog.graftplain.warehouse", wh)
      // no per-file dispatch split the read: the row-based scan serves it
      val all = plain.sql("SELECT * FROM graftplain.default.eq_plain")
      assert(all.queryExecution.executedPlan.toString
        .contains("graft-cow-scan"), all.queryExecution.executedPlan)
      val expected = ops.Layout.readSnapshot(plain, tablePath("eq_plain"))
      assert(all.collect().map(_.toString).sorted.toSeq ==
        expected.collect().map(_.toString).sorted.toSeq)
      assert(plain.sql("SELECT count(*) FROM graftplain.default.eq_plain")
        .head.getLong(0) == expected.count())
      assert(expected.count() == 300 - 2 - 1)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  // ---- manifest file skipping under row-level verbs ----

  /** Four range-clustered INSERTs, k in [i*100, i*100+99] per file, with
    * manifest bounds on `k`, on a `mode` table. */
  private def makeRangeTable(name: String, mode: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graftrl.default.$name")
    spark.sql(s"""CREATE TABLE graftrl.default.$name
                 |  (k BIGINT, v STRING, amt DOUBLE)
                 |TBLPROPERTIES ('graft.stats.columns' = 'k',
                 |  'graft.rowlevel.mode' = '$mode')""".stripMargin)
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO graftrl.default.$name
           |SELECT /*+ REPARTITION(1) */ id AS k,
           |  concat('v', id) AS v, CAST(id AS DOUBLE) AS amt
           |FROM range(${i * 100}, ${i * 100 + 100})""".stripMargin)
    }
  }

  /** The input records of each stage that read any while `body` ran —
    * one entry per scanning stage, the group-filter subquery's included. */
  private def recordsPerStage(body: => Unit): Seq[Long] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val read = scala.collection.mutable.Map.empty[Int, Long]
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.synchronized {
          read(e.stageId) = read.getOrElse(e.stageId, 0L) +
            e.taskMetrics.inputMetrics.recordsRead
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    read.synchronized(read.values.filter(_ > 0).toSeq)
  }

  /** The range table's rows before any verb, as a plain DataFrame. */
  private def rangeRows = spark.range(0, 400).selectExpr("id AS k",
    "concat('v', id) AS v", "CAST(id AS DOUBLE) AS amt")

  private def rowsOfDf(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "amt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted

  test("UPDATE, DELETE and MERGE with k = c read one file's rows in every " +
      "scan, the group-filter subquery's included") {
    import org.apache.spark.sql.functions._
    spark.sql("SELECT 350L AS k, 'm' AS v, 1.0D AS amt UNION ALL " +
      "SELECT 5000L, 'n', 2.0D").createOrReplaceTempView("prune_src")
    // (verb, the same change replayed on a plain DataFrame)
    val verbs: Seq[(String => String, org.apache.spark.sql.DataFrame)] = Seq(
      (t => s"UPDATE graftrl.default.$t SET v = concat(v, '!') WHERE k = 150",
        rangeRows.withColumn("v",
          when(col("k") === 150, concat(col("v"), lit("!")))
            .otherwise(col("v")))),
      (t => s"DELETE FROM graftrl.default.$t " +
          "WHERE k = 250 AND length(v) > 0",
        rangeRows.where(col("k") =!= 250)),
      (t => s"""MERGE INTO graftrl.default.$t AS t USING prune_src AS s
               |ON t.k = s.k AND t.k = 350
               |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        rangeRows.where(col("k") =!= 350).union(spark.sql(
          "SELECT 350L, 'm', 1.0D UNION ALL SELECT 5000L, 'n', 2.0D"))))
    val reads = for (mode <- Seq("cow", "mor");
        ((verb, replay), i) <- verbs.zipWithIndex) yield {
      val t = s"prune_${mode}_$i"
      makeRangeTable(t, mode)
      // parquet row-group skipping would hide a scan of a refuted file
      // (each file here is one row group): off, every file a scan plans
      // is read whole
      spark.conf.set("spark.sql.parquet.filterPushdown", "false")
      val read = try recordsPerStage(spark.sql(verb(t)))
        finally spark.conf.unset("spark.sql.parquet.filterPushdown")
      assert(allRows(t) == rowsOfDf(replay), s"$mode ${verb(t)}")
      // the row-based scan reads the files its builder's one manifest
      // skip kept
      SnapshotScanBuilder.lastPrune = None
      val rowScanFiles = spark.sql(
          s"SELECT _file, k FROM graftrl.default.$t WHERE k = 150")
        .queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.collect { case s: graft.sql.GraftCowScan => s.files.size }
      val (kept, total) = SnapshotScanBuilder.lastPrune
        .getOrElse(fail(s"$mode $t: no manifest prune"))
      assert(rowScanFiles == Seq(kept) && kept < total,
        s"$mode $t: row scan files $rowScanFiles, kept $kept of $total")
      s"$mode ${verb(t).split("\\s+").take(2).mkString(" ")}" -> read
    }
    // every scan, each file pruned by its bounds on k
    assert(reads.forall { case (_, r) => r.nonEmpty && r.forall(_ <= 100) },
      s"records read per scanning stage: $reads")
  }

  test("MERGE … WHEN NOT MATCHED BY SOURCE changes rows in files whose " +
      "bounds refute the ON key") {
    import org.apache.spark.sql.functions._
    Seq("cow", "mor").foreach { mode =>
      val t = s"prune_by_source_$mode"
      makeRangeTable(t, mode)
      spark.sql(
        s"""MERGE INTO graftrl.default.$t AS t
           |USING (SELECT 150L AS k, 'm' AS v) AS s
           |ON t.k = s.k AND t.k = 150
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED BY SOURCE AND t.k >= 390 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN
           |  UPDATE SET v = 'gone'""".stripMargin)
      val replay = rangeRows.where(col("k") < 390).withColumn("v",
        when(col("k") === 150, lit("m"))
          .when(col("k") < 10, lit("gone")).otherwise(col("v")))
      assert(allRows(t) == rowsOfDf(replay), mode)
    }
  }
}
