package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the manifest snapshot protocol ([[ops.Layout.commitSnapshot]] /
  * [[ops.Layout.readSnapshot]]) beyond the q_manifest_snapshot oracle:
  * version pinning (a reader at v1 is untouched by a later commit),
  * orphan invisibility (staged files without a manifest never surface),
  * and the CAS commit point (temp manifests never linger). */
class SnapshotIsolationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("snapshot reads pin a version; orphans stay invisible") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_snapshot"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)

    val n = Tables.nation(spark, sf)
    val half1 = n.where(col("n_nationkey") < 12)
    val half2 = n.where(col("n_nationkey") >= 12)
    val v1 = commitSnapshot(spark, table, half1)
    assert(v1 == 1)

    // reader pinned BEFORE the second commit
    val c1 = readSnapshot(spark, table, Some(v1)).count()
    val v2 = commitSnapshot(spark, table, half2)
    assert(v2 == 2)
    // the pinned version still answers with the frozen table
    assert(readSnapshot(spark, table, Some(v1)).count() == c1)
    assert(readSnapshot(spark, table).count() == n.count())

    // a crashed transaction stages files but never publishes a manifest:
    // invisible at every version, including the newest
    half1.write.mode("overwrite")
      .parquet(new Path(root, "data/txn-crashed").toString)
    assert(readSnapshot(spark, table).count() == n.count(),
      "orphan files leaked into the snapshot read")

    // the CAS commit leaves no temp manifests behind
    val stray = fs.listStatus(new Path(root, "manifests"))
      .map(_.getPath.getName)
      .filterNot(_.matches("""v\d+\.(manifest|ckpt)"""))
    assert(stray.isEmpty, s"stray manifest files: ${stray.mkString(",")}")

    // rollback re-commits v1's list as v3: head answers like v1, and the
    // "bad" v2 stays readable for forensics until expired
    val v3 = rollbackTo(spark, table, v1)
    assert(v3 == 3)
    assert(readSnapshot(spark, table).count() == c1)
    assert(readSnapshot(spark, table, Some(v2)).count() == n.count())

    // VACUUM keeping the last 2 snapshots (v2, v3): v1's manifest goes,
    // but its FILES survive because v3 still references them; the
    // crashed txn's orphans are finally reclaimed (age guard forced off)
    val (ms, fsRemoved) = expireSnapshots(spark, table, keepLast = 2,
      orphanOlderThanMs = 0)
    assert(ms == 1, s"expected 1 expired manifest, got $ms")
    assert(fsRemoved > 0, "crashed-txn orphans were not reclaimed")
    assert(readSnapshot(spark, table).count() == c1)
    assert(readSnapshot(spark, table, Some(v2)).count() == n.count(),
      "a retained snapshot lost files to the sweep")
  }

  test("a reader pinned to v_N survives a compactSnapshot REPLACE commit") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_optimize"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    commitSnapshot(spark, table,
      n.where(col("n_nationkey") < 12).repartition(5))
    val v2 = commitSnapshot(spark, table,
      n.where(col("n_nationkey") >= 12).repartition(5))
    val filesV2 = fs.listStatus(new Path(root, "manifests"))
    // pin the pre-compact version: build the DataFrame NOW (resolving
    // v2's file list), execute it only AFTER the compaction commits —
    // exactly the mid-OPTIMIZE read the old rename-swap compact broke
    val pinned = readSnapshot(spark, table, Some(v2))
    val (v3, stats) = compactSnapshot(spark, table,
      sortBy = Seq("n_nationkey"))
    assert(v3 == v2 + 1)
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction did not reduce file count: $stats")
    // the pinned reader's files were never touched — it still answers
    assert(pinned.count() == n.count(),
      "a reader pinned to the pre-compact version lost files mid-OPTIMIZE")
    assert(readSnapshot(spark, table, Some(v2)).count() == n.count())
    // the head answers identically through the re-packed files
    assert(readSnapshot(spark, table).count() == n.count())
    // old files are reclaimed only by explicit expiry, exactly as for
    // any other REPLACE'd snapshot
    val (_, removed) = expireSnapshots(spark, table, keepLast = 1,
      orphanOlderThanMs = 0)
    assert(removed > 0, "expiry reclaimed none of the pre-compact files")
    assert(readSnapshot(spark, table).count() == n.count())
    assert(filesV2.nonEmpty) // silence unused warning paranoia
  }

  test("deleteWhere rewrites only affected files; untouched files stay byte-identical") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_cow"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    // two transactions split by key range: the delete predicate only
    // matches the second, so txn-1's files must survive the delete
    // without being opened for write
    commitSnapshot(spark, table, n.where(col("n_nationkey") < 12))
    val v2 = commitSnapshot(spark, table, n.where(col("n_nationkey") >= 12))
    val before = manifestPaths(fs, root, v2)
      .map(rel => rel -> fileSig(fs, root, rel)).toMap
    val (v3, rewritten, untouched) = deleteWhere(spark, table,
      col("n_nationkey") >= 20)
    assert(v3 == v2 + 1)
    assert(rewritten >= 1 && untouched >= 1,
      s"expected a selective rewrite, got rewritten=$rewritten untouched=$untouched")
    val after = manifestPaths(fs, root, v3)
    // every untouched file keeps its exact manifest entry AND its bytes
    val kept = after.filter(before.contains)
    assert(kept.size == untouched,
      s"untouched entries changed: kept=${kept.size} expected=$untouched")
    kept.foreach { rel =>
      assert(fileSig(fs, root, rel) == before(rel),
        s"untouched file $rel was modified by the delete") }
    // content: exactly the predicate's rows are gone
    assert(readSnapshot(spark, table).count() ==
      n.where(col("n_nationkey") < 20).count())
    // the pre-delete snapshot still reads the full table (time travel)
    assert(readSnapshot(spark, table, Some(v2)).count() == n.count())
    // a delete matching nothing is a no-op: no new version, no rewrite
    val (v4, r4, _) = deleteWhere(spark, table, col("n_nationkey") > 9999)
    assert(v4 == v3 && r4 == 0, "no-match delete should not commit")
  }

  test("mergeInto updates in place, inserts new keys, leaves unmatched files intact") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_merge"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    commitSnapshot(spark, table, n.where(col("n_nationkey") < 12))
    val v2 = commitSnapshot(spark, table, n.where(col("n_nationkey") >= 12))
    val before = manifestPaths(fs, root, v2)
      .map(rel => rel -> fileSig(fs, root, rel)).toMap
    // delta: update the name of keys ≥ 20 (all in txn-2), insert three
    // re-keyed rows — txn-1's files match nothing and must not be opened
    val updates = n.where(col("n_nationkey") >= 20)
      .withColumn("n_name", concat(col("n_name"), lit("_upd")))
    val inserts = n.where(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100)
    val (v3, rewritten, nIns) =
      mergeInto(spark, table, updates.unionByName(inserts), "n_nationkey")
    assert(v3 == v2 + 1)
    assert(nIns == 3, s"expected 3 inserts, got $nIns")
    assert(rewritten >= 1 && rewritten < before.size,
      s"expected a selective rewrite, got $rewritten of ${before.size}")
    val after = manifestPaths(fs, root, v3)
    val kept = after.filter(before.contains)
    assert(kept.size == before.size - rewritten,
      "untouched file count does not match the manifest carry-over")
    kept.foreach { rel =>
      assert(fileSig(fs, root, rel) == before(rel),
        s"unmatched file $rel was modified by the merge") }
    val head = readSnapshot(spark, table)
    assert(head.count() == n.count() + 3)
    // updated rows really carry the new values, carried rows the old
    val upNames = head.where(col("n_nationkey") >= 20 &&
        col("n_nationkey") < 100)
      .select("n_name").collect().map(_.getString(0))
    assert(upNames.nonEmpty && upNames.forall(_.endsWith("_upd")),
      s"updates not applied: ${upNames.mkString(",")}")
    val origNames = head.where(col("n_nationkey") < 20)
      .select("n_name").collect().map(_.getString(0))
    assert(origNames.nonEmpty && origNames.forall(!_.endsWith("_upd")),
      "carried rows were clobbered by the update")
    // the pre-merge snapshot is still the pre-merge table (time travel)
    assert(readSnapshot(spark, table, Some(v2)).count() == n.count())
    // a source with a duplicate key must be rejected, not merged twice
    val dup = updates.unionByName(updates)
    intercept[IllegalArgumentException] {
      mergeInto(spark, table, dup, "n_nationkey")
    }
  }

  test("row-level verbs under a table root holding a space and a %: " +
      "each result equals the prior snapshot replayed") {
    import ops.Layout._
    import spark.implicits._
    Seq("cow", "mor").foreach { mode =>
      val table = s"target/graft_io/spec/odd root %41 100%/$mode"
      val root = new Path(table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      commitSnapshot(spark, table, spark.range(0, 200)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
        .repartition(4), props = Map(RowLevelModeProp -> mode))
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
        df.as[(Long, String)].collect().toSeq.sorted
      /** `verb`'s result against `replay` of the snapshot before it. */
      def check(what: String)(
          replay: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame)(verb: => Int): Unit = {
        val want = rows(replay(readSnapshot(spark, table)))
        assert(verb > 0, s"$mode $what touched no file")
        assert(rows(readSnapshot(spark, table)) == want, s"$mode $what")
      }
      val del = col("k") % 10 === 3
      check("deleteWhere")(_.where(!del))(
        deleteWhere(spark, table, del)._2)
      val range = col("k") >= 20L && col("k") < 30L
      val batch = Seq((20L, "r20"), (24L, "r24")).toDF("k", "v")
      check("replaceWhere")(_.where(!range).unionByName(batch))(
        replaceWhere(spark, table, batch, range)._2)
      // 13 was deleted above: it inserts, as 500 does
      val src = Seq((5L, "m5"), (13L, "m13"), (500L, "m500")).toDF("k", "v")
      check("mergeInto")(_.join(src, Seq("k"), "left_anti")
        .unionByName(src))(mergeInto(spark, table, src, "k")._2)
    }
  }

  test("a REPLACE commit whose inputs were swapped by a racing REPLACE aborts") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_replace_conflict"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    val v1 = commitSnapshot(spark, table, n.repartition(4))
    // replaceCommit's currency is whole manifest LINES (incl. the @size
    // token), not bare paths
    val v1Lines = manifestLines(fs, root, v1)
    assert(v1Lines.size >= 2)
    // another REPLACE (a compaction) lands first and swaps v1's files out
    val (v2, _) = compactSnapshot(spark, table)
    assert(v2 == v1 + 1)
    // a REPLACE carrying the now-stale inputs must ABORT, not rebase:
    // blindly committing head − staleInputs + added would resurrect rows
    // the compaction rewrote (filterNot misses ⇒ nothing removed) while
    // still adding the replacement files — silent duplication
    intercept[IllegalArgumentException] {
      replaceCommit(fs, root, "staleReplace",
        Set(v1Lines.head), Seq.empty)
    }
    assert(currentVersion(fs, root) == v2,
      "the aborted REPLACE must not have committed")
    // the same commit against CURRENT head lines proceeds (here: drop one
    // file — a delete-shaped REPLACE), and a racing APPEND's lines are
    // untouched by the swap
    val v2Lines = manifestLines(fs, root, v2)
    val v3 = replaceCommit(fs, root, "validReplace",
      Set(v2Lines.head), Seq.empty)
    assert(v3 == v2 + 1)
    assert(manifestLines(fs, root, v3) == v2Lines.drop(1))
  }

  test("mergeInto updates every matched row of a duplicate-key target") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_merge_duptarget"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    // the TARGET holds two rows per key (the source stays unique — only
    // source-side duplicates are ambiguous); SQL MERGE updates EACH
    // matched target row, so both copies must carry the new name and the
    // row count must not shrink
    commitSnapshot(spark, table, n.unionByName(n))
    val src = n.where(col("n_nationkey") >= 20)
      .withColumn("n_name", concat(col("n_name"), lit("_upd")))
    val (v2, rewritten, nIns) = mergeInto(spark, table, src, "n_nationkey")
    assert(v2 == 2 && nIns == 0 && rewritten >= 1)
    val head = readSnapshot(spark, table)
    assert(head.count() == 2 * n.count(),
      "the merge collapsed duplicate-key target rows")
    val matched = head.where(col("n_nationkey") >= 20)
    assert(matched.count() == 2 * n.where(col("n_nationkey") >= 20).count())
    assert(matched.select("n_name").collect()
        .forall(_.getString(0).endsWith("_upd")),
      "a duplicate target row missed the update")
  }

  test("mergeInto allows one NULL-keyed source row (insert), rejects two") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_merge_nullkey"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    commitSnapshot(spark, table, n)
    // MERGE ON t.k = s.k: a NULL source key never matches, so it is a
    // plain insert — exactly one such row is unambiguous and allowed
    // cast to the TABLE's key type — a long null against an int column
    // would be a schema-drifting write, not a null-key merge
    val keyType = n.schema("n_nationkey").dataType
    val oneNull = n.where(col("n_nationkey") === 0)
      .withColumn("n_nationkey", lit(null).cast(keyType))
    val (_, _, ins) = mergeInto(spark, table, oneNull, "n_nationkey")
    assert(ins == 1, s"a lone NULL-keyed source row must insert, got $ins")
    assert(readSnapshot(spark, table).where(col("n_nationkey").isNull)
      .count() == 1)
    // two NULL-keyed rows are duplicate keys for the uniqueness contract
    val twoNulls = oneNull.unionByName(oneNull)
    intercept[IllegalArgumentException] {
      mergeInto(spark, table, twoNulls, "n_nationkey")
    }
  }

  test("schema evolution: per-version schemas, null-fill, honest time travel") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_schema_evo"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    val narrow = n.select(col("n_nationkey"), col("n_name"))
    val wide = n.select(col("n_nationkey"), col("n_name"),
      col("n_regionkey"))
    val v1 = commitSnapshot(spark, table, narrow)
    val v2 = commitSnapshot(spark, table, wide)
    // the recorded schemas differ per version, and reads honor them:
    // head sees the evolved column (old rows null-filled), v1 does not
    assert(versionSchema(spark, table, Some(v1)).get.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name"))
    assert(versionSchema(spark, table, Some(v2)).get.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    val head = readSnapshot(spark, table)
    assert(head.columns.contains("n_regionkey"))
    assert(head.where(col("n_regionkey").isNull).count() == narrow.count(),
      "pre-evolution rows must null-fill the added column")
    assert(!readSnapshot(spark, table, Some(v1)).columns
      .contains("n_regionkey"),
      "time travel to v1 must see v1's schema, not today's")
    // a DELETE whose predicate touches the evolved column runs fine over
    // pre-evolution files (NULL predicate -> row kept, SQL semantics)
    val (v3, _, _) = deleteWhere(spark, table, col("n_regionkey") === 2)
    val afterDelete = readSnapshot(spark, table)
    assert(afterDelete.where(col("n_regionkey") === 2).count() == 0)
    assert(afterDelete.where(col("n_regionkey").isNull).count() ==
      narrow.count(), "a NULL-predicate row was deleted")
    // compaction carries the schema forward unchanged
    compactSnapshot(spark, table)
    assert(versionSchema(spark, table).get.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // rollback restores the old schema along with the old file list
    rollbackTo(spark, table, v1)
    assert(versionSchema(spark, table).get.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name"))
    assert(!readSnapshot(spark, table).columns.contains("n_regionkey"))
    assert(v3 == v2 + 1)
  }

  test("manifest column bounds prune files; stats-less lines always survive") {
    import ops.Layout._
    val table = "target/graft_io/spec/orders_bounds"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    commitSnapshot(spark, table,
      o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      statsColumns = Seq("o_orderkey"))
    val mx = o.agg(max(col("o_orderkey"))).head.getLong(0)
    // a narrow range over a range-clustered table must drop most files…
    val (kept, total) = rangeFileSelection(spark, table, "o_orderkey",
      mx / 4, mx / 3)
    assert(total >= 8 && kept.size < total,
      s"no manifest-level pruning: kept ${kept.size} of $total")
    // …and never change the answer
    val pruned = readSnapshotRange(spark, table, "o_orderkey",
      mx / 4, mx / 3).count()
    val full = readSnapshot(spark, table)
      .where(col("o_orderkey") >= mx / 4 && col("o_orderkey") <= mx / 3)
      .count()
    assert(pruned == full && full > 0)
    // a later append WITHOUT stats (a deterministic slice disjoint from
    // the queried range): its lines carry no bounds and must always
    // survive selection, even for a range they cannot touch
    commitSnapshot(spark, table, o.where(col("o_orderkey") <= mx / 10))
    val (kept2, total2) = rangeFileSelection(spark, table, "o_orderkey",
      mx / 4, mx / 3)
    assert(total2 > total)
    assert(kept2.size - kept.size == total2 - total,
      "a stats-less manifest line was pruned")
    // OPTIMIZE with statsColumn re-records bounds on the re-packed
    // files: pruning must survive compaction, and the range answer must
    // not move
    compactSnapshot(spark, table, targetFileBytes = 4 * 1024,
      sortBy = Seq("o_orderkey"), statsColumns = Seq("o_orderkey"))
    val (kept3, total3) = rangeFileSelection(spark, table, "o_orderkey",
      mx / 4, mx / 3)
    assert(total3 > 1 && kept3.size < total3,
      s"compaction stripped the bounds: kept ${kept3.size} of $total3")
    // the appended slice (keys ≤ mx/10) is disjoint from [mx/4, mx/3],
    // so the range answer is unchanged through append AND compaction
    assert(readSnapshotRange(spark, table, "o_orderkey",
      mx / 4, mx / 3).count() == pruned)
    // a copy-on-write DELETE re-records bounds on its rewritten files
    // (statsColumnOf picks the table's recorded column up automatically)
    val (_, rewritten, _) = deleteWhere(spark, table,
      col("o_orderkey") === mx)
    assert(rewritten >= 1)
    val (kept4, total4) = rangeFileSelection(spark, table, "o_orderkey",
      mx / 4, mx / 3)
    assert(kept4.size < total4, "the delete stripped the table's bounds")
    assert(readSnapshotRange(spark, table, "o_orderkey",
      mx / 4, mx / 3).count() == pruned)
  }

  test("string column bounds prune files categorically; odd values round-trip") {
    import ops.Layout._
    val table = "target/graft_io/spec/docs_lang_bounds"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    commitSnapshot(spark, table,
      d.repartitionByRange(6, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id"),
      statsColumns = Seq("lang"))
    val langs = d.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.length >= 2, "fixture needs multiple languages")
    val one = langs.min
    // a single language's read must drop files…
    val (kept, total) = eqFileSelection(spark, table, "lang", one)
    assert(total >= 6 && kept.size < total,
      s"no categorical pruning: kept ${kept.size} of $total")
    // …and never change the answer
    assert(readSnapshotEquals(spark, table, "lang", one).count() ==
      d.where(col("lang") === one).count())
    // bounds with tab/newline/unicode survive the encoding round trip:
    // every row of a one-file commit carries the nasty value, so the
    // recorded min == max == value, and the equality read still finds it
    val nasty = "pt\tBR\nçã%o"
    val table2 = "target/graft_io/spec/docs_nasty_bounds"
    val root2 = new Path(table2)
    fs.delete(root2, true)
    commitSnapshot(spark, table2,
      d.limit(5).withColumn("lang", lit(nasty)).coalesce(1),
      statsColumns = Seq("lang"))
    assert(readSnapshotEquals(spark, table2, "lang", nasty).count() == 5)
    // a value outside the bounds prunes EVERY file: a legitimately
    // selective query returns an EMPTY frame under the recorded schema,
    // not an error (the refusal survives only for legacy tables with no
    // recorded schema, whose schema zero files cannot supply)
    val allPruned = readSnapshotEquals(spark, table2, "lang", "zz")
    assert(allPruned.columns.toSeq == Seq("doc_id", "lang", "n_chars"))
    assert(allPruned.count() == 0)
  }

  test("readChanges returns exactly the appended rows, rejects REPLACE in range") {
    import ops.Layout._
    val table = "target/graft_io/spec/nation_cdc"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
    val v1 = commitSnapshot(spark, table, n.where(col("n_nationkey") < 12))
    val v2 = commitSnapshot(spark, table, n.where(col("n_nationkey") >= 12))
    // the delta v1→v2 is exactly the second commit's rows
    assert(readChanges(spark, table, v1, v2).count() ==
      n.where(col("n_nationkey") >= 12).count())
    // from-zero = everything; empty range = zero rows with a real schema
    assert(readChanges(spark, table, 0, v2).count() == n.count())
    val empty = readChanges(spark, table, v2, v2)
    assert(empty.count() == 0 && empty.columns.contains("n_nationkey"))
    // a REPLACE commit (copy-on-write delete) breaks the append-only
    // line-diff semantics — the reader must refuse, not answer wrong
    val (v3, _, _) = deleteWhere(spark, table, col("n_nationkey") === 5)
    assert(v3 == v2 + 1)
    intercept[IllegalArgumentException] {
      readChanges(spark, table, v2, v3)
    }
  }

  /** Manifest LINES (minus headers) — the commit-protocol currency,
    * including @size and stats suffixes. Routed through the engine's
    * reconstruction so the assertion holds whatever physical form (FULL
    * or r20 DELTA) the version committed as. */
  private def manifestLines(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, v: Int): Seq[String] =
    ops.Layout.manifestLinesOf(spark, root.toString, v)

  /** The lines' bare file paths (suffixes stripped). */
  private def manifestPaths(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, v: Int): Seq[String] =
    manifestLines(fs, root, v).map(l => l.indexOf('\t') match {
      case -1 => l
      case i  => l.substring(0, i)
    })

  private def fileSig(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      rel: String): (Long, Long) = {
    val st = fs.getFileStatus(new Path(root, rel))
    (st.getLen, st.getModificationTime)
  }

  test("racing commits both land through the rename CAS, nothing lost") {
    import ops.Layout._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = "target/graft_io/spec/region_snapshot_race"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val r = Tables.region(spark, sf)
    // two writers commit disjoint halves CONCURRENTLY: the loser of the
    // v1 rename must retry as v2 on the re-read head — serialized
    // append-only history, no lost update, regardless of who wins
    val fa = Future(commitSnapshot(spark, table,
      r.where(col("r_regionkey") < 2)))
    val fb = Future(commitSnapshot(spark, table,
      r.where(col("r_regionkey") >= 2)))
    val versions = Seq(Await.result(fa, 120.seconds),
      Await.result(fb, 120.seconds)).sorted
    assert(versions == Seq(1, 2),
      s"expected serialized versions 1,2 — got $versions")
    assert(readSnapshot(spark, table).count() == r.count(),
      "a racing commit's rows were lost")
  }

  test("multi-column bounds prune on each column independently and survive rewrites") {
    import ops.Layout._
    val table = "target/graft_io/spec/orders_bounds_multi"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    commitSnapshot(spark, table,
      zArranged(o, "o_custkey", "o_orderkey", files = 16, buckets = 1024),
      statsColumns = Seq("o_custkey", "o_orderkey"))
    val m = o.agg(max(col("o_orderkey")).as("mk"),
      max(col("o_custkey")).as("mc")).head
    val (mk, mc) = (m.getLong(0), m.getLong(1))
    val custLeg = SkipRange("o_custkey", mc / 8, mc / 4)
    val keyLeg = SkipRange("o_orderkey", mk / 8, mk / 4)
    def prunes(leg: Skip, what: String): Int = {
      val (kept, total) = fileSelection(spark, table, Seq(leg))
      assert(kept.size < total,
        s"$what did not prune: kept ${kept.size} of $total")
      kept.size
    }
    // each z-order column prunes INDEPENDENTLY — the property the
    // multi-column stats exist for…
    val kc = prunes(custLeg, "o_custkey leg")
    val kk = prunes(keyLeg, "o_orderkey leg")
    // …and the conjunction prunes at least as hard as either leg
    val (kBoth, _) = fileSelection(spark, table, Seq(custLeg, keyLeg))
    assert(kBoth.size <= math.min(kc, kk))
    // pruning changes the read set, never the answer
    def answer(): Long = readSnapshotWhere(spark, table,
      Seq(custLeg, keyLeg)).count()
    def full(): Long = readSnapshot(spark, table)
      .where(col("o_custkey").between(mc / 8, mc / 4) &&
        col("o_orderkey").between(mk / 8, mk / 4)).count()
    assert(answer() == full() && answer() > 0)
    // BOTH columns' bounds survive a copy-on-write DELETE…
    deleteWhere(spark, table, col("o_orderkey") === mk)
    prunes(custLeg, "o_custkey leg after delete")
    prunes(keyLeg, "o_orderkey leg after delete")
    assert(answer() == full())
    // …a MERGE (updates rewrite files, inserts add one)…
    mergeInto(spark, table,
      o.where(col("o_orderkey") <= mk / 20)
        .withColumn("o_orderstatus", lit("X")), "o_orderkey")
    prunes(custLeg, "o_custkey leg after merge")
    prunes(keyLeg, "o_orderkey leg after merge")
    assert(answer() == full())
    // …and a z-order OPTIMIZE with no explicit statsColumns (the
    // table's own recorded columns must carry through the re-pack,
    // and the re-cluster must keep BOTH columns' rectangles tight)
    compactSnapshot(spark, table, targetFileBytes = 4 * 1024,
      zorderBy = Seq("o_custkey", "o_orderkey"))
    prunes(custLeg, "o_custkey leg after compact")
    prunes(keyLeg, "o_orderkey leg after compact")
    assert(answer() == full())
  }

  test("widening evolution: INT→BIGINT in place; string→int refused with the named error") {
    import ops.Layout._
    import org.apache.spark.sql.types._
    // the merge rule itself: string → int has no lossless promotion
    val e1 = intercept[IllegalArgumentException] {
      mergeWiden(StructType(Seq(StructField("k", StringType))),
        StructType(Seq(StructField("k", IntegerType))))
    }
    assert(e1.getMessage.contains("incompatible type change") &&
      e1.getMessage.contains("`k`"))
    // decimal rescale is refused too (not a widening this format does)
    intercept[IllegalArgumentException] {
      mergeWiden(StructType(Seq(StructField("d", DecimalType(10, 2)))),
        StructType(Seq(StructField("d", DecimalType(12, 4)))))
    }
    // end to end: an append whose column type cannot merge REFUSES the
    // commit — the table's version and schema stay untouched
    val table = "target/graft_io/spec/widen_refusal"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("int").as("k"), col("n_name"))
    commitSnapshot(spark, table, n)
    val e2 = intercept[IllegalArgumentException] {
      commitSnapshot(spark, table,
        n.select(col("n_name").as("k"), col("n_name")))
    }
    assert(e2.getMessage.contains("incompatible type change"))
    assert(currentVersion(fs, root) == 1,
      "a refused append must not advance the version")
    assert(versionSchema(spark, table).get("k").dataType == IntegerType)
    // the happy path: a BIGINT append WIDENS the recorded schema and
    // gen-1 int32 files promote at scan time — and a later NARROWER
    // int append keeps the wide type
    commitSnapshot(spark, table,
      n.select((col("k") + lit(100)).cast("long").as("k"), col("n_name")))
    assert(versionSchema(spark, table).get("k").dataType == LongType)
    commitSnapshot(spark, table,
      n.select((col("k") + lit(200)).cast("int").as("k"), col("n_name")))
    assert(versionSchema(spark, table).get("k").dataType == LongType,
      "a narrower append must keep the widened type")
    val got = readSnapshot(spark, table).agg(
      count(lit(1)), sum(col("k"))).head
    val nn = n.count()
    val base = n.agg(sum(col("k").cast("long"))).head.getLong(0)
    assert(got.getLong(0) == 3 * nn)
    assert(got.getLong(1) == 3 * base + 300 * nn,
      "rows lost or mistyped through the widening")
  }

  test("constraints gate programmatic commits; widening appends still work") {
    import ops.Layout._
    import org.apache.spark.sql.types._
    val table = "target/graft_io/spec/constrained_widen"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val n = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("int").as("k"), col("n_name"))
    commitSnapshot(spark, table, n,
      props = Map("graft.constraint.keyed" -> "k >= 0"))
    // the per-attempt gate refuses a violating PROGRAMMATIC commit too
    // (not just the SQL surface), and leaves no staged orphans behind
    import spark.implicits._
    intercept[IllegalArgumentException] {
      commitSnapshot(spark, table,
        Seq((-1, "bad")).toDF("k", "n_name"))
    }
    assert(currentVersion(fs, root) == 1)
    val orphans = fs.listStatus(new Path(root, "data"))
      .count(_.getPath.getName.startsWith("txn-"))
    assert(orphans == 1, // only v1's own txn dir remains
      s"a refused constrained commit left staged orphans ($orphans dirs)")
    // the r16 review regression: a TYPE-WIDENING append on a CONSTRAINED
    // table must commit (the gate reads staged files footer-inferred,
    // not under the stale pre-widening schema)
    commitSnapshot(spark, table,
      Seq((9999999999L, "wide")).toDF("k", "n_name"))
    assert(versionSchema(spark, table).get("k").dataType == LongType)
    assert(readSnapshot(spark, table).count() == n.count() + 1)
  }

  test("MOR delete: no data file rewritten, dv groups on affected lines only, pinned readers untouched") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/mor_delete"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val rows = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", i * 10.0)).toDF("id", "par", "v")
    commitSnapshot(spark, table, rows.where(col("par") === "even"),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(spark, table, rows.where(col("par") === "odd"))
    val v0 = currentVersion(fs, root)
    def lines(v: Int) = versionFileEntries(fs, root, v).map(_._1)
    val dataBefore = lines(v0).toSet
    val mtimesBefore = dataBefore.map(p =>
      p -> fs.getFileStatus(new Path(root, p)).getModificationTime).toMap

    val (v1, annotated, untouched) = deleteWhere(spark, table,
      col("par") === "odd" && col("id") <= 20)
    assert(v1 == v0 + 1 && annotated >= 1 && untouched >= 1,
      s"($v1, $annotated, $untouched)")
    // the data-file PATH set is unchanged — no file was rewritten, and
    // every file's bytes are untouched (the MOR bargain)
    assert(lines(v1).toSet == dataBefore,
      "MOR delete changed the data-file set")
    dataBefore.foreach { p =>
      assert(fs.getFileStatus(new Path(root, p)).getModificationTime ==
        mtimesBefore(p), s"MOR delete rewrote $p")
    }
    // visible state: the 10 matched rows are gone, nothing else
    val ids = readSnapshot(spark, table).select("id")
      .as[Long].collect().toSet
    assert(ids == (1L to 100L).filterNot(i =>
      i % 2 == 1 && i <= 20).toSet)
    // pinned reader at the pre-delete version still sees everything
    assert(readSnapshot(spark, table, Some(v0)).count() == 100)
    // second delete on the same table: dv groups UNION
    deleteWhere(spark, table, col("id") === 99L)
    assert(readSnapshot(spark, table).count() == 89)
    // skipping reads apply dvs too
    assert(readSnapshotRange(spark, table, "id", 1L, 100L).count() == 89)
    // compaction materializes: no dv group survives, state unchanged
    compactSnapshot(spark, table, sortBy = Seq("id"))
    assert(readSnapshot(spark, table).count() == 89)
    assert(readSnapshot(spark, table).select("id").as[Long]
      .collect().toSet == ids - 99L)
    // vacuum: dv sidecars referenced only by expired versions are swept
    val (_, removed) = expireSnapshots(spark, table, keepLast = 1, 0L)
    assert(removed > 0, "expected pre-compaction files+sidecars swept")
    assert(readSnapshot(spark, table).count() == 89)
  }

  test("equality upsert: zero data files touched, masks scoped per commit, state ≡ COW") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/eq_upsert"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val rows = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", i * 10.0)).toDF("id", "par", "v")
    commitSnapshot(spark, table, rows.where(col("par") === "even"),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(spark, table, rows.where(col("par") === "odd"))
    val v0 = currentVersion(fs, root)
    def dataLines(v: Int) = versionFileEntries(fs, root, v).map(_._1)
    val before = dataLines(v0).toSet
    val mtimes = before.map(p =>
      p -> fs.getFileStatus(new Path(root, p)).getModificationTime).toMap
    // CDC update batch: ids 1..20 re-land with v doubled — the upsert
    // must mask every PRE-EXISTING version of those keys and keep its
    // own appended rows unmasked
    val batch = (1L to 20L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", i * 20.0))
      .toDF("id", "par", "v")
    val (v1, annotated, appended) =
      upsertByKeys(spark, table, batch, "id")
    assert(v1 == v0 + 1 && annotated >= 2 && appended >= 1,
      s"($v1, $annotated, $appended)")
    before.foreach { p =>
      assert(fs.getFileStatus(new Path(root, p)).getModificationTime ==
        mtimes(p), s"equality upsert rewrote $p")
    }
    val cur = readSnapshot(spark, table).select("id", "v")
      .as[(Long, Double)].collect().toMap
    assert(cur.size == 100, s"expected 100 live rows, got ${cur.size}")
    assert((1L to 20L).forall(i => cur(i) == i * 20.0),
      "upserted keys must serve the NEW row version")
    assert((21L to 100L).forall(i => cur(i) == i * 10.0),
      "non-upserted keys must be untouched")
    // pinned pre-upsert reader sees pre-upsert values
    assert(readSnapshot(spark, table, Some(v0)).where(col("id") === 5L)
      .select("v").as[Double].head() == 50.0)
    // masks apply through the skipping read path too
    assert(readSnapshotRange(spark, table, "id", 1L, 20L).count() == 20)
    // tombstone batch (CDC delete): keys only, no data appended
    val (v2, _, app2) = upsertByKeys(spark, table,
      Seq(99L, 100L).toDF("id"), "id", deleteOnly = true)
    assert(app2 == 0)
    assert(readSnapshot(spark, table).count() == 98)
    // masks ACCUMULATE and the newest version wins: id 1 again
    upsertByKeys(spark, table,
      Seq((1L, "odd", 999.0)).toDF("id", "par", "v"), "id")
    assert(readSnapshot(spark, table).where(col("id") === 1L)
      .select("v").as[Double].head() == 999.0)
    // guards: a different key column refuses (masks would mis-key);
    // branch/clone refuse a masked head
    val eKey = intercept[Exception] {
      upsertByKeys(spark, table,
        Seq(("odd", 1.0)).toDF("par", "v"), "par")
    }
    assert(eKey.getMessage.contains("keyed on"), eKey.getMessage)
    val eBr = intercept[Exception] {
      createBranch(spark, table, "audit_eq")
    }
    assert(eBr.getMessage.contains("row masks"), eBr.getMessage)
    // dropping the live eq KEY column would break every masked read
    val eDrop = intercept[Exception] {
      dropColumns(spark, table, Seq("id"))
    }
    assert(eDrop.getMessage.contains("equality deletes"),
      eDrop.getMessage)
    // compaction materializes every mask; state preserved exactly
    val expected = readSnapshot(spark, table).select("id", "v")
      .as[(Long, Double)].collect().toSet
    compactSnapshot(spark, table, sortBy = Seq("id"))
    assert(!versionMasks(fs, root, currentVersion(fs, root))._2,
      "compaction must materialize equality deletes away")
    assert(readSnapshot(spark, table).select("id", "v")
      .as[(Long, Double)].collect().toSet == expected)
    // post-compaction the key column may change (masks are gone)
    val (_, _, _) = upsertByKeys(spark, table,
      Seq((0L, "even", 0.0)).toDF("id", "par", "v"), "par")
    assert(readSnapshot(spark, table).count() == expected.size - 49 + 1,
      "par-keyed upsert masks every 'even' row and lands one")
  }

  test("composite-key equality upsert: struct match, eq state ≡ COW, r19 byte-compat") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/eq_upsert_multi"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two tenants share the id space — the multi-tenant CDC shape
    val rows = for (t <- Seq("a", "b"); i <- 1L to 50L)
      yield (t, i, i * 10.0)
    commitSnapshot(spark, table, rows.toDF("tenant", "id", "v"),
      props = Map(RowLevelModeProp -> "mor"))
    // upsert tenant a's ids 1..10 — tenant b's SAME ids must survive
    val batch = (1L to 10L).map(i => ("a", i, i * 20.0))
      .toDF("tenant", "id", "v")
    val (v1, _, _) =
      upsertByKeys(spark, table, batch, Seq("tenant", "id"), false)
    val cur = readSnapshot(spark, table).select("tenant", "id", "v")
      .as[(String, Long, Double)].collect()
      .map { case (t, i, v) => (t, i) -> v }.toMap
    assert(cur.size == 100)
    assert((1L to 10L).forall(i => cur(("a", i)) == i * 20.0),
      "tenant a's upserted keys must serve the new version")
    assert((1L to 50L).forall(i => cur(("b", i)) == i * 10.0),
      "tenant b must be untouched — composite match, not id-only")
    // eq state ≡ COW DELETE on the same predicate
    val expect = readSnapshot(spark, table).select("tenant", "id", "v")
      .as[(String, Long, Double)].collect().toSet
    val cow = "target/graft_io/spec/eq_upsert_multi_cow"
    dropTable(spark, cow)
    commitSnapshot(spark, cow, rows.toDF("tenant", "id", "v"))
    deleteWhere(spark, cow, col("tenant") === "a" && col("id") <= 10L)
    commitSnapshot(spark, cow, batch)
    assert(readSnapshot(spark, cow).select("tenant", "id", "v")
      .as[(String, Long, Double)].collect().toSet == expect,
      "composite eq state must equal COW delete+append on the predicate")
    // composite tombstones: ('a', 1..5) die; ('b', 1..5) live
    upsertByKeys(spark, table,
      (1L to 5L).map(("a", _)).toDF("tenant", "id"), Seq("tenant", "id"),
      true)
    assert(readSnapshot(spark, table).count() == 95)
    assert(readSnapshot(spark, table)
      .where(col("tenant") === "b" && col("id") <= 5L).count() == 5)
    // a row with a NULL in ANY key component never matches
    upsertByKeys(spark, table,
      Seq((null.asInstanceOf[String], 6L)).toDF("tenant", "id"),
      Seq("tenant", "id"), true)
    assert(readSnapshot(spark, table).count() == 95)
    // key-list consistency: a single-column upsert on a composite-keyed
    // table refuses until compaction
    val e = intercept[Exception] {
      upsertByKeys(spark, table, Seq(("a", 7L, 0.0))
        .toDF("tenant", "id", "v"), "id")
    }
    assert(e.getMessage.contains("keyed on"), e.getMessage)
    // pinned pre-upsert reader unaffected
    assert(readSnapshot(spark, table, Some(v1 - 1)).count() == 100)
    // r19 byte-compat: a SINGLE-column annotation written by the Seq
    // path carries no comma — the legacy parser grammar unchanged
    val single = "target/graft_io/spec/eq_upsert_single"
    dropTable(spark, single)
    commitSnapshot(spark, single, rows.toDF("tenant", "id", "v"),
      props = Map(RowLevelModeProp -> "mor"))
    upsertByKeys(spark, single, (1L to 3L).map(("a", _, 0.0))
      .toDF("tenant", "id", "v"), Seq("id"), false)
    val sroot = new Path(single)
    val annotated = manifestLinesOf(spark, single,
      currentVersion(fs, sroot)).filter(_.contains("@eq"))
    assert(annotated.nonEmpty)
    assert(annotated.forall { l =>
      val body = l.substring(l.indexOf("@eq"))
      !body.split('\t')(1).contains(',')
    }, "single-column annotation must stay in the r19 grammar")
  }

  test("upsert annotations are stats-pruned: bounds that refute the batch skip @eq") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/eq_upsert_pruned"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // id-clustered files with recorded bounds: four disjoint ranges
    (0 until 4).foreach { k =>
      commitSnapshot(spark, table,
        (k * 100L until (k + 1) * 100L).map(i => (i, i * 1.0))
          .toDF("id", "v").coalesce(1),
        statsColumns = Seq("id"),
        props = if (k == 0) Map(RowLevelModeProp -> "mor") else Map.empty)
    }
    // batch keys live entirely in file 1's range → only it annotates
    val batch = (150L to 160L).map(i => (i, i * 2.0)).toDF("id", "v")
    val (_, annotated, _) = upsertByKeys(spark, table, batch, "id")
    assert(annotated == 1,
      s"bounds refute 3 of 4 files; annotated $annotated")
    val cur = readSnapshot(spark, table).select("id", "v")
      .as[(Long, Double)].collect().toMap
    assert(cur.size == 400)
    assert((150L to 160L).forall(i => cur(i) == i * 2.0))
    assert(cur(149L) == 149.0 && cur(161L) == 161.0)
    // keys BEYOND every recorded range: pure insert, zero annotations
    val (_, ann2, app2) = upsertByKeys(spark, table,
      Seq((1000L, 1.0)).toDF("id", "v"), "id")
    assert(ann2 == 0 && app2 >= 1,
      s"out-of-range batch must annotate nothing ($ann2, $app2)")
    assert(readSnapshot(spark, table).count() == 401)
    // stats stay one-sided: a stats-less file always annotates
    commitSnapshot(spark, table,
      Seq((2000L, 1.0)).toDF("id", "v")) // no statsColumns
    val (_, ann3, _) = upsertByKeys(spark, table,
      Seq((5000L, 5.0)).toDF("id", "v"), "id")
    assert(ann3 == 1, s"the one stats-less line must annotate ($ann3)")
    assert(readSnapshot(spark, table).count() == 403)
    // an annotated masked read equals the brute recompute
    assert(readSnapshot(spark, table).where(col("id") === 155L)
      .select("v").as[Double].head() == 310.0)
  }

  test("expire keeps a key-set data file while a retained version's @eq names it") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/eq_upsert_expire"
    dropTable(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def head = currentVersion(fs, root)
    def pathOf(l: String) = l.takeWhile(_ != '\t')
    def rows(v: Int) = readSnapshot(spark, table, Some(v)).select("id", "v")
      .as[(Long, Double)].collect().toSet
    commitSnapshot(spark, table,
      (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1),
      props = Map(RowLevelModeProp -> "mor"))
    upsertByKeys(spark, table,
      Seq((5L, 50.0), (1000L, 1.0)).toDF("id", "v").coalesce(1), "id")
    val keyRel = manifestLinesOf(spark, table, head).flatMap(entryEqs)
      .map(_._1).distinct
    assert(keyRel.size == 1, keyRel)
    val keyFile = new Path(root, keyRel.head)
    // a copy-on-write replaceWhere rewrites the key file alone (no other
    // file holds an id >= 1000): the head then names it only through
    // the base file's @eq group
    replaceWhere(spark, table, Seq((1000L, 2.0)).toDF("id", "v"),
      col("id") >= 1000L)
    val vEq = head
    val eqLines = manifestLinesOf(spark, table, vEq)
    assert(!eqLines.map(pathOf).contains(keyRel.head) &&
      eqLines.flatMap(entryEqs).map(_._1).contains(keyRel.head))
    val expected = (0L until 100L).filter(_ != 5L).map(i => (i, i * 1.0))
      .toSet ++ Set((5L, 50.0), (1000L, 2.0))
    assert(rows(vEq) == expected)
    // compaction drops every line naming it from the head
    compactSnapshot(spark, table)
    assert(!manifestLinesOf(spark, table, head).exists(l =>
      pathOf(l) == keyRel.head || entryEqs(l).nonEmpty))
    expireSnapshots(spark, table, keepLast = 2, orphanOlderThanMs = 0)
    assert(fs.exists(keyFile),
      "expire swept a key file a retained version's @eq group names")
    assert(rows(vEq) == expected && rows(head) == expected)
    expireSnapshots(spark, table, keepLast = 1, orphanOlderThanMs = 0)
    assert(!fs.exists(keyFile), "a key file no version names survived")
    assert(rows(head) == expected)
  }

  test("concurrent MOR deletes on disjoint files both land through the CAS rebase") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/mor_concurrent"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // three single-file commits with disjoint key ranges
    commitSnapshot(spark, table,
      (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(spark, table,
      (100L until 200L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    commitSnapshot(spark, table,
      (200L until 300L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    // two racing MOR deletes touching DISJOINT files: the CAS loser must
    // rebase its dv-annotated lines onto the winner's head (its input
    // lines are untouched there), so BOTH deletes land — the documented
    // composition contract at RowLevelModeProp
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ths = Seq(
      new Thread(() =>
        try deleteWhere(spark, table, col("id") < 50)
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try deleteWhere(spark, table, col("id") >= 250)
        catch { case t: Throwable => errs.add(t) }))
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(errs.isEmpty, s"concurrent disjoint MOR deletes failed: " +
      errs.toArray.mkString("; "))
    val ids = readSnapshot(spark, table).select("id")
      .as[Long].collect().toSet
    assert(ids == (50L until 250L).toSet,
      s"expected exactly [50,250) to survive, got ${ids.size} ids")
    // and no data file was rewritten by either delete
    val paths = versionFileEntries(fs, root,
      currentVersion(fs, root)).map(_._1)
    assert(paths.size == 3, s"MOR deletes changed the file set: $paths")
  }

  test("manifest line parsers: a legacy size-token-less line gaining a" +
      " dv group keeps the dv (r17 ADVICE)") {
    import ops.Layout._
    // pre-size-token line grammar: `path` with groups directly after —
    // the first tab field is a group's COLUMN slot. When that slot is
    // the dv group's `@dv`, a parser that skipped any '@'-token as the
    // size would drop the dv and resurrect position-deleted rows.
    val legacyDv = "data/txn-a/part-0.parquet\t@dv\tD:data%2Fdv%2Fs1.parquet\tD:"
    assert(entryDvs(legacyDv) == Seq("data/dv/s1.parquet"))
    assert(entrySize(legacyDv).isEmpty)
    assert(entryBounds(legacyDv).isEmpty)
    assert(entryBlooms(legacyDv).isEmpty)
    // legacy line with a bounds group first — still no size token
    val legacyBounds = "p.parquet\tid\tL:1\tL:9\t@dv\tD:dv.parquet\tD:"
    assert(entryBounds(legacyBounds) == Map("id" -> LongBounds(1, 9)))
    assert(entryDvs(legacyBounds) == Seq("dv.parquet"))
    assert(entrySize(legacyBounds).isEmpty)
    // modern line: size token consumed exactly once, groups intact
    val modern = "p.parquet\t@123\tid\tL:1\tL:9\t@dv\tD:dv.parquet\tD:"
    assert(entrySize(modern).contains(123L))
    assert(entryBounds(modern) == Map("id" -> LongBounds(1, 9)))
    assert(entryDvs(modern) == Seq("dv.parquet"))
  }

  test("renameColumn composes with MOR deletes and the evolution guard" +
      " (id-mapped table)") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/rename_mor"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    commitSnapshot(spark, table,
      (0L until 100L).map(i => (i, i * 2.0)).toDF("id", "v").coalesce(1),
      props = Map(ColumnMappingProp -> "id", RowLevelModeProp -> "mor"))
    commitSnapshot(spark, table,
      (100L until 200L).map(i => (i, i * 2.0)).toDF("id", "v").coalesce(1))
    renameColumn(spark, table, "v", "w")
    // dv-applying read under the renamed schema: predicate on the NEW
    // name reaches files written under the OLD name (field-id match)
    deleteWhere(spark, table, col("w") < 20.0)
    val got = readSnapshot(spark, table)
    assert(got.columns.toSeq == Seq("id", "w"))
    assert(got.count() == 190)
    assert(got.agg(min(col("w"))).head.getDouble(0) == 20.0)
    // appends on a mapped table never mint ids: unknown column refuses
    val ex = intercept[Exception] {
      commitSnapshot(spark, table,
        Seq((9999L, 1.0, "x")).toDF("id", "w", "extra"))
    }
    assert(ex.getMessage.contains("ADD COLUMN"),
      s"wrong refusal: ${ex.getMessage}")
    // DDL assigns the id; the append then lands, old rows null-fill
    addColumns(spark, table, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType)))
    commitSnapshot(spark, table,
      Seq((9999L, 1.0, "x")).toDF("id", "w", "extra"))
    val evolved = readSnapshot(spark, table)
    assert(evolved.where(col("extra").isNotNull).count() == 1)
    assert(evolved.count() == 191)
    // rename the evolved column too — fresh id carries
    renameColumn(spark, table, "extra", "note")
    assert(readSnapshot(spark, table)
      .where(col("note") === "x").count() == 1)
  }

  test("a dropped column's field id is never reused: re-adding the name " +
      "reads NULL from the old files (id-mapped table)") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/drop_readd_ids"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    commitSnapshot(spark, table, Seq((1L, "s1"), (3L, "s3")).toDF("k", "v"),
      props = Map(ColumnMappingProp -> "id"))
    def idOf(c: String) = snapshotLayout(spark, table, None)._2.get
      .apply(c).metadata.getLong(FieldIdKey)
    val dropped = idOf("v")
    dropColumns(spark, table, Seq("v"))
    addColumns(spark, table, Seq(org.apache.spark.sql.types.StructField(
      "v", org.apache.spark.sql.types.StringType)))
    assert(idOf("v") > dropped, s"re-added v took id ${idOf("v")}")
    assert(readSnapshot(spark, table).where(col("v").isNotNull).count() == 0)
    commitSnapshot(spark, table, Seq((5L, "new")).toDF("k", "v"))
    assert(readSnapshot(spark, table).orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, None), (3L, None), (5L, Some("new"))))
    // the high-water mark is the commit protocol's own: no DDL moves it
    val ex = intercept[IllegalArgumentException](
      setTableProps(spark, table, Map("graft.column.max_id" -> "1"), Nil))
    assert(ex.getMessage.contains("graft.column.max_id"))
    intercept[IllegalArgumentException](
      setTableProps(spark, table, Map.empty, Seq("graft.column.max_id")))
  }

  test("a renamed-away name is retired from its field id: no other column " +
      "takes it, the table still reads, and a rename back keeps the id " +
      "(id-mapped table)") {
    import ops.Layout._
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
    val table = "target/graft_io/spec/rename_retired"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    commitSnapshot(spark, table, Seq((1L, 10), (3L, 30)).toDF("k", "v"),
      props = Map(ColumnMappingProp -> "id"))
    def idOf(c: String) = snapshotLayout(spark, table, None)._2.get
      .apply(c).metadata.getLong(FieldIdKey)
    val vId = idOf("v")
    renameColumn(spark, table, "v", "w")
    def rows() = readSnapshot(spark, table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    // the pre-rename file stores `w`'s data under the name `v`: a new `v`
    // would read it (INT32 read as a string fails every read)
    def refused(body: => Any): Unit = {
      val ex = intercept[IllegalArgumentException](body)
      assert(ex.getMessage.contains("retired by RENAME COLUMN") &&
        ex.getMessage.contains(s"field id $vId"), ex.getMessage)
    }
    refused(addColumns(spark, table, Seq(StructField("v", StringType))))
    refused(addColumns(spark, table, Seq(StructField("V", StringType))))
    refused(commitSnapshot(spark, table,
      Seq((5L, 50, "x")).toDF("k", "w", "v")))
    addColumns(spark, table, Seq(StructField("u", IntegerType)))
    refused(renameColumn(spark, table, "u", "v"))
    assert(readSnapshot(spark, table).columns.toSeq == Seq("k", "w", "u"))
    assert(rows() == Seq((1L, 10), (3L, 30)))
    // the protocol's own record: no DDL sets or drops it
    Seq(Map(RetiredColumnsProp -> "") -> Nil,
        Map.empty[String, String] -> Seq(RetiredColumnsProp)).foreach {
      case (set, unset) =>
        val ex = intercept[IllegalArgumentException](
          setTableProps(spark, table, set, unset))
        assert(ex.getMessage.contains(RetiredColumnsProp), ex.getMessage)
    }
    // the id that held the name takes it back, and its data with it
    renameColumn(spark, table, "w", "v")
    assert(idOf("v") == vId)
    assert(rows() == Seq((1L, 10), (3L, 30)))
    commitSnapshot(spark, table, Seq((5L, 50, 7)).toDF("k", "v", "u"))
    assert(rows() == Seq((1L, 10), (3L, 30), (5L, 50)))
    // now `w` is retired from the same id
    refused(addColumns(spark, table, Seq(StructField("w", StringType))))
  }

  test("compactDeletes rewrites ONLY dv'd files; the rest stay byte-identical") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/mor_compact_dv"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    commitSnapshot(spark, table,
      (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(spark, table,
      (100L until 200L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    commitSnapshot(spark, table,
      (200L until 300L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1))
    deleteWhere(spark, table, col("id") < 30) // dv on file 1 only
    val v0 = currentVersion(fs, root)
    val pathsBefore = versionFileEntries(fs, root, v0).map(_._1)
    val mtimes = pathsBefore.map(p =>
      p -> fs.getFileStatus(new Path(root, p)).getModificationTime).toMap
    val (v1, rewritten, untouched, bytesIn) = compactDeletes(spark, table)
    assert(v1 == v0 + 1 && rewritten == 1 && untouched == 2,
      s"($v1, $rewritten, $untouched)")
    assert(bytesIn > 0, "bytesRewritten must report the dv'd input bytes")
    // targeted: the two clean files carry BY LINE, bytes untouched; no
    // dv group survives; content exact
    val after = versionFileEntries(fs, root, v1).map(_._1)
    val carried = after.filter(pathsBefore.contains)
    assert(carried.size == 2, s"expected 2 carried files, got $carried")
    carried.foreach(p => assert(
      fs.getFileStatus(new Path(root, p)).getModificationTime == mtimes(p),
      s"compactDeletes touched clean file $p"))
    assert(!versionMasks(fs, root, v1)._1,
      "a dv group survived the targeted rewrite")
    assert(readSnapshot(spark, table).select("id").as[Long]
      .collect().toSet == (30L until 300L).toSet)
    // idempotent: with no live dvs it commits NOTHING
    val (v2, r2, _, b2) = compactDeletes(spark, table)
    assert(v2 == v1 && r2 == 0 && b2 == 0L,
      "no-op compactDeletes must not commit")
  }

  test("MOR merge: matched rows dv-deleted, updates+inserts append, state ≡ COW merge") {
    import ops.Layout._
    import spark.implicits._
    val cow = "target/graft_io/spec/mor_merge_cow"
    val mor = "target/graft_io/spec/mor_merge_mor"
    val fs = new Path(cow).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq(cow, mor).foreach(t => fs.delete(new Path(t), true))
    val base = (1L to 50L).map(i => (i, s"t$i", i * 1.5)).toDF("k", "tag", "v")
    commitSnapshot(spark, cow, base)
    commitSnapshot(spark, mor, base,
      props = Map(RowLevelModeProp -> "mor"))
    val morRoot = new Path(mor)
    val v0 = currentVersion(fs, morRoot)
    val dataBefore = versionFileEntries(fs, morRoot, v0).map(_._1).toSet
    // delta: update k%5==0, delete k%7==0 (non-deleted), insert k=100..104
    val delta = ((1L to 50L).filter(_ % 5 == 0).map(k =>
        (k, s"upd$k", k * 100.0, false)) ++
      (1L to 50L).filter(k => k % 7 == 0 && k % 5 != 0).map(k =>
        (k, "x", 0.0, true)) ++
      (100L to 104L).map(k => (k, s"new$k", k * 1.0, false)))
      .toDF("k", "tag", "v", "del")
    mergeInto(spark, cow, delta, "k", deleteWhen = Some(col("del")))
    val (_, _, nIns) =
      mergeInto(spark, mor, delta, "k", deleteWhen = Some(col("del")))
    assert(nIns == 5)
    // MOR: every pre-merge data file path survives (annotated, never
    // rewritten); new files appended for updates+inserts
    val headLines = versionFileEntries(fs, morRoot,
      currentVersion(fs, morRoot)).map(_._1).toSet
    assert(dataBefore.subsetOf(headLines),
      "MOR merge rewrote or dropped a pre-merge data file")
    assert(headLines.size > dataBefore.size, "no appended merge output")
    // visible state identical to the COW merge, row for row
    val a = readSnapshot(spark, cow).orderBy("k", "tag")
      .as[(Long, String, Double)].collect().toSeq
    val b = readSnapshot(spark, mor).orderBy("k", "tag")
      .as[(Long, String, Double)].collect().toSeq
    assert(a == b, s"MOR and COW merge states differ:\n$a\n$b")
    // a key whose only rows are dv-deleted re-INSERTS on a later merge
    val re = Seq((7L, "back", 7.0, false)).toDF("k", "tag", "v", "del")
    mergeInto(spark, mor, re, "k")
    assert(readSnapshot(spark, mor).where(col("k") === 7L)
      .as[(Long, String, Double)].collect().toSeq == Seq((7L, "back", 7.0)))
  }

  test("a create-with-data commit proves its OWN constraint props (r16 advice)") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/constrained_create"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // the r16 hole: the gate read constraints from the PRE-commit head
    // (none at v0), so a commit CARRYING its own graft.constraint.*
    // landed violating rows despite the 'bad rows never enter' invariant
    intercept[IllegalArgumentException] {
      commitSnapshot(spark, table, Seq((-1L, "bad")).toDF("k", "tag"),
        props = Map("graft.constraint.pos" -> "k >= 0"))
    }
    assert(currentVersion(fs, root) == 0,
      "a violating create-with-data commit published anyway")
    // nothing orphaned: the refused batch's txn dir is gone
    val dataDir = new Path(root, "data")
    val orphans = if (!fs.exists(dataDir)) 0
      else fs.listStatus(dataDir).count(_.getPath.getName.startsWith("txn-"))
    assert(orphans == 0, s"refused create left $orphans staged txn dirs")
    // and an UNPARSEABLE constraint (or bad bloom bits) through the
    // props parameter fails THIS statement instead of write-bricking
    // every later commit (validation now runs on the programmatic path)
    intercept[IllegalArgumentException] {
      commitSnapshot(spark, table, Seq((1L, "ok")).toDF("k", "tag"),
        props = Map("graft.constraint.broken" -> "k >=== 0"))
    }
    intercept[IllegalArgumentException] {
      commitSnapshot(spark, table, Seq((1L, "ok")).toDF("k", "tag"),
        props = Map("graft.stats.bloom.bits" -> "not-a-number"))
    }
    assert(currentVersion(fs, root) == 0)
    // the valid create-with-constraint commits, and the constraint is
    // live for the next batch
    commitSnapshot(spark, table, Seq((5L, "ok")).toDF("k", "tag"),
      props = Map("graft.constraint.pos" -> "k >= 0"))
    intercept[IllegalArgumentException] {
      commitSnapshot(spark, table, Seq((-2L, "bad2")).toDF("k", "tag"))
    }
    assert(readSnapshot(spark, table).count() == 1)
  }

  test("replaceWhere aborts when a racing append lands predicate-matching rows") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/replace_where_skew"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    commitSnapshot(spark, table,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "part", "v"))
    // the r16 advice's write skew: the affected set is computed against
    // v0; a commit landing part='a' rows between v0 and the publish
    // would survive the rebase — the statement then "replaced" part='a'
    // while matching rows it never saw remain. The conflict check must
    // abort instead (Delta's Serializable rule for replaceWhere).
    val incoming = Seq((3L, "a", 30.0)).toDF("id", "part", "v")
    intercept[IllegalArgumentException] {
      replaceWhereImpl(spark, table, incoming, col("part") === "a", Nil,
        () => { // the racing append, landed inside the window
          commitSnapshot(spark, table,
            Seq((9L, "a", 90.0)).toDF("id", "part", "v"))
        })
    }
    // the racing append's rows are intact; the aborted replace staged
    // nothing visible
    val rows = readSnapshot(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L, 9L), s"post-abort state: $rows")
    // a racing append that does NOT match the predicate must not abort
    val (v, _) = replaceWhereImpl(spark, table, incoming,
      col("part") === "a", Nil,
      () => {
        commitSnapshot(spark, table,
          Seq((10L, "c", 99.0)).toDF("id", "part", "v"))
      })
    assert(v > 0)
    val after = readSnapshot(spark, table).orderBy("id")
      .select("id", "part").as[(Long, String)].collect().toSeq
    // rows 1 and 9 (part='a' at entry) swapped for the incoming batch;
    // the non-matching racing append (10,'c') survives the rebase
    assert(after == Seq((2L, "b"), (3L, "a"), (10L, "c")),
      s"post-replace state: $after")
  }

  test("string-bounds pruning compares in UTF8 order — supplementary chars never lose rows") {
    import ops.Layout._
    import spark.implicits._
    val table = "target/graft_io/spec/utf8_collation"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // one file whose tag bounds straddle the UTF-16/UTF-8 disagreement:
    // Spark records min/max in UTF8String (binary UTF-8) order, where
    // U+FFFD (EF BF BD) < U+1F600 (F0 9F 98 80); Java String order puts
    // U+FFFD (0xFFFD) ABOVE the surrogate pair (0xD83D...), so a
    // Java-collated membership test concludes v > max and wrongly
    // prunes the file that CONTAINS the row (the r15 advice).
    val smiley = new String(Character.toChars(0x1F600))
    val rows = Seq((1L, "\uFFFD"), (2L, smiley)).toDF("id", "tag")
      .repartition(1)
    commitSnapshot(spark, table, rows, statsColumns = Seq("tag"))
    val got = readSnapshotWhere(spark, table,
      Seq(SkipEquals("tag", "\uFFFD")))
      .where(col("tag") === "\uFFFD").count()
    assert(got == 1,
      "file containing the match was pruned — bounds membership is " +
        "comparing in a different collation than the recorded bounds")
    // and pruning still WORKS above the max in both collations
    val (kept, total) = fileSelection(spark, table,
      Seq(SkipEquals("tag", smiley + "z")))
    assert(kept.isEmpty && total >= 1,
      s"out-of-range probe should prune everything ($kept/$total)")
  }

  test("publishNoReplace never overwrites: an occupied version survives byte-identical") {
    import ops.Layout._
    val dir = new Path("target/graft_io/spec/publish_arbiter/manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir.getParent, true)
    fs.mkdirs(dir)
    def write(p: Path, s: String): Unit = {
      val out = fs.create(p, false)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    def read(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // the lost-race branch the UUID verify narrows elsewhere: here the
    // destination is ALREADY another writer's live manifest — the
    // publish must fail atomically and leave the winner's bytes intact
    // (POSIX rename(2) would have silently replaced them)
    val dst = new Path(dir, "v1.manifest")
    val tmp = new Path(dir, ".v1.tmp-ours")
    write(dst, "#commit\tforeign-winner\nwinner.parquet")
    write(tmp, "#commit\tours\nours.parquet")
    assert(!publishNoReplace(fs, tmp, dst),
      "publish over an occupied version must report a lost race")
    assert(read(dst) == "#commit\tforeign-winner\nwinner.parquet",
      "the foreign winner's manifest was clobbered")
    assert(!fs.exists(tmp), "the loser's tmp must be consumed")
    // the won-race branch: a fresh destination publishes our bytes
    val tmp2 = new Path(dir, ".v2.tmp-ours")
    val dst2 = new Path(dir, "v2.manifest")
    write(tmp2, "#commit\tours2\nours2.parquet")
    assert(publishNoReplace(fs, tmp2, dst2))
    assert(read(dst2) == "#commit\tours2\nours2.parquet")
    assert(!fs.exists(tmp2))
  }

  test("eight concurrent writers: every commit lands, serialized 1..8, rows conserved") {
    import ops.Layout._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = "target/graft_io/spec/orders_snapshot_race8"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val o = Tables.orders(spark, sf).select(col("o_orderkey"))
    // eight writers race the SAME link(2)-arbitrated version sequence;
    // any silently dropped commit shows up as missing rows
    val fs8 = (0 until 8).map(i => Future(commitSnapshot(spark, table,
      o.where(pmod(col("o_orderkey"), lit(8)) === i))))
    val versions = fs8.map(Await.result(_, 300.seconds)).sorted
    assert(versions == (1 to 8),
      s"expected serialized versions 1..8 — got $versions")
    assert(readSnapshot(spark, table).count() == o.count(),
      "a racing commit's rows were lost")
  }

  test("a bad stats column name fails BEFORE staging — no orphaned txn dir") {
    import ops.Layout._
    val table = "target/graft_io/spec/stats_validation"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    intercept[IllegalArgumentException] {
      commitSnapshot(spark, table, Tables.nation(spark, sf),
        statsColumns = Seq("bad\tname"))
    }
    assert(!fs.exists(new Path(root, "data")),
      "the refused commit staged files it then orphaned")
    intercept[IllegalArgumentException] {
      compactSnapshot(spark, table, statsColumns = Seq("@bad"))
    }
    assert(!fs.exists(root) || fs.listStatus(root).isEmpty)
  }
}
