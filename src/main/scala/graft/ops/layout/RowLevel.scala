package graft.ops
package layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types
import graft.ControlPlane
import org.apache.hadoop.fs.{FileSystem, Path}

/** Row-level verbs (delete, upsert, replace, merge) and table history.
  * Mixed into [[graft.ops.Layout]]. */
private[ops] trait RowLevel { this: Layout.type =>
  /** Copy-on-write row-level DELETE — the next most-used lifecycle verb
    * after append/compact (GDPR erasure, late-fact correction): rewrite
    * ONLY the files that contain matching rows, REPLACE-commit the swap.
    * Mechanics: (1) one pruned scan over the head snapshot finds the
    * affected files ([[affectedGrps]]: the predicate pushes into the
    * parquet scan, so row-group stats skip most files before any row is
    * read, and a row already deleted marks no file); (2) only those
    * files are re-read and rewritten with the predicate negated into a
    * new txn dir; (3) the CAS commits head − affected + rewritten
    * ([[rewriteCommit]]). Untouched files keep their manifest
    * entries and are never opened for write — at 100 TB a selective
    * delete costs the affected files, not the table. The delete applies
    * to rows visible in the snapshot read at entry; an append racing
    * past the CAS is rebased over with all its rows intact (standard
    * copy-on-write semantics — a format-level conflict check would
    * abort instead; documented trade-off). Returns
    * (newVersion, filesRewritten, filesUntouched). */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: Column): (Int, Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"deleteWhere: no committed version in $table")
    if (morEnabled(propsOf(fs, root, v0)))
      return graft.Phase("deleteWhere", "sidecar") {
        deleteWhereMor(spark, fs, root, table, v0, predicate)
      }
    val files = manifestFiles(fs, root, v0)
    val (affected, untouched) = byGrp(files,
      graft.Phase("deleteWhere", "probe") {
        ControlPlane(
          affectedGrps(spark, fs, root, v0, files, _.where(predicate)))
          .collect().map(_.getString(0)).toSet
      })
    if (affected.isEmpty) return (v0, 0, untouched.size)
    // SQL DELETE semantics: remove rows where the predicate is TRUE —
    // rows where it evaluates NULL are KEPT (a bare !predicate would
    // drop them, silently deleting every row with a null in a predicate
    // column). Dv-aware read: rows a prior MOR delete removed must not
    // resurrect through this rewrite (the new line carries no dv group).
    val kept = readManifestLines(spark, fs, root, v0, affected)
      .where(!coalesce(predicate, lit(false)))
    // rewritten files re-record the table's stats columns (if any):
    // without this, every delete would silently strip a skipping
    // table's pruning — the guard compactSnapshot already carries
    val (v, _) = graft.Phase("deleteWhere", "rewrite") {
      rewriteCommit(spark, fs, root, kept, statsColumnsOf(fs, root, v0))(
        replaceCommit(fs, root, "deleteWhere", affected.toSet, _))
    }
    (v, affected.size, untouched.size)
  }

  /** `lines` read dv-applied with the position currency retained:
    * data columns + `__grp` (the file's group key, [[grpOfRel]]) +
    * `__pos` (its 0-based row ordinal) — what a MOR write needs to
    * record the matched positions, and what names a file for every
    * row-level verb. Position deletes mask in the scan task
    * ([[linesMask]]); equality deletes only with `withEqs`. */
  private def readLinesPos(spark: SparkSession, fs: FileSystem,
      root: Path, v: Int, lines: Seq[String],
      withEqs: Boolean = false): DataFrame = {
    val frame = readVersionFiles(spark, fs, root, v,
      lines.map(l => new Path(root, entryPath(l)).toString))
    (if (lines.forall(l => entryDvs(l).isEmpty &&
        (!withEqs || entryEqs(l).isEmpty))) frame
     else frame.where(linesMask(spark, fs, root, frame, lines, withEqs)))
      .withColumn("__grp",
        substring_index(col("_metadata.file_path"), "/", -2))
      .withColumn("__pos", col("_metadata.row_index"))
  }

  /** The files of `lines` a row-level verb touches: the distinct
    * `__grp` keys of the LIVE rows (position and equality deletes
    * masked) that `matching` keeps, read under `v`'s recorded schema —
    * a file whose only matching rows are already deleted is not
    * affected. [[byGrp]] splits the lines by the collected keys. */
  private def affectedGrps(spark: SparkSession, fs: FileSystem, root: Path,
      v: Int, lines: Seq[String],
      matching: DataFrame => DataFrame): DataFrame =
    matching(readLinesPos(spark, fs, root, v, lines, withEqs = true))
      .select(col("__grp")).distinct()

  /** `lines` split into (those whose file's group key is in `grps`,
    * the rest). */
  private[ops] def byGrp(lines: Seq[String], grps: Set[String])
      : (Seq[String], Seq[String]) =
    lines.partition(l => grps.contains(grpOfRel(entryPath(l))))

  /** Stage a (grp, pos) frame as ONE position-delete sidecar parquet
    * and learn which groups it covers. Returns (staged files, grp →
    * sidecar rel paths); a frame with no rows stages nothing (its txn
    * is dropped) and maps no group. The write task collects each
    * sidecar's groups as it writes them (`collect_set(grp)` per file),
    * so the pointer the manifest line needs comes from the same
    * evaluation of `positions` that staged the bytes — no read-back.
    * The position shuffle runs AQE-off at width 1 (one job, one
    * sidecar, like a tombstone upsert's key file): positions are two
    * narrow columns, the matching scan upstream keeps its parallelism,
    * and AQE's coalescing already made this write one task up to its
    * advisory partition size. Cost ∝ matched rows, never table size:
    * THE merge-on-read bargain. */
  private def stageDv(spark: SparkSession, fs: FileSystem, root: Path,
      positions: DataFrame): (Seq[Staged], Map[String, Seq[String]]) = {
    val staged = stageTxn(spark, fs, root,
      ControlPlane(positions.repartition(col("grp")), Some(1)),
      stamp = false, fileAggs = Seq(collect_set(col("grp")).as("grps")))
    val mapping = staged.filter(_.rows > 0L)
      .flatMap(s => s.values.getSeq[String](0).map(_ -> s.rel))
      .groupBy(_._1)
      .map { case (g, rels) => g -> rels.map(_._2).distinct.sorted }
    if (mapping.nonEmpty) (staged, mapping)
    else { dropStaged(fs, root, staged); (Nil, Map.empty) }
  }

  /** Merge-on-read DELETE (`graft.rowlevel.mode = 'mor'`, r16 verdict
    * task 1): instead of rewriting every file group containing a
    * matched row (copy-on-write — at 100 TB a trickle of GDPR /
    * dedup-driven point deletes makes that the dominant write cost),
    * record the matched (file, ordinal) pairs in a position-delete
    * sidecar parquet and swap the affected manifest lines for the same
    * lines with a dv pointer group appended ([[deleteCommit]]). Data
    * files are NEVER opened for write; delete cost ∝ matched rows.
    * Every snapshot read anti-applies the sidecars
    * ([[readManifestLines]]); [[compactSnapshot]] materializes them
    * away; pinned readers of pre-delete versions see pre-delete lines
    * (no dv group) and are untouched — the same isolation story as
    * every REPLACE commit. Returns (newVersion, filesAnnotated,
    * filesUntouched). */
  private def deleteWhereMor(spark: SparkSession, fs: FileSystem,
      root: Path, table: String, v0: Int, predicate: Column)
      : (Int, Int, Int) = {
    val files = manifestFiles(fs, root, v0)
    // matched LIVE positions (dv-applied: re-deleting an already
    // position-deleted row is a no-op, not a double entry)
    val matched = readLinesPos(spark, fs, root, v0, files)
      .where(predicate)
      .select(col("__grp").as("grp"), col("__pos").as("pos"))
    val (staged, grpToSidecars) = stageDv(spark, fs, root, matched)
    if (grpToSidecars.isEmpty) return (v0, 0, files.size)
    val v = deleteCommit(fs, root, "deleteWhereMor", files, grpToSidecars,
      Nil, staged)
    (v, grpToSidecars.size, files.size - grpToSidecars.size)
  }

  /** Merge-on-read EQUALITY upsert (r19 verdict task 7) — the CDC-sink
    * verb for writers that CANNOT read matched positions first (a
    * streaming `foreachBatch` must not re-scan a 100 TB table per
    * micro-batch): one commit that appends `batch`'s rows and annotates
    * every line present at the commit's head with equality-delete
    * pointers to the KEY SET — the data files this commit appends,
    * whose key columns hold exactly the batch's keys. A masked read
    * then drops those lines' rows by KEY ([[readManifestLines]]'
    * in-task mask, which reads only the key columns of each key file)
    * — the pre-existing row version dies, the appended one lives, and
    * files committed after this upsert (including its own) are never
    * masked (per-line scoping = Iceberg's sequence-number rule in the
    * line-copy currency). `deleteOnly = true` records a tombstone batch
    * (CDC deletes): it appends no data, so its key set is one staged
    * key-only file. Either way `batch` is evaluated once, by the one
    * staging write. [[compactSnapshot]] /
    * `CALL system.compact(only_dv => true)` materialize the masks.
    * Files are immutable, so a key file keeps holding the batch as
    * written after a later verb masks or compacts its own rows away;
    * [[expireSnapshots]] keeps every key file a retained version names.
    *
    * One OR MORE integral-or-string key columns (r20: composite CDC
    * keys — (tenant_id, id), (source, doc_id) — are the multi-tenant
    * shape; a row dies only when EVERY key column matches a key-file
    * row, plain multi-column anti-join semantics). Rows with a NULL in
    * ANY key column never match (SQL join semantics), on either side.
    * Requires `graft.rowlevel.mode='mor'`. All live eq annotations on a
    * table must share one key-column list — changing keys mid-stream
    * refuses until a compaction.
    *
    * Annotation is STATS-PRUNED per key file: the write's own tasks
    * compute each staged file's min/max on every key column, and a head
    * line skips a key file's `@eq` pointer when the file holds no
    * non-null key, or when on some key column the line's recorded
    * bounds and the file's range are disjoint. A table bucketed on a key
    * column compares the `#bucket` group both lines record as well, so
    * each line there takes one group per upsert, not one per appended
    * file; a table partitioned on a key column gets the same from the
    * key ranges alone. Masked-read cost then tracks delete LOCALITY
    * instead of table size on a key-clustered table.
    * One-sided as ever: no stats, stats on other columns, type drift or
    * any overlap → the line annotates (stats are an optimization, never
    * a correctness input). A table partitioned on a NON-key column
    * appends one file per partition value in the batch, so each
    * annotated line takes that many groups. Write cost ∝ the batch,
    * plus O(files) manifest-line annotation — zero data-file reads or
    * rewrites, the property that makes it a streaming sink.
    * Returns (newVersion, linesAnnotated, dataFilesAppended). */
  def upsertByKeys(spark: SparkSession, table: String, batch: DataFrame,
      keyCol: String): (Int, Int, Int) =
    upsertByKeys(spark, table, batch, Seq(keyCol), deleteOnly = false)

  def upsertByKeys(spark: SparkSession, table: String, batch: DataFrame,
      keyCol: String, deleteOnly: Boolean): (Int, Int, Int) =
    upsertByKeys(spark, table, batch, Seq(keyCol), deleteOnly)

  def upsertByKeys(spark: SparkSession, table: String, batch: DataFrame,
      keyCols: Seq[String], deleteOnly: Boolean): (Int, Int, Int) =
      graft.Phase("upsertByKeys", "stage") {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"upsertByKeys: no committed version in $table")
    require(keyCols.nonEmpty, "upsertByKeys: at least one key column")
    require(keyCols.distinct == keyCols,
      s"upsertByKeys: duplicate key columns: ${keyCols.mkString(", ")}")
    // same WAP discipline as every other mutating verb: under an
    // active spark.graft.wap.branch the session's INSERTs route to the
    // branch, so an upsert quietly landing on MAIN would be exactly
    // the unaudited write WAP exists to prevent
    val wap = spark.conf.get("spark.graft.wap.branch", "")
    require(wap.isEmpty,
      s"upsertByKeys on $table would mutate MAIN while " +
        s"spark.graft.wap.branch='$wap' routes INSERTs to the branch " +
        "— unset the conf first (WAP stages appends only)")
    require(morEnabled(propsOf(fs, root, v0)),
      s"upsertByKeys requires $RowLevelModeProp='mor' on $table — " +
        "equality deletes are a merge-on-read currency")
    keyCols.foreach { keyCol =>
      require(batch.columns.contains(keyCol),
        s"upsertByKeys: batch has no column '$keyCol' " +
          s"(batch columns: ${batch.columns.mkString(", ")})")
      batch.schema(keyCol).dataType match {
        case types.ByteType | types.ShortType | types.IntegerType |
             types.LongType | types.StringType => ()
        case dt => throw new IllegalArgumentException(
          s"upsertByKeys: key column '$keyCol' must be integral or " +
            s"string, got $dt")
      }
    }
    // each staged file's range on every key column, computed by the
    // write's own tasks; a null minimum = no non-null key in the file
    val rangeAggs = keyCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i")) }
    // the key set: the appended data files, or for a tombstone batch one
    // key-only file (micro-batch-bounded, so one task of a width-1
    // shuffle that AQE could not coalesce anyway: run AQE-off, one job)
    val staged =
      if (deleteOnly) stageTxn(spark, fs, root,
        ControlPlane(batch.select(keyCols.map(col): _*).repartition(1)),
        stamp = false, fileAggs = rangeAggs)
      else stageTxn(spark, fs, root, batch,
        statsColumns = statsColumnsOf(fs, root, v0), fileAggs = rangeAggs)
    val dataEntries = if (deleteOnly) Nil else staged.map(_.line)
    def bucketOnKey(g: String): Boolean = keyCols.exists(c =>
      g.matches("#bucket:\\d+:" + java.util.regex.Pattern.quote(c)))
    // per key file: its rel path and the groups a head line is checked
    // against — its key ranges, plus the `#bucket` group its own line
    // records on a key column. A file with no non-null key drops out:
    // it masks nothing.
    val keyFiles: Seq[(String, Map[String, ColBounds])] = staged.flatMap {
      s =>
        val ranges = keyCols.indices.map(i =>
          (s.values.get(2 * i), s.values.get(2 * i + 1)))
        if (ranges.exists(_._1 == null)) None
        else Some(s.rel ->
          (entryBounds(s.line).filter(g => bucketOnKey(g._1)) ++
            keyCols.zip(ranges).collect {
              case (c, (a: Number, b: Number)) =>
                c -> LongBounds(a.longValue, b.longValue)
              case (c, (a: String, b: String)) => c -> StrBounds(a, b)
            }))
    }
    /** true iff a line's recorded bounds `bs` and a key file's `f` are
      * disjoint on some group — the file's keys then provably miss every
      * row of the line. */
    def refuted(bs: Map[String, ColBounds],
        f: Map[String, ColBounds]): Boolean =
      f.exists { case (g, fb) =>
        bs.get(g).exists(lb => (lb, fb) match {
          case (LongBounds(mn, mx), LongBounds(a, b)) => b < mn || a > mx
          case (StrBounds(mn, mx), StrBounds(a, b)) =>
            !utf8Leq(mn, b) || !utf8Leq(a, mx)
          case _ => false // NumBounds, type drift: never skip
        })
      }
    var annotated = 0
    val v = try casCommit(fs, root, "upsertByKeys",
      { head =>
        val headLines = manifestFiles(fs, root, head)
        // key-column consistency, re-checked against the exact head
        // this attempt rebases onto (a racing upsert with another key
        // column list must refuse, not mis-mask)
        val prior = headLines.flatMap(entryEqs).map(_._2).distinct
        require(prior.forall(_ == keyCols),
          s"upsertByKeys: table carries equality deletes keyed on " +
            s"${prior.filterNot(_ == keyCols).map(_.mkString("+"))
              .mkString(", ")} — compact " +
            "them away before upserting on a different key")
        annotated = 0
        headLines.map { l =>
          val bs = entryBounds(l)
          val hits = keyFiles.filterNot(f => refuted(bs, f._2))
          if (hits.nonEmpty) annotated += 1
          hits.foldLeft(l)((acc, f) => withEqGroup(acc, f._1, keyCols))
        } ++ dataEntries
      },
      if (deleteOnly) head => schemaOf(fs, root, head)
      else appendSchemaFor(fs, root, batch))
    catch { case e: Throwable =>
      dropStaged(fs, root, staged)
      throw e
    }
    (v, annotated, dataEntries.size)
  }

  /** `INSERT INTO t REPLACE WHERE pred SELECT ...` — Delta's
    * replaceWhere, the idempotent-backfill verb: ONE atomic commit that
    * drops the predicate's existing rows (copy-on-write, only files
    * that can hold matching rows are rewritten) and lands `data` in
    * their place. Re-running the same backfill converges instead of
    * duplicating — the property nightly partition rebuilds need.
    *
    * Contract (same as Delta's default): every incoming row must
    * satisfy the predicate — otherwise the statement would silently
    * write rows OUTSIDE the range it claimed to replace, and a re-run
    * would duplicate them. The predicate must RESOLVE before anything
    * stages; the row check then runs against the STAGED BYTES (the
    * exact rows that will land — a pre-staging check of `data` would
    * validate a different evaluation of a possibly non-deterministic
    * query). A refused backfill deletes its txn dir.
    *
    * Returns (newVersion, filesRewritten). */
  def replaceWhere(spark: SparkSession, table: String, data: DataFrame,
      predicate: Column, statsColumns: Seq[String] = Nil): (Int, Int) =
    replaceWhereImpl(spark, table, data, predicate, statsColumns,
      () => ())

  /** [[replaceWhere]] with a test seam: `beforeCommit` runs after the
    * affected set is computed against v0 and before the CAS — the
    * window a racing append lands in. Production calls the no-op. */
  private[graft] def replaceWhereImpl(spark: SparkSession, table: String,
      data: DataFrame, predicate: Column, statsColumns: Seq[String],
      beforeCommit: () => Unit): (Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"replaceWhere: no committed version in $table")
    // the predicate must RESOLVE before anything stages — an analysis
    // error after staging would orphan the txn dir until vacuum
    data.where(!coalesce(predicate, lit(false))).queryExecution.analyzed
    // Stage the incoming batch, then validate the STAGED BYTES: the
    // offender check and the commit must see the same evaluation of
    // `data` — checking one evaluation and committing another would let
    // a non-deterministic (or concurrently-changing) source sneak
    // out-of-predicate rows past the check. A refused (or failed)
    // backfill deletes its txn dir, leaving nothing for vacuum.
    // The offender COUNT is a per-file aggregate of the staging write:
    // the write is the evaluation whose bytes commit, so its tasks
    // check exactly what lands, in no job of its own. Only the FAILURE
    // path reads the staged files back, to quote an offending row.
    val stats =
      if (statsColumns.nonEmpty) statsColumns
      else statsColumnsOf(fs, root, v0)
    val dataStaged = stageTxn(spark, fs, root, data, statsColumns = stats,
      fileAggs = Seq(count(when(!coalesce(predicate, lit(false)), 1))
        .as("off")))
    val stagedPaths = dataStaged.map(s => new Path(root, s.rel).toString)
    try {
      if (dataStaged.map(_.values.getLong(0)).sum > 0L) {
        val offenders = ControlPlane(readSidecars(spark, stagedPaths)
          .where(!coalesce(predicate, lit(false))).limit(1)).collect()
        throw new IllegalArgumentException(
          "replaceWhere: incoming data contains rows that do NOT " +
            s"satisfy the replace predicate (e.g. ${offenders.head}) — " +
            "widen the predicate or filter the source")
      }
    } catch {
      case e: Throwable => dropStaged(fs, root, dataStaged); throw e
    }
    val files = manifestFiles(fs, root, v0)
    val affected = byGrp(files, ControlPlane(
      affectedGrps(spark, fs, root, v0, files, _.where(predicate)))
      .collect().map(_.getString(0)).toSet)._1
    // survivors of the affected files (predicate-false/null rows carry)
    // stage as a second txn in the SAME commit — the swap is one
    // REPLACE CAS, never an observable delete-then-insert gap
    val carriedStaged =
      if (affected.isEmpty) Seq.empty[Staged]
      else stageTxn(spark, fs, root,
        readManifestLines(spark, fs, root, v0, affected)
          .where(!coalesce(predicate, lit(false))), statsColumns = stats)
    val added = (dataStaged ++ carriedStaged).map(_.line)
    val inputSet = affected.toSet
    val v0Lines = files.toSet
    beforeCommit()
    // Serializable conflict check (r16 advice): replaceCommit's subset
    // guard only catches a racing REPLACE that swapped our inputs out —
    // a racing APPEND that landed predicate-MATCHING rows between v0 and
    // the publish would survive the rebase, leaving the committed state
    // with rows this statement claimed to replace (write skew). Per CAS
    // attempt, scan any head lines that are not in the v0 line set (the
    // racing commits' files — cost ∝ their volume, not the table;
    // recorded bounds could short-circuit this, but the racing-append
    // case is rare enough that one pruned limit(1) scan is the simpler
    // sound check) and abort on the first matching row, exactly like
    // Delta's Serializable conflict rule for replaceWhere. A failed or
    // conflicted commit drops both staged txns (nothing orphaned).
    val v = try casCommit(fs, root, "replaceWhere", { head =>
      val headLines = manifestFiles(fs, root, head)
      require(inputSet.subsetOf(headLines.toSet),
        "replaceWhere: concurrent REPLACE conflict — another commit " +
          "swapped out input files of this operation; re-run it " +
          "against the new head")
      val foreign = headLines.filterNot(v0Lines)
        .map(l => new Path(root, entryPath(l)).toString)
        .filterNot(stagedPaths.toSet) // never our own staged batch
      if (foreign.nonEmpty) {
        val clash = ControlPlane(
          readVersionFiles(spark, fs, root, head, foreign)
            .where(predicate).limit(1)).collect()
        require(clash.isEmpty,
          "replaceWhere: concurrent conflict — another commit landed " +
            "rows matching the replace predicate after this statement " +
            "computed its affected set (e.g. " + clash.headOption
              .getOrElse("") + "); re-run it against the new head")
      }
      headLines.filterNot(inputSet) ++ added
    }, head => schemaOf(fs, root, head))
    catch { case e: Throwable =>
      dropStaged(fs, root, dataStaged ++ carriedStaged); throw e
    }
    (v, affected.size)
  }

  /** Copy-on-write MERGE (upsert) — SQL `MERGE INTO t USING s ON
    * t.key = s.key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`, the late-fact-correction verb that pairs with
    * [[deleteWhere]]. `source` must be unique on `key` (checked: a
    * two-source-rows-per-key merge is ambiguous) and share the table's
    * schema. Mechanics mirror the delete: (1) one scan of the head
    * snapshot left-semi-joined against the source keys finds the files
    * holding matched live rows ([[affectedGrps]]); (2) ONLY those files
    * are rewritten — their non-matched rows carried as-is, matched rows
    * replaced by the source row — and every not-matched source row is
    * appended to the same staged transaction; (3) the CAS commits
    * head − affected + staged. Untouched files never open for write, so
    * merge cost tracks the matched-file footprint plus the insert
    * volume, not the table. Scale note: the key join shuffles
    * (source-key, file) pairs only; Catalyst broadcasts the source side
    * when the delta is small, which is the common nightly-correction
    * shape.
    *
    * `deleteWhen` adds the third MERGE clause — `WHEN MATCHED AND
    * <cond> THEN DELETE`, the late-fact retraction every warehouse
    * MERGE eventually needs. The condition is evaluated on the SOURCE
    * row (typically a retraction marker column): matched target rows
    * whose source row satisfies it are deleted instead of updated, and
    * delete-marked source rows never insert. Returns (newVersion,
    * filesRewritten, rowsInserted). */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
                key: String, deleteWhen: Option[Column] = None)
      : (Int, Int, Long) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"mergeInto: no committed version in $table")
    // Materialize the source ONCE at entry: this verb evaluates it
    // several times (uniqueness aggregate, matched-file semi-join,
    // insert anti-join, update join), and a source that is expensive
    // or not perfectly deterministic across evaluations — a
    // concurrently-changing table, a nondeterministic expression —
    // could pass the uniqueness check yet yield duplicated or
    // inconsistent updates. Same reason Delta materializes its merge
    // source.
    val src = source
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val files = manifestFiles(fs, root, v0)
      // the LIVE rows (position and equality deletes masked): a source
      // key whose only target rows are deleted affects no file and
      // inserts
      val snapLive = readManifestLines(spark, fs, root, v0, files)
      // the source may carry EXTRA columns (e.g. the deleteWhen
      // marker); only the table's columns flow into updates/inserts —
      // but it must cover all of them
      val tcols = snapLive.columns.toSeq
      require(tcols.forall(src.columns.contains),
        "mergeInto: source must carry every table column; missing: " +
          tcols.filterNot(src.columns.contains).mkString(", "))
      // WHEN MATCHED [AND deleteWhen] THEN DELETE — the late-fact
      // retraction clause. The condition is evaluated on the SOURCE
      // row: delete-marked rows retract their matched target rows and
      // NEVER insert (a retraction of a row that no longer exists is a
      // no-op, not a resurrection); unmarked rows update-or-insert as
      // before.
      val upSrc = deleteWhen.fold(src)(c =>
        src.where(!coalesce(c, lit(false))))
      // One aggregate for the uniqueness check, not a count + a
      // distinct-count job (countDistinct skips NULLs, so unique ⇔
      // n == k + (1 if any null) — at most one NULL-keyed row is
      // allowed: it never matches the ON clause, so it is always a
      // plain insert, as in SQL MERGE). Files matched by EITHER clause
      // (update or delete keys) are affected.
      val uniq = src.agg(count(lit(1)).as("n"),
        countDistinct(col(key)).as("k"),
        count(when(col(key).isNull, 1)).as("nulls"))
      val affectedNames = affectedGrps(spark, fs, root, v0, files,
        _.join(src.select(col(key)), Seq(key), "left_semi"))
      // ONE control probe: the uniqueness aggregate and the
      // affected-file scan both read inputs already pinned for this
      // merge (the persisted source; the v0 snapshot), and neither
      // result depends on the other, so one unioned collect runs them as
      // a single scheduled job instead of two. The union rides a tagged
      // 4-column shape; the uniqueness row is the one with a NULL group
      // key (a scanned row's `__grp` is never NULL).
      // SnapshotIsolationSpec and the q_snapshot_merge oracle pin the
      // merge's results.
      val rows = ControlPlane(
        uniq.select(lit(null).cast("string").as("__grp"),
            col("n"), col("k"), col("nulls"))
          .unionByName(affectedNames.select(col("__grp"),
            lit(null).cast("long").as("n"),
            lit(null).cast("long").as("k"),
            lit(null).cast("long").as("nulls"))))
        .collect()
      val (us, as) = rows.partition(_.isNullAt(0))
      val (nTotal, nDistinct, nNulls) =
        (us.head.getLong(1), us.head.getLong(2), us.head.getLong(3))
      require(nTotal == nDistinct + math.min(nNulls, 1L),
        s"mergeInto: source is not unique on `$key`")
      val affected = byGrp(files, as.map(_.getString(0)).toSet)._1
      // not-matched non-delete source rows insert regardless of whether
      // any file matched; matched-file rows are rewritten with updates
      // applied. The anti-join runs against the LIVE key set
      // (dv-applied): a key whose only target rows were position-deleted
      // must INSERT, not silently vanish.
      //
      // r22 (guide §6 one-pass I/O): the insert set is consumed exactly
      // ONCE — the staged write's union — so the r21 persist and its
      // cache-materializing count job are gone; the inserted-row count
      // this verb returns rides the write itself as an observed metric
      // (the write already evaluates every insert row — a separate job
      // re-bought the same rows for one number). Single evaluation also
      // makes the r21 determinism concern moot, and the SOURCE stays
      // persisted above, pinning any nondeterminism where it can arise.
      val inserts = upSrc.select(tcols.map(col): _*)
        .join(snapLive.select(col(key)), Seq(key), "left_anti")
      val insObs = org.apache.spark.sql.Observation()
      // the observed handle is unioned into the staged write EXACTLY
      // once per branch below; any other plan use of the insert set
      // (the MOR empty-affected placeholder) takes the bare frame, so
      // the metric fires once, from the write that commits the rows
      val insertsObs = inserts.observe(insObs, count(lit(1)).as("n"))
      // rewritten + inserted files keep the table's recorded bounds, as
      // in deleteWhere; a staged union that proved empty (every row of
      // the affected files deleted, nothing inserted) adds no line
      val stats = statsColumnsOf(fs, root, v0)
      val (v, _) =
        if (morEnabled(propsOf(fs, root, v0))) {
          // merge-on-read MERGE: matched target rows (update AND delete
          // keys) are position-deleted via a dv sidecar; updated rows
          // and inserts append as new data files — ONE commit, write
          // cost ∝ matched + inserted rows, affected data files never
          // open for write (r16 verdict task 1)
          val updated =
            if (affected.isEmpty) inserts.where(lit(false))
            else readManifestLines(spark, fs, root, v0, affected)
              .select(col(key))
              .join(upSrc, Seq(key), "inner")
              .select(tcols.map(col): _*)
          // the sidecar stages inside the data write's tail: a failure
          // of either drops both stage sets
          rewriteCommit(spark, fs, root, updated.unionByName(insertsObs),
            stats) { added =>
            val (dvStaged, grpToSidecars) =
              if (affected.isEmpty)
                (Seq.empty[Staged], Map.empty[String, Seq[String]])
              else stageDv(spark, fs, root,
                readLinesPos(spark, fs, root, v0, affected, withEqs = true)
                  .join(src.select(col(key)), Seq(key), "left_semi")
                  .select(col("__grp").as("grp"), col("__pos").as("pos")))
            deleteCommit(fs, root, "mergeIntoMor", affected, grpToSidecars,
              added, dvStaged)
          }
        } else {
          val staged =
            if (affected.isEmpty) insertsObs
            else {
              // dv-aware: rows a prior MOR delete removed must not
              // resurrect through this rewrite
              val old = readManifestLines(spark, fs, root, v0, affected)
              // ONE left-outer join, not a carried(anti) +
              // updated(inner) pair, which would read the affected files
              // TWICE and shuffle/join them twice for decisions
              // derivable from a single probe of the (unique-keyed,
              // checked above) source. Per old row:
              //   no source match        → carry the old row
              //   match, deleteWhen-true → drop (ALL matched rows leave
              //                            the rewrite; deleted ones
              //                            never re-enter)
              //   match, unmarked        → the source row's table
              //                            columns (SQL MERGE updates
              //                            EACH matched target row — a
              //                            target holding N rows for a
              //                            key yields N updated rows,
              //                            which the left-outer join
              //                            preserves; the source side
              //                            is unique, so no fan-out)
              // NULL-keyed old rows never match (SQL join semantics)
              // and carry, exactly as the anti-join carried them.
              // Source columns ride under an internal prefix, minted
              // longer until no target or source column starts with it
              // (case-insensitively, as Spark resolves names), so no
              // user column can collide with an internal alias; the
              // key and marker aliases sit outside the `c_` namespace
              // the table columns take. MergeFusionSpec pins the result
              // against the two-join form (carried = anti-join,
              // updated = inner join).
              val names = (tcols ++ src.columns)
                .map(_.toLowerCase(java.util.Locale.ROOT))
              val pfx = Iterator.iterate("__graft_ms_")(_ + "_")
                .find(p => !names.exists(_.startsWith(p))).get
              val (sk, sdel) = (s"${pfx}k", s"${pfx}del")
              val marker = deleteWhen.fold(lit(false))(c =>
                coalesce(c, lit(false)))
              val srcSide = src.select(
                col(key).as(sk) +:
                  (tcols.filterNot(_ == key)
                    .map(c => col(c).as(s"${pfx}c_$c")) :+
                    marker.as(sdel)): _*)
              old.join(srcSide, old(key) === srcSide(sk), "left_outer")
                .where(col(sk).isNull || !col(sdel))
                .select(tcols.map { c =>
                  if (c == key) col(key)
                  else when(col(sk).isNotNull, col(s"${pfx}c_$c"))
                    .otherwise(col(c)).as(c)
                }: _*)
                .unionByName(insertsObs)
            }
          rewriteCommit(spark, fs, root, staged, stats)(
            replaceCommit(fs, root, "mergeInto", affected.toSet, _))
        }
      // the staged write evaluated the insert arm; its observed count is
      // THE inserted-row number (read after the action, so it never
      // blocks)
      (v, affected.size, insObs.get("n").asInstanceOf[Long])
    } finally src.unpersist()
  }

  // -- SQL row-level operation support (graft.sql.GraftRowLevel) -------
  // MERGE INTO / UPDATE / complex DELETE arrive through Spark's
  // group-based rewrite (SupportsRowLevelOperations): the planner reads
  // the affected file-groups through a COW scan and writes back their
  // surviving rows; these two verbs are the manifest-format half —
  // the group inventory the scan prunes, and the swap commit.

  /** A pinned version's manifest entries as (manifest line, qualified
    * absolute path, bytes) — the file-group inventory for a COW
    * row-level scan. The absolute path doubles as the `_file` metadata
    * value, so runtime group filtering compares exactly the strings
    * this list carries. */
  private[graft] def rowLevelEntries(spark: SparkSession, table: String,
      version: Int): Seq[(String, String, Long)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestFiles(fs, root, version).map { l =>
      val p = new Path(root, entryPath(l))
      (l, fs.makeQualified(p).toString,
        entrySize(l).getOrElse(fs.getFileStatus(p).getLen))
    }
  }

  /** The statistics a SQL row-level writer records on the files it
    * stages into `table` (rows of `schema`): the same [[commitStats]]
    * every rewrite verb records — the pinned `version`'s stats columns
    * under the head's props — evaluated by the writer task itself,
    * which renders its file's manifest line. */
  private[graft] def rowLevelStats(spark: SparkSession, table: String,
      version: Int, schema: types.StructType): CommitStats = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = currentVersion(fs, root)
    commitStats(spark, schema, statsColumnsOf(fs, root, version),
      if (head > 0) propsOf(fs, root, head) else Map.empty)
  }

  /** Commit a row-level rewrite: swap `affectedLines` (the groups the
    * COW scan read) for `added`, the manifest lines (statistics
    * included) of the files the writer tasks staged — one REPLACE CAS.
    * An empty `affectedLines` (no group matched, pure not-matched
    * inserts) degenerates to an append. */
  private[graft] def commitRewrite(spark: SparkSession, table: String,
      affectedLines: Set[String], added: Seq[String], op: String): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    replaceCommit(fs, root, op, affectedLines, added)
  }

  /** Commit a DELTA row-level write (the merge-on-read half of the SQL
    * row-level surface, [[graft.sql.GraftDeltaOperation]]): the tasks
    * staged data files (insert/update-new rows) and position-delete
    * sidecars; `grpToSidecars` says which sidecar(s) carry each data
    * file's deleted ordinals. ONE REPLACE CAS ([[deleteCommit]]) swaps
    * the affected lines for the same lines with dv groups appended and
    * adds the new data files — no pre-existing data file is ever
    * rewritten, so a SQL UPDATE/MERGE costs the matched+inserted rows,
    * not the matched-file bytes. Grps whose file was concurrently
    * compacted away surface as the standard REPLACE conflict (the
    * annotated line is no longer in the head). `dataLines` are the new
    * data files' manifest lines, as their writer tasks rendered them;
    * a failed commit leaves their txn to the write's abort. */
  private[graft] def commitDelta(spark: SparkSession, table: String,
      version: Int, grpToSidecars: Map[String, Seq[String]],
      dataLines: Seq[String], op: String): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    deleteCommit(fs, root, op, manifestFiles(fs, root, version),
      grpToSidecars, dataLines)
  }

  /** One-row table summary for `CALL system.detail`, the DESCRIBE
    * DETAIL analogue: (head version, live files, recorded bytes, schema
    * DDL, props, files carrying a live row mask, distinct mask files)
    * — the last two are the MOR-health signal: a mask is a position
    * delete or an equality delete ([[masked]]), a mask file a
    * position-delete sidecar or an equality-delete key file, and a
    * growing count says "schedule a compaction". O(manifest) metadata
    * reads, zero data-file IO at any table size. */
  def tableDetail(spark: SparkSession, table: String)
      : (Int, Int, Long, String, Map[String, String], Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentVersion(fs, root)
    require(v > 0, s"tableDetail: no committed version in $table")
    val lines = manifestFiles(fs, root, v)
    val entries = versionFileEntries(fs, root, v)
    val masks = lines.filter(masked)
      .map(l => entryDvs(l) ++ entryEqs(l).map(_._1))
    (v, entries.size, entries.flatMap(_._2).sum,
      schemaOf(fs, root, v).map(_.toDDL).getOrElse(""),
      propsOf(fs, root, v),
      masks.size, masks.flatten.distinct.size)
  }

  /** Per-version commit summary — the DESCRIBE HISTORY analogue:
    * (version, committed-at epoch-ms from the manifest's mtime, file
    * count, recorded bytes, commit UUID, committing verb), ascending by
    * version. Expired versions are absent by design. O(surviving
    * versions) manifest reads, zero data-file access — table size never
    * enters. Surfaced as SQL via `CALL <cat>.system.history('t')`
    * ([[graft.sql.GraftProcedures]]). */
  def history(spark: SparkSession, table: String)
      : Seq[(Int, Long, Int, Long, String, String)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new Path(root, "manifests")
    if (!fs.exists(mdir)) return Nil
    fs.listStatus(mdir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(n) =>
          val v = n.toInt
          val entries = versionFileEntries(fs, root, v)
          Some((v, st.getModificationTime, entries.size,
            entries.flatMap(_._2).sum,
            commitIdOf(fs, st.getPath).getOrElse(""),
            // the committing VERB (DESCRIBE HISTORY's operation
            // column); "" on pre-#op manifests
            opNameOf(fs, root, v).getOrElse("")))
        case _ => None
      }
    }.sortBy(_._1)
  }

}
