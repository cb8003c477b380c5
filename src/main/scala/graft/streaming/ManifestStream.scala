package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ops.Layout

/** Structured-streaming READ of a manifest snapshot table — the
  * "streaming table read" every production table format grows (Delta's
  * `readStream.format("delta")`, Iceberg's incremental streaming scan),
  * built on the same contract as the batch [[Layout.readChanges]]:
  * offsets are committed manifest VERSIONS, and each micro-batch is the
  * line-set difference between two versions, read as files.
  *
  * Why this is the 100 TB design: the source never lists directories —
  * per trigger it reads one small head-version probe plus at most two
  * manifests, regardless of table size, and each batch's scan opens
  * exactly the delta's files (schema pinned at start, no re-inference;
  * filters and projections still push into the per-batch parquet scan).
  * A file-monitoring stream over the same directory would both scale
  * with total file count per trigger AND surface uncommitted txn-dir
  * files; this source only ever sees committed snapshots, so a crashed
  * writer is invisible here exactly as it is to batch readers.
  *
  * Append-only contract, enforced per batch: if a REPLACE commit
  * (compact / delete / merge) lands inside a batch's version range, the
  * line-diff is no longer a row-level change log and the batch FAILS
  * with the same loud refusal as [[Layout.readChanges]] — matching
  * Delta's default streaming behavior on non-append changes. Re-reading
  * from a fresh `startingVersion` after a table rewrite is an explicit
  * operator decision, not something the engine guesses at.
  *
  * Options:
  *  - `path` (required): the manifest table root.
  *  - `startingVersion` (default 0): first batch covers
  *    (startingVersion, head] — 0 streams the full current snapshot as
  *    the initial batch, Delta's initial-snapshot semantics; a concrete
  *    version streams only commits after it.
  *  - `maxVersionsPerTrigger` (optional): admission control — cap how
  *    many commits a single micro-batch may cover, bounding batch size
  *    by commit granularity. Backlog drains across successive triggers.
  *  - `maxBytesPerTrigger` / `maxFilesPerTrigger` (optional): admission
  *    control by DATA size — commits vary 100× in bytes, so a
  *    version-count cap alone cannot bound executor memory per batch.
  *    Versions are admitted whole (commit granularity is the atomic
  *    unit — a partial version would break the line-diff contract),
  *    accumulating each candidate's added bytes/files from the
  *    manifest's recorded `@bytes` tokens — NO per-file getFileStatus;
  *    admission stops before the version that would cross the cap. Soft
  *    limits in the Delta/Kafka style: the first version of a batch is
  *    always admitted even if it alone exceeds the cap (otherwise the
  *    stream would wedge), so forward progress is unconditional. All
  *    three caps compose — the tightest wins.
  *
  * Reference slot: the nightly re-export loop the reference runs end to
  * end each time (`ETLCNPJFinalEmpresaEstabelecimentos.py:237-265`) —
  * with a streaming table read, downstream consumers follow commits
  * incrementally instead of recomputing from scratch.
  */
class ManifestStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  /** BATCH read: `spark.read.format("graft-manifest").load(table)` —
    * the head snapshot, or time travel via `.option("versionAsOf", v)` /
    * `.option("timestampAsOf", epochMillis)`. The relation is the
    * file-source machinery over the snapshot's explicit file list with
    * the version's recorded schema, so filter pushdown, column pruning
    * and the vectorized parquet reader all apply exactly as on a plain
    * parquet directory — the manifest only decides WHICH files exist. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val sqlContext0 = sqlContext
    val p = lowered(parameters)
    val spark = sqlContext.sparkSession.asInstanceOf[SparkSession]
    val table = tableOf(p)
    // CDC delta read: `.option("changesFrom", v)` (+ optional
    // `changesTo`, default head) — the rows APPENDED in (from, to],
    // [[Layout.readChanges]]' contract (REPLACE in range refuses
    // loudly), served as the same distributed file relation as a
    // snapshot read. This, not a CALL procedure, is the SQL door to
    // CDC: `CREATE TEMPORARY VIEW d USING \`graft-manifest\` OPTIONS
    // (path ..., changesFrom 2)` — Spark 4.1 procedures can only
    // return driver-local relations, and a delta is executor-sized.
    p.get("changesfrom").foreach { fromS =>
      require(!p.contains("versionasof") && !p.contains("timestampasof"),
        "changesFrom is mutually exclusive with versionAsOf/timestampAsOf")
      val root = new org.apache.hadoop.fs.Path(table)
      val to = p.get("changesto").map(_.toInt).getOrElse(
        Layout.currentVersion(root.getFileSystem(
          spark.sparkContext.hadoopConfiguration), root))
      val (added, schema) = Layout.changedFilesWithSchema(
        spark, table, fromS.toInt, to)
      return ColumnBridge.fileRelation(spark, "parquet", added, Some(schema))
    }
    val version: Option[Int] = (p.get("versionasof"),
        p.get("timestampasof")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(v), None)  => Some(v.toInt)
      case (None, Some(ts)) => Some(Layout.versionAt(spark, table, ts.toLong))
      case (None, None)     => None
    }
    // merge-on-read: a version with live deletion vectors cannot be
    // served as a raw file relation (it would emit deleted rows); fall
    // back to a PRUNED+FILTERED scan over the dv-applying snapshot read
    // — column pruning and translatable filters re-plan the DataFrame,
    // so they reach the underlying parquet scans of BOTH branches
    // (vectorized over dv-free files, in-task mask over dv'd files;
    // Layout.readManifestLines dispatches per file). Spark re-evaluates
    // every filter above the scan (unhandledFilters defaults to all),
    // so partial translation is purely an optimization. The common
    // (no-dv) case keeps the vectorized file relation untouched.
    val rootP = new org.apache.hadoop.fs.Path(table)
    val rootFs =
      rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(Layout.currentVersion(rootFs, rootP))
    val (hasDv, hasEq) = Layout.versionMasks(rootFs, rootP, v)
    if (hasDv || hasEq) {
      val df = Layout.readSnapshot(spark, table, Some(v))
      new BaseRelation
          with org.apache.spark.sql.sources.PrunedFilteredScan {
        override def sqlContext: SQLContext = sqlContext0
        override def schema: org.apache.spark.sql.types.StructType =
          df.schema
        override def buildScan(requiredColumns: Array[String],
            filters: Array[org.apache.spark.sql.sources.Filter])
            : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
          val pruned = df.select(requiredColumns.toSeq.map(
            org.apache.spark.sql.functions.col): _*)
          filters.toSeq.flatMap(graft.sql.GraftFilters.toColumn)
            .reduceOption(_ && _)
            .fold(pruned)(pruned.where)
            .rdd
        }
      }
    } else {
      val (paths, schema) = Layout.snapshotLayout(spark, table, version)
      schema.foreach(Layout.ensureFieldIdRead(spark, _))
      ColumnBridge.fileRelation(spark, "parquet", paths, schema)
    }
  }

  /** BATCH write: `df.write.format("graft-manifest").mode(...)` maps
    * SaveModes onto the commit verbs — Append → append commit,
    * Overwrite → full-table REPLACE (pinned readers keep the old
    * version until vacuum), ErrorIfExists/Ignore honor their contracts
    * against the table's committed-version existence. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val p = lowered(parameters)
    val spark = sqlContext.sparkSession.asInstanceOf[SparkSession]
    val table = tableOf(p)
    val stats = statsColumnsOf(p)
    val exists = scala.util.Try(
      Layout.versionSchema(spark, table)).isSuccess
    mode match {
      case SaveMode.Append =>
        Layout.commitSnapshot(spark, table, data, stats)
      case SaveMode.Overwrite =>
        Layout.replaceSnapshot(spark, table, data, stats)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"manifest table $table already has committed versions " +
            "(SaveMode.ErrorIfExists)")
        Layout.commitSnapshot(spark, table, data, stats)
      case SaveMode.Ignore =>
        if (!exists) Layout.commitSnapshot(spark, table, data, stats)
    }
    createRelation(sqlContext, parameters)
  }

  /** The WRITE side: `df.writeStream.format("graft-manifest")` commits
    * each micro-batch to the manifest table — Append appends, Complete
    * REPLACE-swaps the whole table per batch (the aggregation-result
    * shape). Exactly-once: the sink records `appId → batchId` in the
    * same manifest rename as the data (see [[Layout.commitSnapshotTxn]]),
    * so a batch replayed after a crash between sink commit and
    * checkpoint write is a no-op.
    *
    * The ledger identity is REQUIRED, never guessed: `.option("appId",
    * ...)` explicitly, else the `checkpointLocation` OPTION (normalized
    * to a qualified URI so a respelled path — relative vs absolute —
    * keeps the same identity). A checkpoint set only through the
    * `spark.sql.streaming.checkpointLocation` session conf is NOT
    * visible to this API and is per-session root anyway (not
    * query-unique), so in that case the sink REFUSES to start rather
    * than silently degrade to at-least-once; pass
    * `.option("deliveryMode", "at-least-once")` to opt out of the
    * ledger deliberately. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-manifest sink: partitionBy is not supported; range-cluster " +
        "with compactSnapshot(sortBy) instead")
    require(outputMode == OutputMode.Append() ||
        outputMode == OutputMode.Complete(),
      s"graft-manifest sink supports Append and Complete, not $outputMode")
    val p = lowered(parameters)
    val spark =
      sqlContext.sparkSession.asInstanceOf[SparkSession]
    val atLeastOnce = p.get("deliverymode") match {
      case None | Some("exactly-once") => false
      case Some("at-least-once")       => true
      case Some(other) => throw new IllegalArgumentException(
        s"deliveryMode must be exactly-once or at-least-once, not $other")
    }
    val appId: Option[String] =
      if (atLeastOnce) None
      else p.get("appid").orElse(
        p.get("checkpointlocation").map { c =>
          // qualify through the FS: "ckpt" and "file:/cwd/ckpt" are the
          // same query and must hit the same ledger entry
          val cp = new Path(c)
          cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(cp).toUri.toString
        }).orElse(throw new IllegalArgumentException(
          "graft-manifest sink: exactly-once needs a ledger identity — " +
            "pass .option(\"checkpointLocation\", ...) or " +
            ".option(\"appId\", ...); to deliberately run without the " +
            "ledger, .option(\"deliveryMode\", \"at-least-once\")"))
    new ManifestStreamSink(spark, tableOf(p),
      complete = outputMode == OutputMode.Complete(), appId = appId)
  }

  private def lowered(parameters: Map[String, String])
      : Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase -> v }

  /** `statsColumns` (comma-separated, the multi-column form) with
    * `statsColumn` as the accepted single-column spelling; `p` must
    * already be [[lowered]]. */
  private def statsColumnsOf(p: Map[String, String]): Seq[String] =
    p.get("statscolumns").orElse(p.get("statscolumn"))
      .map(Layout.splitCols).getOrElse(Nil)

  /** `p` must already be [[lowered]]. */
  private def tableOf(p: Map[String, String]): String =
    p.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest source requires a table root: .load(path) or " +
        ".option(\"path\", ...)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val p = lowered(parameters)
    val base = schema.getOrElse {
      // pin the schema from the head snapshot once, at stream resolution
      // — per-batch inference could drift across file schema evolution
      Layout.readSnapshot(sqlContext.sparkSession, tableOf(p)).schema
    }
    (shortName(),
      if (p.get("readchangefeed").exists(_.toBoolean))
        // strip-then-add: a caller replaying the schema a CDC stream
        // reports must not end up with duplicate CDC columns
        ManifestStreamSource.withCdcColumns(
          ManifestStreamSource.withoutCdcColumns(base))
      else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val p = lowered(parameters)
    val table = tableOf(p)
    val changeFeed = p.get("readchangefeed").exists(_.toBoolean)
    val pinned = schema.map(s =>
        if (changeFeed) ManifestStreamSource.withoutCdcColumns(s) else s)
      .getOrElse(
        Layout.readSnapshot(sqlContext.sparkSession, table).schema)
    new ManifestStreamSource(
      sqlContext.sparkSession.asInstanceOf[SparkSession], table, pinned,
      p.get("startingversion").map(_.toInt).getOrElse(0),
      p.get("maxversionspertrigger").map(_.toInt),
      p.get("maxbytespertrigger").map(_.toLong),
      p.get("maxfilespertrigger").map(_.toLong),
      p.get("ignoredeletes").exists(_.toBoolean),
      changeFeed)
  }
}

/** Offset = a committed manifest version (monotone by construction:
  * versions are a CAS-serialized integer sequence). */
case class ManifestOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object ManifestOffset {
  private val VersionRe = """\{\s*"version"\s*:\s*(\d+)\s*\}""".r
  def of(o: org.apache.spark.sql.connector.read.streaming.Offset)
      : ManifestOffset = o match {
    case m: ManifestOffset => m
    case other => other.json() match {
      case VersionRe(v) => ManifestOffset(v.toInt)
      case j => throw new IllegalArgumentException(
        s"not a manifest offset: $j")
    }
  }
}

object ManifestStreamSource {
  /** CDC change-feed columns (Delta CDF's names, so downstream
    * consumers port unchanged): what happened, and in which commit —
    * `_commit_version` is what lets a consumer apply a multi-version
    * batch in order. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  def withCdcColumns(base: StructType): StructType = base
    .add(ChangeTypeCol, org.apache.spark.sql.types.StringType,
      nullable = false)
    .add(CommitVersionCol, org.apache.spark.sql.types.LongType,
      nullable = false)
  def withoutCdcColumns(s: StructType): StructType =
    StructType(s.fields.filterNot(f =>
      f.name == ChangeTypeCol || f.name == CommitVersionCol))
}

class ManifestStreamSource(spark: SparkSession, table: String,
    pinnedSchema: StructType, startingVersion: Int,
    maxVersionsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    ignoreDeletes: Boolean = false,
    readChangeFeed: Boolean = false) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ >= 1),
    "maxVersionsPerTrigger must be >= 1")
  require(maxBytesPerTrigger.forall(_ >= 1),
    "maxBytesPerTrigger must be >= 1")
  require(maxFilesPerTrigger.forall(_ >= 1),
    "maxFilesPerTrigger must be >= 1")

  private val root = new Path(table)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // id-mapped table: per-batch file relations read under the pinned
  // schema and must match parquet columns by field id
  Layout.ensureFieldIdRead(spark, pinnedSchema)

  /** Trigger.AvailableNow contract: deliver exactly the commits present
    * when the query started (still in capped per-trigger batches), then
    * terminate — commits landing mid-run wait for the next start. This
    * is the FileStreamSource pattern; WITHOUT native support, Spark's
    * AvailableNowSourceWrapper would capture ONE capped offset as the
    * run's final target and stop a maxVersionsPerTrigger source after a
    * single batch, silently under-delivering the backlog. */
  private var availableNowCeiling: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeiling = Some(Layout.currentVersion(fs, root))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def schema: StructType =
    if (readChangeFeed) ManifestStreamSource.withCdcColumns(pinnedSchema)
    else pinnedSchema

  /** Admission control lives in [[latestOffset]]; MicroBatchExecution
    * never calls getOffset on a SupportsAdmissionControl source. */
  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "getOffset is not called on a SupportsAdmissionControl source")

  /** The highest version this trigger may cover: start from the
    * version-count cap, then tighten by cumulative ADDED bytes/files —
    * each candidate version's contribution is its line-set delta over
    * the previous version, sized from the manifest's `@bytes` tokens
    * (legacy stats-less lines fall back to one getFileStatus each).
    * Soft caps: the batch's first version is always admitted, so one
    * oversized commit passes through alone rather than wedging the
    * stream. Cost per trigger ∝ admitted versions' manifests (all
    * LRU-cached), never table size. */
  private def admittedCap(start: Int, vCap: Int): Int = {
    if (maxBytesPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty)
      return vCap
    var bytes = 0L
    var files = 0L
    var prev: Set[String] =
      if (start == 0) Set.empty
      else Layout.versionFilePaths(fs, root, start).toSet
    var v = start
    while (v < vCap) {
      val entries = Layout.versionFileEntries(fs, root, v + 1)
      val added = entries.filterNot { case (p, _) => prev(p) }
      bytes += added.map { case (p, sz) => sz.getOrElse(
        fs.getFileStatus(new Path(root, p)).getLen) }.sum
      files += added.size
      val over = maxBytesPerTrigger.exists(bytes > _) ||
        maxFilesPerTrigger.exists(files > _)
      if (over) return if (v == start) v + 1 else v
      v += 1
      prev = entries.iterator.map(_._1).toSet
    }
    vCap
  }

  override def latestOffset(startOffset: OffsetV2,
      limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset)
      .map(ManifestOffset.of(_).version).getOrElse(startingVersion)
    val head0 = Layout.currentVersion(fs, root)
    val head = availableNowCeiling.fold(head0)(math.min(head0, _))
    val vCap = maxVersionsPerTrigger.fold(head)(m =>
      math.min(head, start + m))
    val cap = if (vCap > start) admittedCap(start, vCap) else vCap
    if (cap <= startingVersion) null // table has nothing to stream yet
    else ManifestOffset(math.max(cap, start)) // == start signals idle
  }

  override def reportLatestOffset(): OffsetV2 = {
    val head = Layout.currentVersion(fs, root)
    if (head <= startingVersion) null else ManifestOffset(head)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = ManifestOffset.of(end).version
    val from = start.map(ManifestOffset.of(_).version)
      .getOrElse(startingVersion)
    if (to <= from) // restart replay of an already-finished range —
      // empty, in THIS source's declared shape (a CDC source two
      // columns short here fails MicroBatchExecution's output check)
      return ColumnBridge.emptyStreamingDF(spark, schema)
    val fromPaths =
      if (from == 0) Set.empty[String]
      else Layout.versionFilePaths(fs, root, from).toSet
    val toPaths = Layout.versionFilePaths(fs, root, to)
    require(fromPaths.subsetOf(toPaths.toSet),
      s"graft-manifest stream on $table: a REPLACE commit (compact / " +
        s"delete / merge) landed in ($from, $to] — the line-set diff is " +
        "not a row-level change log across rewrites. Restart the stream " +
        "from a startingVersion at or after the rewrite.")
    // Merge-on-read deletes keep every PATH (only dv groups change), so
    // the path diff above cannot see them. Per-file dispatch (r17
    // verdict task 2):
    //   - a dv on a file FIRST SEEN in this batch is maskable — its
    //     rows were never emitted, so serving the file through the
    //     dv-applying mask keeps stream ≡ batch read;
    //   - a dv on an already-EMITTED file is a retraction the
    //     append-only contract cannot express — refuse as loudly as the
    //     REPLACE case, unless the consumer opted into Delta-style
    //     `ignoreDeletes` (the dv'd old file simply stays emitted
    //     as-was; new files still serve masked).
    val added = toPaths.filterNot(fromPaths)
    val addedSet = added.toSet
    val dvByRel = Layout.versionDvMap(fs, root, to)
    // only dv material NEW in (from, to] can be a retraction — a dv
    // already live at `from` was applied when its file's batch was
    // served masked (or predates this stream's baseline entirely)
    val dvAtFrom =
      if (from == 0) Map.empty[String, Seq[String]]
      else Layout.versionDvMap(fs, root, from)
    val retraction = dvByRel.exists { case (p, sidecars) =>
      !addedSet(p) &&
        sidecars.toSet != dvAtFrom.getOrElse(p, Nil).toSet
    }
    require(ignoreDeletes || !retraction,
      s"graft-manifest stream on $table: version $to carries live " +
        "merge-on-read deletion vectors on files this stream already " +
        "emitted — an append-only stream cannot retract rows. Either " +
        "set ignoreDeletes=true (stream past deletes of already-" +
        "emitted rows), or CALL system.compact (materializes the " +
        "vectors), then restart from a startingVersion at or after it.")
    // equality deletes are retractions BY CONSTRUCTION — they mask
    // rows of files committed before them, emitted or about to be.
    // With readChangeFeed (r20) that is exactly expressible: the
    // change-feed batch below serves each upsert commit as key
    // TOMBSTONES (the key files' rows, `_change_type='delete'`) plus
    // the appended row versions (`'insert'`), ordered by
    // `_commit_version` — a consumer folding delete-then-insert per
    // version reconstructs the masked batch read exactly. Without the
    // option, the plain-schema stream still refuses (same ignoreDeletes
    // escape hatch as dvs).
    if (readChangeFeed) return changeFeedBatch(from, to, dvByRel)
    val eqByRel = Layout.versionEqMap(fs, root, to)
    val eqAtFrom =
      if (from == 0) Map.empty[String, Seq[(String, Seq[String])]]
      else Layout.versionEqMap(fs, root, from)
    val eqNew = eqByRel.exists { case (p, s) =>
      s.toSet != eqAtFrom.getOrElse(p, Nil).toSet
    }
    require(ignoreDeletes || !eqNew,
      s"graft-manifest stream on $table: version $to carries live " +
        "equality deletes (key upserts) — an append-only stream " +
        "cannot retract rows by key. Either read them as CDC rows " +
        "(.option(\"readChangeFeed\", \"true\") serves key tombstones " +
        "+ upserted rows with _change_type/_commit_version), set " +
        "ignoreDeletes=true, or CALL system.compact(only_dv => true) " +
        "(materializes the masks), then restart from a startingVersion " +
        "at or after it.")
    if (added.isEmpty)
      return ColumnBridge.emptyStreamingDF(spark, pinnedSchema)
    val base = ColumnBridge.streamingFileRelation(spark, "parquet",
      added.map(rel => new Path(root, rel).toString), pinnedSchema)
    dvMaskAdded(base, added, dvByRel)
  }

  /** Mask exactly `addedRel`'s position deletes out of `base` —
    * shared by the plain and change-feed batch paths so a fix to the
    * ordinal contract can never diverge between them. Each added file is
    * masked by its own line's sidecars inside the task that reads it
    * ([[Layout.morMask]]); `row_index` is Spark's own per-file ordinal,
    * correct under row-group skipping. */
  private def dvMaskAdded(base: DataFrame, addedRel: Seq[String],
      dvByRel: Map[String, Seq[String]]): DataFrame = {
    val dvAdded = addedRel.filter(dvByRel.contains)
    if (dvAdded.isEmpty) base
    else base.where(Layout.morMask(spark, fs, root, base,
      dvAdded.map(rel => rel -> dvByRel(rel)), Nil))
  }

  /** The CDC change-feed batch (r20): every version in (from, to]
    * contributes its appended rows as `_change_type='insert'` and the
    * non-null key rows of its NEW equality-delete key files as `'delete'`
    * tombstones (key columns populated, the rest null), each tagged
    * with `_commit_version`. Folding delete-then-insert per version —
    * eq annotations never mask their own commit's files — reconstructs
    * the masked batch read exactly; ManifestStreamSpec pins it. Position
    * dvs are not key-expressible, so the range-wide dv-retraction
    * refusal above still applies; dvs on files first seen in this range
    * mask in-batch as ever.
    *
    * The append-only guard here is PER CONSECUTIVE VERSION, stricter
    * than the plain path's endpoint check: the feed replays history
    * version by version, so a REPLACE anywhere inside the range —
    * including one older than a from=0 initial load — would emit the
    * rewritten rows twice and retract nothing. (The plain path's
    * initial batch serves the CURRENT snapshot, so it tolerates
    * pre-history rewrites; a change FEED over a rewritten history is
    * not reconstructible and must refuse.) */
  private def changeFeedBatch(from: Int, to: Int,
      dvByRel: Map[String, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val ct = ManifestStreamSource.ChangeTypeCol
    val cv = ManifestStreamSource.CommitVersionCol
    // previous version's state, carried across iterations — one
    // manifest derivation per version, not two
    var prev: Set[String] =
      if (from == 0) Set.empty
      else Layout.versionFilePaths(fs, root, from).toSet
    var eqPrev: Set[(String, Seq[String])] =
      if (from == 0) Set.empty
      else Layout.versionEqMap(fs, root, from).values.flatten.toSet
    val parts = ((from + 1) to to).flatMap { v =>
      val cur = Layout.versionFilePaths(fs, root, v)
      require(prev.subsetOf(cur.toSet),
        s"graft-manifest change feed on $table: version $v is a " +
          "REPLACE commit (compact / delete / merge) — a change feed " +
          "replays history per version and cannot express a rewrite. " +
          "Start the stream from a startingVersion at or after it " +
          "(the plain stream's initial batch tolerates pre-history " +
          "rewrites because it serves the current snapshot).")
      val addedRel = cur.filterNot(prev)
      prev = cur.toSet
      val ins =
        if (addedRel.isEmpty) Nil
        else {
          val base = ColumnBridge.streamingFileRelation(spark, "parquet",
            addedRel.map(rel => new Path(root, rel).toString),
            pinnedSchema)
          Seq(dvMaskAdded(base, addedRel, dvByRel)
            .withColumn(ct, lit("insert"))
            .withColumn(cv, lit(v.toLong)))
        }
      // key files NEW at v = this version's upsert tombstones
      val eqCur = Layout.versionEqMap(fs, root, v).values.flatten.toSet
      val eqNew = (eqCur -- eqPrev).toSeq.sortBy(_._1)
      eqPrev = eqCur
      val dels = eqNew.groupBy(_._2).toSeq
        .sortBy(_._1.mkString(",")).map { case (keyCols, group) =>
          val paths = group.map(g => new Path(root, g._1).toString)
          // the key files' footer schema (read on the driver, no Spark
          // job), cast to the pinned column types below
          val keySchema = ColumnBridge.parquetFooterSchema(spark, paths)
          val rel = ColumnBridge.streamingFileRelation(spark, "parquet",
            paths, keySchema)
          val sel = pinnedSchema.fields.toSeq.map { f =>
            if (keyCols.contains(f.name))
              col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }
          // a key file may be the upsert's own data file: a row with a
          // NULL key masks nothing, so it is no tombstone
          rel.where(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
            .select(sel: _*).withColumn(ct, lit("delete"))
            .withColumn(cv, lit(v.toLong))
        }
      dels ++ ins
    }
    if (parts.isEmpty)
      ColumnBridge.emptyStreamingDF(spark,
        ManifestStreamSource.withCdcColumns(pinnedSchema))
    else parts.reduce(_ unionByName _)
  }

  override def stop(): Unit = ()

  override def toString: String = s"ManifestStreamSource[$table]"
}

class ManifestStreamSink(spark: SparkSession, table: String,
    complete: Boolean, appId: Option[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // addBatch's frame wraps the micro-batch's incremental execution and
    // cannot go through the batch writer; re-wrap at the InternalRow
    // level (no decode/encode round trip)
    val batch = ColumnBridge.rewrapBatch(data)
    appId match {
      case Some(app) =>
        // None = this (appId, batchId) already landed — a replay after a
        // crash between sink commit and checkpoint write; dropping it IS
        // the exactly-once contract
        if (complete) Layout.replaceSnapshotTxn(spark, table, batch, app, batchId)
        else Layout.commitSnapshotTxn(spark, table, batch, app, batchId)
      case None => // at-least-once (no ledger identity — see provider doc)
        if (complete) Layout.replaceSnapshot(spark, table, batch)
        else Layout.commitSnapshot(spark, table, batch)
    }
  }

  override def toString: String = s"ManifestStreamSink[$table]"
}
