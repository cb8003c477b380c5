package graft.sql

import java.util.OptionalLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, JoinedRow, Predicate => CatalystPredicate, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graft.{ColumnBridge, FileAggregate}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MorMask, MorMaskExpr}
import graft.ops.Layout
import graft.ops.layout.CommitStats

/** Group-based row-level SQL (`MERGE INTO` / `UPDATE` / rewrite-path
  * `DELETE`) for graft-manifest tables — the copy-on-write half Spark's
  * own planner drives once a table implements
  * `SupportsRowLevelOperations`:
  *
  *   1. the ANALYZER rewrites the command into a `ReplaceData` plan that
  *      reads the table through [[GraftRowLevelOperation.newScanBuilder]]
  *      — the pinned [[GraftTable]]'s own scan builder, always on its
  *      row-based scan — applies the merge/update logic, and writes
  *      every surviving row of the affected file-groups back through
  *      [[GraftRowLevelOperation.newWriteBuilder]];
  *   2. the SCAN drops every file whose manifest bounds refute the
  *      command's pushed condition, by the rule a `SELECT … WHERE`
  *      skips files with (`SnapshotScanBuilder.skipOf` →
  *      `Layout.fileSelection`): such a file holds no row to change, so
  *      it is neither read nor replaced;
  *   3. the OPTIMIZER's RowLevelOperationRuntimeGroupFiltering narrows
  *      the rest to the files that actually hold matching rows: the
  *      operation declares a per-row `_file` metadata column, Spark
  *      builds a runtime `IN` subquery over it (collect the distinct
  *      `_file`s satisfying the command's condition, a read of the
  *      table itself, which skips files by the same bounds), and
  *      [[GraftCowScan.filter]] prunes the group list — the COW analogue
  *      of [[Layout.mergeInto]]'s affected-file semi-join, just driven
  *      by Catalyst instead of by hand;
  *   4. the WRITE stages each task's rows as one parquet file into a
  *      fresh txn dir ([[StagedFile]]: Spark's own
  *      `ParquetFileFormat.prepareWrite` factory, via the bridge —
  *      ReplaceDataExec has no V1 write fallback), each task computing
  *      its file's statistics as it writes, and the COMMIT is one
  *      [[Layout.commitRewrite]] CAS: head − scanned groups + staged
  *      files, serialized through the same manifest arbiter as every
  *      programmatic verb.
  *
  * Scale posture (the 100 TB question): the rewrite cost is bounded by
  * the matched-file footprint + insert volume, never the table —
  * manifest skipping and group filtering prune unmatched files BEFORE
  * any parquet footer opens (the subquery scans only the condition's
  * columns), untouched files carry by manifest line, and the commit is
  * O(manifest). The row-based scan (the per-row `_file` append
  * precludes returning ColumnarBatches) is a deliberate trade:
  * row-level commands are write-dominated, and the scan feeds a join
  * anyway. It applies the pinned snapshot's merge-on-read deletes —
  * position and equality — with the same in-task
  * [[graft.functions.MorMask]] every other read uses, so no deleted row
  * resurrects through a rewrite.
  *
  * On a `graft.rowlevel.mode = 'mor'` table the SAME commands take the
  * DELTA rewrite instead ([[GraftDeltaOperation]], `SupportsDelta`):
  * the scan additionally serves the `_pos` row ordinal, the writer
  * receives per-row delete/update/insert verbs keyed by the
  * (_file, _pos) row id, deletes land as position-delete sidecar
  * entries, updates as delete + re-insert — and NO pre-existing data
  * file is rewritten, so a point UPDATE costs its matched rows, not
  * its matched files' bytes (see the classes at the bottom of this
  * file). Its scan skips files by the same manifest rule.
  *
  * Reference anchor: the nightly re-load upsert the reference runs as
  * DROP + bulk re-insert (`ETLCNPJFinalEmpresaEstabelecimentos.py:
  * 167-182`) — here a user writes `MERGE INTO` SQL text instead and
  * pays only for the delta. */
object GraftRowLevel {

  /** The `_file` metadata column: which data file a row lives in — the
    * group identity for copy-on-write planning (Iceberg uses the same
    * name for the same purpose). Reserved for row-level planning; a
    * plain SELECT resolves it but the fast parquet read path does not
    * serve it. */
  object FileColumn extends MetadataColumn {
    override def name: String = "_file"
    override def dataType: DataType = StringType
    override def isNullable: Boolean = false
    override def comment: String =
      "data file holding the row (row-level operation group id)"
  }

  /** `_pos` (0-based row ordinal within its data file) — with `_file`
    * it forms the ROW ID of the delta-based (merge-on-read) row-level
    * path: a position-delete sidecar entry is exactly one
    * (grpOf(_file), _pos) pair. Served by the row-based scan from
    * Spark's own parquet row index (the column behind
    * `_metadata.row_index`), which stays exact under pushed filters. */
  object PosColumn extends MetadataColumn {
    override def name: String = "_pos"
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment: String =
      "row ordinal within its data file (merge-on-read row id)"
  }

  private[sql] val FileColumnName = "_file"
  private[sql] val PosColumnName = "_pos"
}

/** One SQL command's worth of row-level state, shared by the two
  * rewrites: the pinned [[GraftTable]] (scan list and commit base must
  * agree on its version) and its one scan builder, always on the
  * row-based scan, which serves `_file` and `_pos` and masks the
  * snapshot's merge-on-read deletes. `kind` names the rewrite. */
sealed abstract class GraftRowLevelBase(table: GraftTable,
    cmd: RowLevelOperation.Command, kind: String) extends RowLevelOperation {

  val tablePath: String = table.tableDir
  val pinnedVersion: Int = table.pinnedV
  val tableSchema: StructType = ColumnBridge.nullableSchema(table.schema())
  protected def label = s"$tablePath@v$pinnedVersion"

  /** The row-based scan of one plan's read of this operation. */
  protected def rowScan(required: StructType, pushed: Array[Filter],
      kept: Option[Seq[String]]): Scan = table.rowScan(required, pushed, kept)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options:
      org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    table.scanBuilder(options, rowBased = true, rowScan)

  /** `_file` rides along for runtime group filtering (the IN-subquery
    * over matched files prunes the scan's group list). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumnName))

  override def description(): String = s"graft-$kind[$cmd $label]"
}

/** The copy-on-write rewrite. Remembers its MAIN scan so the commit
  * knows which groups were read: the group-filter subquery reads the
  * table itself, so the first scan this operation builds is the
  * ReplaceData scan; first-built wins the commit-scan slot regardless. */
class GraftRowLevelOperation(table: GraftTable,
    cmd: RowLevelOperation.Command)
    extends GraftRowLevelBase(table, cmd, "cow") {

  @volatile private var mainScan: GraftCowScan = null
  private[sql] def commitScan: GraftCowScan = mainScan

  /** Pushes no filter to parquet: Spark hands a group-based scan the
    * command's condition, yet the rewrite must read EVERY row of each
    * file it replaces, and parquet's row-group skipping would drop the
    * non-matching rows from the rewritten file. Manifest skipping by the
    * same condition stays: it drops whole files, which are then neither
    * read nor replaced. */
  override protected def rowScan(required: StructType,
      pushed: Array[Filter], kept: Option[Seq[String]]): Scan = {
    val s = table.rowScan(required, Array.empty, kept)
    synchronized { if (mainScan == null) mainScan = s }
    s
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(tableSchema.fieldNames),
      s"row-level write schema ${info.schema().fieldNames.mkString(",")} " +
        s"does not match table schema " +
        tableSchema.fieldNames.mkString(","))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftCowBatchWrite(GraftRowLevelOperation.this)
        override def description(): String = s"graft-cow-write[$label]"
      }
    }
  }
}

/** The COW scan: one input partition per file-group, rows read by
  * Spark's parquet reader under the table's recorded schema (missing
  * columns null-fill, the format's add-column evolution), with the
  * `_file` group id appended per row when requested. Implements runtime
  * group filtering: Spark's IN-subquery over `_file` prunes the group
  * list before any footer opens. [[GraftTable.rowScan]] builds it, over
  * the file groups its manifest skipping kept, for every plan that
  * needs rows rather than columnar batches: a row-level operation's
  * reads, a read requesting `_file`/`_pos`, and a read of a masked
  * snapshot without the per-file dispatch (see
  * [[org.apache.spark.sql.graft.SnapshotScanBuilder]]). `table` is the
  * root the entries' sidecar pointers resolve against. */
class GraftCowScan(table: String, entries: Seq[(String, String, Long)],
    tableSchema: StructType, required: StructType,
    pushedFilters: Array[Filter], label: String) extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** Survivor groups — starts at the full pinned snapshot, narrowed by
    * [[filter]]; the write's commit swaps exactly this list. */
  @volatile private[graft] var files: Seq[(String, String, Long)] = entries

  private val wantsFile =
    required.fieldNames.contains(GraftRowLevel.FileColumnName)
  private val wantsPos =
    required.fieldNames.contains(GraftRowLevel.PosColumnName)
  /** Data columns in requested order; `_file`/`_pos` (if requested) go
    * LAST in that order — Spark projects the scan output into the
    * expected order anyway. */
  private val dataRequired = StructType(
    required.filterNot(f => f.name == GraftRowLevel.FileColumnName ||
      f.name == GraftRowLevel.PosColumnName))

  override def readSchema(): StructType = {
    var fields = dataRequired.fields
    if (wantsFile) fields = fields :+
      org.apache.spark.sql.types.StructField(
        GraftRowLevel.FileColumnName, StringType, nullable = false)
    if (wantsPos) fields = fields :+
      org.apache.spark.sql.types.StructField(
        GraftRowLevel.PosColumnName,
        org.apache.spark.sql.types.LongType, nullable = false)
    StructType(fields)
  }

  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumnName))

  /** Runtime group filtering: keep only groups whose `_file` value is
    * allowed by every pushed predicate. Unrecognized predicate shapes
    * prune nothing (always safe — filtering is an optimization). */
  override def filter(predicates: Array[Predicate]): Unit = {
    def fileValues(p: Predicate): Option[Set[String]] = {
      val kids = p.children()
      def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression) =
        e match {
          case r: NamedReference =>
            r.fieldNames.sameElements(Array(GraftRowLevel.FileColumnName))
          case _ => false
        }
      p.name() match {
        case "IN" if kids.nonEmpty && isFileRef(kids.head) =>
          Some(kids.tail.collect {
            case l: V2Literal[_] => String.valueOf(l.value) }.toSet)
        case "=" if kids.length == 2 && isFileRef(kids.head) =>
          Some(kids.tail.collect {
            case l: V2Literal[_] => String.valueOf(l.value) }.toSet)
        case _ => None
      }
    }
    val allowed = predicates.flatMap(fileValues(_))
    if (allowed.nonEmpty) {
      val keep = allowed.reduce(_ intersect _)
      files = files.filter { case (_, abs, _) => keep.contains(abs) }
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (_, abs, len) =>
      GraftCowInputPartition(abs, len): InputPartition }.toArray

  /** One reader for every file: the survivor files' merge-on-read
    * deletes (position and equality) mask in the task through
    * [[MorMaskExpr]] — the same mask and spec builder every DataFrame
    * read uses — keyed on Spark's own parquet row index, which also
    * serves `_pos`. Key columns the plan pruned are read for the mask
    * and projected away. Pushed filters (a copy-on-write rewrite has
    * none) apply to masked files too: the row index stays exact when
    * parquet skips row groups. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val masked = files.map(_._1).filter(Layout.masked)
    val mask = if (masked.isEmpty) None else {
      val root = new Path(table)
      Some(Layout.linesMaskSpec(spark,
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
        tableSchema, masked))
    }
    val keys = mask.toSeq.flatMap(_._2)
    val keyFields = keys.map { case (c, _, _) =>
      tableSchema.find(_.name.equalsIgnoreCase(c)).get }
      .filterNot(f => dataRequired.fieldNames.contains(f.name))
    val rowIndex = if (mask.isEmpty && !wantsPos) Nil else Seq(StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType))
    val read = StructType(dataRequired ++ keyFields ++ rowIndex)
    // read row ++ (`_file` value, url-encoded file path)
    def ref(i: Int): Expression =
      BoundReference(i, if (i < read.size) read(i).dataType else StringType,
        nullable = true)
    def refOf(c: String) =
      ref(read.fields.indexWhere(_.name.equalsIgnoreCase(c)))
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val keep = mask.map { case (spec, _) =>
      MorMaskExpr(Seq(ref(read.size + 1), ref(read.size - 1)) ++ keys.map {
        case (c, d, t) => if (d == t) refOf(c) else Cast(refOf(c), t, Some(tz))
      }, spec)
    }
    // None: the read rows, `_file` appended when wanted, are the output
    val out = if (read == dataRequired) None
      else Some(dataRequired.indices.map(ref) ++
        (if (wantsFile) Seq(ref(read.size)) else Nil) ++
        (if (wantsPos) Seq(ref(read.size - 1)) else Nil))
    GraftCowReaderFactory(ColumnBridge.parquetReaderFunc(spark,
      tableSchema, read, pushedFilters.toSeq, Map.empty), keep, out,
      wantsFile)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_._3).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def description(): String =
    s"graft-cow-scan[$label, groups=${files.size}/${entries.size}]"
}

case class GraftCowInputPartition(path: String, length: Long)
  extends InputPartition

/** Executor-side: parquet-read one file, keep the rows `keep` passes
  * (code-generated) and project `out` — both bound to the read row
  * followed by the file's (`_file` value, url-encoded path). Without
  * `out`, the parquet rows pass through uncopied, with the `_file` value
  * appended when `wantsFile`. */
case class GraftCowReaderFactory(
    readFunc: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[InternalRow],
    keep: Option[Expression],
    out: Option[Seq[Expression]],
    wantsFile: Boolean)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftCowInputPartition]
    val pf = ColumnBridge.partitionedFile(gp.path, gp.length)
    val rows = readFunc(pf)
    val path = UTF8String.fromString(gp.path)
    val joined = new JoinedRow
    val it = out match {
      case None if !wantsFile => rows
      case None =>
        val file = new GenericInternalRow(Array[Any](path))
        rows.map(joined(_, file))
      case Some(o) =>
        val file = new GenericInternalRow(Array[Any](path,
          UTF8String.fromString(pf.urlEncodedPath)))
        val withFile: Iterator[InternalRow] = rows.map(joined(_, file))
        val kept = keep.fold(withFile) { k =>
          val pred = CatalystPredicate.create(k)
          withFile.filter(pred.eval)
        }
        kept.map(UnsafeProjection.create(o))
    }
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** The driver half of a row-level write: the tasks stage files into
  * one fresh txn dir (invisible until a manifest lists them) and the
  * driver commits them in one CAS. Abort deletes the txn dir —
  * staged-but-uncommitted files are also vacuum's normal prey, the same
  * crash story as every other verb. */
abstract class GraftStagedBatchWrite(op: GraftRowLevelBase)
    extends BatchWrite {

  private val txnRel = "data/txn-" + java.util.UUID.randomUUID().toString

  /** One kind of staged file, `prefix`-named: data files under the
    * table's schema and statistics, or `stats`-less sidecars. */
  protected def staged(prefix: String, schema: StructType,
      stats: Boolean): StagedFiles = {
    val spark = SparkSession.active
    val (factory, conf) =
      ColumnBridge.parquetWriterFactory(spark, schema, Map.empty)
    StagedFiles(s"${op.tablePath}/$txnRel", txnRel, prefix, factory, conf,
      schema, if (!stats) None else Some(Layout.rowLevelStats(spark,
        op.tablePath, op.pinnedVersion, schema)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(op.tablePath, txnRel)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.delete(dir, true) catch { case _: java.io.IOException => () }
  }
}

/** A task's staged files: its data file's manifest line (statistics
  * included), null when it wrote no row; and, on the delta path, its
  * position-delete sidecar (txn-relative, null when none) with the file
  * groups the sidecar covers. */
case class StagedCommitMessage(dataLine: String, dvRel: String,
    grps: Array[String]) extends WriterCommitMessage

/** One kind of staged parquet file of a row-level write, as its tasks
  * open them: a serializable writer factory with its own hadoop conf
  * (ParquetWriteSupport reads the schema from the conf, not the
  * OutputWriter argument, so two kinds must not share one), and the
  * statistics each data file's manifest line records. */
case class StagedFiles(dir: String, txnRel: String, prefix: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType, stats: Option[CommitStats]) {
  def open(partitionId: Int, taskId: Long): StagedFile =
    new StagedFile(this, partitionId, taskId)
}

/** One task's staged file: opened on its first row (an empty task
  * stages no file), named by (partition, task attempt) so a speculative
  * retry never collides — the commit coordinator picks exactly one
  * attempt's message, and losers' files stay unreferenced until vacuum.
  * With statistics, they are aggregated as its rows are written and
  * ride the commit message in its rendered manifest line. */
final class StagedFile(kind: StagedFiles, partitionId: Int, taskId: Long) {
  private var writer:
    org.apache.spark.sql.execution.datasources.OutputWriter = null
  private var agg: FileAggregate.Buffer = null

  def write(row: InternalRow): Unit = {
    if (writer == null) {
      writer = ColumnBridge.newOutputWriter(kind.factory, kind.conf,
        kind.dir, f"${kind.prefix}-$partitionId%05d-$taskId", kind.schema,
        partitionId, taskId)
      agg = kind.stats.map(_.agg.newFile()).orNull
    }
    writer.write(row)
    if (agg != null) agg.add(row)
  }

  private def path = new Path(writer.path())
  private def fs = path.getFileSystem(
    new org.apache.hadoop.conf.Configuration(kind.conf.value))

  /** Closes the file: its manifest line when it records statistics,
    * else its txn-relative path; null when no row reached it. */
  def commit(): String =
    if (writer == null) null
    else {
      writer.close()
      val rel = s"${kind.txnRel}/${path.getName}"
      kind.stats.fold(rel)(s => s.line(rel, fs.getFileStatus(path).getLen,
        agg.rows, agg.result()))
    }

  def abort(): Unit =
    if (writer != null) {
      try writer.close() catch { case _: Throwable => () }
      try fs.delete(path, false) catch { case _: java.io.IOException => () }
    }
}

/** The V2 batch write behind ReplaceData: the driver commit is a single
  * REPLACE CAS swapping the scanned groups for the staged files. */
class GraftCowBatchWrite(op: GraftRowLevelOperation)
    extends GraftStagedBatchWrite(op) {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = GraftCowWriterFactory(
    staged("part", op.tableSchema, stats = true))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.toSeq.collect {
      case m: StagedCommitMessage if m.dataLine != null => m.dataLine
    }
    val scan = op.commitScan
    require(scan != null,
      "row-level write committed without a configured scan")
    val affected = scan.files.map(_._1).toSet
    Layout.commitRewrite(SparkSession.active, op.tablePath, affected, added,
      s"${op.command().toString.toLowerCase}Sql")
  }
}

/** Per-task copy-on-write writer: every row goes to the task's one
  * staged data file. */
case class GraftCowWriterFactory(data: StagedFiles)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val file = data.open(partitionId, taskId)
    override def write(row: InternalRow): Unit = file.write(row)
    override def commit(): WriterCommitMessage =
      StagedCommitMessage(file.commit(), null, Array.empty)
    override def abort(): Unit = file.abort()
    override def close(): Unit = ()
  }
}

// ---------------------------------------------------------------------
// Delta-based (merge-on-read) row-level SQL — `SupportsDelta`. On a
// `graft.rowlevel.mode = 'mor'` table, UPDATE / MERGE INTO / rewrite-path
// DELETE no longer rewrite matched file-groups: Spark's delta rewrite
// hands the writer per-row (operation, row id) verbs, deletes become
// position-delete sidecar entries keyed by the (_file, _pos) row id the
// scan synthesizes, updates become delete + re-insert, inserts append —
// ONE commit annotates the affected manifest lines with dv pointers and
// adds the new data files. Write cost ∝ matched + inserted ROWS; no
// pre-existing data file opens for write (the same bargain the
// programmatic deleteWhereMor/mergeInto MOR paths struck, now for SQL
// text).
// ---------------------------------------------------------------------

/** The merge-on-read rewrite: same pinned snapshot and scan (which
  * serves the `_pos` ordinal and masks existing position and equality
  * deletes, so a re-UPDATE of a survivor row is keyed on TRUE file
  * ordinals), but writes ride [[GraftDeltaBatchWrite]]. */
class GraftDeltaOperation(table: GraftTable,
    cmd: RowLevelOperation.Command)
    extends GraftRowLevelBase(table, cmd, "delta") with SupportsDelta {

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftRowLevel.FileColumnName),
    Expressions.column(GraftRowLevel.PosColumnName))

  override def newWriteBuilder(info: LogicalWriteInfo)
      : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite = new DeltaWrite {
      override def toBatch: DeltaBatchWrite =
        new GraftDeltaBatchWrite(GraftDeltaOperation.this)
      override def description(): String = s"graft-delta-write[$label]"
    }
  }
}

/** Tasks stage insert/update rows as data files AND position deletes as
  * (grp, pos) sidecars ([[MorMask.DvSchema]]) into one fresh txn dir;
  * the driver commit is a single REPLACE CAS via [[Layout.commitDelta]]. */
class GraftDeltaBatchWrite(op: GraftDeltaOperation)
    extends GraftStagedBatchWrite(op) with DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = GraftDeltaWriterFactory(
    staged("part", op.tableSchema, stats = true),
    staged("dv", MorMask.DvSchema, stats = false))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.collect { case m: StagedCommitMessage => m }
    val dataLines = ms.collect { case m if m.dataLine != null => m.dataLine }
    val grpToSidecars = ms.flatMap(m =>
        m.grps.map(g => g -> m.dvRel)).groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(_._2).distinct.sorted.toSeq }
    // an UPDATE/MERGE that matched zero rows and inserted none has
    // nothing to commit — committing would mint a manifest version
    // identical to the head (version churn + a misleading DESCRIBE
    // HISTORY line per no-op statement; r17 ADVICE)
    if (grpToSidecars.isEmpty && dataLines.isEmpty) return
    Layout.commitDelta(SparkSession.active, op.tablePath,
      op.pinnedVersion, grpToSidecars, dataLines,
      s"${op.command().toString.toLowerCase}DeltaSql")
  }
}

/** Per-task delta writer: inserts go to the task's staged data file,
  * deletes to its (grp, pos) sidecar; update = delete + insert. */
case class GraftDeltaWriterFactory(data: StagedFiles, dvs: StagedFiles)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {
    private val inserts = data.open(partitionId, taskId)
    private val deletes = dvs.open(partitionId, taskId)
    private val grps = scala.collection.mutable.TreeSet.empty[String]
    private val dvRow = new GenericInternalRow(2)

    override def insert(row: InternalRow): Unit = inserts.write(row)

    override def delete(meta: InternalRow, id: InternalRow): Unit = {
      // row id = (_file qualified path, _pos ordinal), rowId() order
      val grp = Layout.grpOfRel(id.getUTF8String(0).toString)
      dvRow.update(0, UTF8String.fromString(grp))
      dvRow.setLong(1, id.getLong(1))
      deletes.write(dvRow)
      grps += grp
    }

    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      delete(meta, id); insert(row)
    }

    override def commit(): WriterCommitMessage =
      StagedCommitMessage(inserts.commit(), deletes.commit(), grps.toArray)

    override def abort(): Unit = { inserts.abort(); deletes.abort() }

    override def close(): Unit = ()
  }
}
