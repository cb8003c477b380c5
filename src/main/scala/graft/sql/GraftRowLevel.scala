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

import graft.functions.MorMaskExpr
import graft.ops.Layout
import graft.ops.layout.CommitStats

/** Group-based row-level SQL (`MERGE INTO` / `UPDATE` / rewrite-path
  * `DELETE`) for graft-manifest tables — the copy-on-write half Spark's
  * own planner drives once a table implements
  * `SupportsRowLevelOperations`:
  *
  *   1. the ANALYZER rewrites the command into a `ReplaceData` plan that
  *      reads the table through [[GraftRowLevelOperation.newScanBuilder]]
  *      (the COW scan), applies the merge/update logic, and writes every
  *      surviving row of the affected file-groups back through
  *      [[GraftRowLevelOperation.newWriteBuilder]];
  *   2. the OPTIMIZER's RowLevelOperationRuntimeGroupFiltering narrows
  *      "affected" from ALL files to the files that actually hold
  *      matching rows: the operation declares a per-row `_file` metadata
  *      column, Spark builds a runtime `IN` subquery over it (collect
  *      the distinct `_file`s satisfying the command's condition), and
  *      [[GraftCowScan.filter]] prunes the group list — the COW analogue
  *      of [[Layout.mergeInto]]'s affected-file semi-join, just driven
  *      by Catalyst instead of by hand;
  *   3. the WRITE stages each task's rows as parquet files into a fresh
  *      txn dir (Spark's own `ParquetFileFormat.prepareWrite` factory,
  *      via the bridge — ReplaceDataExec has no V1 write fallback),
  *      each task computing its file's statistics as it writes, and
  *      the COMMIT is one [[Layout.commitRewrite]] CAS: head − scanned
  *      groups + staged files, serialized through the same manifest
  *      arbiter as every programmatic verb.
  *
  * Scale posture (the 100 TB question): the rewrite cost is bounded by
  * the matched-file footprint + insert volume, never the table — group
  * filtering prunes unmatched files BEFORE any parquet footer opens
  * (the subquery scans only the condition's columns), untouched files
  * carry by manifest line, and the commit is O(manifest). The COW scan
  * itself is row-based (the per-row `_file` append precludes returning
  * ColumnarBatches), a deliberate trade: row-level commands are
  * write-dominated, and the scan feeds a join anyway. It applies the
  * pinned snapshot's merge-on-read deletes — position and equality —
  * with the same in-task [[graft.functions.MorMask]] every other read
  * uses, so no deleted row resurrects through a rewrite.
  *
  * On a `graft.rowlevel.mode = 'mor'` table the SAME commands take the
  * DELTA rewrite instead ([[GraftDeltaOperation]], `SupportsDelta`):
  * the scan additionally serves the `_pos` row ordinal, the writer
  * receives per-row delete/update/insert verbs keyed by the
  * (_file, _pos) row id, deletes land as position-delete sidecar
  * entries, updates as delete + re-insert — and NO pre-existing data
  * file is rewritten, so a point UPDATE costs its matched rows, not
  * its matched files' bytes (see the classes at the bottom of this
  * file).
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

/** One SQL command's worth of row-level state: pins the snapshot version
  * (scan list and commit base must agree), hands out scan/write
  * builders, and remembers the MAIN scan so the commit knows which
  * groups were read. The group-filter subquery builds a SECOND scan
  * from this same operation (RowLevelOperationTable delegates every
  * newScanBuilder here) — first-built wins the commit-scan slot, which
  * is correct because Spark builds the main ReplaceData scan during
  * early pushdown and only then runs the group-filtering rule that
  * spawns the subquery's. */
class GraftRowLevelOperation(
    val tablePath: String,
    val pinnedVersion: Int,
    val tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** (manifest line, qualified absolute path, bytes) per file-group of
    * the pinned snapshot — absolute path is the `_file` currency. */
  val entries: Seq[(String, String, Long)] =
    Layout.rowLevelEntries(SparkSession.active, tablePath, pinnedVersion)

  @volatile private var mainScan: GraftCowScan = null
  private[sql] def registerScan(s: GraftCowScan): Unit = synchronized {
    if (mainScan == null) mainScan = s
  }
  private[sql] def commitScan: GraftCowScan = mainScan

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options:
      org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder = {
    Layout.ensureFieldIdRead(SparkSession.active, tableSchema)
    new GraftCowScanBuilder(this)
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
        override def description(): String =
          s"graft-cow-write[$tablePath@v$pinnedVersion]"
      }
    }
  }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumnName))

  override def description(): String =
    s"graft-cow[$cmd $tablePath@v$pinnedVersion]"
}

/** Standard v1-filter pushdown + column pruning; `_file`/`_pos` are
  * synthesized by the reader, everything else flows to the parquet
  * machinery. Shared by the COW and the delta (merge-on-read) row-level
  * operations — `register` lets the COW op capture its commit scan;
  * `wholeGroups` marks the COW op's scans, which push nothing to
  * parquet. */
class GraftCowScanBuilder(table: String, entries: Seq[(String, String, Long)],
    tableSchema: StructType, label: String,
    register: GraftCowScan => Unit, wholeGroups: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  def this(op: GraftRowLevelOperation) = this(op.tablePath, op.entries,
    op.tableSchema, s"${op.tablePath}@v${op.pinnedVersion}", op.registerScan,
    wholeGroups = true)

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Filters over data columns push to parquet (row-group pruning);
    * everything is ALSO kept as residual (returned array) so Spark
    * re-evaluates — the parquet push is best-effort, the double
    * evaluation is the standard file-source contract. A group-based
    * (copy-on-write) scan pushes none: Spark hands it the command's
    * condition, yet the rewrite must read EVERY row of each file it
    * replaces, and parquet's row-group skipping would drop the
    * non-matching rows from the rewritten file. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!wholeGroups) pushed = filters.filter(_.references.forall(r =>
      r != GraftRowLevel.FileColumnName && r != GraftRowLevel.PosColumnName))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val scan = new GraftCowScan(table, entries, tableSchema, required,
      pushed, label)
    register(scan)
    scan
  }
}

/** The COW scan: one input partition per file-group, rows read by
  * Spark's parquet reader under the table's recorded schema (missing
  * columns null-fill, the format's add-column evolution), with the
  * `_file` group id appended per row when requested. Implements runtime
  * group filtering: Spark's IN-subquery over `_file` prunes the group
  * list before any footer opens. Built from raw pieces (not the
  * operation) because TWO plan shapes need it: the ReplaceData main
  * scan, and the ordinary table read when a plan requests `_file` or
  * the snapshot carries merge-on-read deletes without the per-file
  * dispatch (see [[org.apache.spark.sql.graft.SnapshotScanBuilder]]).
  * `table` is the root the entries' sidecar pointers resolve against. */
class GraftCowScan(table: String, entries: Seq[(String, String, Long)],
    tableSchema: StructType, required: StructType,
    pushedFilters: Array[Filter], label: String) extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** Survivor groups — starts at the full pinned snapshot, narrowed by
    * [[filter]]; the write's commit swaps exactly this list. */
  @volatile private[sql] var files: Seq[(String, String, Long)] = entries

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

/** The V2 batch write behind ReplaceData: tasks stage parquet files into
  * one fresh txn dir (invisible until a manifest lists them), the driver
  * commit is a single REPLACE CAS swapping the scanned groups for the
  * staged files. Abort deletes the txn dir — staged-but-uncommitted
  * files are also vacuum's normal prey, the same crash story as every
  * other verb. */
class GraftCowBatchWrite(op: GraftRowLevelOperation) extends BatchWrite {

  private val txnRel = "data/txn-" + java.util.UUID.randomUUID().toString
  private val writeSchema =
    ColumnBridge.nullableSchema(op.tableSchema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val spark = SparkSession.active
    val (factory, conf) =
      ColumnBridge.parquetWriterFactory(spark, writeSchema, Map.empty)
    GraftCowWriterFactory(op.tablePath, txnRel, factory, conf, writeSchema,
      Layout.rowLevelStats(spark, op.tablePath, op.pinnedVersion,
        writeSchema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.toSeq.collect {
      case m: GraftCowCommitMessage if m.line != null => m.line
    }
    val scan = op.commitScan
    require(scan != null,
      "row-level write committed without a configured scan")
    val affected = scan.files.map(_._1).toSet
    Layout.commitRewrite(SparkSession.active, op.tablePath, affected, added,
      s"${op.command().toString.toLowerCase}Sql")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(op.tablePath, txnRel)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.delete(dir, true) catch { case _: java.io.IOException => () }
  }
}

/** A task's staged file as its manifest line (statistics included), or
  * a null line when the task wrote no row. */
case class GraftCowCommitMessage(line: String) extends WriterCommitMessage

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

/** The merge-on-read twin of [[GraftRowLevelOperation]]: same pinned
  * snapshot, same shared COW scan (which serves the `_pos` ordinal and
  * masks existing position and equality deletes, so a re-UPDATE of a
  * survivor row is keyed on TRUE file ordinals), but writes ride
  * [[GraftDeltaBatchWrite]]. */
class GraftDeltaOperation(
    val tablePath: String,
    val pinnedVersion: Int,
    val tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with SupportsDelta {

  val entries: Seq[(String, String, Long)] =
    Layout.rowLevelEntries(SparkSession.active, tablePath, pinnedVersion)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options:
      org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder = {
    Layout.ensureFieldIdRead(SparkSession.active, tableSchema)
    new GraftCowScanBuilder(tablePath, entries, tableSchema,
      s"$tablePath@v$pinnedVersion(mor)", _ => ())
  }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftRowLevel.FileColumnName),
    Expressions.column(GraftRowLevel.PosColumnName))

  /** `_file` rides along for runtime group filtering (the IN-subquery
    * over matched files still prunes the scan's group list). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumnName))

  override def newWriteBuilder(info: LogicalWriteInfo)
      : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite = new DeltaWrite {
      override def toBatch: DeltaBatchWrite =
        new GraftDeltaBatchWrite(GraftDeltaOperation.this)
      override def description(): String =
        s"graft-delta-write[$tablePath@v$pinnedVersion]"
    }
  }

  override def description(): String =
    s"graft-delta[$cmd $tablePath@v$pinnedVersion]"
}

/** Tasks stage insert/update rows as parquet AND position deletes as
  * (grp, pos) sidecar parquet into one fresh txn dir; the driver commit
  * is a single REPLACE CAS via [[Layout.commitDelta]]. */
class GraftDeltaBatchWrite(op: GraftDeltaOperation)
    extends DeltaBatchWrite {

  private val txnRel = "data/txn-" + java.util.UUID.randomUUID().toString
  private val writeSchema = ColumnBridge.nullableSchema(op.tableSchema)
  private[sql] val dvSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("grp", StringType,
      nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val spark = SparkSession.active
    // each factory carries ITS schema inside its hadoop conf
    // (ParquetWriteSupport reads the schema from the conf, not the
    // OutputWriter argument) — the two writers must not share one
    val (dataFactory, dataConf) =
      ColumnBridge.parquetWriterFactory(spark, writeSchema, Map.empty)
    val (dvFactory, dvConf) =
      ColumnBridge.parquetWriterFactory(spark, dvSchema, Map.empty)
    GraftDeltaWriterFactory(op.tablePath, txnRel, dataFactory, dvFactory,
      dataConf, dvConf, writeSchema, dvSchema,
      Layout.rowLevelStats(spark, op.tablePath, op.pinnedVersion,
        writeSchema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }
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

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(op.tablePath, txnRel)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.delete(dir, true) catch { case _: java.io.IOException => () }
  }
}

/** A task's staged data file as its manifest line (null when it
  * inserted nothing), and its position-delete sidecar with the file
  * groups the sidecar covers. */
case class GraftDeltaCommitMessage(dataLine: String, dvRel: String,
    grps: Array[String]) extends WriterCommitMessage

/** Per-task delta writer: lazily opens a parquet data writer for
  * inserts and a (grp, pos) sidecar writer for deletes; update =
  * delete + insert. The data file's statistics are aggregated as its
  * rows are written. Names carry (partition, task attempt) so
  * speculative retries never collide — the commit coordinator picks one
  * attempt's message, losers stay unreferenced until vacuum. */
case class GraftDeltaWriterFactory(tablePath: String, txnRel: String,
    dataFactory:
      org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    dvFactory:
      org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    dvConf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType, dvSchema: StructType, stats: CommitStats)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {

    private var dataWriter:
      org.apache.spark.sql.execution.datasources.OutputWriter = null
    private var data: FileAggregate.Buffer = null
    private var dvWriter:
      org.apache.spark.sql.execution.datasources.OutputWriter = null
    private val grps = scala.collection.mutable.TreeSet.empty[String]
    private val dvRow = new GenericInternalRow(2)

    override def insert(row: InternalRow): Unit = {
      if (dataWriter == null) {
        dataWriter = ColumnBridge.newOutputWriter(dataFactory, conf,
          s"$tablePath/$txnRel", f"part-$partitionId%05d-$taskId",
          schema, partitionId, taskId)
        data = stats.agg.newFile()
      }
      dataWriter.write(row)
      data.add(row)
    }

    override def delete(meta: InternalRow, id: InternalRow): Unit = {
      // row id = (_file qualified path, _pos ordinal), rowId() order
      val grp = Layout.grpOfRel(id.getUTF8String(0).toString)
      if (dvWriter == null)
        dvWriter = ColumnBridge.newOutputWriter(dvFactory, dvConf,
          s"$tablePath/$txnRel", f"dv-$partitionId%05d-$taskId",
          dvSchema, partitionId, taskId)
      dvRow.update(0, UTF8String.fromString(grp))
      dvRow.setLong(1, id.getLong(1))
      dvWriter.write(dvRow)
      grps += grp
    }

    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      delete(meta, id); insert(row)
    }

    override def commit(): WriterCommitMessage = {
      def closeAndRel(
          w: org.apache.spark.sql.execution.datasources.OutputWriter)
          : (String, Long) =
        if (w == null) (null, 0L)
        else {
          w.close()
          val p = new Path(w.path())
          val len = p.getFileSystem(
            new org.apache.hadoop.conf.Configuration(conf.value))
            .getFileStatus(p).getLen
          (s"$txnRel/${p.getName}", len)
        }
      val (dataRel, dataBytes) = closeAndRel(dataWriter)
      val (dvRel, _) = closeAndRel(dvWriter)
      GraftDeltaCommitMessage(
        if (dataRel == null) null
        else stats.line(dataRel, dataBytes, data.rows, data.result()),
        dvRel, grps.toArray)
    }

    override def abort(): Unit =
      Seq(dataWriter, dvWriter).filter(_ != null).foreach { w =>
        try w.close() catch { case _: Throwable => () }
        val p = new Path(w.path())
        try p.getFileSystem(
          new org.apache.hadoop.conf.Configuration(conf.value))
          .delete(p, false)
        catch { case _: java.io.IOException => () }
      }

    override def close(): Unit = ()
  }
}

/** Per-task parquet writer: lazily opened (an empty partition stages no
  * file), named by (partition, task attempt) so a speculative retry
  * never collides — the commit coordinator picks exactly one attempt's
  * message, and losers' files stay unreferenced until vacuum. The
  * file's statistics are aggregated as its rows are written and ride
  * the commit message in its rendered manifest line. */
case class GraftCowWriterFactory(tablePath: String, txnRel: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType, stats: CommitStats) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {

    private var writer:
      org.apache.spark.sql.execution.datasources.OutputWriter = null
    private var file: FileAggregate.Buffer = null

    override def write(row: InternalRow): Unit = {
      if (writer == null) {
        writer = ColumnBridge.newOutputWriter(factory, conf,
          s"$tablePath/$txnRel", f"part-$partitionId%05d-$taskId",
          schema, partitionId, taskId)
        file = stats.agg.newFile()
      }
      writer.write(row)
      file.add(row)
    }

    override def commit(): WriterCommitMessage =
      if (writer == null) GraftCowCommitMessage(null)
      else {
        writer.close()
        val p = new Path(writer.path())
        val len = p.getFileSystem(
          new org.apache.hadoop.conf.Configuration(conf.value))
          .getFileStatus(p).getLen
        GraftCowCommitMessage(stats.line(s"$txnRel/${p.getName}", len,
          file.rows, file.result()))
      }

    override def abort(): Unit =
      if (writer != null) {
        try writer.close() catch { case _: Throwable => () }
        val p = new Path(writer.path())
        try p.getFileSystem(
          new org.apache.hadoop.conf.Configuration(conf.value))
          .delete(p, false)
        catch { case _: java.io.IOException => () }
      }

    override def close(): Unit = ()
  }
}
