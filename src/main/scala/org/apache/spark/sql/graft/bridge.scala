package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions —
  * Spark 4 backs `Column` by ColumnNode, so extension libraries need this
  * one-hop package to lift a custom Catalyst `Expression` into a `Column`
  * (the conventional pattern for Spark-native extension libs). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark`'s session (runtime conf, temp views, functions,
    * listeners) over the same SparkContext and cache manager: conf set
    * on the copy never reaches `spark` (`cloneSession` is `private[sql]`).
    * `spark`'s observation listener is made first, so an `Observation`
    * on a frame of `spark` completes when the copy runs it, whenever
    * the frame was observed. */
  def cloneSession(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.observationManager
    s.cloneSession()
  }

  /** The analyzed logical plan behind a Dataset. */
  def logicalPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Parquet-semantics schema merge (`StructType.merge`, `private[sql]`):
    * existing fields keep their position and type, new fields append;
    * incompatible type changes throw — exactly the add-column-only
    * evolution contract the manifest table's schema tracking enforces. */
  def mergeSchemas(base: org.apache.spark.sql.types.StructType,
      other: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    base.merge(other)

  /** `StructType.asNullable` (`private[spark]`): a recorded table schema
    * must be all-nullable so pre-evolution files can null-fill columns
    * added after them. */
  def nullableSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    s.asNullable

  /** The data size `ANALYZE TABLE` records for an unpartitioned table
    * stored at `location` (`CommandUtils.calculateSingleLocationSize`:
    * the summed length of the files under it, skipping Spark's hidden
    * and staging files). One file listing, no Spark job; `table` only
    * names the table in a listing failure's log line. */
  def locationSize(spark: SparkSession,
      table: org.apache.spark.sql.catalyst.TableIdentifier,
      location: java.net.URI): BigInt =
    org.apache.spark.sql.execution.command.CommandUtils
      .calculateSingleLocationSize(
        spark.asInstanceOf[classic.SparkSession].sessionState, table,
        Some(location))

  /** Drop every cached plan over catalog table `table`, and the plans
    * cached over those (`cascade`), found by the table's qualified name
    * — no relation is resolved to find them. */
  def uncacheTable(spark: SparkSession,
      table: org.apache.spark.sql.catalyst.TableIdentifier): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.sharedState.cacheManager.uncacheTableOrView(cs,
      cs.sessionState.catalog.qualifyIdentifier(table).nameParts,
      cascade = true)
  }

  /** `df`'s rows on the driver as Catalyst rows, in `df`'s order —
    * `Dataset.collect` without the conversion to external `Row`s: one
    * SQL execution, the plan's jobs at their own parallelism (none for a
    * driver-local plan). Bounded by `spark.driver.maxResultSize`. */
  def collectInternal(df: DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A driver-local frame over `rows` of `schema` (a `LocalRelation`):
    * actions on it re-run no upstream plan. */
  def localFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rows))

  /** The schema `spark.read.parquet(paths: _*)` would infer for parquet
    * FILES (not directories), read from one footer on the driver instead
    * of by a scheduled Spark job. Picks the footer non-merging inference
    * picks (`ParquetUtils.inferSchema`): a `_common_metadata`, else a
    * `_metadata` summary, else the data file with the lowest qualified
    * path string; converts it as inference does (see
    * [[org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge]]).
    * All-nullable, as the file relation reports it. For parquet whose
    * writer is this engine — hand it to `spark.read.schema(…)`. */
  def parquetFooterSchema(spark: SparkSession, paths: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    val cs = spark.asInstanceOf[classic.SparkSession]
    val conf = cs.sessionState.newHadoopConf()
    val sorted = paths.map { p =>
      val h = new Path(p)
      h.getFileSystem(conf).makeQualified(h)
    }.sortBy(_.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val file = summaries.flatMap(n => sorted.find(_.getName == n))
      .headOption
      .orElse(sorted.find(p => !summaries.contains(p.getName)))
      .getOrElse(throw new IllegalArgumentException(
        "parquetFooterSchema: no parquet file given"))
    org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge
      .schemaOf(conf, cs.sessionState.conf, file).asNullable
  }

  /** A BATCH BaseRelation over concrete data files — what a v1
    * RelationProvider returns so `spark.read.format(...)` gets the full
    * file-source machinery (filter pushdown, column pruning, vectorized
    * parquet) over an explicit file list instead of a directory. */
  def fileRelation(spark: SparkSession, format: String,
      paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.execution.datasources.DataSource
    val cs = spark.asInstanceOf[classic.SparkSession]
    DataSource(cs, className = format, paths = paths,
      userSpecifiedSchema = schema)
      .resolveRelation(checkFilesExist = false)
  }

  /** A DataFrame over concrete data files whose plan carries
    * `isStreaming = true` — the FileStreamSource recipe, exposed so a
    * graft v1 streaming `Source.getBatch` can hand micro-batch deltas to
    * MicroBatchExecution (which rejects non-streaming plans). The files
    * are read with the full file-source machinery: the schema is pinned
    * (no per-batch inference), and downstream filters/projections still
    * push into the scan of each micro-batch. */
  def streamingFileRelation(spark: SparkSession, format: String,
      paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
    val cs = spark.asInstanceOf[classic.SparkSession]
    val ds = DataSource(cs, className = format, paths = paths,
      userSpecifiedSchema = Some(schema))
    classic.Dataset.ofRows(cs, LogicalRelation(
      ds.resolveRelation(checkFilesExist = false), isStreaming = true))
  }

  /** Re-wrap a v1 `Sink.addBatch` DataFrame (backed by the micro-batch's
    * IncrementalExecution) as a plain batch DataFrame WITHOUT a
    * row-level decode/encode round trip: execute the incremental plan to
    * InternalRows and wrap them directly. No per-row copy — safe for
    * consumers that stream rows straight into a writer (a parquet stage
    * write never buffers row references), which is FileStreamSink's own
    * pattern; a consumer that COLLECTS rows must copy them itself. */
  def rewrapBatch(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    cs.internalCreateDataFrame(qe.toRdd, df.schema)
  }

  /** Zero-row streaming DataFrame with a pinned schema — the shape a
    * streaming source must return for an empty delta (a plain empty
    * DataFrame would fail MicroBatchExecution's isStreaming check). */
  def emptyStreamingDF(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }

  /** DSv2 ScanBuilder over an EXPLICIT snapshot file list — what the
    * graft-manifest TableCatalog's table hands Spark so `SELECT`s over
    * a registered table get the native parquet machinery (filter
    * pushdown, column pruning, aggregate pushdown, vectorized read)
    * without any directory listing: the manifest decided which files
    * exist, the FileIndex here only stats them. */
  def parquetScanBuilder(spark: SparkSession, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      options: java.util.Map[String, String])
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val cs = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(cs,
      files.map(new org.apache.hadoop.fs.Path(_)),
      options.asScala.toMap, Some(schema),
      FileStatusCache.getOrCreate(cs), None, None)
    ParquetScanBuilder(cs, index, schema, schema,
      new CaseInsensitiveStringMap(options))
  }

  // -- row-level (COW) per-file read/write primitives ------------------
  // The group-based SQL rewrite (MERGE INTO / UPDATE via
  // SupportsRowLevelOperations) needs a scan that knows which FILE each
  // row came from and a V2 batch write (ReplaceDataExec has no V1
  // fallback). Both ride Spark's own parquet machinery; only the
  // `private[sql]` constructors live here.

  /** Serializable per-file parquet reader — the same
    * `FileFormat.buildReaderWithPartitionValues` closure the v1
    * FileSourceScanExec ships to executors (it broadcasts the hadoop
    * conf internally). `OPTION_RETURNING_BATCH=false` pins the row-based
    * return contract: the COW scan appends a per-file column to each
    * row, which a ColumnarBatch return would break. */
  def parquetReaderFunc(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String])
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cs = spark.asInstanceOf[classic.SparkSession]
    val opts = options + (FileFormat.OPTION_RETURNING_BATCH -> "false")
    new ParquetFileFormat().buildReaderWithPartitionValues(
      cs, dataSchema, new org.apache.spark.sql.types.StructType(),
      requiredSchema, filters, opts, cs.sessionState.newHadoopConf())
  }

  /** Executor-side [[PartitionedFile]] for a whole single file (the COW
    * scan plans one partition per file — file identity IS the group). */
  def partitionedFile(path: String, length: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(path),
      0L, length, Array.empty, 0L, length)

  /** Driver-side: a serializable parquet [[OutputWriterFactory]] (+ the
    * job conf it needs), via `ParquetFileFormat.prepareWrite` — the
    * exact factory Spark's own InsertIntoHadoopFsRelation uses, so
    * compression/encoding config applies identically. */
  def parquetWriterFactory(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      options: Map[String, String])
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val cs = spark.asInstanceOf[classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      cs.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(
      cs, job, options, schema)
    (factory, new org.apache.spark.util.SerializableConfiguration(
      job.getConfiguration))
  }

  /** Executor-side: open an [[OutputWriter]] at
    * `dir/baseName<ext>` with a fabricated TaskAttemptContext (conf is
    * COPIED per writer — local-mode tasks share the JVM and hadoop
    * Configuration is not thread-safe under mutation). The caller reads
    * the concrete path back via `writer.path()`. */
  def newOutputWriter(
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      dir: String, baseName: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionId: Int, taskId: Long)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-rowlevel", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(
      new org.apache.hadoop.conf.Configuration(conf.value), attempt)
    factory.newInstance(s"$dir/$baseName${factory.getFileExtension(ctx)}",
      schema, ctx)
  }

  /** Drain the async listener bus (`private[spark]` API): the bench's
    * per-key executor-CPU attribution reads an accumulating
    * SparkListener, and without a drain between keys the task-end
    * events of key N's last stage can post after key N+1's snapshot —
    * CPU bleeding across keys. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** The one scan builder of a graft-manifest table, serving BOTH read
  * shapes: the VECTORIZED parquet path (Spark's own ParquetScanBuilder —
  * filter pushdown, aggregate pushdown, columnar read) for plain reads,
  * and a caller-supplied row-based per-file scan for every plan that
  * requests the `_file`/`_pos` metadata columns (the row-level
  * group-filter subquery), for every read of a snapshot with live row
  * masks, and for every read of a row-level operation (`rowBased`).
  * Both shapes skip files by the same manifest rule: the pushed WHERE
  * conjuncts' [[SnapshotScanBuilder.skipOf]] bounds predicates. Lives in
  * the bridge package because delegation needs the `private[sql]`
  * catalyst-filter pushdown trait FileScanBuilder uses.
  *
  * Filters referencing `_file`/`_pos` stay residual (never reach
  * parquet, which cannot serve the columns); everything else delegates,
  * so the fast path's pushdown is EXACTLY what the direct builder did. */
class SnapshotScanBuilder(
    spark: SparkSession,
    files: Seq[String],
    schema: org.apache.spark.sql.types.StructType,
    options: java.util.Map[String, String],
    fileScanFor: (org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.sources.Filter], Option[Seq[String]]) =>
        org.apache.spark.sql.connector.read.Scan,
    prune: Seq[graft.ops.Layout.Skip] => (Seq[String], Int) = null,
    rowBased: Boolean = false,
    spjKeys: Option[(Array[org.apache.spark.sql.connector.expressions.Expression],
      Seq[org.apache.spark.sql.types.DataType],
      Map[String, (Long, Seq[Any])])] = None,
    tableStats: () => (Option[Long], Map[String, (Long, Long)]) =
      () => (None, Map.empty))
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder

  // the file universe the built scan will read — manifest pruning
  // narrows it; the SPJ regrouping must key exactly this set
  private var currentFiles: Seq[String] = files
  // Spark's parquet builder over the kept files, built on first use —
  // which a `rowBased` builder never makes: its InMemoryFileIndex stats
  // every file it lists. Spark's pushdown order is filters → aggregates
  // → column pruning → build, so it is built after manifest pruning.
  private lazy val inner: FileScanBuilder =
    ColumnBridge.parquetScanBuilder(spark, currentFiles, schema, options)
      .asInstanceOf[FileScanBuilder]
  private def innerAgg =
    inner.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsPushDownAggregates]

  // synthesized row-identity columns only the row-based scan serves
  private val MetaCols = Set("_file", "_pos")
  private var wantsFile = false
  private var required: org.apache.spark.sql.types.StructType = schema
  // the row-based scan's input besides the kept files: the data filters
  // as v1 filters (its parquet pushdown)
  private var rowFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var prunedFiles: Boolean = false
  // a pushed aggregate's output rows are NOT keyed by partition value —
  // the keyed wrapper must never claim a partitioning over them
  private var aggPushed = false

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val (onFile, onData) =
      filters.partition(_.references.exists(r => MetaCols(r.name)))
    // MANIFEST-level file skipping for SQL reads: WHERE conjuncts that
    // translate to bounds predicates (SnapshotScanBuilder.skipOf) drop
    // whole files from the scan BEFORE any parquet footer opens — the
    // same decision Layout.readSnapshotWhere makes for the Scala verbs,
    // now made for `SELECT ... WHERE` text. Sound because a Skip is a
    // NECESSARY condition of its conjunct (bounds only ever prove
    // absence), and the exact predicates still evaluate on surviving
    // rows through the normal parquet pushdown below.
    if (prune != null) {
      val skips = onData.flatMap(SnapshotScanBuilder.skipOf)
      if (skips.nonEmpty) {
        val (kept, total) = prune(skips)
        SnapshotScanBuilder.lastPrune = Some((kept.size, total))
        if (kept.size < total) {
          currentFiles = kept
          prunedFiles = true
        }
      } else SnapshotScanBuilder.lastPrune = None
    }
    rowFilters = onData.filter(_.deterministic).flatMap(e =>
      org.apache.spark.sql.execution.datasources.DataSourceStrategy
        .translateFilter(e, supportNestedPredicatePushdown = true)).toArray
    // the row-based scan keeps every filter residual
    if (rowBased) filters else onFile ++ inner.pushFilters(onData)
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    if (rowBased) rowFilters.map(_.toV2) else inner.pushedFilters

  override def pruneColumns(
      requiredSchema: org.apache.spark.sql.types.StructType): Unit = {
    wantsFile = requiredSchema.fieldNames.exists(MetaCols)
    required = requiredSchema
    if (!rowBased && !wantsFile)
      inner.pruneColumns(requiredSchema)
  }

  // a row-based read must never answer from parquet footers: a
  // pushed-down COUNT(*)/MIN/MAX would include position- or
  // equality-deleted rows
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = !rowBased && innerAgg.supportCompletePushDown(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val pushed = !wantsFile && !rowBased && innerAgg.pushAggregation(agg)
    if (pushed) aggPushed = true
    pushed
  }

  /** Plans requesting `_file`/`_pos` take the row-based scan (which
    * synthesizes them); so does every read of a `rowBased` builder — a
    * row-level operation's, or any read of a version with live row masks
    * (position or equality deletes) that reaches this builder: the
    * row-based reader masks them in the task. Mask-free plain reads keep
    * the vectorized parquet path untouched.
    *
    * SPJ (r18): an eligible partitioned snapshot (caller passed
    * spjKeys — every file single-valued on the partition columns)
    * wraps the vectorized scan in [[KeyedParquetScan]] when the
    * session runs with v2 bucketing on: same reader factory, files
    * regrouped one-task-per-partition-value, KeyGroupedPartitioning
    * reported — a co-partitioned join then plans shuffle-free. Never
    * over a pushed aggregate (its rows aren't keyed), and any
    * conversion gap falls back to the plain scan. */
  override def build(): org.apache.spark.sql.connector.read.Scan =
    if (wantsFile || rowBased)
      fileScanFor(required, rowFilters, Some(currentFiles).filter(_ => prunedFiles))
    else {
      val base0 = inner.build()
      // manifest-derived planner stats (r19): enrich the scan's
      // estimate with exact row count + per-column NDV. Never over a
      // pushed aggregate (its output is not the table's rows), and
      // never when manifest skipping pruned files — the snapshot-level
      // numRows would then overstate what this scan actually serves,
      // inconsistently with its pruned sizeInBytes. (Pushed DATA
      // filters are fine: v2 file sources always keep the residual
      // Filter node, and its estimation SCALES the reported count by
      // predicate selectivity — which is what the stats are for.)
      val base = if (aggPushed || prunedFiles) base0
      else tableStats() match {
        case (None, ndv) if ndv.isEmpty => base0
        case (rows, ndv) => new GraftStatsScan(base0, rows, ndv)
      }
      val spjOn = spjKeys.isDefined && !aggPushed &&
        spark.conf.get("spark.sql.sources.v2.bucketing.enabled",
          "false").toBoolean
      if (!spjOn) base
      else {
        val (keyExprs, dts, keyed) = spjKeys.get
        KeyedParquetScan.wrap(base, keyExprs, dts, currentFiles, keyed)
          .getOrElse(base)
      }
    }
}

object SnapshotScanBuilder {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types._
  import graft.ops.Layout.{Skip, SkipEquals, SkipIn, SkipRange}

  /** Spec/plan-audit observability: (kept, total) file counts of the
    * most recent manifest prune attempted by a SQL read. */
  @volatile var lastPrune: Option[(Int, Int)] = None

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asLong(v: Any): Long = v match {
    case b: Byte  => b.toLong
    case s: Short => s.toLong
    case i: Int   => i.toLong
    case l: Long  => l
  }

  /** The bounds predicate a WHERE conjunct IMPLIES, when one exists.
    * Deliberately conservative: integral attribute-vs-literal
    * comparisons and string equality only — exactly the shapes the
    * manifest records bounds for (LongBounds/NumBounds/StrBounds).
    * Anything else (doubles, casts, dates, null-valued literals,
    * boundary-overflowing strict inequalities) returns None and simply
    * forgoes pruning; stats are an optimization, never a correctness
    * input. */
  private[graft] def skipOf(e: Expression): Option[Skip] = e match {
    case EqualTo(a: AttributeReference, Literal(v, dt)) => eqSkip(a, v, dt)
    case EqualTo(Literal(v, dt), a: AttributeReference) => eqSkip(a, v, dt)
    case In(a: AttributeReference, ls)
        if integral(a.dataType) && ls.nonEmpty && ls.forall {
          case Literal(v, _) => v != null
          case _             => false
        } =>
      Some(SkipIn(a.name, ls.map { case Literal(v, _) => asLong(v) }))
    case InSet(a: AttributeReference, vs)
        if integral(a.dataType) && vs.nonEmpty && !vs.contains(null) =>
      Some(SkipIn(a.name, vs.toSeq.map(asLong)))
    case GreaterThan(a: AttributeReference, Literal(v, _))
        if integral(a.dataType) && v != null &&
          asLong(v) != Long.MaxValue =>
      Some(SkipRange(a.name, asLong(v) + 1, Long.MaxValue))
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _))
        if integral(a.dataType) && v != null =>
      Some(SkipRange(a.name, asLong(v), Long.MaxValue))
    case LessThan(a: AttributeReference, Literal(v, _))
        if integral(a.dataType) && v != null &&
          asLong(v) != Long.MinValue =>
      Some(SkipRange(a.name, Long.MinValue, asLong(v) - 1))
    case LessThanOrEqual(a: AttributeReference, Literal(v, _))
        if integral(a.dataType) && v != null =>
      Some(SkipRange(a.name, Long.MinValue, asLong(v)))
    // literal-on-left mirror images: `5 < a` ≡ `a > 5`
    case GreaterThan(Literal(v, _), a: AttributeReference)
        if integral(a.dataType) && v != null &&
          asLong(v) != Long.MinValue =>
      Some(SkipRange(a.name, Long.MinValue, asLong(v) - 1))
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference)
        if integral(a.dataType) && v != null =>
      Some(SkipRange(a.name, Long.MinValue, asLong(v)))
    case LessThan(Literal(v, _), a: AttributeReference)
        if integral(a.dataType) && v != null &&
          asLong(v) != Long.MaxValue =>
      Some(SkipRange(a.name, asLong(v) + 1, Long.MaxValue))
    case LessThanOrEqual(Literal(v, _), a: AttributeReference)
        if integral(a.dataType) && v != null =>
      Some(SkipRange(a.name, asLong(v), Long.MaxValue))
    case _ => None
  }

  private def eqSkip(a: AttributeReference, v: Any,
      dt: DataType): Option[Skip] =
    if (v == null) None
    else if (integral(dt)) Some(SkipRange(a.name, asLong(v), asLong(v)))
    else dt match {
      case StringType => Some(SkipEquals(a.name, v.toString))
      case _          => None
    }
}
