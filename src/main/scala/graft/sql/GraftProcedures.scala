package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataTypes, StructType}

import graft.ops.Layout

/** Maintenance verbs as SQL `CALL` procedures — the last lifecycle
  * surface the SQL front door was missing. Spark 4's DataSourceV2
  * procedure machinery (`ProcedureCatalog` → analyzer `CALL` binding)
  * drives them, so a SQL-only user can now run the FULL table life:
  *
  * {{{
  *   CALL graft_x.system.compact('default.t')
  *   CALL graft_x.system.rollback('default.t', 2)
  *   CALL graft_x.system.expire_snapshots('default.t', keep_last => 3)
  * }}}
  *
  * (the Iceberg convention: maintenance lives under a `system`
  * namespace, tables are named by a string argument resolved against
  * the calling catalog's warehouse). Each procedure delegates to the
  * corresponding [[Layout]] verb — the SAME commit CAS (and optional
  * lockfile arbiter) every programmatic and SQL writer serializes
  * through — and returns its outcome as a one-row result relation
  * (a [[LocalScan]]: the row is driver-known metadata, there is
  * nothing to distribute). Scale posture: all three verbs are
  * O(manifest) in metadata plus, for compact, the rewritten-byte data
  * cost — table size never enters a procedure's own bookkeeping. */
object GraftProcedures {

  /** `'t'` or `'ns.t'` (or `'a.b.t'`) against the calling catalog —
    * bare names land in `default`, mirroring the catalog's namespace
    * rules. */
  private def tableDir(cat: GraftCatalog, arg: String): String = {
    val parts = arg.split('.')
    val ident =
      if (parts.length == 1) Identifier.of(Array("default"), parts.head)
      else Identifier.of(parts.init, parts.last)
    cat.tableDirOf(ident)
  }

  private def spark: SparkSession = SparkSession.active

  /** One-row result relation. Varargs `Any*` on purpose: a `Seq(...)`
    * literal mixing Int and Long fields would weak-lub to `Seq[Long]`
    * and silently WIDEN the Ints — the boxed Longs then explode in the
    * row projection against the IntegerType schema fields (found the
    * hard way). Typing each element independently as `Any` keeps the
    * runtime boxes aligned with the declared schema. */
  private def one(schema: StructType)(values: Any*)
      : java.util.Iterator[Scan] = {
    require(values.length == schema.length)
    val r: InternalRow = new GenericInternalRow(values.toArray)
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(r)
    }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** Multi-row result relation (same boxing discipline as [[one]]). */
  private def rowsResult(schema: StructType, rs: Seq[Array[Any]])
      : java.util.Iterator[Scan] = {
    val arr = rs.map(a => new GenericInternalRow(a): InternalRow).toArray
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = arr
    }
    java.util.Collections.singletonList(scan).iterator()
  }

  private abstract class GraftProcedure(procName: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  private def rollback(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("rollback") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("version", DataTypes.IntegerType).build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "rolled_back_to", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "new_version", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val target = input.getInt(1)
        val v = Layout.rollbackTo(spark, table, target)
        one(out)(target, v)
      }
    }

  private def expireSnapshots(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("expire_snapshots") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("keep_last", DataTypes.IntegerType)
          .defaultValue("2").build(),
        ProcedureParameter.in("orphan_older_than_ms", DataTypes.LongType)
          .defaultValue(s"${30L * 60 * 1000}").build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "expired_manifests", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "deleted_files", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val (manifests, files) = Layout.expireSnapshots(spark, table,
          keepLast = input.getInt(1),
          orphanOlderThanMs = input.getLong(2))
        one(out)(manifests, files)
      }
    }

  // --- branches: write-audit-publish as SQL (r18) ---------------------
  // CALL system.create_branch(t, name) → fork at head; writes land on
  // the branch under SET spark.graft.wap.branch=name; audit via
  // `SELECT ... VERSION AS OF 'name'`; CALL system.publish_branch →
  // fast-forward main; CALL system.drop_branch → discard.

  private def createBranch(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("create_branch") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("branch", DataTypes.StringType).build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "forked_at_version", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        one(out)(Layout.createBranch(spark, table,
          input.getUTF8String(1).toString))
      }
    }

  private def publishBranch(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("publish_branch") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("branch", DataTypes.StringType).build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "published_version", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        one(out)(Layout.publishBranch(spark, table,
          input.getUTF8String(1).toString))
      }
    }

  private def dropBranch(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("drop_branch") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("branch", DataTypes.StringType).build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "dropped_manifests", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        one(out)(Layout.dropBranch(spark, table,
          input.getUTF8String(1).toString))
      }
    }

  private def cloneProc(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("clone") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("source", DataTypes.StringType).build(),
        ProcedureParameter.in("target", DataTypes.StringType).build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "cloned_version", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val src = tableDir(cat, input.getUTF8String(0).toString)
        val dst = tableDir(cat, input.getUTF8String(1).toString)
        one(out)(Layout.cloneTable(spark, src, dst))
      }
    }

  /** OPTIMIZE as SQL: plain bin-pack by default; `sort_by` range-
    * clusters one/more columns, `zorder_by` ('a,b[,c…]', up to six) interleave-clusters
    * several — the repack that gives a skipping table disjoint per-file
    * bounds, so SQL reads prune afterwards (GraftProcedureSpec pins
    * scattered→clustered pruning). Recorded stats columns carry —
    * compactSnapshot re-records bounds from the table's own property. */
  private def compact(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("compact") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("target_file_bytes", DataTypes.LongType)
          .defaultValue(s"${128L << 20}").build(),
        ProcedureParameter.in("sort_by", DataTypes.StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("zorder_by", DataTypes.StringType)
          .defaultValue("''").build(),
        // targeted MOR maintenance: rewrite ONLY files carrying live
        // deletion vectors (dv-applied), carry everything else by line
        // — cost ∝ the delete rate, not the table (Layout.compactDeletes)
        ProcedureParameter.in("only_dv", DataTypes.BooleanType)
          .defaultValue("false").build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "version", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files_before", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files_after", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "bytes_rewritten", DataTypes.LongType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val sortBy = Layout.splitCols(input.getUTF8String(2).toString)
        val z = Layout.splitCols(input.getUTF8String(3).toString)
        require(z.isEmpty || (z.length >= 2 && z.length <= 6),
          s"zorder_by takes two to six comma-separated columns, got " +
            s"'${z.mkString(",")}'")
        if (input.getBoolean(4)) {
          require(sortBy.isEmpty && z.isEmpty,
            "only_dv rewrites only the dv'd files and cannot re-cluster" +
              " — drop sort_by/zorder_by or run a full compact")
          val (v, rewritten, untouched, bytesIn) =
            Layout.compactDeletes(spark, table)
          // honest accounting (r17 ADVICE): before = the old line
          // count; after = the NEW manifest's (a dv'd file can re-stage
          // into a different file count); bytes = the dv'd input bytes
          val filesAfter =
            if (rewritten == 0) untouched
            else Layout.snapshotLayout(spark, table, Some(v))._1.size
          one(out)(v, rewritten + untouched, filesAfter, bytesIn)
        } else {
          val (v, stats) = Layout.compactSnapshot(spark, table,
            targetFileBytes = input.getLong(1),
            sortBy = sortBy,
            zorderBy = z)
          one(out)(v, stats.filesBefore, stats.filesAfter,
            stats.bytesBefore)
        }
      }
    }

  private def history(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("history") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build())
      override def isDeterministic: Boolean = false // reads live state
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "version", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "committed_at_ms", DataTypes.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "bytes", DataTypes.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "commit_id", DataTypes.StringType, nullable = false),
        // which VERB produced the version (append / delete / merge /
        // compact / rollback / DDL …) — "" on pre-r17 manifests
        org.apache.spark.sql.types.StructField(
          "operation", DataTypes.StringType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        rowsResult(out, Layout.history(spark, table).map {
          case (v, at, files, bytes, id, op) =>
            Array[Any](v, at, files, bytes,
              org.apache.spark.unsafe.types.UTF8String.fromString(id),
              org.apache.spark.unsafe.types.UTF8String.fromString(op))
        })
      }
    }

  /** `CALL system.detail('tbl')` — DESCRIBE DETAIL analogue: one row of
    * head-version metadata (version, live files, recorded bytes, schema
    * DDL, properties rendered `k=v; ...`). O(manifest), no data IO —
    * the operational "what is this table" question answered from
    * metadata alone, which is the only acceptable cost at 100 TB. */
  private def detail(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("detail") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build())
      override def isDeterministic: Boolean = false // reads live state
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "version", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "bytes", DataTypes.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "schema", DataTypes.StringType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "properties", DataTypes.StringType, nullable = false),
        // merge-on-read health: files masked by live deletion vectors
        // and distinct sidecars — a growing count says "compact"
        org.apache.spark.sql.types.StructField(
          "dv_files", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "dv_sidecars", DataTypes.IntegerType, nullable = false),
        // live branches (r18): an unpublished WAP batch pins files
        // against vacuum — the operator should SEE the branch exists
        org.apache.spark.sql.types.StructField(
          "branches", DataTypes.StringType, nullable = false),
        // planner statistics (r19): the manifest-derived exact row
        // count (-1 when a legacy line predates the #rows groups) and
        // the merged per-column NDV estimates — ANALYZE observability
        // with zero data IO. Appended LAST so older consumers' column
        // ordinals keep working.
        org.apache.spark.sql.types.StructField(
          "row_count", DataTypes.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "ndv", DataTypes.StringType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val (v, files, bytes, ddl, props, dvFiles, dvSidecars) =
          Layout.tableDetail(spark, table)
        val propStr = props.toSeq.sorted
          .map { case (k, value) => s"$k=$value" }.mkString("; ")
        val (rows, ndv) = Layout.scanStats(spark, table, v)
        val ndvStr = ndv.toSeq.sorted
          .map { case (c, (n, _)) => s"$c=$n" }.mkString("; ")
        rowsResult(out, Seq(Array[Any](v, files, bytes,
          org.apache.spark.unsafe.types.UTF8String.fromString(ddl),
          org.apache.spark.unsafe.types.UTF8String.fromString(propStr),
          dvFiles, dvSidecars,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            Layout.listBranches(spark, table).mkString(",")),
          rows.getOrElse(-1L),
          org.apache.spark.unsafe.types.UTF8String.fromString(ndvStr))))
      }
    }

  /** Equality upsert as SQL (r19): `CALL system.upsert('default.t',
    * source => 'updates_view', key => 'id')` — merge-on-read key
    * upserts without reading a single data file (Layout.upsertByKeys:
    * append the source's rows, stage a key sidecar, annotate head
    * lines; masked reads anti-join on the key). `delete_only => true`
    * records a tombstone batch. The source is any table or view the
    * session resolves — the natural shape for a CDC staging view. */
  private def upsertProc(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("upsert") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("source", DataTypes.StringType).build(),
        ProcedureParameter.in("key", DataTypes.StringType).build(),
        ProcedureParameter.in("delete_only", DataTypes.BooleanType)
          .defaultValue("false").build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "version", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "lines_annotated", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files_appended", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val src = spark.table(input.getUTF8String(1).toString)
        // `key => 'id'` or composite `key => 'tenant_id,id'` (r20)
        val keyCols = input.getUTF8String(2).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        val (v, annotated, appended) = Layout.upsertByKeys(spark, table,
          src, keyCols, deleteOnly = input.getBoolean(3))
        one(out)(v, annotated, appended)
      }
    }

  /** Guarded partition-spec evolution as SQL (r19):
    * `CALL system.relayout('default.t', bucket_by => 'k',
    * bucket_count => 16)` / `(partitioned_by => 'day')` / no layout
    * args = flatten. One REPLACE commit re-fans the table out under the
    * target layout and swaps the layout props atomically — the rewrite
    * the ALTER-immutability refusal names (Layout.relayout has the
    * guard rationale: branch refusal, strict replace, spec-qualified
    * groups for racing writers). */
  private def relayoutProc(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("relayout") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("partitioned_by", DataTypes.StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("bucket_by", DataTypes.StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("bucket_count", DataTypes.IntegerType)
          .defaultValue("0").build(),
        ProcedureParameter.in("target_file_bytes", DataTypes.LongType)
          .defaultValue(s"${128L << 20}").build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "version", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files_before", DataTypes.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "files_after", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val partBy = input.getUTF8String(1).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        val bucketBy =
          Option(input.getUTF8String(2).toString).filter(_.nonEmpty)
        val n = input.getInt(3)
        require(bucketBy.isEmpty == (n == 0),
          "relayout: bucket_by and bucket_count come together")
        val (v, before, after) = Layout.relayout(spark, table,
          partitionedBy = partBy, bucketBy = bucketBy,
          bucketCount = if (n == 0) None else Some(n),
          targetFileBytes = input.getLong(4))
        one(out)(v, before, after)
      }
    }

  /** Metadata-only layout evolution as SQL (r20):
    * `CALL system.evolve_layout('default.t', bucket_by => 'k',
    * bucket_count => 32)` — one props-only commit, zero rewrite, safe
    * under continuous ingest (Layout.evolveLayout has the mixed-state
    * soundness argument: stale placements can't key or prune under the
    * new spec; SPJ keying returns after ordinary compaction). The
    * rewrite-everything sibling is `system.relayout`. */
  private def evolveLayoutProc(cat: GraftCatalog): UnboundProcedure =
    new GraftProcedure("evolve_layout") {
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("table", DataTypes.StringType).build(),
        ProcedureParameter.in("partitioned_by", DataTypes.StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("bucket_by", DataTypes.StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("bucket_count", DataTypes.IntegerType)
          .defaultValue("0").build())
      private val out = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "version", DataTypes.IntegerType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val table = tableDir(cat, input.getUTF8String(0).toString)
        val partBy = input.getUTF8String(1).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        val bucketBy =
          Option(input.getUTF8String(2).toString).filter(_.nonEmpty)
        val n = input.getInt(3)
        require(bucketBy.isEmpty == (n == 0),
          "evolve_layout: bucket_by and bucket_count come together")
        val v = Layout.evolveLayout(spark, table,
          partitionedBy = partBy, bucketBy = bucketBy,
          bucketCount = if (n == 0) None else Some(n))
        one(out)(v)
      }
    }

  // A `system.changes` procedure returning the CDC delta was built and
  // deliberately REMOVED: Spark 4.1's CALL machinery accepts only
  // LocalScan procedure output (InvokeProcedures.toRelation: "Only
  // local scans are temporarily supported"), which would force a
  // driver-side collect of the delta — wrong at any real table size.
  // CDC-as-SQL rides the batch veneer instead, as a genuinely
  // distributed scan: CREATE TEMPORARY VIEW d USING `graft-manifest`
  // OPTIONS (path ..., changesFrom 2[, changesTo 4]) — see
  // ManifestStreamProvider.createRelation.

  /** The `system` namespace's procedure registry for one catalog
    * instance. */
  def load(cat: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under the `system` namespace, got " +
        ident.namespace().mkString("."))
    ident.name() match {
      case "rollback"         => rollback(cat)
      case "expire_snapshots" => expireSnapshots(cat)
      case "compact"          => compact(cat)
      case "history"          => history(cat)
      case "detail"           => detail(cat)
      case "create_branch"    => createBranch(cat)
      case "publish_branch"   => publishBranch(cat)
      case "drop_branch"      => dropBranch(cat)
      case "clone"            => cloneProc(cat)
      case "relayout"         => relayoutProc(cat)
      case "evolve_layout"    => evolveLayoutProc(cat)
      case "upsert"           => upsertProc(cat)
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other — known: rollback, " +
          "expire_snapshots, compact, history, detail, create_branch, " +
          "publish_branch, drop_branch, clone, relayout, " +
          "evolve_layout, upsert")
    }
  }

  val names: Seq[String] =
    Seq("rollback", "expire_snapshots", "compact", "history", "detail",
      "create_branch", "publish_branch", "drop_branch", "clone",
      "relayout", "evolve_layout", "upsert")
}
