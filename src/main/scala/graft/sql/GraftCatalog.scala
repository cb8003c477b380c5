package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Layout

/** The SQL front door for graft-manifest tables — a DataSourceV2
  * [[TableCatalog]], so the ENTIRE lifecycle runs as SQL text the way
  * the reference drives everything through SQL strings
  * (`ETLCNPJFinalEmpresaEstabelecimentos.py:191-234`):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  *   spark.sql("CREATE TABLE graft.default.t (k BIGINT, v STRING)")
  *   spark.sql("INSERT INTO graft.default.t SELECT ...")
  *   spark.sql("INSERT OVERWRITE graft.default.t SELECT ...")
  *   spark.sql("SELECT * FROM graft.default.t VERSION AS OF 2")
  *   spark.sql("SELECT * FROM graft.default.t TIMESTAMP AS OF '...'")
  *   spark.sql("DROP TABLE graft.default.t")
  * }}}
  *
  * Identifiers map to warehouse paths (`<warehouse>/<ns...>/<name>`),
  * the Delta-style path catalog shape. Reads hand Spark the snapshot's
  * EXPLICIT file list through the native parquet ScanBuilder
  * ([[ColumnBridge.parquetScanBuilder]]) — full filter pushdown, column
  * pruning and vectorized read, zero directory listings at plan time
  * (the manifest already decided which files exist: one small metadata
  * read regardless of table size, the property that matters at 100 TB).
  * Writes ride the V1 write bridge onto the commit verbs — INSERT INTO
  * = atomic APPEND commit, INSERT OVERWRITE = full-table REPLACE —
  * so SQL writers and programmatic [[Layout]] writers serialize through
  * the SAME manifest CAS, and `VERSION AS OF` time travel over SQL
  * tables is exact (catalog `loadTable(ident, version)` pins the
  * snapshot; `TIMESTAMP AS OF` resolves through [[Layout.versionAt]]).
  *
  * `DELETE FROM t [WHERE ...]` also works: translated filters feed the
  * copy-on-write [[Layout.deleteWhere]] verb (SupportsDelete), and the
  * no-WHERE form truncates via an empty REPLACE commit. `MERGE INTO` /
  * `UPDATE` / subquery-`DELETE` ride Spark's group-based row-level
  * rewrite (SupportsRowLevelOperations → [[GraftRowLevelOperation]]):
  * a `_file`-group COW scan with runtime group filtering, committed as
  * one REPLACE CAS — see [[graft.sql.GraftRowLevel]]. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  // --- V2 functions: the bucket placement function -------------------
  // Exposing `bucket` through the catalog is what makes bucket-layout
  // SPJ work: V2ScanPartitioningAndOrdering resolves each side's
  // bucket(N, col) transform through THIS loadFunction, and the two
  // TransformExpressions compare equal by the bound function's
  // canonicalName — only then does EnsureRequirements elide the join
  // shuffle. The function is also genuinely evaluable (pmod on long),
  // so Spark can hash a third, unbucketed side INTO this placement.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      "spark-warehouse/" + name)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def dirOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name())).mkString("/")

  /** The identifier→path mapping, for the `system` procedures that take
    * a table name argument and must resolve it exactly as the catalog
    * itself would. */
  private[sql] def tableDirOf(ident: Identifier): String = dirOf(ident)

  // --- SQL `CALL` maintenance procedures (see [[GraftProcedures]]) ----
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  private def dirOf(ns: Array[String]): String =
    (warehouse +: ns).mkString("/")

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A manifest table IS a directory with committed versions — the
    * manifests dir is the existence marker, exactly what every other
    * Layout consumer keys on. */
  override def tableExists(ident: Identifier): Boolean = {
    val m = new Path(dirOf(ident), "manifests")
    fsOf(m).exists(m)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path(dirOf(namespace))
    val fs = fsOf(dir)
    // `default` (and the root namespace) always exist per
    // namespaceExists — SHOW TABLES on a fresh catalog must list empty,
    // not throw, before the first CREATE TABLE materializes the dir
    if (!fs.exists(dir)) {
      if (namespaceExists(namespace)) return Array.empty
      throw new NoSuchNamespaceException(catalogName +: namespace)
    }
    fs.listStatus(dir).collect {
      case st if st.isDirectory &&
          fs.exists(new Path(st.getPath, "manifests")) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(dirOf(ident), None)
  }

  /** `SELECT ... VERSION AS OF n` — pin the scan to manifest version n. */
  /** `VERSION AS OF n` pins a main-chain snapshot; `VERSION AS OF
    * 'name'` (non-numeric) resolves a BRANCH — the WAP audit read. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    version.toIntOption match {
      case Some(v) => new GraftTable(dir, Some(v))
      case None =>
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        // only branch-shaped strings reach chain resolution: a
        // timestamp literal ('2024-01-01 00:00:00') would otherwise
        // trip chainOf's name-grammar require and surface a confusing
        // "branch name must match …" to a user attempting time travel
        // (r18 ADVICE) — they get the neither-version-nor-branch
        // message with the live branch list instead
        val bHead =
          if (version.matches("[A-Za-z0-9_\\-]+") &&
              !version.forall(_.isDigit))
            Layout.branchHead(fs, root, version)
          else 0
        require(bHead > 0,
          s"'$version' is neither a version number nor a live branch " +
            s"of $dir (branches: " +
            s"${Layout.listBranches(spark, dir).mkString(", ")}); " +
            "for time travel by time use TIMESTAMP AS OF")
        new GraftTable(dir, Some(bHead),
          branch = Some(version))
    }
  }

  /** `SELECT ... TIMESTAMP AS OF t` — Spark hands epoch MICROseconds;
    * resolve to the newest version committed at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    new GraftTable(dir,
      Some(Layout.versionAt(spark, dir, timestamp / 1000L)))
  }

  /** CREATE TABLE commits an EMPTY v1 carrying the declared schema —
    * the schema record is the table's contract from birth, so a first
    * INSERT that doesn't match refuses instead of silently defining
    * the table. CTAS = this + the planner's follow-up append (v2). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // `PARTITIONED BY (c1, c2)` (r16 verdict task 2): identity
    // transforms map onto the clustering + manifest-skipping machinery
    // instead of hive directories — every INSERT range-clusters the
    // batch on the partition columns and records their per-file bounds,
    // so a partition-predicate query prunes whole files from the
    // manifest exactly like directory pruning would, without the
    // small-files/listing pathology hive layouts hit at 100 TB.
    // Non-identity transforms (bucket, days, …) refuse with the
    // property-based alternatives named.
    // `PARTITIONED BY (bucket(N, col))` (r18): hash-bucket layout — one
    // transform, one integral column; mixing bucket + identity refuses
    // (two independent groupings cannot both be the file layout)
    val bucketSpec: Option[(Int, String)] = partitions.toSeq match {
      case Seq(t) if t.name() == "bucket" =>
        require(t.references().length == 1 &&
            t.references()(0).fieldNames().length == 1,
          s"bucket transform must name exactly one column, got '$t'")
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Int] =>
            l.value().asInstanceOf[Int]
        }.getOrElse(throw new UnsupportedOperationException(
          s"bucket transform needs an integer bucket count, got '$t'"))
        require(n > 0, s"bucket count must be positive, got $n")
        Some((n, t.references()(0).fieldNames()(0)))
      case ts if ts.exists(_.name() == "bucket") =>
        throw new UnsupportedOperationException(
          "PARTITIONED BY supports ONE bucket transform or identity " +
            s"columns, not a mix: ${ts.mkString(", ")}")
      case _ => None
    }
    val partCols: Seq[String] =
      if (bucketSpec.isDefined) Nil
      else partitions.toSeq.map { t =>
        val id = t.name() == "identity" &&
          t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1
        if (!id) throw new UnsupportedOperationException(
          s"PARTITIONED BY supports identity transforms and bucket(N, col) " +
            s"only, got '$t' — for temporal layouts use " +
            "graft.cluster.sort_by / graft.cluster.zorder_by " +
            "TBLPROPERTIES on a derived column")
        t.references()(0).fieldNames()(0)
      }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"PARTITIONED BY names unknown column '$c' " +
        s"(table columns: ${schema.fieldNames.mkString(", ")})"))
    bucketSpec.foreach { case (_, c) =>
      require(schema.fieldNames.contains(c),
        s"bucket transform names unknown column '$c' " +
          s"(table columns: ${schema.fieldNames.mkString(", ")})")
      val dt = schema(c).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.StringType).contains(dt),
        s"bucket column '$c' must be integral (placement pmod on long) " +
          s"or string (placement pmod on xxhash64), got $dt")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = dirOf(ident)
    // `graft.stats.columns` TBLPROPERTY: recorded in the CREATE commit's
    // manifest header and carried by every later commit, so every SQL
    // INSERT records per-file bounds for these columns and every SQL
    // WHERE gets manifest-level file skipping — the whole secondary-
    // index loop in SQL text. Validated HERE so a typo fails the DDL,
    // not some later read.
    val statsCols = Option(properties.get(Layout.StatsColumnsProp))
      .map(Layout.splitCols).getOrElse(Nil)
    statsCols.foreach(c => require(schema.fieldNames.contains(c),
      s"${Layout.StatsColumnsProp} names unknown column '$c' " +
        s"(table columns: ${schema.fieldNames.mkString(", ")})"))
    // ALL non-reserved user properties persist into the CREATE commit's
    // manifest header (the r15 advice: dropping them silently while
    // ALTER recorded them was lossy and inconsistent). Spark-reserved
    // keys (location/provider/owner/external — catalog bookkeeping, not
    // table content) are filtered; everything else round-trips through
    // SHOW TBLPROPERTIES. Clustering properties are validated here so a
    // typo'd column fails the DDL, not the first INSERT.
    val reserved = Set(TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
      "option.path", "path")
    val userProps = properties.asScala.toMap -- reserved
    bucketSpec.foreach { case (_, _) =>
      require(!userProps.contains(Layout.ClusterSortProp) &&
          !userProps.contains(Layout.ClusterZorderProp),
        "PARTITIONED BY (bucket(...)) and graft.cluster.* TBLPROPERTIES " +
          "are mutually exclusive — the bucket placement IS the layout")
      require(!userProps.contains(Layout.BucketByProp) &&
          !userProps.contains(Layout.BucketCountProp),
        "declare bucketing through PARTITIONED BY (bucket(N, col)), " +
          "not raw graft.bucket.* properties")
    }
    val graftProps0 =
      if (partCols.isEmpty) userProps
      else {
        require(!userProps.contains(Layout.ClusterSortProp) &&
            !userProps.contains(Layout.ClusterZorderProp),
          "PARTITIONED BY and graft.cluster.* TBLPROPERTIES are " +
            "mutually exclusive — the partition columns BECOME the " +
            "table's clustering")
        val stats = userProps.get(Layout.StatsColumnsProp)
          .map(Layout.splitCols).getOrElse(Nil)
        userProps +
          (Layout.ClusterSortProp -> partCols.mkString(",")) +
          (Layout.StatsColumnsProp ->
            (stats ++ partCols.filterNot(stats.contains)).mkString(",")) +
          (Layout.PartitionedByProp -> partCols.mkString(","))
      }
    val graftProps = bucketSpec.fold(graftProps0) { case (n, c) =>
      graftProps0 + (Layout.BucketByProp -> c) +
        (Layout.BucketCountProp -> n.toString)
    }
    Layout.validateClusterProps(graftProps, Some(schema))
    Layout.validateBloomProps(graftProps, Some(schema))
    Layout.validateConstraintProps(spark, graftProps, Some(schema))
    Layout.validateRowLevelProps(graftProps)
    val empty = spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema)
      .repartition(1)
    Layout.commitSnapshot(spark, dir, empty, props = graftProps)
    new GraftTable(dir, None)
  }

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES` commits a props-only
    * manifest rewrite (file list and schema carry) — the way a user
    * turns `graft.stats.columns` on for an existing table. `ALTER TABLE
    * ... ADD COLUMN(S)` commits a schema-only rewrite through
    * [[Layout.addColumns]]: new top-level columns append NULLABLE, so
    * pre-evolution files null-fill on read — the same contract the
    * append-time evolution merge proves (q_snapshot_evolution), now as
    * DDL. Everything else (renames, drops, type changes beyond the
    * append-time widening) stays refused. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType])
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      "ALTER TABLE supports SET/UNSET TBLPROPERTIES, ADD COLUMN, " +
        "DROP COLUMN, ALTER COLUMN ... TYPE (widening only) and — on " +
        s"tables created with ${Layout.ColumnMappingProp}='id' — " +
        "RENAME COLUMN. " +
        s"Refused: ${unsupported.mkString(", ")}")
    val renames = changes.collect {
      case r: TableChange.RenameColumn => r }
    renames.foreach { r =>
      require(r.fieldNames.length == 1,
        "RENAME COLUMN supports top-level columns only; got " +
          r.fieldNames.mkString("."))
      Layout.renameColumn(spark, dirOf(ident),
        r.fieldNames()(0), r.newName())
    }
    val widens = changes.collect {
      case u: TableChange.UpdateColumnType => u }
    widens.foreach { u =>
      require(u.fieldNames.length == 1,
        "ALTER COLUMN TYPE supports top-level columns only; got " +
          u.fieldNames.mkString("."))
      Layout.updateColumnType(spark, dirOf(ident),
        u.fieldNames()(0), u.newDataType())
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty) {
      val fields = adds.map { a =>
        require(a.fieldNames.length == 1,
          "ADD COLUMN supports top-level columns only; got " +
            a.fieldNames.mkString("."))
        require(a.position == null,
          "ADD COLUMN FIRST/AFTER is not supported — new columns " +
            "append (pre-evolution files null-fill in record order)")
        require(a.isNullable,
          "ADD COLUMN ... NOT NULL is not supported — every " +
            "pre-evolution row necessarily reads NULL for the new " +
            "column, so the constraint cannot hold; add it nullable")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType, nullable = true)
      }
      Layout.addColumns(spark, dirOf(ident), fields)
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    if (drops.nonEmpty) {
      val names = drops.map { d =>
        require(d.fieldNames.length == 1,
          "DROP COLUMN supports top-level columns only; got " +
            d.fieldNames.mkString("."))
        d.fieldNames()(0)
      }
      Layout.dropColumns(spark, dirOf(ident), names)
    }
    val set = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
    }.toMap
    val unset = changes.collect {
      case r: TableChange.RemoveProperty => r.property
    }
    if (set.nonEmpty || unset.nonEmpty)
      Layout.setTableProps(spark, dirOf(ident), set, unset)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { Layout.dropTable(spark, dirOf(ident)); true }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    Layout.invalidateManifestCache(spark, dirOf(from))
    val src = new Path(dirOf(from))
    val dst = new Path(dirOf(to))
    val fs = fsOf(src)
    fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }

  // -- namespaces: directories under the warehouse root ---------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val fs = fsOf(root)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).collect {
      case st if st.isDirectory &&
          !fs.exists(new Path(st.getPath, "manifests")) =>
        Array(st.getPath.getName)
    }
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      namespace.sameElements(Array("default")) || {
        val d = new Path(dirOf(namespace))
        fsOf(d).exists(d)
      }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> dirOf(namespace)).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fsOf(new Path(warehouse)).mkdirs(new Path(dirOf(namespace)))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = new Path(dirOf(namespace))
    val fs = fsOf(d)
    if (!fs.exists(d)) false
    else {
      require(cascade || fs.listStatus(d).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(d, true)
    }
  }
}

/** One manifest snapshot as a DSv2 [[Table]]: reads pin `version` (None
  * = head resolved PER QUERY, so a SQL reader always sees the newest
  * commit); writes refuse on a time-travel handle (mutating the past is
  * not a thing). The scan is Spark's own parquet ScanBuilder over the
  * manifest's explicit file list — `EXPLAIN` on a catalog SELECT shows
  * PushedFilters/ReadSchema like any parquet scan. */
/** `dvFreeOnly = true` is the VECTORIZED BRANCH VIEW of a dv-carrying
  * snapshot: same path and pinned version, file universe restricted to
  * the manifest lines WITHOUT deletion-vector groups, `hasDv = false`.
  * Only [[MorPerFileDispatch]] constructs it (via [[dvFreeTwin]]) as
  * the first child of its per-file-dispatch Union — it is a read-only
  * view, never catalog-loaded, never written. */
class GraftTable(path: String, version: Option[Int],
    dvFreeOnly: Boolean = false, branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  /** Manifest chain this handle reads: "" = main, or the branch's
    * (`VERSION AS OF '<branch>'` — the WAP audit read). A branch
    * handle is READ-ONLY (writes/row-level refuse via the pinned
    * `version`), carries no deletion vectors (createBranch refuses a
    * dv-carrying head; branch appends add none), and skips manifest
    * pruning + SPJ keying — audit reads are full-table validations. */
  private val chain: String = branch.fold("")(Layout.chainOf)

  /** The snapshot this Table instance reads, resolved ONCE — schema()
    * (called at analysis) and newScanBuilder (called at planning) must
    * describe the SAME version, or a concurrent commit landing between
    * the two resolutions pairs version N's files with version N+1's
    * schema (the r14 ADVICE race). Spark resolves a fresh Table per
    * statement, so head-freshness is preserved across queries; within
    * one statement the snapshot is pinned, which is exactly snapshot
    * isolation. */
  private lazy val pinnedVersion: Int = version.getOrElse {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.currentVersion(fs, root)
  }

  private lazy val pinnedLayout: (Seq[String], Option[StructType]) =
    Layout.snapshotLayout(spark, path, Some(pinnedVersion), dvFreeOnly,
      chain)

  /** (live position dvs?, live equality deletes?) of the pinned
    * snapshot — ONE manifest-line pass answers both (the cached lines
    * are walked once, not once per predicate); always (false, false)
    * on a mask-free view, which is what makes the dispatch rewrite
    * converge. */
  private lazy val liveMasks: (Boolean, Boolean) =
    if (dvFreeOnly || branch.isDefined) (false, false)
    else Layout.versionMasks(
      new Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new Path(path), pinnedVersion)

  /** Whether the pinned snapshot's manifest carries any live row mask —
    * position deletion vector OR equality delete (r19) — the
    * [[MorPerFileDispatch]] eligibility test. */
  private[graft] def hasLiveDvs: Boolean = liveMasks._1 || liveMasks._2

  /** Equality deletes specifically — the one mask shape the row-based
    * FALLBACK scan cannot apply (it masks by ordinal, not key), so a
    * scan of an eq-carrying snapshot must come through the dispatch
    * rewrite or refuse. */
  private[graft] def hasLiveEqs: Boolean = liveMasks._2

  /** This snapshot restricted to its dv-FREE files — the vectorized
    * branch of the per-file MOR dispatch. */
  private[graft] def dvFreeTwin: GraftTable =
    new GraftTable(path, Some(pinnedVersion), dvFreeOnly = true)

  /** Whether the dv-free branch would scan any file at all (a snapshot
    * whose every file carries a dv has no vectorized branch). */
  private[graft] def hasDvFreeFiles: Boolean = pinnedLayout._1.nonEmpty

  private[graft] def tableDir: String = path
  private[graft] def pinnedV: Int = pinnedVersion

  override def name(): String = s"graft.`$path`" +
    branch.fold(version.fold("")(v => s"@v$v"))(b => s"@$b") +
    (if (dvFreeOnly) "#dvfree" else "")

  override def schema(): StructType = {
    val (files, recorded) = pinnedLayout
    recorded.getOrElse {
      // legacy pre-schema-tracking table: the files' footer schema
      require(files.nonEmpty,
        s"$path has no recorded schema and no files to infer one from")
      ColumnBridge.parquetFooterSchema(spark, files)
    }
  }

  override def properties(): util.Map[String, String] =
    (Layout.tableProps(spark, path,
        Some(pinnedVersion).filter(_ > 0), chain) ++
      Map(TableCatalog.PROP_LOCATION -> path,
        TableCatalog.PROP_PROVIDER -> "graft-manifest")).asJava

  /** Declared `PARTITIONED BY` columns surface as identity transforms
    * (DESCRIBE / SHOW CREATE fidelity); the physical layout behind them
    * is clustering + manifest skipping, not directories. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val props = Layout.tableProps(spark, path,
      Some(pinnedVersion).filter(_ > 0), chain)
    props.get(Layout.BucketByProp)
      .zip(props.get(Layout.BucketCountProp))
      .map { case (c, n) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n.toInt, c))
      }
      .orElse(props.get(Layout.PartitionedByProp)
        .map(Layout.splitCols(_).map(c =>
          org.apache.spark.sql.connector.expressions.Expressions
            .identity(c)).toArray))
      .getOrElse(Array.empty)
  }

  // BATCH_WRITE is the ROW-LEVEL path's capability (ReplaceData's V2
  // write); plain INSERT still rides V1_BATCH_WRITE because
  // newWriteBuilder returns a V1Write — the physical planner dispatches
  // on the Write object, not the capability set.
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    // opt-in (r17 verdict task 7): a MERGE whose source carries
    // target-missing columns auto-ADDs them — the analyzer's
    // ResolveMergeIntoSchemaEvolution drives this catalog's AddColumn
    // path, a schema-only commit; old rows null-fill
    if (Layout.tableProps(spark, path, Some(pinnedVersion).filter(_ > 0),
        chain)
        .get(Layout.MergeSchemaEvolutionProp)
        .exists(_.equalsIgnoreCase("true")))
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  /** `_file` (which data file holds the row — the COW planner's group
    * id) and `_pos` (the row's file ordinal — with `_file`, the delta
    * planner's row id); see [[GraftRowLevel.FileColumn]]/[[GraftRowLevel.PosColumn]]. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftRowLevel.FileColumn, GraftRowLevel.PosColumn)

  /** `MERGE INTO` / `UPDATE` / rewrite-path `DELETE`: on a
    * copy-on-write table (default), Spark's group-based rewrite drives
    * a pinned-snapshot COW operation ([[GraftRowLevelOperation]]); on
    * `graft.rowlevel.mode = 'mor'`, the delta rewrite drives
    * [[GraftDeltaOperation]] — position deletes + appends, no file
    * rewrites. Time-travel handles refuse — mutating the past is not a
    * thing. */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"cannot ${info.command()} $path pinned at VERSION AS OF " +
        version.getOrElse(""))
    requireNoWap(info.command().toString)
    val mor = Layout.tableProps(spark, path,
        Some(pinnedVersion).filter(_ > 0))
      .get(Layout.RowLevelModeProp).exists(_.equalsIgnoreCase("mor"))
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (mor) new GraftDeltaOperation(path, pinnedVersion,
          ColumnBridge.nullableSchema(schema()), info.command())
        else new GraftRowLevelOperation(path, pinnedVersion,
          ColumnBridge.nullableSchema(schema()), info.command())
    }
  }

  /** Plain reads ride Spark's vectorized parquet ScanBuilder (pushdown,
    * columnar batches) exactly as before; if the plan requests the
    * `_file` metadata column — only the row-level group-filter subquery
    * does — the builder switches to the row-based COW scan, which
    * synthesizes `_file` per row. */
  /** Live deletion vectors of the pinned snapshot. Non-empty ⇒ every
    * read takes the row-based dv-applying scan (see
    * [[org.apache.spark.sql.graft.SnapshotScanBuilder.build]]);
    * empty (any table no MOR delete ever touched — the common case) ⇒
    * zero overhead, the vectorized path is untouched. */
  private lazy val pinnedDvs: Map[String, Array[Long]] =
    if (dvFreeOnly || branch.isDefined) Map.empty
    else Layout.versionDvs(spark, path, pinnedVersion)

  /** SPJ grouping of the pinned snapshot (r18): Some when the table is
    * PARTITIONED BY (identity cols or one bucket transform) and every
    * manifest line is single-valued on its key — the scan builder then
    * regroups the vectorized scan per key value and reports
    * KeyGroupedPartitioning, so a co-partitioned join plans
    * shuffle-free. Manifest-line inspection only; the dv-free branch
    * view shares the full map (its file subset keys by lookup). */
  private lazy val spjKeys: Option[(
      Array[org.apache.spark.sql.connector.expressions.Expression],
      Seq[org.apache.spark.sql.types.DataType],
      Map[String, (Long, Seq[Any])])] =
    (if (branch.isDefined) None
     else Layout.spjFileKeys(spark, path, pinnedVersion)).flatMap {
      case (Layout.SpjIdentity(cols), m) =>
        val sch = schema()
        if (!cols.forall(sch.fieldNames.contains)) None
        else Some((cols.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray,
          cols.map(c => sch(c).dataType), m))
      case (Layout.SpjBucket(c, n), m) =>
        // same schema-containment guard as the identity arm: a dropped
        // or renamed bucket column must degrade the scan, not break
        // every read with an unresolvable transform reference
        if (!schema().fieldNames.contains(c)) None
        else Some((Array(
            org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n, c): org.apache.spark.sql.connector.expressions.Expression),
          Seq(org.apache.spark.sql.types.IntegerType), m))
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // equality deletes mask by KEY, which only the per-file dispatch
    // rewrite (readManifestLines' anti-join branch) can apply — the
    // row-based fallback masks by ordinal and would resurrect deleted
    // rows. With GraftExtensions installed this builder is only ever
    // reached through the mask-free twin; reaching it with live eq
    // deletes means no extensions (or a _file/_pos metadata scan,
    // which row-level semantics can't define over key-masked rows) —
    // refuse loudly with the two ways out.
    require(!hasLiveEqs,
      s"$path@v$pinnedVersion carries live equality deletes — read " +
        "through GraftSession (MOR per-file dispatch) or materialize " +
        "them first (CALL system.compact(only_dv => true))")
    val (files, _) = pinnedLayout
    // id-mapped table: the DSv2 parquet scan (and the row-based cow
    // scan's reader) must match columns by field id, not name
    Layout.ensureFieldIdRead(spark, schema())
    new org.apache.spark.sql.graft.SnapshotScanBuilder(spark, files,
      schema(), options.asCaseSensitiveMap(),
      (required, pushedData, skips) => {
        // the row-based scan keeps manifest-level skipping: bounds
        // predicates prune its file-group list exactly as they prune
        // the vectorized scan's file list
        require(branch.isEmpty,
          s"branch read of $path@${branch.get} cannot serve " +
            "metadata-column scans — audit reads are plain SELECTs")
        val all = Layout.rowLevelEntries(spark, path, pinnedVersion)
        val universe =
          if (!dvFreeOnly) all
          else all.filter { case (l, _, _) => Layout.entryDvs(l).isEmpty }
        val entries = if (skips.isEmpty) universe else {
          val kept = Layout.fileSelection(spark, path, skips,
            Some(pinnedVersion), dvFreeOnly)._1.toSet
          universe.filter { case (l, _, _) => kept.contains(l) }
        }
        new GraftCowScan(entries,
          ColumnBridge.nullableSchema(schema()), required, pushedData,
          s"$path@v$pinnedVersion", pinnedDvs)
      },
      // manifest-level file skipping for SQL WHERE clauses: bounds
      // predicates evaluate against THIS pinned version's recorded
      // per-file stats, dropping whole files before any footer opens;
      // a dv-free branch view prunes within its own file universe
      // branch (audit) reads skip manifest pruning — full-table
      // validations by nature, and prunedFilePaths is main-chain
      prune = if (branch.isDefined) null
        else skips => Layout.prunedFilePaths(spark, path, skips,
          Some(pinnedVersion), dvFreeOnly),
      hasDv = pinnedDvs.nonEmpty,
      spjKeys = spjKeys,
      // manifest-derived planner stats (r19): memoized per table
      // handle, O(manifest) on first use, zero data IO. Branch reads
      // skip (scanStats reads the main chain); so do masked snapshots
      // and their dispatch twins — masked counts overstate live rows,
      // and the twin + masked-branch Union would DOUBLE-count them.
      tableStats = () =>
        if (branch.isDefined || dvFreeOnly || hasLiveDvs)
          (None, Map.empty)
        else memoScanStats)
  }

  private lazy val memoScanStats
      : (Option[Long], Map[String, (Long, Long)]) =
    Layout.scanStats(spark, path, pinnedVersion)

  /** INSERT INTO → APPEND commit; INSERT OVERWRITE (truncate) →
    * full-table REPLACE; `INSERT INTO t REPLACE WHERE pred` →
    * [[Layout.replaceWhere]], the Delta-style idempotent backfill: one
    * atomic commit swaps the predicate's rows for the incoming batch
    * (SupportsOverwrite; untranslatable predicates refuse loudly rather
    * than overwrite the wrong rows). Rides the V1 write bridge: the
    * commit itself is the manifest CAS, shared with every programmatic
    * verb. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"cannot write to $path pinned at VERSION AS OF ${version.get}")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      private var replacePred: Option[Column] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) overwrite = true
        else {
          val cols = filters.map(f => filterToColumn(f).getOrElse(
            throw new UnsupportedOperationException(
              s"REPLACE WHERE predicate not translatable: $f")))
          replacePred = cols.reduceOption(_ && _)
        }
        this
      }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              // WAP routing (r18): with `spark.graft.wap.branch` set,
              // INSERT INTO lands on that branch — invisible to main
              // readers until CALL system.publish_branch. The
              // Iceberg-style session switch: the pipeline's write
              // statements stay IDENTICAL between audited and direct
              // runs. Append-only by design: an OVERWRITE/REPLACE
              // WHERE under WAP refuses loudly rather than silently
              // rewriting a branch nobody audits against.
              val wap = data.sparkSession.conf
                .get("spark.graft.wap.branch", "")
              if (wap.nonEmpty) {
                require(replacePred.isEmpty && !overwrite,
                  "WAP branch writes support INSERT INTO (append) " +
                    s"only — got an overwrite while spark.graft.wap" +
                    s".branch='$wap'")
                val bProps = Layout.tableProps(data.sparkSession, path,
                  chain = Layout.chainOf(wap))
                Layout.commitSnapshotToBranch(data.sparkSession, path,
                  wap, data,
                  statsColumns = bProps.get(Layout.StatsColumnsProp)
                    .map(Layout.splitCols).getOrElse(Nil)
                    .filter(data.columns.contains))
                return
              }
              val props = Layout.tableProps(data.sparkSession, path)
              // per-file bounds for the table's recorded stats columns
              // ride every SQL INSERT (columns a narrower frame lacks
              // are skipped — stats are optional, never load-bearing)
              val stats = props.get(Layout.StatsColumnsProp)
                .map(Layout.splitCols).getOrElse(Nil)
                .filter(data.columns.contains)
              // DDL-declared clustering (graft.cluster.sort_by /
              // zorder_by TBLPROPERTIES): arrange the batch so the
              // written files are value-contiguous — manifest skipping
              // prunes from the FIRST insert, no post-hoc CALL compact
              val arranged = Layout.clusterArrange(data, props)
              replacePred match {
                case Some(pred) => Layout.replaceWhere(data.sparkSession,
                  path, arranged, pred, statsColumns = stats)
                case None if overwrite => Layout.replaceSnapshot(
                  data.sparkSession, path, arranged, statsColumns = stats)
                case None => Layout.commitSnapshot(data.sparkSession,
                  path, arranged, statsColumns = stats)
              }
            }
          }
      }
    }
  }

  /** `DELETE FROM t WHERE ...` — translated v1 filters feed the
    * copy-on-write [[Layout.deleteWhere]] verb: only files that can
    * contain matching rows are rewritten, the swap is one REPLACE
    * commit, and pinned time-travel readers keep the pre-delete
    * version. `DELETE FROM t` (no WHERE) arrives as [[truncateTable]]
    * and REPLACE-commits an empty line set. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty,
      s"cannot DELETE from $path pinned at VERSION AS OF ${version.get}")
    requireNoWap("DELETE")
    val pred = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Layout.deleteWhere(spark, path, pred)
  }

  override def truncateTable(): Boolean = {
    require(version.isEmpty,
      s"cannot TRUNCATE $path pinned at VERSION AS OF ${version.get}")
    requireNoWap("TRUNCATE")
    val empty = spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema())
      .repartition(1)
    Layout.replaceSnapshot(spark, path, empty)
    true
  }

  /** WAP guard (r18): with `spark.graft.wap.branch` set, ONLY INSERT
    * INTO routes to the branch — every other mutation would land on
    * MAIN while the operator believes they're staging, the worst kind
    * of silent write. Refuse loudly; unset the conf to mutate main. */
  private def requireNoWap(op: String): Unit = {
    val wap = spark.conf.get("spark.graft.wap.branch", "")
    require(wap.isEmpty,
      s"$op on $path would mutate MAIN while spark.graft.wap.branch=" +
        s"'$wap' routes INSERTs to the branch — unset the conf first " +
        "(WAP stages appends only)")
  }

  /** v1 [[Filter]] → Column translation for the DELETE path — the
    * standard connector subset; None = untranslatable, reported
    * through canDeleteWhere so Spark refuses the statement instead of
    * deleting the wrong rows. */
  private def filterToColumn(f: Filter): Option[Column] =
    GraftFilters.toColumn(f)

  override def toString: String = name()
}

/** Shared v1 [[Filter]] → Column translation (the standard connector
  * subset): the DELETE path's gate and the dv-snapshot batch veneer's
  * pushdown re-application. None = untranslatable. */
private[graft] object GraftFilters {
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sources.In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a)                => Some(col(a).isNull)
    case sources.IsNotNull(a)             => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sources.StringContains(a, v)     => Some(col(a).contains(v))
    case sources.AlwaysTrue()             => Some(lit(true))
    case sources.AlwaysFalse()            => Some(lit(false))
    case sources.And(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case sources.Or(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** The catalog's `bucket` V2 function: `bucket(n, x) = pmod(x, n)` on
  * the key cast to long — THE placement function every bucket-layout
  * write uses (Layout.stageTxn) and every bucket-layout scan reports
  * (KeyGroupedPartitioning over bucket(N, col) transforms). One stable
  * [[BoundFunction.canonicalName]] is the whole compatibility story:
  * Spark elides a join shuffle exactly when both sides' transforms
  * resolved to THIS name with the same bucket count. pmod rather than
  * a murmur-style hash is a deliberate trade: the placement is
  * SQL-expressible (`(x % n + n) % n`), so every bucket-layout oracle
  * stays DuckDB-checkable; uniformity on integral keys is equivalent
  * unless keys cluster in residue classes — callers with such keys
  * should bucket on a derived column. STRING keys (r19) place by
  * `pmod(xxhash64(col), n)` under their own canonical name — the hash
  * makes uniformity a non-issue, and the join result (unlike the
  * placement) stays relationally oracle-checkable. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(col, n) — the graft bucket-layout placement"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.size == 2,
      s"bucket expects (numBuckets INT, col), got $inputType")
    val keyType = inputType(1).dataType
    val integral = Seq(LongType, IntegerType, ShortType, ByteType)
    require(integral.contains(keyType) || keyType == StringType,
      s"bucket key must be integral or string, got $keyType")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      // type-family-scoped canonical name: all integral bindings share
      // one (the cast-to-long placement is identical), strings get
      // their own — two KeyGroupedPartitionings are join-compatible
      // exactly when the placement FUNCTION is the same, and an
      // int-vs-string pairing is not
      override def canonicalName(): String =
        if (keyType == StringType) "graft.bucket.string"
        else "graft.bucket"
      // the function must agree with the WRITER's placement expression
      // on EVERY input, nulls included: pmod(cast long) is null on a
      // null key (integral → result nullable), while pmod(xxhash64(s))
      // hashes a null child to the seed (string → never null)
      override def isResultNullable: Boolean = keyType != StringType
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        val n = input.getInt(0)
        import org.apache.spark.sql.graft.BucketPlacement
        keyType match {
          case StringType =>
            // ONE shared placement definition (writer expression, V2
            // function, runtime filtering); a NULL key hashes to the
            // seed, exactly as SQL xxhash64 evaluates a null child —
            // getUTF8String returns null there, never throw
            Integer.valueOf(
              BucketPlacement.idOfString(input.getUTF8String(1), n))
          case _ if input.isNullAt(1) =>
            // the writer's cast-to-long pmod is null here: a null
            // integral key places NOWHERE (its file is never keyed) —
            // reading it as 0 would co-locate nulls with bucket 0
            null
          case LongType =>
            Integer.valueOf(BucketPlacement.idOfLong(input.getLong(1), n))
          case IntegerType =>
            Integer.valueOf(
              BucketPlacement.idOfLong(input.getInt(1).toLong, n))
          case ShortType =>
            Integer.valueOf(
              BucketPlacement.idOfLong(input.getShort(1).toLong, n))
          case ByteType =>
            Integer.valueOf(
              BucketPlacement.idOfLong(input.getByte(1).toLong, n))
        }
      }
    }
  }
}

/** The SQL-surface query key: the whole table lifecycle as `spark.sql`
  * text over a registered catalog, nothing programmatic in the data
  * path. Oracle shared with q_table_roundtrip — CREATE + two INSERT
  * halves must reassemble orders exactly; GraftCatalogSpec pins the
  * pieces the aggregate can't see (VERSION AS OF / TIMESTAMP AS OF
  * reads, INSERT OVERWRITE, CTAS, DROP, filter pushdown in EXPLAIN). */
object GraftSql {
  import org.apache.spark.sql.functions._
  import graft.Tables._

  /** Catalog name derived from the warehouse path: Spark's
    * CatalogManager caches the catalog INSTANCE on first lookup and
    * never re-initializes it, so re-pointing `spark.sql.catalog
    * .graft.warehouse` in a session that already used `graft` silently
    * keeps the first path (the r14 ADVICE finding). One name per
    * warehouse makes first-use pinning correct by construction. */
  private[graft] def catalogFor(s: SparkSession, wh: String): String = {
    val name = "graft_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(wh) & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    name
  }

  def qManifestSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_sql")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_sql_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_sql
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_sql
            |SELECT * FROM orders_sql_src WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_sql
            |SELECT * FROM orders_sql_src WHERE o_orderkey % 2 = 1""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_sql
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** The row-level SQL surface as a bench key: CREATE + INSERT a
    * manifest table from half of orders, then one `MERGE INTO` whose
    * source both overlaps (update/delete clauses) and extends (insert
    * clause) the target, then aggregate the merged truth. The oracle
    * recomputes the post-merge state relationally (left joins) over the
    * raw parquet — so the group-based COW rewrite, runtime group
    * filtering, and the REPLACE commit all sit under the hash check.
    * GraftRowLevelSpec pins what the aggregate can't see (group
    * pruning: untouched files carry by manifest line). */
  def qManifestMergeSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_merge")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_merge_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_merge
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_merge
            |SELECT * FROM orders_merge_src
            |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(s"""MERGE INTO $cat.default.orders_merge AS t
            |USING (SELECT * FROM orders_merge_src
            |       WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1) AS s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET price = s.price * 2
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, price)
            |  VALUES (s.o_orderkey, s.o_orderstatus, s.price)
            |""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_merge
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** The maintenance-procedure surface as a bench key: CREATE + two
    * INSERT commits, then the full SQL-text maintenance life — `CALL
    * system.compact` (REPLACE repack), `CALL system.rollback` back to
    * the pre-compact version, `CALL system.expire_snapshots` (keep_last
    * omitted → DefaultValue path) — and an aggregate over the surviving
    * head. The oracle recomputes the rollback target's state (the two
    * inserts' union) relationally, so the procedures' commit plumbing
    * sits under the hash check; GraftProcedureSpec pins what the
    * aggregate can't see (result rows, manifest deletion, history). */
  def qManifestMaintenanceSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_maint")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_maint_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_maint
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_maint
            |SELECT * FROM orders_maint_src
            |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_maint
            |SELECT * FROM orders_maint_src
            |WHERE o_orderkey % 4 = 1""".stripMargin)
    // CREATE committed v1 (empty), the inserts v2/v3, compact v4 —
    // rollback to v3 = both inserts' union, the state the oracle checks
    s.sql(s"CALL $cat.system.compact('default.orders_maint')")
    s.sql(s"CALL $cat.system.rollback('default.orders_maint', 3)")
    s.sql(s"CALL $cat.system.expire_snapshots('default.orders_maint')")
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_maint
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Manifest-level data skipping, SQL-only loop: CREATE TABLE with the
    * `graft.stats.columns` property, range-disjoint INSERTs (each
    * records per-file o_orderkey bounds), then a SELECT whose WHERE
    * translates to a bounds predicate and drops the other ranges'
    * files before any footer opens (GraftSkippingSqlSpec pins the
    * pruned counts; this key puts the loop under the oracle). The
    * quartile threshold is computed from the data so the key is
    * scale-independent; the oracle recomputes it with DuckDB's
    * integer division. */
  def qManifestSkippingSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_skip")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_skip_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_skip
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES ('graft.stats.columns' = 'o_orderkey')"""
      .stripMargin)
    val mx = graft.ops.Layout.controlPlane(s) {
      orders(s, d).agg(max(col("o_orderkey"))).head().getLong(0)
    } // 1-row control decision (see Layout.controlPlane)
    val step = mx / 4 + 1
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO $cat.default.orders_skip
              |SELECT * FROM orders_skip_src
              |WHERE o_orderkey >= ${i * step}
              |  AND o_orderkey < ${(i + 1) * step}""".stripMargin)
    }
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_skip
            |WHERE o_orderkey <= ${mx / 4}
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** CHECK constraints as pure SQL (r16): CREATE TABLE with
    * `graft.constraint.*` TBLPROPERTIES — data-quality gates every
    * commit verb enforces against the staged bytes (violating batches
    * refuse with the constraint named; ALTER-time addition proves
    * existing data first; see GraftCatalogSpec for the refusal paths) —
    * then a full conforming INSERT and the aggregate. The oracle is
    * SHARED with q_manifest_sql / q_table_roundtrip: a gated insert of
    * conforming data must land exactly the ungated state. */
  def qManifestConstraintSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_ck")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_ck_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_ck
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES (
            |  'graft.constraint.key_pos' = 'o_orderkey >= 0',
            |  'graft.constraint.priced'  = 'price IS NOT NULL AND price > 0')"""
      .stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_ck
            |SELECT * FROM orders_ck_src""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_ck
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** REPLACE WHERE as pure SQL (r16): CREATE + full INSERT, then
    * `INSERT INTO ... REPLACE WHERE o_orderkey % 4 = 2` swaps exactly
    * that residue class for a recomputed batch (price doubled) in ONE
    * atomic commit — the idempotent-backfill verb (running the backfill
    * twice converges; the spec pins that, plus the out-of-predicate
    * refusal and the copy-on-write file accounting). The oracle
    * recomputes the post-backfill state relationally. */
  def qManifestReplaceWhere(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_rw")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_rw_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_rw
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_rw
            |SELECT * FROM orders_rw_src""".stripMargin)
    // the canonical backfill shape: replace the upper KEY RANGE with a
    // recomputed batch (REPLACE WHERE predicates must be v1-Filter
    // translatable — range/equality/IN — which is exactly the
    // partition-shaped predicate real backfills use)
    val cut = graft.ops.Layout.controlPlane(s) {
      orders(s, d).agg(max(col("o_orderkey"))).head().getLong(0)
    } / 2 // 1-row control decision (see Layout.controlPlane)
    s.sql(s"""INSERT INTO $cat.default.orders_rw
            |REPLACE WHERE o_orderkey >= $cut
            |SELECT o_orderkey, o_orderstatus,
            |  CAST(price * 2 AS DECIMAL(18,2)) AS price
            |FROM orders_rw_src WHERE o_orderkey >= $cut""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_rw
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Bloom-filter manifest skipping, SQL-only loop (r16): CREATE TABLE
    * with `graft.stats.bloom` on a HIGH-CARDINALITY SCATTERED key —
    * each of the four inserts takes one `o_orderkey % 4` residue class,
    * so every file's [min, max] spans nearly the whole key domain and
    * range bounds can prune NOTHING — then probe two concrete keys with
    * an IN list. The per-file blooms prove the probed keys absent from
    * the other residue classes' files and drop them before any footer
    * opens (GraftSkippingSqlSpec pins the pruned counts; this key puts
    * the loop under the oracle). Probe keys derive from the data (max
    * key of each residue class) so the key is scale-independent. */
  def qManifestSkippingBloom(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_bloom")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_bloom_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_bloom
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES ('graft.stats.bloom' = 'o_orderkey',
            |               'graft.stats.bloom.bits' = '524288')"""
      .stripMargin)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO $cat.default.orders_bloom
              |SELECT * FROM orders_bloom_src
              |WHERE o_orderkey % 4 = $i""".stripMargin)
    }
    // two concrete probe keys, one from residue class 2, one from 1 —
    // 1-row control aggregates, the same driver-side decision posture
    // as the skipping key's quartile threshold
    val o = orders(s, d)
    val (p1, p2) = graft.ops.Layout.controlPlane(s) {
      (o.where(col("o_orderkey") % 4 === 2)
        .agg(max(col("o_orderkey"))).head().getLong(0),
        o.where(col("o_orderkey") % 4 === 1)
          .agg(max(col("o_orderkey"))).head().getLong(0))
    }
    s.sql(s"""SELECT o_orderkey, o_orderstatus,
            |  CAST(price AS DOUBLE) AS price
            |FROM $cat.default.orders_bloom
            |WHERE o_orderkey IN ($p1, $p2)
            |ORDER BY o_orderkey, o_orderstatus, price""".stripMargin)
  }

  /** Schema evolution as pure SQL text (r15 verdict task 3): CREATE the
    * narrow table, INSERT generation 1, `ALTER TABLE ... ADD COLUMN bal`
    * (the [[GraftCatalog.alterTable]] AddColumn path → schema-only
    * commit), INSERT generation 2 WITH bal, aggregate the head. Gen-1
    * files null-fill `bal` under the evolved read schema — the oracle is
    * SHARED with q_snapshot_evolution / q_schema_evolution (explicit
    * NULL-union recompute), so DuckDB proves the DDL path lands the
    * identical evolved state the append-merge path does. */
  def qManifestEvolutionSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.supplier_evo")
    supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal"))
      .createOrReplaceTempView("supplier_evo_src")
    s.sql(s"""CREATE TABLE $cat.default.supplier_evo
            |  (s_suppkey BIGINT, s_nationkey BIGINT)""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.supplier_evo
            |SELECT s_suppkey, s_nationkey FROM supplier_evo_src"""
      .stripMargin)
    s.sql(s"""ALTER TABLE $cat.default.supplier_evo
            |ADD COLUMN bal DECIMAL(18,2)""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.supplier_evo
            |SELECT s_suppkey, s_nationkey, bal FROM supplier_evo_src"""
      .stripMargin)
    s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(bal) AS BIGINT) AS n_bal,
            |  CAST(SUM(bal) AS DOUBLE) AS sum_bal
            |FROM $cat.default.supplier_evo
            |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
  }

  /** `PARTITIONED BY` end to end (r16 verdict task 2): the nightly
    * partitioned-backfill shape of q_partitioned_backfill, re-expressed
    * as pure SQL text against the manifest catalog — CREATE TABLE …
    * PARTITIONED BY (day), one bulk INSERT (the clause clusters the
    * batch by day and records per-file day bounds), then the idempotent
    * last-day rebuild via `INSERT … REPLACE WHERE`. The shared oracle
    * proves the clustered+skipped layout answers exactly like the
    * hive-directory layout; GraftSkippingSqlSpec pins the pruning side
    * (a day-predicate SELECT opens only that day's files). */
  def qPartitionedSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.events_part_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val dayNs = 86400L * 1000 * 1000 * 1000
    graft.Events.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        dec2(col("value")).as("v"),
        expr(s"ts div $dayNs").as("day"))
      .createOrReplaceTempView("events_part_src")
    s.sql(s"""CREATE TABLE $t
            |  (event_id BIGINT, user_id BIGINT, event_type STRING,
            |   v DECIMAL(18,2), day BIGINT)
            |PARTITIONED BY (day)""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM events_part_src")
    val lastDay = s.sql("SELECT MAX(day) AS d FROM events_part_src")
      .head.getLong(0)
    // the idempotent partition rebuild: re-running converges instead of
    // duplicating — one atomic commit swaps exactly the day's rows
    s.sql(s"""INSERT INTO $t REPLACE WHERE day = $lastDay
            |SELECT * FROM events_part_src WHERE day = $lastDay"""
      .stripMargin)
    s.sql(s"""SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events,
            |  CAST(SUM(v) AS DOUBLE) AS sum_value
            |FROM $t GROUP BY day ORDER BY day""".stripMargin)
  }

  /** Type widening as DDL (r16 verdict task 4): CREATE with an INT key,
    * land generation-1, `ALTER TABLE … ALTER COLUMN … TYPE BIGINT`
    * (schema-only commit — zero bytes rewritten, old files
    * scan-promote), land generation-2 with 64-bit keys, aggregate
    * across both generations. Shares q_snapshot_widening's oracle: the
    * DDL path must land exactly the append-merge widening path's
    * state. */
  def qWideningSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.supplier_widen_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal"))
      .createOrReplaceTempView("supplier_widen_src")
    s.sql(s"""CREATE TABLE $t
            |  (s_suppkey INT, s_nationkey BIGINT,
            |   bal DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $t
            |SELECT CAST(s_suppkey AS INT), s_nationkey, bal
            |FROM supplier_widen_src WHERE s_suppkey % 2 = 0"""
      .stripMargin)
    s.sql(s"ALTER TABLE $t ALTER COLUMN s_suppkey TYPE BIGINT")
    s.sql(s"""INSERT INTO $t
            |SELECT s_suppkey, s_nationkey, bal
            |FROM supplier_widen_src WHERE s_suppkey % 2 = 1"""
      .stripMargin)
    s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
            |  CAST(SUM(bal) AS DOUBLE) AS sum_bal
            |FROM $t GROUP BY s_nationkey ORDER BY s_nationkey"""
      .stripMargin)
  }

  /** RENAME COLUMN end to end (r17 verdict task 4): CREATE with
    * `graft.column.mapping='id'` (field-id indirection), land
    * generation-1 under the original column name, `ALTER TABLE … RENAME
    * COLUMN` (schema-only commit — zero bytes rewritten; old files
    * match by parquet field id), land generation-2 under the NEW name,
    * aggregate across both generations. Shares q_snapshot_widening's /
    * q_widening_sql's oracle: the renamed lifecycle must land exactly
    * the plain lifecycle's state — the hash proves pre-rename files
    * read correctly under the new name. */
  def qRenameSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.supplier_rename_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal"))
      .createOrReplaceTempView("supplier_rename_src")
    s.sql(s"""CREATE TABLE $t
            |  (s_suppkey BIGINT, s_nationkey BIGINT,
            |   acct DECIMAL(18,2))
            |TBLPROPERTIES ('graft.column.mapping' = 'id')""".stripMargin)
    s.sql(s"""INSERT INTO $t
            |SELECT s_suppkey, s_nationkey, bal
            |FROM supplier_rename_src WHERE s_suppkey % 2 = 0"""
      .stripMargin)
    s.sql(s"ALTER TABLE $t RENAME COLUMN acct TO bal")
    s.sql(s"""INSERT INTO $t
            |SELECT s_suppkey, s_nationkey, bal
            |FROM supplier_rename_src WHERE s_suppkey % 2 = 1"""
      .stripMargin)
    s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
            |  CAST(SUM(bal) AS DOUBLE) AS sum_bal
            |FROM $t GROUP BY s_nationkey ORDER BY s_nationkey"""
      .stripMargin)
  }

  /** The delta (merge-on-read) SQL MERGE, end to end: the exact
    * statement of [[qManifestMergeSql]] against a
    * `graft.rowlevel.mode='mor'` table — Spark's delta rewrite drives
    * [[GraftDeltaOperation]], matched rows position-delete via
    * (_file,_pos) row ids into a dv sidecar, updated+inserted rows
    * append, and NO pre-existing data file is rewritten
    * (GraftRowLevelSpec pins the untouched-paths side). The shared
    * oracle proves delta-MERGE state ≡ COW-MERGE state. */
  def qMergeSqlMor(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.orders_merge_mor_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_merge_mor_src")
    s.sql(s"""CREATE TABLE $t
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')""".stripMargin)
    s.sql(s"""INSERT INTO $t
            |SELECT * FROM orders_merge_mor_src
            |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(s"""MERGE INTO $t AS t
            |USING (SELECT * FROM orders_merge_mor_src
            |       WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1) AS s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET price = s.price * 2
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, price)
            |  VALUES (s.o_orderkey, s.o_orderstatus, s.price)
            |""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Storage-partitioned join end to end (r18): two tables PARTITIONED
    * BY (day) — an events fact and a per-day dimension — joined on the
    * partition column. With v2 bucketing on (GraftSession default) both
    * scans report KeyGroupedPartitioning over their single-value files,
    * so the join AND the grouped aggregate plan with ZERO shuffles —
    * the co-partitioned fact⋈dim zip that replaces the dominant
    * warehouse shuffle at 100 TB. SpjSpec pins the shuffle-free plan
    * and the write invariant; this key pins the ANSWER: the oracle
    * recomputes the join relationally over the raw events parquet, so a
    * wrong file grouping (rows keyed into the wrong partition) would
    * hash-mismatch immediately. */
  def qSpjJoin(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val fact = s"$cat.default.events_spj_fact"
    val dim = s"$cat.default.events_spj_dim"
    s.sql(s"DROP TABLE IF EXISTS $fact")
    s.sql(s"DROP TABLE IF EXISTS $dim")
    val dayNs = 86400L * 1000 * 1000 * 1000
    graft.Events.events(s, d)
      .select(col("event_id"), col("event_type"),
        dec2(col("value")).as("v"),
        expr(s"ts div $dayNs").as("day"))
      .createOrReplaceTempView("events_spj_src")
    s.sql(s"""CREATE TABLE $fact
            |  (event_id BIGINT, event_type STRING, v DECIMAL(18,2),
            |   day BIGINT)
            |PARTITIONED BY (day)""".stripMargin)
    s.sql(s"INSERT INTO $fact SELECT * FROM events_spj_src")
    s.sql(s"""CREATE TABLE $dim (day BIGINT, w DECIMAL(18,2))
            |PARTITIONED BY (day)""".stripMargin)
    s.sql(s"""INSERT INTO $dim
            |SELECT day, CAST(SUM(v) AS DECIMAL(18,2)) AS w
            |FROM events_spj_src GROUP BY day""".stripMargin)
    s.sql(s"""SELECT f.day, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(f.v) AS DOUBLE) AS sum_v,
            |  CAST(MAX(d.w) AS DOUBLE) AS day_w
            |FROM $fact f JOIN $dim d ON f.day = d.day
            |GROUP BY f.day ORDER BY f.day""".stripMargin)
  }

  /** Bucket-layout SPJ end to end (r18): orders and lineitem both
    * `PARTITIONED BY (bucket(16, orderkey))` — the canonical fact⋈fact
    * shape whose shuffle dominates every warehouse plan at 100 TB. The
    * writes place rows by the catalog's `bucket` function (pmod), the
    * scans report KeyGroupedPartitioning over the SAME bound function,
    * and the equi-join on the bucket key plans with ZERO shuffles on
    * either side (SpjSpec pins the plan; broadcast can't fake this —
    * both sides are fact-sized). The oracle recomputes the join over
    * the raw parquet, so a single row placed or grouped into the wrong
    * bucket hash-mismatches. */
  def qBucketJoin(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val of = s"$cat.default.orders_bkt"
    val lf = s"$cat.default.lineitem_bkt"
    s.sql(s"DROP TABLE IF EXISTS $of")
    s.sql(s"DROP TABLE IF EXISTS $lf")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_bkt_src")
    lineitem(s, d)
      .select(col("l_orderkey"), dec2(col("l_quantity")).as("qty"))
      .createOrReplaceTempView("lineitem_bkt_src")
    s.sql(s"""CREATE TABLE $of
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $of SELECT * FROM orders_bkt_src")
    s.sql(s"""CREATE TABLE $lf (l_orderkey BIGINT, qty DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, l_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $lf SELECT * FROM lineitem_bkt_src")
    s.sql(s"""SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(l.qty) AS DOUBLE) AS sum_qty,
            |  CAST(SUM(o.price) AS DOUBLE) AS sum_price
            |FROM $of o JOIN $lf l ON o.o_orderkey = l.l_orderkey
            |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus"""
      .stripMargin)
  }

  /** String-key bucket SPJ end to end (r19): the same fact⋈fact shape
    * as [[qBucketJoin]] but on STRING join keys — the common case in
    * LLM-pipeline tables (doc ids, UUIDs, URLs), where a zero-shuffle
    * co-bucketed join was previously out of reach. Both tables are
    * `PARTITIONED BY (bucket(16, <string key>))`; placement is
    * `pmod(xxhash64(key), 16)` end to end (writer fanout, manifest
    * `#bucket` groups, the catalog's V2 `bucket` function under its
    * string canonical name), and the join plans with zero shuffles
    * (SpjSpec pins the plan). The oracle recomputes the join
    * relationally over the raw parquet with the same string-cast keys —
    * placement is hash-private, the join RESULT is not, so one row
    * placed or grouped into the wrong bucket hash-mismatches. */
  def qBucketJoinStr(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val of = s"$cat.default.orders_bkts"
    val lf = s"$cat.default.lineitem_bkts"
    s.sql(s"DROP TABLE IF EXISTS $of")
    s.sql(s"DROP TABLE IF EXISTS $lf")
    orders(s, d)
      .select(concat(lit("ord-"), col("o_orderkey")).as("o_key"),
        col("o_orderstatus"), dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_bkts_src")
    lineitem(s, d)
      .select(concat(lit("ord-"), col("l_orderkey")).as("l_key"),
        dec2(col("l_quantity")).as("qty"))
      .createOrReplaceTempView("lineitem_bkts_src")
    s.sql(s"""CREATE TABLE $of
            |  (o_key STRING, o_orderstatus STRING, price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_key))""".stripMargin)
    s.sql(s"INSERT INTO $of SELECT * FROM orders_bkts_src")
    s.sql(s"""CREATE TABLE $lf (l_key STRING, qty DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, l_key))""".stripMargin)
    s.sql(s"INSERT INTO $lf SELECT * FROM lineitem_bkts_src")
    s.sql(s"""SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(l.qty) AS DOUBLE) AS sum_qty,
            |  CAST(SUM(o.price) AS DOUBLE) AS sum_price
            |FROM $of o JOIN $lf l ON o.o_key = l.l_key
            |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus"""
      .stripMargin)
  }

  /** Guarded partition-spec evolution end to end (r19): CREATE a
    * bucket(16) table, land the full orders projection, `CALL
    * system.relayout` to bucket(8) — one REPLACE commit re-fanning
    * every file out under the new spec and swapping the layout props
    * atomically (the rewrite path the ALTER-immutability refusal
    * names) — then aggregate THROUGH the relayouted snapshot, with a
    * point lookup exercising the new placement's pruning on the way.
    * Shares q_table_roundtrip's oracle: a relayout that drops,
    * duplicates, or mis-places one row hash-mismatches.
    * GraftProcedureSpec pins what the aggregate can't see (pinned
    * pre-relayout keying, SPJ eligibility, branch/arg guards). */
  def qRelayoutSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.orders_rel"
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_rel_src")
    s.sql(s"""CREATE TABLE $t
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM orders_rel_src")
    s.sql(s"""CALL $cat.system.relayout('default.orders_rel',
            |bucket_by => 'o_orderkey', bucket_count => 8)""".stripMargin)
    // a point lookup through the NEW placement (bucket pruning on the
    // re-fanned files) — the driver-visible smoke that the relayouted
    // layout actually serves
    s.sql(s"SELECT COUNT(*) FROM $t WHERE o_orderkey = 32").collect()
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      .stripMargin)
  }

  /** METADATA-ONLY layout evolution end to end (r20): CREATE bucket(16)
    * + land the even half under it, `CALL system.evolve_layout` to
    * bucket(8) — one props-only commit, ZERO rewrite — then land the
    * odd half under the NEW spec (the ingest that keeps flowing, the
    * case [[graft.ops.Layout.relayout]]'s strict replace cannot serve),
    * point-look-up through the mixed state (old-spec files survive
    * pruning, new-spec files prune to 1/8 — either way the answer is
    * exact), compact (ordinary maintenance re-places the old half and
    * restores SPJ keying), and aggregate. Shares q_table_roundtrip's
    * oracle: mixed-spec reads, the props swap and the re-placement must
    * all be state-preserving. LayoutEvolveSpec pins what the aggregate
    * can't see (unkeyed mixed snapshot, keyed post-compact snapshot,
    * stale groups never keying). */
  def qEvolveLayout(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.orders_ev"
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_ev_src")
    s.sql(s"""CREATE TABLE $t
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM orders_ev_src " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"""CALL $cat.system.evolve_layout('default.orders_ev',
            |bucket_by => 'o_orderkey', bucket_count => 8)""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM orders_ev_src " +
      "WHERE o_orderkey % 2 = 1")
    // point lookup through the MIXED state: bucket(8) pruning applies
    // to the new-spec files, the old-spec files survive — exactness
    // either way
    s.sql(s"SELECT COUNT(*) FROM $t WHERE o_orderkey = 32").collect()
    s.sql(s"CALL $cat.system.compact('default.orders_ev')")
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      .stripMargin)
  }

  /** Write-audit-publish end to end (r18): CREATE + land the even half
    * on main, fork branch 'audit', land the odd half on the BRANCH
    * under `spark.graft.wap.branch` (the Iceberg-style session switch —
    * the INSERT statement is identical to a direct write), run the
    * audit gate as a real query against `VERSION AS OF 'audit'`
    * (refusing publish on a failed check), publish (one fast-forward
    * CAS, zero data movement), drop the branch, aggregate main. Shares
    * q_table_roundtrip's oracle: the WAP detour must land EXACTLY the
    * direct two-insert state — a leak (batch visible before publish),
    * a loss (publish dropping lines), or a duplication all
    * hash-mismatch. BranchWapSpec pins what the aggregate can't see
    * (invisibility before publish, divergence refusal, GC safety). */
  def qWapPublish(s: SparkSession, d: String): DataFrame =
    withWapBranch(s, None) {
      val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
      val cat = catalogFor(s, wh)
      val t = s"$cat.default.orders_wap"
      s.sql(s"DROP TABLE IF EXISTS $t")
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec2(col("o_totalprice")).as("price"))
        .createOrReplaceTempView("orders_wap_src")
      s.sql(s"""CREATE TABLE $t
              |  (o_orderkey BIGINT, o_orderstatus STRING,
              |   price DECIMAL(18,2))""".stripMargin)
      s.sql(s"""INSERT INTO $t
              |SELECT * FROM orders_wap_src WHERE o_orderkey % 2 = 0"""
        .stripMargin)
      s.sql(s"CALL $cat.system.create_branch('default.orders_wap', 'audit')")
      withWapBranch(s, Some("audit")) {
        s.sql(s"""INSERT INTO $t
                |SELECT * FROM orders_wap_src WHERE o_orderkey % 2 = 1"""
          .stripMargin)
      }
      // the audit gate: a real validation query against the branch — a
      // staged batch that fails it never publishes
      val bad = s.sql(s"""SELECT COUNT(*) FROM $t VERSION AS OF 'audit'
                        |WHERE o_orderkey IS NULL OR price < 0"""
        .stripMargin).head.getLong(0)
      require(bad == 0, s"audit failed: $bad bad rows — not publishing")
      s.sql(s"CALL $cat.system.publish_branch('default.orders_wap', 'audit')")
      s.sql(s"CALL $cat.system.drop_branch('default.orders_wap', 'audit')")
      s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
              |  CAST(SUM(price) AS DOUBLE) AS sum_price
              |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin)
    }

  /** `body` with `spark.graft.wap.branch` at `branch` (None: unset), then
    * the caller's value back: an operator's switch never wipes or leaks
    * into the session's. */
  private def withWapBranch[T](s: SparkSession, branch: Option[String])
      (body: => T): T = {
    val prev = s.conf.getOption("spark.graft.wap.branch")
    def put(v: Option[String]): Unit = v.fold(
      s.conf.unset("spark.graft.wap.branch"))(
      s.conf.set("spark.graft.wap.branch", _))
    put(branch)
    try body finally put(prev)
  }

  /** Zero-copy shallow clone end to end (r18): land the even half on
    * the SOURCE, `CALL system.clone` (one manifest commit referencing
    * the source's files absolutely — no data movement at any size),
    * land the odd half on the CLONE, aggregate the clone. Shares
    * q_table_roundtrip's oracle: the clone must serve the source's
    * files and its own appends as one table — a broken absolute-path
    * resolution loses the even half, a leak into the source doubles
    * it. CloneSpec pins divergence isolation, carried stats pruning,
    * and vacuum safety. */
  def qCloneSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val src = s"$cat.default.orders_clone_src"
    val t = s"$cat.default.orders_clone"
    s.sql(s"DROP TABLE IF EXISTS $src")
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_clone_src_v")
    s.sql(s"""CREATE TABLE $src
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $src
            |SELECT * FROM orders_clone_src_v WHERE o_orderkey % 2 = 0"""
      .stripMargin)
    s.sql(s"CALL $cat.system.clone('default.orders_clone_src', " +
      "'default.orders_clone')")
    s.sql(s"""INSERT INTO $t
            |SELECT * FROM orders_clone_src_v WHERE o_orderkey % 2 = 1"""
      .stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      .stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_spj_join" -> qSpjJoin _,
    "q_wap_publish" -> qWapPublish _,
    "q_clone_sql" -> qCloneSql _,
    "q_bucket_join" -> qBucketJoin _,
    "q_bucket_join_str" -> qBucketJoinStr _,
    "q_relayout_sql" -> qRelayoutSql _,
    "q_evolve_layout" -> qEvolveLayout _,
    "q_partitioned_sql" -> qPartitionedSql _,
    "q_widening_sql" -> qWideningSql _,
    "q_rename_sql" -> qRenameSql _,
    "q_merge_sql_mor" -> qMergeSqlMor _,
    "q_manifest_sql" -> qManifestSql _,
    "q_manifest_merge_sql" -> qManifestMergeSql _,
    "q_manifest_maintenance_sql" -> qManifestMaintenanceSql _,
    "q_manifest_skipping_sql" -> qManifestSkippingSql _,
    "q_manifest_skipping_bloom" -> qManifestSkippingBloom _,
    "q_manifest_replace_where" -> qManifestReplaceWhere _,
    "q_manifest_constraint_sql" -> qManifestConstraintSql _,
    "q_manifest_evolution_sql" -> qManifestEvolutionSql _)

  // post-merge truth recomputed relationally over raw parquet: matched
  // non-'F' rows doubled, matched 'F' rows deleted, unmatched source
  // rows inserted — shared by the COW and MOR MERGE keys
  private val mergeSqlOracle =
      """WITH t AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders WHERE o_orderkey % 4 = 0),
        |     s AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders
        |           WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1),
        |     kept AS (
        |       SELECT t.o_orderkey, t.o_orderstatus,
        |         CASE WHEN s.o_orderkey IS NULL THEN t.price
        |              ELSE CAST(t.price * 2 AS DECIMAL(18,2)) END AS price
        |       FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
        |       WHERE s.o_orderkey IS NULL OR t.o_orderstatus <> 'F'),
        |     ins AS (
        |       SELECT s.o_orderkey, s.o_orderstatus, s.price
        |       FROM s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
        |       WHERE t.o_orderkey IS NULL),
        |     merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the SPJ fact⋈dim recomputed relationally from the raw events —
    // a wrong partition-value file grouping would shift n/sum_v/day_w
    // for the misgrouped day and hash-mismatch
    "q_spj_join" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |  dim AS (
        |    SELECT day, CAST(SUM(v) AS DECIMAL(18,2)) AS w
        |    FROM src GROUP BY day)
        |SELECT f.day, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(f.v) AS DOUBLE) AS sum_v,
        |  CAST(MAX(d.w) AS DOUBLE) AS day_w
        |FROM src f JOIN dim d ON f.day = d.day
        |GROUP BY f.day ORDER BY f.day""".stripMargin,
    // the bucket-layout fact⋈fact recomputed relationally from the raw
    // tables — any row placed or grouped into the wrong bucket would
    // drop/duplicate join matches and hash-mismatch
    "q_bucket_join" ->
      """SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    // the STRING-key bucket join recomputed relationally with the same
    // derived keys — the xxhash64 placement is not SQL-expressible in
    // DuckDB, but the join result is placement-independent, so any
    // mis-bucketed row still drops/duplicates matches and mismatches
    "q_bucket_join_str" ->
      """WITH o AS (SELECT 'ord-' || CAST(o_orderkey AS VARCHAR) AS o_key,
        |             o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders),
        |     l AS (SELECT 'ord-' || CAST(l_orderkey AS VARCHAR) AS l_key,
        |             CAST(l_quantity AS DECIMAL(18,2)) AS qty
        |           FROM lineitem)
        |SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(l.qty) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(o.price) AS DOUBLE) AS sum_price
        |FROM o JOIN l ON o.o_key = l.l_key
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    // shared string: PARTITIONED BY (clustering + manifest skipping)
    // must answer exactly like the hive-directory layout it replaces
    "q_partitioned_sql" ->
      graft.ops.Sources.oracleSql("q_partitioned_backfill"),
    // shared string: the ALTER COLUMN TYPE DDL path must land exactly
    // the append-merge widening path's state
    "q_widening_sql" ->
      graft.ops.Layout.oracleSql("q_snapshot_widening"),
    // shared string: the renamed lifecycle (field-id indirection) must
    // land exactly the plain lifecycle's state
    "q_rename_sql" ->
      graft.ops.Layout.oracleSql("q_snapshot_widening"),
    "q_manifest_sql" -> graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: the WAP detour (branch stage + audit + publish)
    // must land exactly the direct two-insert state
    "q_wap_publish" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: the relayout rewrite (bucket(16) → bucket(8))
    // must preserve the table's visible state exactly
    "q_relayout_sql" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared again (r20): the METADATA-ONLY evolution — mixed-spec
    // reads, the props swap, and the compaction that re-places the old
    // half — must also preserve the state exactly
    "q_evolve_layout" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: source files served through absolute manifest
    // lines + the clone's own appends must reassemble the direct state
    "q_clone_sql" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: a constraint-gated insert of conforming data must
    // land exactly the ungated table state
    "q_manifest_constraint_sql" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared-string convention: the DDL evolution path must land exactly
    // the append-merge path's evolved state
    "q_manifest_evolution_sql" ->
      graft.ops.Sources.oracleSql("q_schema_evolution"),
    // rollback(2) makes the head ≡ the two inserts' union — compact and
    // expire must be state-preserving, which is exactly what the hash
    // check proves
    "q_manifest_maintenance_sql" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // post-backfill truth: the upper key range doubled, everything else
    // as inserted — proves the swap was atomic-complete (no row lost,
    // none duplicated, none doubled twice)
    "q_manifest_replace_where" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey >=
        |         (SELECT MAX(o_orderkey) // 2 FROM orders)
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |            AS DECIMAL(18,2))
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the bloom probes are recomputable relationally: max key of each
    // residue class — pruning changes the read set, never the answer
    "q_manifest_skipping_bloom" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey IN (
        |  (SELECT MAX(o_orderkey) FROM orders WHERE o_orderkey % 4 = 2),
        |  (SELECT MAX(o_orderkey) FROM orders WHERE o_orderkey % 4 = 1))
        |ORDER BY o_orderkey, o_orderstatus, price""".stripMargin,
    // DuckDB `//` = integer division, matching the Spark side's Long /
    "q_manifest_skipping_sql" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 4 FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_manifest_merge_sql" -> mergeSqlOracle,
    // shared string: the delta (merge-on-read) MERGE must land the
    // IDENTICAL visible state as the group-based COW MERGE — one oracle
    // hash proves the two execution strategies equivalent
    "q_merge_sql_mor" -> mergeSqlOracle)
}
