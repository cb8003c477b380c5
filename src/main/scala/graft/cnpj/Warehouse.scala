package graft.cnpj

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Parquet warehouse + typed views (SURVEY.md §2.1 S8–S10, §1.4).
  *
  * The reference's SQLite warehouse (CREATE TABLE + chunked append + B-tree
  * indexes, ETLCNPJFinalEmpresaEstabelecimentos.py:113-182) maps to parquet
  * tables with an atomic job commit. Secondary indexes have no Spark
  * equivalent. Their lookup role falls to the parquet footer: the fact
  * table is written sorted within each write task on id_cnae, the
  * flagship's 50-value IN-list column, so each row group's min/max on it
  * is tight and the pushed-down filter skips row groups that hold no
  * listed CNAE. The sort is task-local, so the write schedules no
  * shuffle. Join locality is not needed: the files are not bucketed and
  * the flagship broadcasts its dims.
  *
  * Typed views implement the §1.4 canonical typing decision: clean
  * numerics/dates get real types; affinity-mixed columns (numero, ddd*,
  * telefone*) deliberately stay strings so SQLite's "11.0" float artifact
  * never enters the engine.
  */
object Warehouse {

  /** S8/S9: overwrite-write a table, each write task's rows sorted on
    * `sortKey` when one is given — the physical analogue of the
    * reference's bulk-load-then-index. The sort is within partitions:
    * the write keeps its input's partitioning and runs as one job. A
    * file's row groups then cover narrow `sortKey` ranges, which is what
    * parquet min/max skipping needs; a file smaller than one row group
    * (`parquet.block.size`, 128 MB by default) gains nothing from it. */
  def writeTable(df: DataFrame, dir: String, sortKey: Option[String])
      : Unit =
    sortKey.fold(df)(k => df.sortWithinPartitions(k))
      .write.mode("overwrite").parquet(dir)

  def readTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** S8–S10 in one pass: [[writeTable]] `df` and register it as the
    * external catalog table `name` carrying planner statistics for the
    * named columns — the reference's post-load `ANALYZE` (readme.md:135,
    * SQLite's planner statistics) mapped to Spark's cost-based optimizer
    * without reading the table back. The statistics are aggregates an
    * `Observation` evaluates while the write streams its rows, the
    * registration takes the frame's own schema (no inference job), and
    * the size is the data-file sum ANALYZE itself records. The table is
    * registered with its statistics in one catalog call ([[register]]);
    * nothing is returned, since reading the table back would resolve it.
    *
    * Why the statistics matter at warehouse scale: without them the
    * planner sees only file bytes, and a FILTERED relation keeps its
    * full-scan estimate (Filter is a pass-through in size-only
    * estimation) — so a dimension that shrinks to a few KB after its
    * predicate still plans as a shuffle join. With column stats, CBO's
    * FilterEstimation turns ndv/min-max into selectivity, the estimate
    * drops below the broadcast threshold, and the join flips to
    * BroadcastHashJoin (CboStatsSpec pins exactly that flip). They cost
    * no extra job here. Column-selectivity estimation needs
    * `spark.sql.cbo.enabled=true` in the QUERYING session — deliberately
    * not GraftSession's default, because on deep plans with NO catalog
    * stats the CBO estimator is measurable pure overhead (see the
    * GraftSession comment); table-level size/row-count stats improve
    * estimates either way. */
  def writeTableWithStats(spark: SparkSession, name: String, df: DataFrame,
      dir: String, sortKey: Option[String], statsColumns: Seq[String])
      : Unit = {
    val stats = new TableStats(spark, df.schema, statsColumns)
    val obs = Observation()
    writeTable(df.observe(obs, stats.aggregates.head, stats.aggregates.tail: _*),
      dir, sortKey)
    register(spark, name, df.schema, dir, stats.of(obs.get))
  }

  /** The same registration and statistics for a parquet directory that
    * already exists: one schema read and one aggregate scan, then the
    * same one catalog call as [[writeTableWithStats]].
    *
    * Overwrite-by-design in both verbs: re-registration replaces the
    * previous definition, its cached data and its resolved relation,
    * matching the overwrite warehouse write. */
  def analyzeTable(spark: SparkSession, name: String, dir: String,
      statsColumns: Seq[String] = Nil): Unit = {
    val df = readTable(spark, dir)
    val stats = new TableStats(spark, df.schema, statsColumns)
    val row = df.agg(stats.aggregates.head, stats.aggregates.tail: _*).head()
    register(spark, name, df.schema, dir,
      stats.of(row.getValuesMap[Any](row.schema.fieldNames)))
  }

  /** The aggregates Spark's `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    * COLUMNS` evaluates (`CommandUtils.statExprs`), and the
    * `CatalogStatistics` it builds from their values: row count; per
    * column ndv (HyperLogLog++ at `spark.sql.statistics.ndv.maxError`,
    * capped by the non-null count), null count, and min/max with
    * `defaultSize` lengths for fixed-width types, or ceil(avg)/max
    * lengths (`defaultSize` when all null) and no min/max for strings and
    * binaries. Histograms (`spark.sql.statistics.histogram.enabled`) are
    * not computed. WarehouseStatsSpec pins field-for-field equality with
    * Spark's own ANALYZE. */
  private final class TableStats(spark: SparkSession, schema: StructType,
      statsColumns: Seq[String]) {
    private val fields = statsColumns.map { c =>
      schema.find(f => spark.sessionState.conf.resolver(f.name, c))
        .getOrElse(throw new IllegalArgumentException(
          s"stats column $c is not in (${schema.fieldNames.mkString(", ")})"))
    }.distinct

    private def varWidth(f: StructField) = f.dataType match {
      case _: StringType | BinaryType => true
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | _: DecimalType | BooleanType | DateType |
          TimestampType | TimestampNTZType => false
      case t => throw new IllegalArgumentException(
        s"no column statistics for ${f.name} of type ${t.simpleString}")
    }

    val aggregates: Seq[Column] =
      count(lit(1)).as("rows") +: fields.zipWithIndex.flatMap { case (f, i) =>
        val c = col(s"`${f.name.replace("`", "``")}`")
        val size = lit(f.dataType.defaultSize.toLong)
        Seq(least(approx_count_distinct(c, spark.sessionState.conf.ndvMaxError),
              count(c)).as(s"ndv$i"),
            (count(lit(1)) - count(c)).as(s"nulls$i")) ++
          (if (varWidth(f))
            Seq(coalesce(ceil(avg(length(c))), size).as(s"avgLen$i"),
              coalesce(max(length(c)).cast("long"), size).as(s"maxLen$i"))
          else Seq(min(c).as(s"min$i"), max(c).as(s"max$i")))
      }

    /** The statistics from the aggregates' values, given the table size. */
    def of(v: Map[String, Any])(sizeInBytes: BigInt): CatalogStatistics = {
      def long(k: String) = v(k).asInstanceOf[Long]
      def value(k: String) =
        v.get(k).flatMap(Option(_)).map(CatalystTypeConverters.convertToCatalyst)
      val colStats = fields.zipWithIndex.map { case (f, i) =>
        val fixed = f.dataType.defaultSize.toLong
        f.name -> ColumnStat(
          distinctCount = Some(BigInt(long(s"ndv$i"))),
          min = value(s"min$i"), max = value(s"max$i"),
          nullCount = Some(BigInt(long(s"nulls$i"))),
          avgLen = Some(if (varWidth(f)) long(s"avgLen$i") else fixed),
          maxLen = Some(if (varWidth(f)) long(s"maxLen$i") else fixed))
          .toCatalogColumnStat(f.name, f.dataType)
      }.toMap
      CatalogStatistics(sizeInBytes, Some(BigInt(long("rows"))), colStats)
    }
  }

  /** (Re-)register `dir` as the external parquet table `name` with the
    * given schema (made nullable, as Spark reads parquet back) and its
    * statistics, in one catalog call: the `CatalogTable` that
    * `spark.catalog.createTable(name, "parquet", schema, Map("path" ->
    * dir))` stores, field for field (WarehouseStatsSpec pins it), with
    * the statistics already on it. The size is `ANALYZE`'s, from one
    * listing of `dir`. A previous table of that name goes first, as a
    * `DropTableCommand` drops it: its cached data and its resolved
    * relation are invalidated, so neither a caller's cached frame nor
    * the next `spark.table(name)` serves the old files. The location is
    * qualified first: a relative path would otherwise resolve against
    * spark.sql.warehouse.dir, not the cwd the caller wrote the parquet
    * to. No data source is resolved and no SQL text is parsed. */
  private def register(spark: SparkSession, name: String, schema: StructType,
      dir: String, stats: BigInt => CatalogStatistics): Unit = {
    val ident = TableIdentifier(name)
    val cat = spark.sessionState.catalog
    val loc = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
        .toUri
    }
    ColumnBridge.uncacheTable(spark, ident)
    cat.invalidateCachedTable(ident)
    cat.dropTable(ident, ignoreIfNotExists = true, purge = false)
    cat.createTable(CatalogTable(
      identifier = ident,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(locationUri = Some(loc),
        properties = Map("path" -> loc.toString)),
      schema = ColumnBridge.nullableSchema(schema),
      provider = Some("parquet"),
      stats = Some(stats(ColumnBridge.locationSize(spark, ident, loc)))),
      ignoreIfExists = false)
  }

  /** Read through the catalog table when one named `name` is registered
    * AT exactly `dir` — its statistics then flow into this plan — and
    * fall back to the plain path read otherwise (a session that never
    * ran [[writeTableWithStats]] or [[analyzeTable]], or a test pointing
    * the same name at a different warehouse). Qualified-path comparison,
    * so relative dirs and URI-style catalog locations compare equal. */
  def readTableWithStats(spark: SparkSession, name: String, dir: String)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
    val cat = spark.sessionState.catalog
    val hconf = spark.sparkContext.hadoopConfiguration
    def qualified(p: Path) = p.getFileSystem(hconf).makeQualified(p)
    val registeredHere = cat.tableExists(ident) &&
      qualified(new Path(cat.getTableMetadata(ident).location)) ==
        qualified(new Path(dir))
    if (registeredHere) spark.table(name) else readTable(spark, dir)
  }

  /** Comma-decimal → DECIMAL(18,2): "195400,00" (FIXTURES.md A.1). */
  def commaDecimal(c: org.apache.spark.sql.Column) =
    regexp_replace(c, ",", ".").cast("decimal(18,2)")

  /** yyyyMMdd text dates → DateType ("20080409", FIXTURES.md A.2);
    * empty/zero dates → null. */
  def cnpjDate(c: org.apache.spark.sql.Column) =
    when(c.isNull || c === "" || c === "0" || c === "00000000", lit(null))
      .otherwise(to_date(c, "yyyyMMdd"))

  /** Typed empresas view (raw is all-string per Schemas). */
  def typedEmpresas(raw: DataFrame): DataFrame =
    raw.select(
      col("cnpj_basico").cast("long").as("cnpj_basico"),
      col("razao_social"),
      col("natureza_juridica").cast("int").as("natureza_juridica"),
      col("qualificacao_responsavel").cast("int")
        .as("qualificacao_responsavel"),
      commaDecimal(col("capital_social")).as("capital_social"),
      col("porte_empresa"),
      col("ente_federativo_responsavel"))

  /** Typed estabelecimentos view — only the columns the flagship needs
    * typed; the rest pass through as strings. */
  def typedEstabelecimentos(raw: DataFrame): DataFrame =
    raw
      .withColumn("cnpj_basico", col("cnpj_basico").cast("long"))
      .withColumn("id_situacao_cadastral",
        col("id_situacao_cadastral").cast("int"))
      .withColumn("id_cnae", col("id_cnae").cast("long"))
      .withColumn("id_municipio", col("id_municipio").cast("int"))
      .withColumn("data_situacao_cadastro_d",
        cnpjDate(col("data_situacao_cadastro")))
      .withColumn("data_de_inicio_atividade_d",
        cnpjDate(col("data_de_inicio_atividade")))

  def typedCnae(raw: DataFrame): DataFrame =
    raw.select(col("id_cnae").cast("long").as("id_cnae"),
      col("descricao_cnae"))

  def typedMunicipios(raw: DataFrame): DataFrame =
    raw.select(col("id_municipio").cast("int").as("id_municipio"),
      col("nome_municipio"))

  def typedMotivoSituacao(raw: DataFrame): DataFrame =
    raw.select(
      col("id_situacao_cadastral").cast("int").as("id_situacao_cadastral"),
      col("descricao_situacao_cadastral"))

  /** FK-only catalogs (Schemas.naturezaJuridicaRaw etc.): integer code +
    * description, same typing rule as the other dims. */
  def typedNaturezaJuridica(raw: DataFrame): DataFrame =
    raw.select(col("natureza_juridica").cast("int").as("natureza_juridica"),
      col("descricao_natureza_juridica"))

  def typedQualificacaoResponsavel(raw: DataFrame): DataFrame =
    raw.select(
      col("qualificacao_responsavel").cast("int")
        .as("qualificacao_responsavel"),
      col("descricao_qualificacao_responsavel"))

  def typedPais(raw: DataFrame): DataFrame =
    raw.select(col("pais").cast("int").as("pais"), col("descricao_pais"))
}
