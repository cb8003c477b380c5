package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.cnpj._

/** The warehouse's planner statistics — computed during the parquet
  * writes (`Pipeline.buildWarehouse` via `Warehouse.writeTableWithStats`)
  * or by one aggregate over an existing directory
  * (`Warehouse.analyzeTable`) — are exactly what Spark's own
  * `ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]` records over the
  * same files: sizeInBytes, rowCount, every `CatalogColumnStat` field,
  * and the catalog schema. Spark's ANALYZE is the reference and runs
  * only here. */
class WarehouseStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base = "target/warehouse_stats_spec"
  private val latin1 = Charset.forName("ISO-8859-1")

  /** The columns `buildWarehouse` records statistics for. */
  private val warehouseStats = Seq(
    "estabelecimentos" -> Seq("cnpj_basico", "id_cnae", "id_municipio",
      "id_situacao_cadastral"),
    "empresas" -> Seq("cnpj_basico", "natureza_juridica"),
    "cnae" -> Seq("id_cnae"),
    "municipios" -> Seq("id_municipio"),
    "motivo_situacao_cadastral" -> Seq("id_situacao_cadastral"))

  private def writeCsv(raw: String, sub: String, rows: Seq[String]): Unit = {
    val dir = Paths.get(s"$raw/$sub")
    Files.createDirectories(dir)
    Files.write(dir.resolve("data.csv"), rows.mkString("\n").getBytes(latin1))
  }

  /** Receita-layout raw CSVs. Blank `cnpj_basico` keys (a null in the
    * stats column of both fact tables), an all-blank string column
    * (ente_federativo_responsavel) and an EMPTY motivo table. */
  private def fixture(raw: String): Unit = {
    val est = "0001;83;1;MARCETEX DIVISORIAS;2;20080409;0;;;20080409;" +
      "1622601;;ESTRADA;ERNESTINA VIEIRA;345;GALPAO3 - SUPERIOR;" +
      "JARDIM PLANALTO;06382260;SP;6313;11;41898282;;;;;" +
      "FISCAL@MARCETEX.COM.BR;;"
    writeCsv(raw, "empresas", Seq(
      "9612479;MARCETEX SOLUCOES LTDA;2062;49;195400,00;03;",
      "9612480;ACUCAR & AÇO LTDA;2062;49;1000,50;01;",
      ";SEM CNPJ LTDA;2135;49;10,00;05;",
      "9612481;FORA DO FILTRO SA;;49;99,99;05;"))
    writeCsv(raw, "estabelecimentos", Seq(
      s"9612479;$est",
      s"9612481;$est".replace("20080409", "20100101"),
      s";$est",
      s";$est".replace("6313", "7157"),
      "9612479;0002;64;2;FILIAL FORA;8;;0;;;;" +
        "9999999;;RUA;OUTRA;10;;BAIRRO;06382261;SP;9999;11;1234;;;;;;;"))
    writeCsv(raw, "cnae", Seq(
      "1622601;Fabricação de esquadrias de madeira",
      "4321500;Instalação e manutenção elétrica",
      "9999999;Fora do filtro"))
    writeCsv(raw, "municipios", Seq(
      s"6313;${"CARAPICUIBA".padTo(45, ' ')}", "7157;TABOÃO DA SERRA",
      "9999;OUTRO"))
    writeCsv(raw, "motivo_situacao_cadastral", Nil)
  }

  private def qualified(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  private def recorded(table: String): (CatalogStatistics, StructType) = {
    val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    (m.stats.getOrElse(fail(s"$table has no statistics")), m.schema)
  }

  /** Spark's own ANALYZE over `dir`, registered under a separate name
    * the way the reference loader would: SQL `CREATE TABLE ... LOCATION`
    * (schema inferred from the files), table-level then column stats. */
  private def analyzedBySpark(dir: String, columns: Seq[String])
      : (CatalogStatistics, StructType) = {
    val ref = "warehouse_stats_spec_ref"
    spark.sql(s"DROP TABLE IF EXISTS `$ref`")
    val loc = qualified(dir).replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"CREATE TABLE `$ref` USING parquet LOCATION '$loc'")
    spark.sql(s"ANALYZE TABLE `$ref` COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE `$ref` COMPUTE STATISTICS FOR COLUMNS " +
        columns.map(c => s"`$c`").mkString(", "))
    try recorded(ref) finally spark.sql(s"DROP TABLE `$ref`")
  }

  private def assertSameAsAnalyze(table: String, dir: String,
      columns: Seq[String]): CatalogStatistics = {
    val (stats, schema) = recorded(table)
    val (refStats, refSchema) = analyzedBySpark(dir, columns)
    assert(schema == refSchema, s"$table schema")
    assert(stats.sizeInBytes == refStats.sizeInBytes, s"$table sizeInBytes")
    assert(stats.rowCount == refStats.rowCount, s"$table rowCount")
    assert(stats.colStats.keySet == refStats.colStats.keySet, s"$table columns")
    refStats.colStats.foreach { case (c, ref) =>
      assert(stats.colStats(c) == ref, s"$table.$c")
    }
    assert(stats == refStats, table)
    stats
  }

  test("buildWarehouse records the statistics Spark's ANALYZE records") {
    val raw = s"$base/raw"
    fixture(raw)
    Pipeline.buildWarehouse(spark, raw, s"$base/wh")
    warehouseStats.foreach { case (t, cols) =>
      assertSameAsAnalyze(s"cnpj_$t", s"$base/wh/$t", cols)
    }
    // the cases the fixture plants, as recorded
    val est = recorded("cnpj_estabelecimentos")._1
    assert(est.rowCount.contains(BigInt(5)))
    assert(est.colStats("cnpj_basico").nullCount.contains(BigInt(2)))
    assert(est.colStats("cnpj_basico").distinctCount.contains(BigInt(2)))
    val motivo = recorded("cnpj_motivo_situacao_cadastral")._1
    assert(motivo.rowCount.contains(BigInt(0)))
    val empty = motivo.colStats("id_situacao_cadastral")
    assert(empty.distinctCount.contains(BigInt(0)))
    assert(empty.min.isEmpty && empty.max.isEmpty)
  }

  test("analyzeTable records the statistics Spark's ANALYZE records, strings included") {
    val raw = s"$base/raw"
    fixture(raw)
    val wh = s"$base/wh_plain"
    Seq(
      ("empresas", Schemas.empresasRaw, Warehouse.typedEmpresas _),
      ("estabelecimentos", Schemas.estabelecimentosRaw,
        Warehouse.typedEstabelecimentos _),
      ("motivo_situacao_cadastral", Schemas.motivoSituacaoRaw,
        Warehouse.typedMotivoSituacao _)
    ).foreach { case (t, schema, typed) =>
      Warehouse.writeTable(typed(Ingest.readRawCsv(spark, s"$raw/$t", schema)),
        s"$wh/$t", None)
    }
    def check(t: String, cols: Seq[String]) = {
      Warehouse.analyzeTable(spark, s"stats_spec_$t", s"$wh/$t", cols)
      assertSameAsAnalyze(s"stats_spec_$t", s"$wh/$t", cols)
    }
    // strings (one all-null), a decimal, keys with nulls
    val emp = check("empresas", Seq("cnpj_basico", "razao_social",
      "capital_social", "natureza_juridica", "ente_federativo_responsavel"))
    val razao = emp.colStats("razao_social")
    assert(razao.min.isEmpty && razao.max.isEmpty)
    assert(razao.maxLen.contains("MARCETEX SOLUCOES LTDA".length.toLong))
    assert(emp.colStats("ente_federativo_responsavel").avgLen.contains(20L))
    // dates and ints
    check("estabelecimentos", Seq("cnpj_basico", "data_situacao_cadastro_d",
      "id_municipio", "nome_fantasia"))
    // an empty table, string column included
    check("motivo_situacao_cadastral",
      Seq("id_situacao_cadastral", "descricao_situacao_cadastral"))
    // table-level statistics only
    val tableOnly = check("empresas", Nil)
    assert(tableOnly.colStats.isEmpty && tableOnly.rowCount.contains(BigInt(4)))
  }

  test("register stores the CatalogTable spark.catalog.createTable stores") {
    val raw = s"$base/raw"
    fixture(raw)
    val wh = s"$base/wh_catalog"
    Pipeline.buildWarehouse(spark, raw, wh)
    val cat = spark.sessionState.catalog
    val ref = "warehouse_stats_spec_created"
    warehouseStats.foreach { case (t, _) =>
      val ours = cat.getTableMetadata(TableIdentifier(s"cnpj_$t"))
      spark.sql(s"DROP TABLE IF EXISTS `$ref`")
      spark.catalog.createTable(ref, "parquet", ours.schema,
        Map("path" -> qualified(s"$wh/$t")))
      val theirs = try cat.getTableMetadata(TableIdentifier(ref))
        finally spark.sql(s"DROP TABLE `$ref`")
      assert(ours.schema == theirs.schema, t)
      assert(ours.provider == theirs.provider, t)
      assert(ours.location == theirs.location, t)
      assert(ours.tableType == theirs.tableType, t)
      assert(ours.storage == theirs.storage, t)
      // every other field but the name, the clock and the statistics
      assert(ours.copy(identifier = theirs.identifier,
        createTime = theirs.createTime,
        lastAccessTime = theirs.lastAccessTime, stats = theirs.stats) ==
        theirs, t)
    }
  }

  test("a rebuild into the same directory serves its own rows, also " +
      "through a frame the caller cached") {
    val raw = s"$base/raw_rebuild"
    fixture(raw)
    writeCsv(raw, "motivo_situacao_cadastral", Seq("2;ATIVA", "8;BAIXADA"))
    val wh = s"$base/wh_rebuild"
    Pipeline.buildWarehouse(spark, raw, wh)
    val cached = spark.table("cnpj_estabelecimentos").cache()
    try {
      assert(cached.count() == 5)
      assert(Pipeline.flagship(spark, wh).count() == 2)
      // the second build keeps one flagship row of the five
      val first = new String(Files.readAllBytes(
        Paths.get(s"$raw/estabelecimentos/data.csv")), latin1).split("\n").head
      writeCsv(raw, "estabelecimentos", Seq(first))
      Pipeline.buildWarehouse(spark, raw, wh)
      assert(spark.table("cnpj_estabelecimentos").count() == 1)
      assert(recorded("cnpj_estabelecimentos")._1.rowCount
        .contains(BigInt(1)))
      assert(Pipeline.flagship(spark, wh).count() == 1)
      // as DROP TABLE leaves it: the old table's cached data is gone
      assert(!spark.catalog.isCached("cnpj_estabelecimentos"))
      assertSameAsAnalyze("cnpj_estabelecimentos", s"$wh/estabelecimentos",
        warehouseStats.toMap.apply("estabelecimentos"))
    } finally cached.unpersist()
  }

  test("buildWarehouse runs no job beyond its parquet writes") {
    val raw = s"$base/raw"
    fixture(raw)
    val jobs = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += e.jobId)
    }
    def jobsOf(body: => Unit): Int = {
      ColumnBridge.drainListenerBus(spark)
      val before = jobs.synchronized(jobs.size)
      body
      ColumnBridge.drainListenerBus(spark)
      jobs.synchronized(jobs.size) - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plain = jobsOf {
        Seq(
          ("empresas", Schemas.empresasRaw, Warehouse.typedEmpresas _,
            Some("cnpj_basico")),
          ("estabelecimentos", Schemas.estabelecimentosRaw,
            Warehouse.typedEstabelecimentos _, Some("cnpj_basico")),
          ("cnae", Schemas.cnaeRaw, Warehouse.typedCnae _, None),
          ("municipios", Schemas.municipiosRaw, Warehouse.typedMunicipios _,
            None),
          ("motivo_situacao_cadastral", Schemas.motivoSituacaoRaw,
            Warehouse.typedMotivoSituacao _, None)
        ).foreach { case (t, schema, typed, key) =>
          Warehouse.writeTable(
            typed(Ingest.readRawCsv(spark, s"$raw/$t", schema)),
            s"$base/wh_jobs_plain/$t", key)
        }
      }
      val built = jobsOf(Pipeline.buildWarehouse(spark, raw, s"$base/wh_jobs"))
      assert(plain > 0)
      assert(built == plain,
        s"buildWarehouse ran $built jobs; the same writes alone run $plain")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warehouse directory whose name holds a quote registers") {
    val raw = s"$base/raw_quote"
    fixture(raw)
    writeCsv(raw, "motivo_situacao_cadastral", Seq("2;ATIVA", "8;BAIXADA"))
    val wh = s"$base/it's here/wh"
    Pipeline.buildWarehouse(spark, raw, wh)
    warehouseStats.foreach { case (t, cols) =>
      assertSameAsAnalyze(s"cnpj_$t", s"$wh/$t", cols)
    }
    // reads resolve to the registrations at this directory
    val emp = Warehouse.readTableWithStats(spark, "cnpj_empresas",
      s"$wh/empresas")
    val table = emp.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
    }.flatten
    assert(table.contains("cnpj_empresas"))
    assert(Pipeline.flagship(spark, wh).count() == 2)
  }
}
