package graft.cnpj

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end CNPJ pipeline — the Spark re-expression of the reference's
  * main() (ETLCNPJFinalEmpresaEstabelecimentos.py:237-265):
  *
  *   download → unzip → [re-header] → load → index → query → export
  *
  * becomes
  *
  *   (driver fetch utils) → schema-on-read CSV → typed parquet warehouse
  *   (the fact table sorted within each file on id_cnae, so row-group
  *   min/max statistics stand in for the index) → flagship star join →
  *   BOM'd CSV export.
  *
  * The re-header stage disappears entirely (schema-on-read), chunking
  * disappears (partitions), PRAGMA/commit dance disappears (atomic job
  * commit). Every arrow after the fetch is distributed. The table
  * writes schedule no shuffle (one job each), and neither does the
  * export ([[writeExport]]).
  */
object Pipeline {

  /** Ingest raw CSVs → typed parquet warehouse. `rawDir` holds one
    * subdirectory per table of `;`-separated headerless latin-1 CSVs
    * (the Receita Federal layout).
    *
    * The five queried tables are also registered as catalog tables
    * `cnpj_<table>` carrying planner statistics over their joined and
    * filtered columns — the reference's post-load ANALYZE step
    * (readme.md:135) — so the flagship (and any ad-hoc query over the
    * catalog names) plans with row counts and filter selectivity instead
    * of raw file bytes. The statistics ride each table's write (see
    * [[Warehouse.writeTableWithStats]]): loading reads nothing back.
    * flagship() reads through these registrations when they point at
    * this warehouse. */
  def buildWarehouse(spark: SparkSession, rawDir: String, warehouseDir: String)
      : Unit = {
    def raw(sub: String, schema: org.apache.spark.sql.types.StructType) =
      Ingest.readRawCsv(spark, s"$rawDir/$sub", schema)

    Seq(
      ("empresas", Schemas.empresasRaw, Warehouse.typedEmpresas _,
        None, Seq("cnpj_basico", "natureza_juridica")),
      ("estabelecimentos", Schemas.estabelecimentosRaw,
        Warehouse.typedEstabelecimentos _, Some("id_cnae"),
        Seq("cnpj_basico", "id_cnae", "id_municipio", "id_situacao_cadastral")),
      ("cnae", Schemas.cnaeRaw, Warehouse.typedCnae _, None, Seq("id_cnae")),
      ("municipios", Schemas.municipiosRaw, Warehouse.typedMunicipios _, None,
        Seq("id_municipio")),
      ("motivo_situacao_cadastral", Schemas.motivoSituacaoRaw,
        Warehouse.typedMotivoSituacao _, None, Seq("id_situacao_cadastral"))
    ).foreach { case (t, schema, typed, key, statsColumns) =>
      Warehouse.writeTableWithStats(spark, s"cnpj_$t", typed(raw(t, schema)),
        s"$warehouseDir/$t", key, statsColumns)
    }

    // FK-only catalogs (referenced by the DDL's FOREIGN KEYs, never queried
    // — ETLCNPJFinalEmpresaEstabelecimentos.py:122-152). Optional: loaded
    // when the raw directory ships them, skipped otherwise, matching the
    // reference running its load with FKs off and these tables absent.
    Seq(
      ("natureza_juridica", Schemas.naturezaJuridicaRaw,
        Warehouse.typedNaturezaJuridica _),
      ("qualificacao_responsavel", Schemas.qualificacaoResponsavelRaw,
        Warehouse.typedQualificacaoResponsavel _),
      ("pais", Schemas.paisRaw, Warehouse.typedPais _)
    ).foreach { case (sub, schema, typed) =>
      if (new File(s"$rawDir/$sub").isDirectory)
        Warehouse.writeTable(typed(raw(sub, schema)),
          s"$warehouseDir/$sub", None)
    }
  }

  /** Run the flagship query over the warehouse — through the catalog
    * registrations when buildWarehouse made them for THIS warehouse dir
    * (CBO then sees row counts + column stats), plain path reads
    * otherwise. */
  def flagship(spark: SparkSession, warehouseDir: String): DataFrame = {
    def t(n: String) =
      Warehouse.readTableWithStats(spark, s"cnpj_$n", s"$warehouseDir/$n")
    Flagship.query(t("estabelecimentos"), t("cnae"), t("empresas"),
      t("municipios"), t("motivo_situacao_cadastral"))
  }

  /** Full run: warehouse → flagship → single-file BOM'd CSV export
    * (the reference's resultado_final.csv shape). */
  def run(spark: SparkSession, rawDir: String, warehouseDir: String,
      exportDir: String, exportFile: File): DataFrame = {
    buildWarehouse(spark, rawDir, warehouseDir)
    // cached: the export writes it and callers typically count/show it —
    // without the cache each action re-runs the 5-way join
    val result = flagship(spark, warehouseDir).cache()
    writeExport(result, exportDir, exportFile)
    result
  }

  /** Full run rendered pandas-compat (the golden resultado_final.csv
    * artifacts — float-formatted ddd/telefone, comma-decimal
    * capital_social; see [[PandasCompat]]). The warehouse itself stays
    * canonically typed; compat is applied only at export. */
  def runCompat(spark: SparkSession, rawDir: String, warehouseDir: String,
      exportDir: String, exportFile: File): DataFrame = {
    buildWarehouse(spark, rawDir, warehouseDir)
    val result = PandasCompat(flagship(spark, warehouseDir)).cache()
    writeExport(result, exportDir, exportFile)
    result
  }

  /** Write `result` in export order, (cnpj_basico, nome_fantasia), from
    * one task: the flagship's filters leave a small fraction of the fact
    * table, so one task sorts it with no range-sampling job and no
    * shuffle, and the export writes one shard. Under AQE the cached
    * result materializes as its own query stage at full parallelism;
    * only the sort and the write run in the one task. */
  private def writeExport(result: DataFrame, exportDir: String,
      exportFile: File): Unit =
    Export.writeCsvUtf8SigSingle(
      result.coalesce(1).sortWithinPartitions("cnpj_basico", "nome_fantasia"),
      exportDir, exportFile)
}
