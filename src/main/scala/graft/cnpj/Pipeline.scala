package graft.cnpj

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.graft.ColumnBridge

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
  * commit). Every arrow after the fetch but the single-file export is
  * distributed. The table writes schedule no shuffle (one job each), and
  * each registers its table with one catalog call; the flagship runs as
  * one collect plus its broadcast builds, and the export is written on
  * the driver from the collected rows ([[inExportOrder]]), with no job
  * of its own. Each phase's jobs carry a `cnpj <phase>` description
  * ([[graft.Phase]]).
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
    * [[Warehouse.writeTableWithStats]]): loading reads nothing back, and
    * registering a table is one catalog call, not a DDL statement.
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
      graft.Phase("cnpj", s"load $t") {
        Warehouse.writeTableWithStats(spark, s"cnpj_$t",
          typed(raw(t, schema)), s"$warehouseDir/$t", key, statsColumns)
      }
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
        graft.Phase("cnpj", s"load $sub") {
          Warehouse.writeTable(typed(raw(sub, schema)),
            s"$warehouseDir/$sub", None)
        }
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
    * (the reference's resultado_final.csv shape). Returns the exported
    * rows as a driver-local frame (see [[inExportOrder]]): counting,
    * showing or unpersisting it re-runs no join. */
  def run(spark: SparkSession, rawDir: String, warehouseDir: String,
      exportDir: String, exportFile: File): DataFrame = {
    buildWarehouse(spark, rawDir, warehouseDir)
    export(inExportOrder(flagship(spark, warehouseDir)), exportDir,
      exportFile)
  }

  /** Full run rendered pandas-compat (the golden resultado_final.csv
    * artifacts — float-formatted ddd/telefone, comma-decimal
    * capital_social; see [[PandasCompat]]). The warehouse itself stays
    * canonically typed; compat is a projection over the same collected
    * rows [[run]] exports, so the flagship runs once and the rendering
    * schedules no job: both runs take the same jobs. */
  def runCompat(spark: SparkSession, rawDir: String, warehouseDir: String,
      exportDir: String, exportFile: File): DataFrame = {
    buildWarehouse(spark, rawDir, warehouseDir)
    export(PandasCompat(inExportOrder(flagship(spark, warehouseDir))),
      exportDir, exportFile)
  }

  /** The export order, (cnpj_basico, nome_fantasia), ascending with nulls
    * first — what `sortWithinPartitions` on the two columns gives. */
  private val exportOrder = Seq("cnpj_basico", "nome_fantasia")

  /** Collect `result` once, at full parallelism, and sort it on the
    * driver in export order; return the rows as a driver-local frame.
    * The flagship's filters leave a small fraction of the fact table,
    * and a single-file export passes every row through the driver
    * anyway, so the query runs as one job (plus its broadcast builds)
    * with no sort or write stage after it. The order is Catalyst's own
    * row ordering over the collected rows, so strings compare by UTF-8
    * bytes as Spark's sort compares them, not by Java's UTF-16 `String`
    * order. Bounded by `spark.driver.maxResultSize`: a larger result
    * fails the collect. */
  private[graft] def inExportOrder(result: DataFrame): DataFrame = {
    val schema = result.schema
    val rows = graft.Phase("cnpj", "flagship") {
      ColumnBridge.collectInternal(result)
    }
    val ordering = new InterpretedOrdering(exportOrder.map { c =>
      val i = schema.fieldIndex(c)
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true),
        Ascending)
    })
    ColumnBridge.localFrame(result.sparkSession, schema,
      rows.sorted(ordering))
  }

  /** Write `frame`, a driver-local frame, as the export and return it;
    * its collect runs no job. */
  private[graft] def export(frame: DataFrame, exportDir: String,
      exportFile: File): DataFrame = {
    graft.Phase("cnpj", "export") {
      Export.writeCsvUtf8SigSingle(frame, exportDir, exportFile)
    }
    frame
  }
}
