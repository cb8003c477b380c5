package graft.cnpj

import java.io.File

/** CLI entry point for the CNPJ vertical — the Spark equivalent of the
  * reference's main() (ETLCNPJFinalEmpresaEstabelecimentos.py:237-265).
  *
  * Usage: runMain graft.cnpj.CnpjMain <rawDir> <warehouseDir> <exportDir>
  *        <exportFile>
  *
  * `rawDir` holds one subdirectory per table of headerless `;`-separated
  * latin-1 CSVs (empresas/ estabelecimentos/ cnae/ municipios/
  * motivo_situacao_cadastral/) — the Receita Federal layout after
  * download+unzip (Ingest.download / Ingest.extractZip).
  */
object CnpjMain {
  def main(args: Array[String]): Unit = {
    val Array(rawDir, warehouseDir, exportDir, exportFile) = args
    val spark = graft.GraftSession.local()
    val result = Pipeline.run(spark, rawDir, warehouseDir, exportDir,
      new File(exportFile))
    val n = result.count()
    println(s"[cnpj] flagship rows: $n -> $exportFile")
    result.show(5, truncate = false)
    spark.stop()
  }
}
