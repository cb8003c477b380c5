package graft.cnpj

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship QUERY_FINAL
  * (ETLCNPJFinalEmpresaEstabelecimentos.py:191-234), expressed both as
  * DataFrame ops and as Spark SQL text: estabelecimentos ⋈ cnae ⋈ empresas
  * ⋈ municipios ⋈ motivo_situacao_cadastral, filtered by three IN lists
  * (3 municípios :224, 3 situações :225, 53-literal/50-distinct CNAEs
  * :226-233), projecting the same 20 columns in the same order (:192-212).
  *
  * Scale posture: the three dims are broadcast by hint. empresas is
  * broadcast by size while it fits Spark's broadcast threshold (it does
  * at every size the benchmark and the tests run, so all four joins
  * broadcast and the query shuffles nothing); at Receita scale
  * estabelecimentos⋈empresas becomes the one big⋈big join (sort-merge +
  * AQE). The IN filters sit directly on the estabelecimentos scan →
  * parquet pushdown prunes row groups before the joins, and the
  * warehouse sorts that table on id_cnae so its row groups' min/max
  * ranges are narrow ([[Warehouse.writeTable]]). This plan beats the
  * reference's indexed-nested-loop SQLite plan by construction at any
  * scale where the fact tables exceed memory.
  */
object Flagship {

  /** Filter literals, verbatim from the reference (:224-233).
    * 4321500, 4330401 and 4330404 appear twice in the CNAE list — set
    * semantics; Catalyst's OptimizeIn dedupes exactly as SQLite did. */
  val municipios: Seq[Int] = Seq(6313, 7157, 6669)
  val situacoes: Seq[Int] = Seq(2, 3, 8)
  val cnaes: Seq[Long] = Seq(
    4321500L, 4330404L, 4330401L, 1622601L, 1622602L, 1622699L, 2330301L,
    2330302L, 2330305L, 2599301L, 3313901L, 3314707L, 3329501L, 3511500L,
    4120400L, 4213800L, 4221902L, 4221903L, 4221904L, 4221905L, 4222701L,
    4292801L, 4299501L, 4299599L, 4311801L, 4311802L, 4312600L, 4313400L,
    4319300L, 4321500L, 4322301L, 4322302L, 4322303L, 4329105L, 4329199L,
    4330401L, 4330402L, 4330403L, 4330404L, 4330405L, 4330499L, 4391600L,
    4399101L, 4399102L, 4399103L, 4399104L, 4399105L, 4399199L, 7111100L,
    7112000L, 7119701L, 7119702L, 7410202L)

  /** The 20 projected output columns, in the reference's order (:192-212,
    * verified against the golden header of data/resultado_final.csv). */
  val outputCols: Seq[String] = Seq(
    "cnpj_basico", "nome_fantasia", "razao_social", "descricao_cnae",
    "bairro", "nome_municipio", "tipo_do_logradouro", "logradouro",
    "numero", "cep", "complemento", "ddd1", "telefone1", "ddd2",
    "telefone2", "correio_eletronico", "data_de_inicio_atividade",
    "data_situacao_cadastro", "capital_social",
    "descricao_situacao_cadastral")

  /** DataFrame form over typed tables. */
  def query(estab: DataFrame, cnae: DataFrame, empresas: DataFrame,
      municipiosDf: DataFrame, motivo: DataFrame): DataFrame = {
    estab.as("e")
      .join(broadcast(cnae.as("c")), col("e.id_cnae") === col("c.id_cnae"))
      .join(empresas.as("emp"),
        col("emp.cnpj_basico") === col("e.cnpj_basico"))
      .join(broadcast(municipiosDf.as("m")),
        col("m.id_municipio") === col("e.id_municipio"))
      .join(broadcast(motivo.as("mot")),
        col("mot.id_situacao_cadastral") === col("e.id_situacao_cadastral"))
      .where(col("e.id_municipio").isin(municipios: _*) &&
        col("e.id_situacao_cadastral").isin(situacoes: _*) &&
        col("e.id_cnae").isin(cnaes: _*))
      .select(
        col("e.cnpj_basico"), col("e.nome_fantasia"),
        col("emp.razao_social"), col("c.descricao_cnae"), col("e.bairro"),
        col("m.nome_municipio"), col("e.tipo_do_logradouro"),
        col("e.logradouro"), col("e.numero"), col("e.cep"),
        col("e.complemento"), col("e.ddd1"), col("e.telefone1"),
        col("e.ddd2"), col("e.telefone2"), col("e.correio_eletronico"),
        col("e.data_de_inicio_atividade"), col("e.data_situacao_cadastro"),
        col("emp.capital_social"),
        col("mot.descricao_situacao_cadastral"))
  }

  /** SQL-text form (run via spark.sql over registered temp views) — kept
    * deliberately close to the reference's QUERY_FINAL, including the
    * case-insensitive column reference (`e.ID_MUNICIPIO`, :224), which
    * Spark's default spark.sql.caseSensitive=false resolves exactly as
    * SQLite did. */
  def sqlText: String =
    s"""SELECT
       |  e.cnpj_basico, e.nome_fantasia, emp.razao_social,
       |  c.descricao_cnae, e.bairro, m.nome_municipio,
       |  e.tipo_do_logradouro, e.logradouro, e.numero, e.cep,
       |  e.complemento, e.ddd1, e.telefone1, e.ddd2, e.telefone2,
       |  e.correio_eletronico, e.data_de_inicio_atividade,
       |  e.data_situacao_cadastro, emp.capital_social,
       |  mot.descricao_situacao_cadastral
       |FROM estabelecimentos e
       |JOIN cnae c ON e.id_cnae = c.id_cnae
       |JOIN empresas emp ON emp.cnpj_basico = e.cnpj_basico
       |JOIN municipios m ON m.id_municipio = e.id_municipio
       |JOIN motivo_situacao_cadastral mot
       |  ON mot.id_situacao_cadastral = e.id_situacao_cadastral
       |WHERE e.ID_MUNICIPIO IN (${municipios.mkString(", ")})
       |  AND e.id_situacao_cadastral IN (${situacoes.mkString(", ")})
       |  AND e.id_cnae IN (${cnaes.mkString(", ")})""".stripMargin

  /** Convenience: register typed views and run the SQL form. */
  def runSql(spark: SparkSession, estab: DataFrame, cnae: DataFrame,
      empresas: DataFrame, municipiosDf: DataFrame, motivo: DataFrame)
      : DataFrame = {
    estab.createOrReplaceTempView("estabelecimentos")
    cnae.createOrReplaceTempView("cnae")
    empresas.createOrReplaceTempView("empresas")
    municipiosDf.createOrReplaceTempView("municipios")
    motivo.createOrReplaceTempView("motivo_situacao_cadastral")
    spark.sql(sqlText)
  }
}
