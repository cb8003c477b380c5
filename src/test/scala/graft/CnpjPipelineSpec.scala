package graft

import java.io.File
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cnpj._

/** Golden E2E for the CNPJ vertical (SURVEY.md §5): miniature fixture in
  * the Receita Federal layout → ingest → typed warehouse → flagship star
  * join → BOM'd single-file CSV export. */
class CnpjPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base = "target/test_cnpj"
  private val latin1 = Charset.forName("ISO-8859-1")

  private def writeCsv(sub: String, rows: Seq[String]): Unit = {
    val dir = Paths.get(s"$base/raw/$sub")
    Files.createDirectories(dir)
    Files.write(dir.resolve("data.csv"),
      rows.mkString("\n").getBytes(latin1))
  }

  private def fixture(): Unit = {
    // FIXTURES.md A.1 shape; 9612480 has no matching estabelecimento row
    writeCsv("empresas", Seq(
      "9612479;MARCETEX SOLUCOES LTDA;2062;49;195400,00;03;",
      "9612480;ACUCAR & AÇO LTDA;2062;49;1000,50;01;",
      "9612481;FORA DO FILTRO SA;2062;49;99,99;05;"))
    // 30 cols; rows 1-2 pass all three IN filters, row 3 fails them
    writeCsv("estabelecimentos", Seq(
      "9612479;0001;83;1;MARCETEX DIVISORIAS;2;20080409;0;;;20080409;" +
        "1622601;;ESTRADA;ERNESTINA VIEIRA;345;GALPAO3 - SUPERIOR;" +
        "JARDIM PLANALTO;06382260;SP;6313;11;41898282;;;;;" +
        "FISCAL@MARCETEX.COM.BR;;",
      // ddd1/telefone1 EMPTY here: with row 1 carrying "11"/"41898282",
      // the columns are all-int-with-nulls → pandas float64 → the golden
      // "11.0" artifact (SURVEY §1.3); numero "001A" keeps them honest on
      // the object-dtype path.
      "9612481;0001;99;1;AÇAÍ DO PORTO;3;20100101;0;;;20100101;" +
        "4321500;;RUA;DAS FLORES;001A;;CENTRO;06000000;SP;7157;;" +
        ";;;;;CONTATO@ACAI.BR;;",
      "9612479;0002;64;2;FILIAL FORA;2;20080409;0;;;20080409;" +
        "9999999;;RUA;OUTRA;10;;BAIRRO;06382261;SP;9999;11;1234;;;;;;;"))
    writeCsv("cnae", Seq(
      "1622601;Fabricação de esquadrias de madeira",
      "4321500;Instalação e manutenção elétrica",
      "9999999;Fora do filtro"))
    // CARAPICUIBA carries the golden file's fixed-width padding
    // (resultado_final.csv row 2 — never trimmed anywhere in the pipeline)
    writeCsv("municipios", Seq(
      s"6313;${"CARAPICUIBA".padTo(45, ' ')}",
      "7157;TABOÃO DA SERRA", "9999;OUTRO"))
    // FK-only catalogs (optional dirs; loaded for completeness)
    writeCsv("natureza_juridica", Seq("2062;Sociedade Empresária Limitada"))
    writeCsv("qualificacao_responsavel", Seq("49;Sócio-Administrador"))
    writeCsv("pais", Seq("105;BRASIL"))
    writeCsv("motivo_situacao_cadastral", Seq(
      "2;ATIVA", "3;SUSPENSA", "8;BAIXADA"))
  }

  test("ingest reads headerless latin-1 ;-CSV with applied schema") {
    fixture()
    val raw = Ingest.readRawCsv(spark, s"$base/raw/empresas",
      Schemas.empresasRaw)
    assert(raw.columns.toSeq == Schemas.empresasCols)
    val rows = raw.collect().map(_.getString(1)).sorted
    assert(rows.contains("ACUCAR & AÇO LTDA")) // latin-1 Ç decoded
  }

  test("typed warehouse casts comma-decimals, dates and keys") {
    fixture()
    Pipeline.buildWarehouse(spark, s"$base/raw", s"$base/wh")
    val emp = Warehouse.readTable(spark, s"$base/wh/empresas")
    val m = emp.where(emp("cnpj_basico") === 9612479L).collect().head
    assert(m.getAs[java.math.BigDecimal]("capital_social").toString
      == "195400.00")
    val est = Warehouse.readTable(spark, s"$base/wh/estabelecimentos")
    val e = est.where(est("cnpj_ordem") === "0001" &&
      est("cnpj_basico") === 9612479L).collect().head
    assert(e.getAs[java.sql.Date]("data_de_inicio_atividade_d").toString
      == "2008-04-09")
    assert(e.getAs[String]("numero") == "345") // affinity-mixed stays string
  }

  test("flagship query filters and joins like QUERY_FINAL") {
    fixture()
    Pipeline.buildWarehouse(spark, s"$base/raw", s"$base/wh")
    val res = Pipeline.flagship(spark, s"$base/wh")
    assert(res.columns.toSeq == Flagship.outputCols)
    val rows = res.collect()
    assert(rows.length == 2) // third estabelecimento fails every IN filter
    val byName = rows.map(r => r.getAs[String]("nome_fantasia") -> r).toMap
    assert(byName("MARCETEX DIVISORIAS")
      .getAs[String]("nome_municipio") == "CARAPICUIBA".padTo(45, ' '))
    assert(byName("AÇAÍ DO PORTO")
      .getAs[String]("descricao_situacao_cadastral") == "SUSPENSA")
    // SQL-text form returns the identical result set
    def t(n: String) = Warehouse.readTable(spark, s"$base/wh/$n")
    val viaSql = Flagship.runSql(spark, t("estabelecimentos"), t("cnae"),
      t("empresas"), t("municipios"), t("motivo_situacao_cadastral"))
    assert(viaSql.collect().map(_.toString).sorted
      .sameElements(rows.map(_.toString).sorted))
  }

  test("export writes single utf-8-sig CSV with BOM and one header") {
    fixture()
    val out = new File(s"$base/resultado_final.csv")
    Pipeline.run(spark, s"$base/raw", s"$base/wh", s"$base/export", out)
    val bytes = Files.readAllBytes(out.toPath)
    assert(bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
      bytes(2) == 0xBF.toByte)
    val text = new String(bytes, 3, bytes.length - 3, "UTF-8")
    val lines = text.split("\n").filter(_.nonEmpty)
    assert(lines.head.startsWith("cnpj_basico;nome_fantasia;razao_social"))
    assert(lines.count(_.startsWith("cnpj_basico")) == 1)
    assert(lines.length == 3) // header + 2 data rows
    assert(text.contains("AÇAÍ DO PORTO")) // UTF-8 re-encoded from latin-1
  }

  test("export merge streams shards into the bytes a whole-shard merge writes") {
    // the merge as it was: each shard read whole, the header dropped by
    // index — the byte oracle for the streamed merge
    def wholeShardMerge(parts: Seq[File]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
      parts.zipWithIndex.foreach { case (p, i) =>
        val bytes = Files.readAllBytes(p.toPath)
        if (i == 0) out.write(bytes)
        else {
          val nl = bytes.indexOf('\n'.toByte)
          if (nl >= 0 && nl + 1 < bytes.length)
            out.write(bytes, nl + 1, bytes.length - nl - 1)
        }
      }
      out.toByteArray
    }
    // hand-made shards: a header-only shard, one without a trailing
    // newline, one with no newline at all, multi-byte UTF-8 cells
    val dir = new File(s"$base/merge_shards"); dir.mkdirs()
    val header = "cnpj_basico;nome_fantasia\n"
    val shards = Seq(
      header + "1;AÇAÍ\n2;B\n",
      header,
      header + "3;C",
      "cnpj_basico;nome_fantasia",
      header + "4;TABOÃO\n5;\n").zipWithIndex.map { case (text, i) =>
      val f = new File(dir, f"part-$i%05d.csv")
      Files.write(f.toPath, text.getBytes("UTF-8"))
      f
    }
    val merged = new File(s"$base/merged.csv")
    Export.mergeShards(shards, merged)
    assert(Files.readAllBytes(merged.toPath).sameElements(wholeShardMerge(shards)))
    // and Spark's own shards, through the export verb
    val df = spark.range(0, 500).selectExpr("id AS cnpj_basico",
      "concat('AÇAÍ ', id) AS nome_fantasia").repartition(3)
    val out = new File(s"$base/merged_spark.csv")
    Export.writeCsvUtf8SigSingle(df, s"$base/export_shards", out)
    val sparkShards = new File(s"$base/export_shards").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName).toSeq
    assert(sparkShards.size > 1)
    assert(Files.readAllBytes(out.toPath).sameElements(wholeShardMerge(sparkShards)))
  }

  test("pandas-compat golden export reproduces the reference artifacts byte-for-byte") {
    fixture()
    val out = new File(s"$base/resultado_compat.csv")
    Pipeline.runCompat(spark, s"$base/raw", s"$base/wh_compat",
      s"$base/export_compat", out)
    val bytes = Files.readAllBytes(out.toPath)
    assert(bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
      bytes(2) == 0xBF.toByte)
    val pad = "CARAPICUIBA".padTo(45, ' ')
    // The golden artifacts under test (SURVEY §1.3 / resultado_final.csv):
    // float-rendered nullable ints ("11.0", "41898282.0"), object-dtype
    // mixed numero ("345" bare int next to "001A" text), comma-decimal
    // capital_social kept as TEXT, fixed-width nome_municipio padding.
    val expected = Seq(
      "cnpj_basico;nome_fantasia;razao_social;descricao_cnae;bairro;" +
        "nome_municipio;tipo_do_logradouro;logradouro;numero;cep;" +
        "complemento;ddd1;telefone1;ddd2;telefone2;correio_eletronico;" +
        "data_de_inicio_atividade;data_situacao_cadastro;capital_social;" +
        "descricao_situacao_cadastral",
      "9612479;MARCETEX DIVISORIAS;MARCETEX SOLUCOES LTDA;" +
        s"Fabricação de esquadrias de madeira;JARDIM PLANALTO;$pad;" +
        "ESTRADA;ERNESTINA VIEIRA;345;06382260;GALPAO3 - SUPERIOR;" +
        "11.0;41898282.0;;;FISCAL@MARCETEX.COM.BR;20080409;20080409;" +
        "195400,00;ATIVA",
      "9612481;AÇAÍ DO PORTO;FORA DO FILTRO SA;" +
        "Instalação e manutenção elétrica;CENTRO;TABOÃO DA SERRA;RUA;" +
        "DAS FLORES;001A;06000000;;;;;;CONTATO@ACAI.BR;20100101;20100101;" +
        "99,99;SUSPENSA"
    ).mkString("", "\n", "\n")
    val text = new String(bytes, 3, bytes.length - 3, "UTF-8")
    assert(text == expected)
  }

  test("FK-only catalogs load with typed keys") {
    fixture()
    Pipeline.buildWarehouse(spark, s"$base/raw", s"$base/wh_fk")
    val nj = Warehouse.readTable(spark, s"$base/wh_fk/natureza_juridica")
      .collect().head
    assert(nj.getAs[Int]("natureza_juridica") == 2062)
    assert(nj.getAs[String]("descricao_natureza_juridica")
      .startsWith("Sociedade"))
    val qr = Warehouse.readTable(spark,
      s"$base/wh_fk/qualificacao_responsavel").collect().head
    assert(qr.getAs[Int]("qualificacao_responsavel") == 49)
    val pais = Warehouse.readTable(spark, s"$base/wh_fk/pais").collect().head
    assert(pais.getAs[Int]("pais") == 105)
    assert(pais.getAs[String]("descricao_pais") == "BRASIL")
  }

  test("quarantine ingest separates malformed rows without failing the job") {
    val dir = Paths.get(s"$base/raw_dirty/empresas")
    Files.createDirectories(dir)
    Files.write(dir.resolve("data.csv"), Seq(
      "9612479;MARCETEX SOLUCOES LTDA;2062;49;195400,00;03;", // clean
      "1;2;3;4;5;6;7;EXTRA;FIELDS;BEYOND;SCHEMA;WIDTH", // too many columns
      "9612480;ACUCAR LTDA;2062;49;1000,50;01;" // clean
    ).mkString("\n").getBytes(latin1))
    val (clean, quarantined) = Ingest.readRawCsvQuarantine(spark,
      s"$base/raw_dirty/empresas", Schemas.empresasRaw)
    assert(clean.columns.toSeq == Schemas.empresasCols)
    assert(clean.count() == 2)
    val bad = quarantined.collect().map(_.getString(0))
    assert(bad.length == 1)
    assert(bad.head.contains("EXTRA"))
  }

  test("zip extraction round-trips files and rejects path escapes") {
    val dir = new File(s"$base/zip"); dir.mkdirs()
    val zipFile = new File(dir, "shard.zip")
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipFile))
    zos.putNextEntry(new java.util.zip.ZipEntry("K3241.EMPRECSV"))
    zos.write("1;A;1;1;1,00;01;\n".getBytes(latin1))
    zos.closeEntry(); zos.close()
    val extracted = Ingest.extractZip(zipFile, new File(dir, "out"))
    assert(extracted.map(_.getName) == Seq("K3241.EMPRECSV"))
    assert(Files.readAllBytes(extracted.head.toPath).nonEmpty)
  }

  test("download is idempotent when destination exists") {
    val f = new File(s"$base/dl.bin"); f.getParentFile.mkdirs()
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    assert(!Ingest.download("http://invalid.invalid/x", f)) // skipped, no IO
  }
}
