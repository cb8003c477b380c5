package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

/** A miniature raw input in the Receita Federal layout: headerless
  * `;`-separated latin-1 CSVs, one subdirectory per table. Two
  * estabelecimentos pass all three flagship IN filters (with distinct
  * `cnpj_basico`, so the export order has no ties) and one fails them. */
object CnpjFixture {

  private val latin1 = Charset.forName("ISO-8859-1")

  def write(rawDir: String): Unit = {
    def writeCsv(sub: String, rows: Seq[String]): Unit = {
      val dir = Paths.get(s"$rawDir/$sub")
      Files.createDirectories(dir)
      Files.write(dir.resolve("data.csv"),
        rows.mkString("\n").getBytes(latin1))
    }
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
}
