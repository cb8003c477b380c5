package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Row count plus an order-independent hash: the sum over rows of the
  * xxhash64 of every cell rendered as a string (columns in name order),
  * so a dropped row or one changed cell moves it. */
final case class Digest(rows: Long, hash: BigDecimal) {
  override def toString: String = s"rows=$rows hash=$hash"
}

/** The benchmark's output checks. None of them calls into `graft.cnpj`:
  * expectations come from the renderer ([[Rendered.expectedFlagship]]) or
  * are replayed with plain DataFrame operations. Each check returns the
  * problems it found; empty means the output passed. */
object Checks {

  /** The reference's 20 output columns, in its order. */
  val flagshipCols: Seq[String] = Seq(
    "cnpj_basico", "nome_fantasia", "razao_social", "descricao_cnae",
    "bairro", "nome_municipio", "tipo_do_logradouro", "logradouro",
    "numero", "cep", "complemento", "ddd1", "telefone1", "ddd2",
    "telefone2", "correio_eletronico", "data_de_inicio_atividade",
    "data_situacao_cadastro", "capital_social",
    "descricao_situacao_cadastral")

  private val Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  /** Aggregates that compute a [[Digest]] of `df`; usable with `observe`,
    * so an op's own execution yields its digest with no extra job. */
  def digestAggs(df: DataFrame): (Column, Column) = {
    val cells = df.columns.sorted.toSeq.map(c =>
      coalesce(col(c).cast(StringType), lit("\u0000")))
    (count(lit(1)).as("rows"),
      sum(xxhash64(cells: _*).cast("decimal(20,0)")).as("hash"))
  }

  def digestOf(m: Map[String, Any]): Digest = Digest(
    m("rows").asInstanceOf[Long],
    Option(m("hash")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
      .getOrElse(BigDecimal(0)))

  def digest(df: DataFrame): Digest = {
    val (c, h) = digestAggs(df)
    val r = df.agg(c, h).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_))
      .getOrElse(BigDecimal(0)))
  }

  def digestProblems(what: String, got: Digest, want: Digest): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  /** One export line, split on `;` with quotes stripped (no rendered
    * field contains `;` or a quote, so the split is exact). */
  def parseLine(l: String): Seq[String] =
    l.split(";", -1).toSeq.map(f =>
      if (f.length >= 2 && f.startsWith("\"") && f.endsWith("\""))
        f.substring(1, f.length - 1)
      else f)

  /** The single-file export: BOM first, exactly one header naming the 20
    * columns in order, and a row multiset equal to `expected` (cells as
    * strings, null written as empty). */
  def exportProblems(bytes: Array[Byte], expected: Seq[Seq[String]])
      : Seq[String] = {
    if (!bytes.startsWith(Bom)) return Seq("export does not start with a BOM")
    val text = new String(bytes, Bom.length, bytes.length - Bom.length, UTF_8)
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
      .map(_.stripSuffix("\r"))
    if (lines.isEmpty) return Seq("export is empty")
    val header = flagshipCols.mkString(";")
    val problems = Seq.newBuilder[String]
    if (lines.head != header)
      problems += s"export header is '${lines.head.take(200)}'"
    val headers = lines.count(_ == header)
    if (headers != 1) problems += s"export has $headers header lines"
    val rows = lines.tail.filter(_ != header).map(parseLine)
    if (rows.exists(_.size != flagshipCols.size))
      problems += "export has rows with the wrong number of fields"
    problems ++= multisetProblems("export rows", rows, expected)
    problems.result()
  }

  def multisetProblems(what: String, got: Seq[Seq[String]],
      want: Seq[Seq[String]]): Seq[String] = {
    def counts(xs: Seq[Seq[String]]) =
      xs.groupBy(identity).view.mapValues(_.size).toMap
    val (g, w) = (counts(got), counts(want))
    val missing = w.map { case (k, n) => math.max(0, n - g.getOrElse(k, 0)) }.sum
    val extra = g.map { case (k, n) => math.max(0, n - w.getOrElse(k, 0)) }.sum
    if (missing == 0 && extra == 0) Nil
    else Seq(s"$what: ${got.size} rows, ${want.size} expected, $missing " +
      s"missing, $extra unexpected" + w.keys.find(k => !g.contains(k))
        .map(k => s"; first missing: ${k.mkString(";").take(160)}").getOrElse(""))
  }

  /** Two frames hold the same rows: digests first (two jobs), the exact
    * difference only when they disagree. Returns the problems and the
    * digest of `got`. */
  def frameProblems(what: String, got: DataFrame, want: DataFrame)
      : (Seq[String], Digest) = {
    val cols = want.columns.sorted.toSeq
    val g = got.select(got.columns.sorted.toSeq.map(col): _*)
    val dg = digest(g)
    if (got.columns.sorted.toSeq != cols)
      return (Seq(s"$what: columns ${got.columns.sorted.mkString(",")}"), dg)
    val w = want.select(cols.map(col): _*)
    val dw = digest(w)
    if (dg == dw) (Nil, dg)
    else (Seq(s"$what: got $dg, expected $dw; ${g.exceptAll(w).count()} " +
      s"unexpected, ${w.exceptAll(g).count()} missing rows"), dg)
  }
}
