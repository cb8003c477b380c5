package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.security.MessageDigest

/** SplitMix64: a seeded generator whose output is fixed by its published
  * algorithm, so one seed renders byte-identical inputs on any JVM. */
final class SplitMix(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.size))
}

/** What one rendering produced: the files, their bytes and rows per table,
  * a SHA-256 over every file in path order (the artifact's input hash), and
  * the flagship's expected output rows. */
final case class Rendered(dir: File, tableBytes: Map[String, Long],
    tableRows: Map[String, Long], sha256: String,
    expectedFlagship: Seq[Seq[String]]) {
  def totalBytes: Long = tableBytes.values.sum
}

/** Seeded raw CNPJ input in the Receita Federal layout: headerless,
  * `;`-separated, every field double-quoted, ISO-8859-1. One directory per
  * table, the two fact tables split into shard files the way Receita ships
  * them. Estabelecimentos carries the 30-column layout, empresas the
  * 7-column one; capital_social is comma-decimal, dates are yyyyMMdd, text
  * is accented Portuguese and nome_municipio is space-padded.
  *
  * The three flagship IN filters keep well under 1% of estabelecimentos:
  * the three target municípios hold ~4% of rows, the three target
  * situações ~70%, and the target CNAEs ~8%. About 1% of companies have
  * establishments but no empresas row, so the inner join really drops
  * rows. No field ever contains `;`, a quote or a line break.
  *
  * While it writes, the renderer also answers the flagship query itself —
  * the three IN filters and the four inner joins, in plain Scala over the
  * rows it generates — giving the expected output with no help from the
  * engine. Cells are as the export prints them: keys without leading
  * zeros, capital_social as a dot-decimal with two places. */
object Render {

  /** CNAE codes from the flagship's 53-literal IN list (50 distinct). */
  val targetCnaes: IndexedSeq[Long] = IndexedSeq(
    4321500L, 4330404L, 4330401L, 1622601L, 1622602L, 1622699L, 2330301L,
    2330302L, 2330305L, 2599301L, 3313901L, 3314707L, 3329501L, 3511500L,
    4120400L, 4213800L, 4221902L, 4221903L, 4221904L, 4221905L, 4222701L,
    4292801L, 4299501L, 4299599L, 4311801L, 4311802L, 4312600L, 4313400L,
    4319300L, 4322301L, 4322302L, 4322303L, 4329105L, 4329199L, 4330402L,
    4330403L, 4330405L, 4330499L, 4391600L, 4399101L, 4399102L, 4399103L,
    4399104L, 4399105L, 4399199L, 7111100L, 7112000L, 7119701L, 7119702L,
    7410202L)
  /** 250 other CNAE codes, none in the IN list. */
  val otherCnaes: IndexedSeq[Long] =
    (0 until 250).map(i => 4711301L + i * 1013L).filterNot(targetCnaes.contains)
  val allCnaes: IndexedSeq[Long] = targetCnaes ++ otherCnaes

  val targetMunicipios: IndexedSeq[Int] = IndexedSeq(6313, 7157, 6669)
  val otherMunicipios: IndexedSeq[Int] =
    (0 until 197).map(i => 1001 + i * 37).filterNot(targetMunicipios.contains)
  val allMunicipios: IndexedSeq[Int] = targetMunicipios ++ otherMunicipios

  /** Situação codes and their weights: 2, 3 and 8 pass the IN filter. */
  val situacoes: IndexedSeq[(Int, String)] = IndexedSeq(
    1 -> "NULA", 2 -> "ATIVA", 3 -> "SUSPENSA", 4 -> "INAPTA", 8 -> "BAIXADA")
  private val situacaoWeights = IndexedSeq(0.05, 0.55, 0.05, 0.25, 0.10)
  val situacoesIn: Seq[Int] = Seq(2, 3, 8)

  private val words = IndexedSeq(
    "CONSTRUÇÃO", "COMÉRCIO", "SERVIÇOS", "INDÚSTRIA", "ELÉTRICA",
    "MANUTENÇÃO", "PAVIMENTAÇÃO", "ÁGUA", "SÃO", "JOÃO", "JOSÉ", "CONCEIÇÃO",
    "ESPÍRITO", "SANTA", "MARIA", "LTDA", "ME", "EIRELI", "OBRAS",
    "ENGENHARIA", "REFORMAS", "INSTALAÇÕES", "HIDRÁULICA", "ALVENARIA",
    "PINTURA", "MADEIRAS", "ESTRUTURAS", "METÁLICAS", "IRMÃOS", "FILHOS",
    "GONÇALVES", "ARAÚJO", "CARVALHO", "PEREIRA", "LOCAÇÃO", "MÁQUINAS",
    "TÉCNICA", "PROJETOS", "SOLUÇÕES", "NORDESTE", "CEARÁ", "PIAUÍ",
    "MARANHÃO", "PARAÍBA", "GOIÁS", "AÇAÍ", "CAFÉ", "PÃO")
  private val logradouroTipos = IndexedSeq("RUA", "AVENIDA", "TRAVESSA",
    "ALAMEDA", "RODOVIA", "ESTRADA", "PRAÇA")
  private val ufs = IndexedSeq("CE", "PI", "MA", "PB", "RN", "PE", "BA", "GO")

  private def phrase(r: SplitMix, n: Int): String = {
    val b = new StringBuilder(r.pick(words))
    var i = 1
    while (i < n) { b += ' ' ++= r.pick(words); i += 1 }
    b.toString
  }

  /** `n` in decimal, left-padded with zeros to `width` digits. */
  private def pad(n: Long, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  private def date(r: SplitMix): String = {
    val y = 1970 + r.nextInt(54); val m = 1 + r.nextInt(12)
    val d = 1 + r.nextInt(28)
    pad(y, 4) + pad(m, 2) + pad(d, 2)
  }

  private def weighted(r: SplitMix, ws: IndexedSeq[Double]): Int = {
    val x = r.nextDouble(); var acc = 0.0; var i = 0
    while (i < ws.size - 1 && { acc += ws(i); x >= acc }) i += 1
    i
  }

  /** One raw record: every field quoted, `;`-joined, `\n`-terminated. */
  private def line(fields: Seq[String]): Array[Byte] = {
    val b = new StringBuilder(256)
    fields.foreach { f =>
      if (b.nonEmpty) b += ';'
      b += '"' ++= f += '"'
    }
    (b += '\n').toString.getBytes(ISO_8859_1)
  }

  private final class TableWriter(dir: File, table: String, shards: Int,
      suffix: String) {
    private val tdir = new File(dir, table)
    tdir.mkdirs()
    private val outs: IndexedSeq[OutputStream] = (0 until shards).map { i =>
      new BufferedOutputStream(new FileOutputStream(
        new File(tdir, f"K3241.K03200Y$i.D40510.$suffix")), 1 << 16)
    }
    var rows = 0L
    var bytes = 0L
    def write(fields: Seq[String]): Unit = {
      val b = line(fields)
      outs((rows % shards).toInt).write(b)
      rows += 1; bytes += b.length
    }
    def close(): Unit = outs.foreach(_.close())
  }

  /** Renders about `companies` × 10 estabelecimentos into `dir` (which is
    * emptied first). Same seed, same bytes. */
  def cnpj(dir: File, seed: Long, companies: Int): Rendered = {
    FileTree.deleteRecursively(dir)
    dir.mkdirs()
    val r = new SplitMix(seed)
    // dimensions first, so the expected rows can look them up
    val cnaeDesc = allCnaes.sorted.map(id => id -> phrase(r, 3 + r.nextInt(4))).toMap
    val munName = allMunicipios.sorted.map { id =>
      val name = phrase(r, 1 + r.nextInt(3))
      // Receita pads some names to a fixed width: keep the spaces
      id -> (if (r.chance(0.5)) name.padTo(30, ' ') else name)
    }.toMap
    val cnae = new TableWriter(dir, "cnae", 1, "CNAECSV")
    cnaeDesc.toSeq.sortBy(_._1).foreach { case (id, d) => cnae.write(Seq(id.toString, d)) }
    cnae.close()
    val mun = new TableWriter(dir, "municipios", 1, "MUNICCSV")
    munName.toSeq.sortBy(_._1).foreach { case (id, n) => mun.write(Seq(pad(id, 4), n)) }
    mun.close()
    val mot = new TableWriter(dir, "motivo_situacao_cadastral", 1, "MOTICSV")
    situacoes.foreach { case (id, d) => mot.write(Seq(pad(id, 2), d)) }
    mot.close()

    val est = new TableWriter(dir, "estabelecimentos", 4, "ESTABELE")
    val emp = new TableWriter(dir, "empresas", 2, "EMPRECSV")
    val expected = Seq.newBuilder[Seq[String]]
    var c = 0
    while (c < companies) {
      val basico = pad(10000000 + c * 7, 8)
      val orphan = r.chance(0.01)
      val razao = phrase(r, 2 + r.nextInt(3)) + " LTDA"
      val capital = s"${r.nextInt(5000000)},${pad(r.nextInt(100), 2)}"
      if (!orphan) emp.write(Seq(
        basico, razao,
        pad(2000 + r.nextInt(300), 4),
        pad(r.nextInt(70), 2),
        capital,
        r.pick(IndexedSeq("01", "03", "05")),
        if (r.chance(0.02)) "UNIÃO" else ""))
      // ~10 establishments per company, as in the Receita drops
      val n = 1 + r.nextInt(19)
      var o = 1
      while (o <= n) {
        val mun =
          if (r.chance(0.04)) r.pick(targetMunicipios) else r.pick(otherMunicipios)
        val cnaeId = if (r.chance(0.08)) r.pick(targetCnaes) else r.pick(otherCnaes)
        val sit = situacoes(weighted(r, situacaoWeights))._1
        val f = IndexedSeq(
          basico, pad(o, 4), pad((c * 7 + o * 3) % 100, 2),
          if (o == 1) "1" else "2",
          if (r.chance(0.3)) "" else phrase(r, 1 + r.nextInt(3)),
          pad(sit, 2), date(r), pad(r.nextInt(80), 2),
          "", if (r.chance(0.01)) "105" else "",
          date(r), cnaeId.toString,
          (0 until r.nextInt(3)).map(_ => r.pick(allCnaes)).mkString(","),
          r.pick(logradouroTipos), phrase(r, 1 + r.nextInt(3)),
          if (r.chance(0.1)) "S/N" else (1 + r.nextInt(4000)).toString,
          if (r.chance(0.6)) "" else s"SALA ${1 + r.nextInt(300)}",
          phrase(r, 1 + r.nextInt(2)),
          pad(60000000 + r.nextInt(9999999), 8), r.pick(ufs),
          pad(mun, 4), (11 + r.nextInt(88)).toString,
          (30000000 + r.nextInt(69999999)).toString,
          if (r.chance(0.7)) "" else (11 + r.nextInt(88)).toString,
          if (r.chance(0.7)) "" else (30000000 + r.nextInt(69999999)).toString,
          "", "",
          if (r.chance(0.5)) "" else s"contato${c}_$o@exemplo.com.br",
          "", "")
        est.write(f)
        if (!orphan && targetMunicipios.contains(mun) && situacoesIn.contains(sit) &&
            targetCnaes.contains(cnaeId))
          expected += Seq(basico.toLong.toString, f(4), razao, cnaeDesc(cnaeId),
            f(17), munName(mun), f(13), f(14), f(15), f(18), f(16), f(21), f(22),
            f(23), f(24), f(27), f(10), f(6),
            BigDecimal(capital.replace(',', '.')).setScale(2).toString,
            situacoes.find(_._1 == sit).get._2)
        o += 1
      }
      c += 1
    }
    est.close(); emp.close()

    val ws = Seq(est, emp, cnae, mun, mot)
    val names = Seq("estabelecimentos", "empresas", "cnae", "municipios",
      "motivo_situacao_cadastral")
    Rendered(dir, names.zip(ws.map(_.bytes)).toMap,
      names.zip(ws.map(_.rows)).toMap, FileTree.sha256(dir), expected.result())
  }
}

/** Small helpers over a directory tree. */
object FileTree {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  def listRecursively(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(listRecursively)
    else Seq(f)

  /** Bytes of every regular file under `f`. */
  def sizeOf(f: File): Long = listRecursively(f).filter(_.isFile).map(_.length).sum

  /** SHA-256 over each file's path (relative to `dir`) and bytes, in path
    * order. */
  def sha256(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val base = dir.toPath
    listRecursively(dir).filter(_.isFile).foreach { f =>
      md.update(base.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
