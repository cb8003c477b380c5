package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class RenderSpec extends AnyFunSuite {

  private def tmp(name: String): File = {
    val d = new File(s".bench_build/test/$name")
    FileTree.deleteRecursively(d)
    d
  }

  private def lines(dir: File, table: String): Seq[String] =
    FileTree.listRecursively(new File(dir, table)).flatMap(f =>
      new String(Files.readAllBytes(f.toPath), ISO_8859_1)
        .split("\n").toSeq)

  test("the same seed renders byte-identical files; another seed does not") {
    val a = Render.cnpj(tmp("render_a"), 7, 300)
    val b = Render.cnpj(tmp("render_b"), 7, 300)
    val c = Render.cnpj(tmp("render_c"), 8, 300)
    assert(a.sha256 == b.sha256)
    assert(a.tableBytes == b.tableBytes)
    val fa = FileTree.listRecursively(a.dir).filter(_.isFile)
    val fb = FileTree.listRecursively(b.dir).filter(_.isFile)
    assert(fa.map(_.getName) == fb.map(_.getName))
    fa.zip(fb).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(x.toPath),
        Files.readAllBytes(y.toPath)), x.getName)
    }
    assert(a.sha256 != c.sha256)
  }

  test("files follow the Receita layout") {
    val r = Render.cnpj(tmp("render_layout"), 3, 500)
    val est = lines(r.dir, "estabelecimentos")
    val emp = lines(r.dir, "empresas")
    assert(est.size == r.tableRows("estabelecimentos"))
    assert(est.forall(_.split(";", -1).length == 30))
    assert(emp.forall(_.split(";", -1).length == 7))
    assert(est.forall(l => l.startsWith("\"") && l.endsWith("\"")))
    // comma-decimal capital, yyyyMMdd dates, accented latin-1 text
    assert(emp.forall(_.split(";")(4).matches("\"\\d+,\\d{2}\"")))
    assert(est.forall(_.split(";")(6).matches("\"\\d{8}\"")))
    assert(est.exists(l => l.exists(c => c > 127)))
    assert(lines(r.dir, "municipios").exists(_.matches(".*[A-Z] +\"$")))
    // headerless: the first record is data
    assert(est.head.startsWith("\"1"))
  }

  test("the flagship filters keep well under 1% of establishments") {
    val r = Render.cnpj(tmp("render_sel"), 11, 3000)
    val est = lines(r.dir, "estabelecimentos").map(_.split(";", -1)
      .map(_.stripPrefix("\"").stripSuffix("\"")))
    val kept = est.count(f =>
      Render.targetMunicipios.contains(f(20).toInt) &&
        Render.situacoesIn.contains(f(5).toInt) &&
        Render.targetCnaes.contains(f(11).toLong))
    assert(kept > 0)
    assert(kept.toDouble / est.size < 0.01)
    // the expected flagship drops the rows whose company has no empresas row
    assert(r.expectedFlagship.nonEmpty && r.expectedFlagship.size <= kept)
  }
}
