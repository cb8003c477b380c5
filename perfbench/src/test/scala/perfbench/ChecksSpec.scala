package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes the engine's real output and rejects the same
  * output with one row dropped or one cell changed. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.GraftSession.builder("local[2]")
    .config("spark.sql.warehouse.dir", new File(base, "spark-warehouse").getAbsolutePath)
    .getOrCreate()
  private lazy val base = {
    val d = new File(".bench_build/test/checks")
    FileTree.deleteRecursively(d)
    d.mkdirs()
    d
  }

  override def afterAll(): Unit = spark.stop()

  /** The engine's export for a small rendered input, and the rows the
    * renderer expects for it. */
  private lazy val (exportBytes, expected) = {
    val raw = new File(base, "raw")
    val rendered = Render.cnpj(raw, 5, 2000)
    val file = new File(base, "out.csv")
    graft.cnpj.Pipeline.run(spark, raw.getPath, new File(base, "wh").getPath,
      new File(base, "export").getPath, file).unpersist()
    (Files.readAllBytes(file.toPath),
      rendered.expectedFlagship)
  }

  private def edit(bytes: Array[Byte])(f: Vector[String] => Vector[String]) = {
    val text = new String(bytes, 3, bytes.length - 3, UTF_8)
    bytes.take(3) ++ f(text.split("\n").toVector).mkString("", "\n", "\n").getBytes(UTF_8)
  }

  test("the renderer's expected flagship equals the engine's export") {
    assert(expected.nonEmpty)
    assert(Checks.exportProblems(exportBytes, expected) == Nil)
  }

  test("the export check rejects a dropped row") {
    val dropped = edit(exportBytes)(ls => ls.patch(1, Nil, 1))
    assert(Checks.exportProblems(dropped, expected).nonEmpty)
  }

  test("the export check rejects a changed cell") {
    val changed = edit(exportBytes) { ls =>
      val f = Checks.parseLine(ls(1)).toVector
      ls.updated(1, f.updated(2, f(2) + "X").mkString(";"))
    }
    assert(Checks.exportProblems(changed, expected).nonEmpty)
  }

  test("the export check rejects a missing BOM and a repeated header") {
    assert(Checks.exportProblems(exportBytes.drop(3), expected).nonEmpty)
    val twoHeaders = edit(exportBytes)(ls => ls.head +: ls)
    assert(Checks.exportProblems(twoHeaders, expected).nonEmpty)
  }

  private def frame = spark.range(0, 500).select(col("id"),
    concat(lit("v"), col("id").cast("string")).as("v"), (col("id") % 7).as("g"))

  test("the digest check rejects a dropped row or a changed cell") {
    val want = Checks.digest(frame)
    assert(Checks.digestProblems("d", Checks.digest(frame), want) == Nil)
    assert(Checks.digestProblems("d",
      Checks.digest(frame.where(col("id") =!= 17)), want).nonEmpty)
    assert(Checks.digestProblems("d", Checks.digest(frame.withColumn("v",
      when(col("id") === 17, lit("w")).otherwise(col("v")))), want).nonEmpty)
  }

  test("the replay check rejects a dropped row or a changed cell") {
    assert(Checks.frameProblems("r", frame, frame)._1 == Nil)
    assert(Checks.frameProblems("r", frame.where(col("id") =!= 3), frame)._1.nonEmpty)
    assert(Checks.frameProblems("r", frame.withColumn("g",
      when(col("id") === 3, lit(99L)).otherwise(col("g"))), frame)._1.nonEmpty)
  }

  test("the observed digest equals the computed one") {
    val obs = org.apache.spark.sql.Observation()
    val (c, h) = Checks.digestAggs(frame)
    frame.observe(obs, c, h).write.format("noop").mode("overwrite").save()
    assert(Checks.digestOf(obs.get) == Checks.digest(frame))
  }
}
