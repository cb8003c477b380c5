package graft

import java.io.File
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
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

  private def fixture(): Unit = CnpjFixture.write(s"$base/raw")

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

  /** Spark's CSV write of `df` from one sorted task, as the export wrote
    * it before it collected its rows: the shards Spark wrote, merged whole
    * behind a BOM with each header after the first dropped. The byte
    * oracle for [[Export.writeCsvUtf8SigSingle]]. */
  private def shardMergeExport(df: DataFrame, dir: String): Array[Byte] = {
    df.coalesce(1).sortWithinPartitions("cnpj_basico", "nome_fantasia")
      .write.mode("overwrite")
      .option("sep", ";").option("header", "true")
      .option("encoding", "UTF-8")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    val parts = new File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName).toSeq
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

  /** Cells Spark's CSV writer must quote, escape or keep as they are, over
    * three partitions; each (cnpj_basico, nome_fantasia) key is unique.
    * "Ａ" (U+FF21) sorts before "😀" (a surrogate pair) in UTF-8 byte
    * order, as Spark sorts strings, and after it in Java's UTF-16 order. */
  private def awkwardFrame(): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cnpj_basico", LongType),
      StructField("nome_fantasia", StringType),
      StructField("complemento", StringType),
      StructField("capital_social", DecimalType(18, 2)),
      StructField("data_de_inicio_atividade", DateType)))
    def d(s: String) = java.sql.Date.valueOf(s)
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(2L, "TABOÃO DA SERRA".padTo(45, ' '), null, null, null),
      Row(1L, "diz \"oi\"", "aspas \" no meio", dec("0.10"), d("2008-04-09")),
      Row(1L, "A;B", ";", dec("195400.00"), d("1999-12-31")),
      Row(null, "SEM CNPJ", "", dec("-1.50"), d("2020-02-29")),
      Row(1L, null, "", dec("99.99"), null),
      Row(1L, "", null, null, d("1970-01-01")),
      Row(1L, "  espaços  ", "  ", dec("1.00"), d("2010-01-01")),
      Row(1L, "AÇAÍ DO PORTO", "linha\nquebrada", dec("12.34"), null),
      Row(1L, "\uFF21", "Ａ", dec("5.00"), d("2001-01-01")),
      Row(1L, "\uD83D\uDE00", "😀", dec("6.00"), d("2002-02-02")),
      Row(3L, "ÿ", "\t tab", dec("7.00"), d("2003-03-03")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("export writes the bytes of Spark's CSV writer and a whole-shard merge") {
    val df = awkwardFrame()
    val expected = shardMergeExport(df, s"$base/export_oracle")
    val out = new File(s"$base/export_oracle.csv")
    val local = Pipeline.export(Pipeline.inExportOrder(df),
      s"$base/export_new", out)
    assert(new String(Files.readAllBytes(out.toPath), "UTF-8") ==
      new String(expected, "UTF-8"))
    assert(Files.readAllBytes(out.toPath).sameElements(expected))
    // the returned rows are the export's, in Spark's sort order
    assert(local.collect().toSeq == df.coalesce(1)
      .sortWithinPartitions("cnpj_basico", "nome_fantasia").collect().toSeq)
    // the driver-local frame exports again without a job, to the same bytes
    val again = new File(s"$base/export_again.csv")
    val jobs = JobCount.during(spark, "cnpj-export-local") {
      Export.writeCsvUtf8SigSingle(local, s"$base/export_new", again)
    }
    assert(jobs == 0, s"exporting a driver-local frame ran $jobs jobs")
    assert(Files.readAllBytes(again.toPath).sameElements(expected))
    // the target's directory keeps no temporary file
    assert(tempFiles(out.getParentFile).isEmpty)
  }

  /** The export's temporary files left in `dir` (none when it is absent). */
  private def tempFiles(dir: File): Seq[String] =
    Option(dir.list()).toSeq.flatten.filter(_.startsWith(".export-"))

  test("a failed export leaves the previous file whole") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val out = new File(s"$base/export_kept.csv")
    Files.write(out.toPath, "previous export\n".getBytes("UTF-8"))
    val failing = awkwardFrame().withColumn("nome_fantasia",
      when(col("cnpj_basico") === 3L, raise_error(lit("no export")))
        .otherwise(col("nome_fantasia")))
    intercept[Exception] {
      Export.writeCsvUtf8SigSingle(failing, s"$base/export_failed", out)
    }
    assert(new String(Files.readAllBytes(out.toPath), "UTF-8") ==
      "previous export\n")
    val left = Option(new File(s"$base/export_failed").list())
      .getOrElse(Array.empty[String])
    assert(left.isEmpty, left.toSeq)
    assert(tempFiles(out.getParentFile).isEmpty)
  }

  test("an export whose dir is on another filesystem than its target " +
      "succeeds and leaves no temporary file") {
    val shm = Paths.get("/dev/shm")
    val target = Files.createDirectories(Paths.get(s"$base/export_cross"))
    assume(Files.isDirectory(shm) && Files.isWritable(shm) &&
      Files.getFileStore(shm) != Files.getFileStore(target),
      "needs a writable /dev/shm on another filesystem than target/")
    val dir = Files.createTempDirectory(shm, "graft-export-dir")
    try {
      val out = target.resolve("resultado_cross.csv").toFile
      val df = awkwardFrame()
      Export.writeCsvUtf8SigSingle(Pipeline.inExportOrder(df), dir.toString,
        out)
      assert(Files.readAllBytes(out.toPath)
        .sameElements(shardMergeExport(df, s"$base/export_cross_oracle")))
      assert(tempFiles(dir.toFile).isEmpty && tempFiles(target.toFile).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
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

  test("Pipeline.run schedules 13 jobs: 8 writes, 4 broadcasts, 1 collect") {
    fixture()
    val out = new File(s"$base/resultado_jobs.csv")
    // eight table writes, the flagship's four broadcast builds and the
    // one collect its export writes from: no write of this size
    // shuffles and the export schedules nothing of its own, so a
    // shuffle, a sort or a materialization that creeps back in shows
    // here as extra jobs
    val jobs = JobCount.during(spark, "cnpj-run-budget") {
      Pipeline.run(spark, s"$base/raw", s"$base/wh_jobs",
        s"$base/export_jobs", out).unpersist()
    }
    assert(jobs == 13, s"Pipeline.run scheduled $jobs jobs")
  }

  test("Pipeline.runCompat schedules the 13 jobs of Pipeline.run") {
    fixture()
    val out = new File(s"$base/resultado_compat_jobs.csv")
    // the compat rendering reads its dtype flags from the collected rows
    // and projects them: a flag aggregate over the flagship plan would
    // run the fact scan and its joins a second time
    val jobs = JobCount.during(spark, "cnpj-run-compat-budget") {
      Pipeline.runCompat(spark, s"$base/raw", s"$base/wh_compat_jobs",
        s"$base/export_compat_jobs", out).unpersist()
    }
    assert(jobs == 13, s"Pipeline.runCompat scheduled $jobs jobs")
  }

  /** The compat rendering as it was computed over a distributed result:
    * the ten dtype flags as one aggregate, cross-joined back as a
    * broadcast, and a five-way CASE per affinity column. The oracle for
    * [[PandasCompat]]. */
  private def aggregateCompat(result: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val affinity = Seq("numero", "ddd1", "telefone1", "ddd2", "telefone2")
    def isIntText(c: Column): Column = c.rlike("^[0-9]+$")
    val flagExprs = affinity.flatMap { n =>
      Seq(
        max(when(col(n).isNotNull && !isIntText(col(n)), true)
          .otherwise(false)).as(s"${n}_has_text"),
        max(when(col(n).isNull, true).otherwise(false))
          .as(s"${n}_has_null"))
    }
    val flags = result.agg(flagExprs.head, flagExprs.tail: _*)
    val cols = Flagship.outputCols.map {
      case n if affinity.contains(n) =>
        val c = col(n)
        val asInt = c.cast("long").cast("string")
        when(c.isNull, lit(null))
          .when(!isIntText(c), c)
          .when(col(s"${n}_has_text"), asInt)
          .when(col(s"${n}_has_null"), concat(asInt, lit(".0")))
          .otherwise(asInt).as(n)
      case "capital_social" =>
        regexp_replace(col("capital_social").cast("string"), "\\.", ",")
          .as("capital_social")
      case n => col(n)
    }
    result.crossJoin(broadcast(flags)).select(cols: _*)
  }

  test("PandasCompat over the collected rows renders what the flag " +
      "aggregate and cross join rendered") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val affinity = Seq("numero", "ddd1", "telefone1", "ddd2", "telefone2")
    val schema = StructType(Flagship.outputCols.map {
      case n @ "cnpj_basico" => StructField(n, LongType)
      case n @ "capital_social" => StructField(n, DecimalType(18, 2))
      case n => StructField(n, StringType)
    })
    // each case is one column's cells, top to bottom
    val cases = Seq(
      "ints, no null (int64)" -> Seq("11", "0", "41898282"),
      "ints and one null (float64)" -> Seq("11", null, "41898282"),
      "ints next to text (object)" -> Seq("345", "001A", null),
      "all null" -> Seq(null, null, null),
      "leading zeros" -> Seq("007", "0011", "00"),
      "an empty string" -> Seq("", "12", null),
      "a digit string with a final line feed" -> Seq("12\n", "3", "4"))
    def frame(columns: Seq[Seq[String]]): DataFrame = {
      val rows = columns.head.indices.map { i =>
        val byName = affinity.zip(columns.map(_(i))).toMap
        Row.fromSeq(Flagship.outputCols.map {
          case "cnpj_basico" => i.toLong
          case "capital_social" => new java.math.BigDecimal(s"$i.50")
          case n => byName.getOrElse(n, s"$n $i")
        })
      }
      Pipeline.inExportOrder(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema))
    }
    // every case in all five affinity columns, then the cases side by side
    val frames = cases.map { case (name, cells) =>
        name -> frame(affinity.map(_ => cells)) } ++
      cases.map(_._2).sliding(affinity.size).zipWithIndex.map {
        case (cols, i) => s"cases $i.. side by side" -> frame(cols) }
    frames.foreach { case (name, local) =>
      val expected = aggregateCompat(local).collect().toSeq
      var got = Seq.empty[Row]
      val jobs = JobCount.during(spark, "cnpj-compat-local") {
        got = PandasCompat(local).collect().toSeq
      }
      assert(got == expected, name)
      assert(jobs == 0, s"$name: rendering a driver-local frame ran $jobs jobs")
    }
    // the cells as pandas renders them, per dtype
    def rendered(cells: Seq[String]): Seq[String] =
      PandasCompat(frame(affinity.map(_ => cells))).collect()
        .map(_.getAs[String]("numero")).toSeq
    assert(rendered(Seq("11", "0", "007")) == Seq("11", "0", "7"))
    assert(rendered(Seq("11", null, "007")) == Seq("11.0", null, "7.0"))
    assert(rendered(Seq("345", "001A", null)) == Seq("345", "001A", null))
    assert(rendered(Seq("", "012", null)) == Seq("", "12", null))
  }

  test("every job Pipeline.run schedules carries its cnpj phase, and the " +
      "caller's description and tags come back") {
    fixture()
    val sc = spark.sparkContext
    // (job group, description, tags) of every job started
    val started = mutable.ArrayBuffer.empty[(String, String, Set[String])]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        started.synchronized(started += ((prop("spark.jobGroup.id"),
          prop("spark.job.description"),
          prop("spark.job.tags").split(",").filter(_.nonEmpty).toSet)))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cnpj-phases", "the caller's own")
      sc.addJobTag("caller")
      try {
        Pipeline.run(spark, s"$base/raw", s"$base/wh_phases",
          s"$base/export_phases", new File(s"$base/resultado_phases.csv"))
          .unpersist()
        assert(sc.getLocalProperty("spark.job.description") ==
          "the caller's own")
        assert(sc.getJobTags() == Set("caller"))
      } finally { sc.removeJobTag("caller"); sc.clearJobGroup() }
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    } finally sc.removeSparkListener(listener)
    val jobs = started.synchronized(started.filter(_._1 == "cnpj-phases")
      .toSeq)
    assert(jobs.size == 13, jobs)
    jobs.foreach { case (_, d, tags) =>
      assert(d.startsWith("cnpj "), jobs)
      // beside Spark's own session, execution and broadcast tags
      assert(tags("caller") && tags.filter(_.startsWith("cnpj:")) ==
        Set("cnpj:" + d.stripPrefix("cnpj ")), jobs)
    }
    val perPhase = jobs.groupBy(_._2).map { case (d, js) => d -> js.size }
    // the flagship's four broadcast builds run on AQE's threads, which
    // capture the collecting thread's properties
    assert(perPhase == Map("cnpj flagship" -> 5) ++ Seq("empresas",
      "estabelecimentos", "cnae", "municipios", "motivo_situacao_cadastral",
      "natureza_juridica", "qualificacao_responsavel", "pais")
      .map(t => s"cnpj load $t" -> 1), perPhase)
  }

  test("Phase restores the caller's description and tags, also when its " +
      "body throws, and nests") {
    val sc = spark.sparkContext
    assert(sc.getLocalProperty("spark.job.description") == null)
    intercept[IllegalStateException] {
      Phase("cnpj", "outer") {
        assert(sc.getLocalProperty("spark.job.description") == "cnpj outer")
        Phase("cnpj", "inner") {
          assert(sc.getLocalProperty("spark.job.description") ==
            "cnpj inner")
          assert(sc.getJobTags() == Set("cnpj:outer", "cnpj:inner"))
        }
        assert(sc.getLocalProperty("spark.job.description") == "cnpj outer")
        assert(sc.getJobTags() == Set("cnpj:outer"))
        throw new IllegalStateException("phase body failed")
      }
    }
    assert(sc.getLocalProperty("spark.job.description") == null)
    assert(sc.getJobTags().isEmpty)
    assert(!spark.conf.getAll.keys.exists(_.startsWith("spark.job.")))
  }

  test("buildWarehouse sorts the fact file so the flagship skips row groups") {
    fixture()
    Pipeline.buildWarehouse(spark, s"$base/raw", s"$base/wh_rg_ref")
    val expected = Pipeline.flagship(spark, s"$base/wh_rg_ref").collect()
      .map(_.toString).sorted.toSeq
    // the fixture with its non-flagship CNAE (9999999) between the two
    // flagship rows: only a sort on id_cnae gives it a row group of its own
    val raw = s"$base/raw_rg"
    CnpjFixture.write(raw)
    val est = Paths.get(s"$raw/estabelecimentos/data.csv")
    val Array(a, b, c) = new String(Files.readAllBytes(est), latin1).split("\n")
    Files.write(est, Seq(a, c, b).mkString("\n").getBytes(latin1))
    // a 1-byte row-group target checked every 2 rows: two rows per group
    val small = Seq("parquet.block.size" -> "1",
      "parquet.page.size.row.check.min" -> "2",
      "parquet.page.size.row.check.max" -> "2")
    val wh = s"$base/wh_rg"
    small.foreach { case (k, v) => spark.conf.set(k, v) }
    try Pipeline.buildWarehouse(spark, raw, wh)
    finally small.foreach { case (k, _) => spark.conf.unset(k) }
    val factDir = new File(s"$wh/estabelecimentos")
    val rowGroups = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val files = factDir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, files.toSeq)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq
      finally r.close()
    }
    assert(rowGroups == Seq(2L, 1L))
    val df = Pipeline.flagship(spark, wh)
    assert(df.collect().map(_.toString).sorted.toSeq == expected)
    val plan = df.queryExecution.executedPlan
    val scans = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case s: FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths
      .exists(_.getName == factDir.getName))
    assert(scans.size == 1, plan.toString)
    // unsorted, both row groups hold a flagship CNAE and all 3 rows are read
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned == 2L, s"the flagship scanned $scanned fact rows")
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
