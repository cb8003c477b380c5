package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchProtocol, SparkEntry}
import graft.cnpj.{Export, Ingest, Pipeline, Schemas, Warehouse}
import graft.ops.Layout

/** An op that failed in several places (one pass of the operator mix). */
final class OpFailed(val failures: Seq[Failure]) extends Exception(
  failures.map(f => s"${f.step}: ${f.cls}").mkString(", "))

/** The two workloads. Each renders its inputs from the seed, builds its
  * state in set-up, warms up, then runs one client in a closed loop. */
object Workloads {

  /** Companies rendered per workload (~10 establishments each). */
  val EtlCompanies = 4000
  val RefreshCompanies = 4000
  /** Untimed ops before the loop. A fresh JVM runs its first `etl_full` ops
    * at ~5×, ~1.6×, ~1.3× and ~1.1× their steady time while the JIT
    * compiles the driver's paths; with four of them discarded, the
    * measured ops are close to steady state. */
  val EtlWarmup = 4
  /** Untimed refresh cycles before the loop. The measured cycles start at
    * cycle 4, so every measured period of four begins with a compaction. */
  val RefreshWarmup = 3
  /** Measured refresh cycles, at least: one period of four, with one
    * compaction. Which files a cycle's deletion vectors land in follows the
    * seed, and the compaction's job count with it (32–40 jobs over five
    * seeds); a second period would repeat the same seed's layout and cost
    * ~12 s of every run's time. */
  val RefreshMinCycles = 4
  /** Flagship executions in etl_full's traced phase breakdown. */
  val FlagshipRepeats = 5
  /** Scale factor of the operator mix's tables (0.01 = 60,000 lineitem),
    * which the traced `table_refresh` run measures. */
  val MixSf = 0.01
  /** The operator mix: one key per engine site that the open size-tier
    * and twin-removal work changes — the fan-out cap (q_profile), the
    * fused PII kernel, the BPE local tier, label propagation
    * (q_dedup_cluster_lsh), the quantile tiers and the merge's fused
    * probe. */
  val MixKeys: Seq[String] = Seq("q_profile", "q_pii_scrub", "q_bpe_learn",
    "q_dedup_cluster_lsh", "q_quantiles", "q_snapshot_merge")

  val names: Seq[String] = Seq("etl_full", "table_refresh")

  def run(h: Harness): Unit = h.cfg.workload match {
    case "etl_full" => etlFull(h)
    case "table_refresh" => tableRefresh(h)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def dir(h: Harness, name: String): File = new File(h.cfg.workDir, name)

  private def rendered(h: Harness, r: Rendered): Unit = {
    h.out.info("input_sha256") = r.sha256
    h.out.info("input_bytes") = r.tableBytes
    h.out.info("input_rows") = r.tableRows
  }

  /** A frame's digest, observed during the write that executes it. */
  private def observedNoop(df: DataFrame): Digest = {
    val obs = Observation()
    val (c, hsh) = Checks.digestAggs(df)
    noop(df.observe(obs, c, hsh))
    Checks.digestOf(obs.get)
  }

  // ---------------------------------------------------------------- etl_full

  private def etlFull(h: Harness): Unit = {
    val spark = h.spark
    val raw = dir(h, "raw")
    val input = h.setup(3) { _ => Render.cnpj(raw, h.cfg.seed, EtlCompanies) }
    val expected = input.expectedFlagship
    rendered(h, input)
    h.out.info("expected_rows") = expected.size
    val stored = mutable.ArrayBuffer.empty[Double]
    def paths(i: Int) = (dir(h, s"wh$i"), dir(h, s"export$i"),
      dir(h, s"resultado_final$i.csv"))
    h.loop(warmup = EtlWarmup, minOps = 3) { i =>
      val (wh, ex, file) = paths(i)
      val res = h.span("cnpj.Pipeline.run") {
        Pipeline.run(spark, raw.getPath, wh.getPath, ex.getPath, file)
      }
      res.unpersist()
    } { i =>
      val (wh, ex, file) = paths(i)
      val p = Checks.exportProblems(
        Files.readAllBytes(file.toPath), expected)
      stored += FileTree.sizeOf(wh).toDouble / input.totalBytes
      Seq(wh, ex, file).foreach(FileTree.deleteRecursively)
      p
    }
    val ok = h.out.ops.filter(_.ok)
    h.out.report("input_rows_per_s") = (Stats.median0(ok.map(o =>
      input.tableRows.values.sum / (o.ms / 1000))), "rows/s")
    h.out.report("stored_bytes_per_input_byte") = (Stats.median0(stored), "ratio")
    if (h.cfg.trace) etlDecomposed(h, raw, input)
  }

  /** Traced only: Spark fuses parse, cast and write into one job, so one
    * extra op runs the pipeline's phases as separate calls — each
    * executed to completion — to give a per-phase breakdown. */
  private def etlDecomposed(h: Harness, raw: File, input: Rendered): Unit = {
    val expectedRows = input.expectedFlagship.size
    val spark = h.spark
    val wh = dir(h, "wh_phases")
    val tables: Seq[(String, org.apache.spark.sql.types.StructType,
        DataFrame => DataFrame, Option[String])] = Seq(
      ("empresas", Schemas.empresasRaw, Warehouse.typedEmpresas _,
        Some("cnpj_basico")),
      ("estabelecimentos", Schemas.estabelecimentosRaw,
        Warehouse.typedEstabelecimentos _, Some("cnpj_basico")),
      ("cnae", Schemas.cnaeRaw, Warehouse.typedCnae _, None),
      ("municipios", Schemas.municipiosRaw, Warehouse.typedMunicipios _, None),
      ("motivo_situacao_cadastral", Schemas.motivoSituacaoRaw,
        Warehouse.typedMotivoSituacao _, None))
    h.listener.drain(spark)
    h.tracer.opId = -1
    h.tracer.span("etl_phases") {
      tables.foreach { case (t, schema, typed, key) =>
        def read() = Ingest.readRawCsv(spark, s"${raw.getPath}/$t", schema)
        h.span("cnpj.Ingest.readRawCsv") { noop(read()) }
        h.span("cnpj.Warehouse.typed") { noop(typed(read())) }
        h.span("cnpj.Warehouse.writeTable") {
          Warehouse.writeTable(typed(read()), s"${wh.getPath}/$t", key)
        }
      }
      Seq(
        ("estabelecimentos", Seq("cnpj_basico", "id_cnae", "id_municipio",
          "id_situacao_cadastral")),
        ("empresas", Seq("cnpj_basico", "natureza_juridica")),
        ("cnae", Seq("id_cnae")),
        ("municipios", Seq("id_municipio")),
        ("motivo_situacao_cadastral", Seq("id_situacao_cadastral"))
      ).foreach { case (t, cols) =>
        h.span("cnpj.Warehouse.analyzeTable") {
          Warehouse.analyzeTable(spark, s"cnpj_$t", s"${wh.getPath}/$t", cols)
        }
      }
      // the flagship alone, several times: resolve, plan and execute
      val plans = new PlanCapture(spark)
      (0 until FlagshipRepeats).foreach { r =>
        h.tracer.opId = -1 - r
        val df = h.span("cnpj.Pipeline.flagship") { Pipeline.flagship(spark, wh.getPath) }
        h.span("cnpj.Flagship.execute") {
          plans.clear()
          val d = observedNoop(df)
          if (d.rows != expectedRows)
            h.out.fail(Seq(s"phase flagship: ${d.rows} rows, $expectedRows expected"))
          plans.last.foreach { qe =>
            h.count("scan_rows", PlanCapture.scanRows(qe).toDouble)
            h.count("broadcast_joins", PlanCapture.broadcastJoins(qe).toDouble)
            h.count("rows_out", d.rows.toDouble)
          }
        }
      }
      plans.close()
      h.tracer.opId = -1
      // as Pipeline.run does: the result cached, then exported
      val res = h.span("cnpj.Flagship.cache") {
        val r = Pipeline.flagship(spark, wh.getPath).cache()
        r.count()
        r
      }
      val file = dir(h, "resultado_phases.csv")
      h.span("cnpj.Export.writeCsvUtf8SigSingle") {
        Export.writeCsvUtf8SigSingle(res.orderBy("cnpj_basico", "nome_fantasia"),
          dir(h, "export_phases").getPath, file)
      }
      res.unpersist()
      h.out.layer("cnpj.Export.bytes") = file.length.toDouble
      h.out.fail(Checks.exportProblems(Files.readAllBytes(file.toPath),
        input.expectedFlagship).map(p => s"phase export: $p"))
    }
    h.tracer.attachJobs(h.listener.drain(spark))
    val t = h.tracer
    def spans(n: String) = t.spans.filter(s => s.name == n && s.opId < 0)
    def total(n: String) = spans(n).map(_.ms).sum
    def jobsOf(n: String) = spans(n).flatMap(_.jobs)
    val parse = total("cnpj.Ingest.readRawCsv")
    h.out.layer("cnpj.Ingest.parse_ms") = parse
    h.out.layer("cnpj.Ingest.input_mb") = input.totalBytes / 1048576.0
    h.out.layer("cnpj.Ingest.rows") = input.tableRows.values.sum.toDouble
    h.out.layer("cnpj.Warehouse.cast_ms") = total("cnpj.Warehouse.typed") - parse
    h.out.layer("cnpj.Warehouse.write_ms") = total("cnpj.Warehouse.writeTable")
    h.out.layer("cnpj.Warehouse.written_mb") = FileTree.sizeOf(wh) / 1048576.0
    h.out.layer("cnpj.Warehouse.files") = FileTree.listRecursively(wh)
      .count(f => f.getName.endsWith(".parquet")).toDouble
    h.out.layer("cnpj.Warehouse.analyze_ms") = total("cnpj.Warehouse.analyzeTable")
    h.out.layer("cnpj.Warehouse.analyze_jobs") =
      jobsOf("cnpj.Warehouse.analyzeTable").size.toDouble
    val exp = spans("cnpj.Export.writeCsvUtf8SigSingle").head
    val lastJobEnd = (exp.jobs.map(_.endMs.toDouble) :+ exp.start).max
    h.out.layer("cnpj.Export.shard_write_ms") = lastJobEnd - exp.start
    h.out.layer("cnpj.Export.merge_ms") = exp.end - lastJobEnd
    h.out.info("etl_phases_ms") = mutable.LinkedHashMap(
      "parse" -> parse,
      "cast" -> (total("cnpj.Warehouse.typed") - parse),
      "write" -> total("cnpj.Warehouse.writeTable"),
      "analyze" -> total("cnpj.Warehouse.analyzeTable"),
      "flagship" -> (total("cnpj.Pipeline.flagship") +
        total("cnpj.Flagship.execute")) / FlagshipRepeats,
      "export" -> exp.ms)
    h.out.layer("cnpj.Warehouse.resolve_ms") =
      Stats.median(spans("cnpj.Pipeline.flagship").map(_.ms))
    flagshipLayer(h, spans("cnpj.Flagship.execute").toSeq)
    Seq(wh, dir(h, "export_phases"), dir(h, "resultado_phases.csv"))
      .foreach(FileTree.deleteRecursively)
  }

  /** plan_ms: from the action's call to its first job; exec_ms: from the
    * first job to the action's return. */
  private def flagshipLayer(h: Harness, exec: Seq[Span]): Unit = if (exec.nonEmpty) {
    def firstJob(s: Span) = (s.jobs.map(_.startMs.toDouble) :+ s.end).min
    h.out.layer("cnpj.Flagship.plan_ms") = Stats.median(exec.map(s => firstJob(s) - s.start))
    h.out.layer("cnpj.Flagship.exec_ms") = Stats.median(exec.map(s => s.end - firstJob(s)))
    val withPlan = exec.filter(_.counts.contains("scan_rows"))
    if (withPlan.nonEmpty) {
      h.out.layer("cnpj.Flagship.rows_scanned_per_row_out") = Stats.median(withPlan.map(s =>
        s.counts("scan_rows") / math.max(1.0, s.counts("rows_out"))))
      h.out.layer("cnpj.Flagship.broadcast_joins") =
        Stats.median(withPlan.map(_.counts("broadcast_joins")))
    }
    h.out.layer("cnpj.Flagship.shuffle_mb") =
      Stats.median(exec.map(_.jobs.map(_.shuffleWriteBytes).sum / 1048576.0))
  }

  // ----------------------------------------------------------- table_refresh

  private val keyCols = Seq("cnpj_basico", "cnpj_ordem", "cnpj_dv")

  /** z-arrangement on (id_municipio, id_cnae) through the public z-value:
    * each column bucketed into 64 ranks over its min..max, rows range-
    * partitioned on the interleave into 8 files and sorted within them —
    * the construction FlagshipKey loads its table with. */
  private def zArranged(df: DataFrame): DataFrame = {
    val b = 64
    val st = df.agg(min("id_municipio"), max("id_municipio"), min("id_cnae"),
      max("id_cnae")).head()
    def rank(c: String, lo: Long, hi: Long) =
      least(lit(b - 1L), ((col(c).cast("long") - lit(lo)) * lit(b.toLong) /
        lit(math.max(1L, hi - lo + 1))).cast("long"))
    val z = Layout.zValue(
      rank("id_municipio", st.getInt(0).toLong, st.getInt(1).toLong),
      rank("id_cnae", st.getLong(2), st.getLong(3)))
    df.withColumn("__z", z).repartitionByRange(8, col("__z"))
      .sortWithinPartitions("__z").drop("__z")
  }

  /** Cycle k's upsert batch and its row count: ~0.4% of base rows updated
    * in place and ~0.1% inserted under new keys, collected so the batch is
    * a local relation the verb reads without recomputing it. */
  private def delta(spark: SparkSession, base: DataFrame, seed: Long, k: Int)
      : (DataFrame, Long) = {
    def draw(salt: Long) = pmod(xxhash64(col("cnpj_basico"), col("cnpj_ordem"),
      lit(seed), lit(salt)), lit(10000L))
    val upd = base.where(draw(k.toLong) < 40)
      .withColumn("nome_fantasia", concat(lit(s"UPD$k "), coalesce(col("nome_fantasia"), lit(""))))
      .withColumn("telefone1", lit(f"${30000000 + k}%d"))
    val ins = base.where(draw(1000000L + k) < 10)
      .withColumn("cnpj_dv", substring(col("cnpj_ordem"), 3, 2))
      .withColumn("cnpj_ordem", lit(f"9${k % 1000}%03d"))
    val rows = upd.unionByName(ins).collect()
    (spark.createDataFrame(rows.toSeq.asJava, base.schema), rows.length.toLong)
  }

  /** Cycle k's delete: one key in a thousand, drawn by a hash of the key,
    * so every cycle deletes about the same number of rows, spread over the
    * table's files, whatever the seed. */
  private def deletePred(seed: Long, k: Int) =
    pmod(xxhash64(keyCols.map(col) :+ lit(seed) :+ lit(2000000L + k): _*),
      lit(1000L)) === 0

  private def flagshipSkips = Seq(
    Layout.SkipIn("id_municipio", Render.targetMunicipios.map(_.toLong)),
    Layout.SkipIn("id_cnae", Render.targetCnaes))

  private def tableRefresh(h: Harness): Unit = {
    val spark = h.spark
    val raw = dir(h, "raw")
    val table = dir(h, "estab_table").getAbsolutePath
    val seed = h.cfg.seed
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val input = h.setupOnce { Render.cnpj(raw, seed, RefreshCompanies) }
    def typed() = Warehouse.typedEstabelecimentos(Ingest.readRawCsv(spark,
      s"${raw.getPath}/estabelecimentos", Schemas.estabelecimentosRaw))
    // one commit: a second costs ~4 s of every run's time budget
    h.setup(1) { _ =>
      Layout.dropTable(spark, table)
      val t0 = System.nanoTime()
      h.span("ops.Layout.commitSnapshot") {
        Layout.commitSnapshot(spark, table, zArranged(typed()),
          statsColumns = Seq("id_municipio", "id_cnae"),
          props = Map(Layout.RowLevelModeProp -> "mor"))
      }
      commitMs += (System.nanoTime() - t0) / 1e6
    }
    // the base rows, cached: the deltas are drawn from them and the replay
    // starts from them
    val base = typed().persist()
    base.count()
    rendered(h, input)
    val baseRows = input.tableRows("estabelecimentos")
    val deltas = mutable.ArrayBuffer.empty[(Int, DataFrame)]
    val deltaRows = mutable.Map.empty[Int, Long]
    final case class Cycle(k: Int, writeMs: Double, readMs: Double,
        compactMs: Option[Double], deltaRows: Long, liveFiles: Int, dvFiles: Int,
        sidecars: Int, compactBytes: Long)
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val scanFiles = mutable.Map.empty[Int, Double]
    val plans = new PlanCapture(spark)
    var cur: Cycle = null
    // warm-up cycles, then whole periods of four cycles, each with exactly
    // one compaction
    h.loop(warmup = RefreshWarmup, minOps = RefreshMinCycles, period = 4, before = i => {
      val (d, n) = delta(spark, base, seed, i + 1)
      deltas += (i + 1) -> d
      deltaRows(i + 1) = n
    }) { i =>
      val (k, d) = deltas.last
      val t0 = System.nanoTime()
      h.span("ops.Layout.upsertByKeys") {
        Layout.upsertByKeys(spark, table, d, keyCols, deleteOnly = false)
      }
      h.span("ops.Layout.deleteWhere") { Layout.deleteWhere(spark, table, deletePred(seed, k)) }
      val t1 = System.nanoTime()
      h.span("ops.Layout.readSnapshotWhere") {
        plans.clear()
        noop(Layout.readSnapshotWhere(spark, table, flagshipSkips)
          .where(col("id_situacao_cadastral").isin(Render.situacoesIn: _*)))
        plans.last.foreach(qe => scanFiles(k) = PlanCapture.filesRead(qe).toDouble)
      }
      val t2 = System.nanoTime()
      val compact = if (k % 4 == 0) Some(h.span("ops.Layout.compactDeletes") {
        Layout.compactDeletes(spark, table)
      }) else None
      val t3 = System.nanoTime()
      cur = Cycle(k, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        compact.map(_ => (t3 - t2) / 1e6), 0, 0, 0, 0, compact.map(_._4).getOrElse(0L))
    } { _ =>
      // read after the op, untimed, in traced runs: the table's
      // deletion-vector state this cycle left behind (~0.7 s a cycle)
      cycles += (if (h.cfg.trace) {
        val dt = Layout.tableDetail(spark, table)
        cur.copy(deltaRows = deltaRows(cur.k), liveFiles = dt._2,
          dvFiles = dt._6, sidecars = dt._7)
      } else cur.copy(deltaRows = deltaRows(cur.k)))
      Nil
    }
    plans.close()

    // the final snapshot against a plain-DataFrame replay of every cycle
    val replay = deltas.foldLeft(base) { case (cur, (k, d)) =>
      cur.join(d.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(d).where(!deletePred(seed, k))
    }
    val (problems, snapDigest) = Checks.frameProblems("final snapshot vs replay",
      Layout.readSnapshot(spark, table), replay)
    h.out.fail(problems)
    val detail = Layout.tableDetail(spark, table)

    val measured = h.out.ops.filter(_.ok).map(_.index + 1).toSet
    val mc = cycles.filter(c => measured(c.k)).toSeq
    if (mc.nonEmpty) {
      h.out.report("read_p50_ms") = (Stats.median(mc.map(_.readMs)), "ms")
      Stats.tail(mc.map(_.readMs)) match {
        case Some((p, v)) => h.out.report("read_tail_ms") = (v, s"ms@p$p")
        case None => h.out.notes += s"read_tail_ms: ${mc.size} samples, fewer than 11"
      }
      h.out.report("write_p50_ms") = (Stats.median(mc.map(_.writeMs)), "ms")
      h.out.report("input_rows_per_s") = (mc.map(_.deltaRows).sum /
        (mc.map(_.writeMs).sum / 1000), "rows/s")
    }
    val liveRows = snapDigest.rows
    h.out.report("stored_bytes_per_input_byte") = (detail._3.toDouble /
      (input.tableBytes("estabelecimentos").toDouble * liveRows / baseRows), "ratio")
    h.out.info("cycles") = cycles.map(c => mutable.LinkedHashMap[String, Any](
      "cycle" -> c.k, "measured" -> measured(c.k), "write_ms" -> c.writeMs,
      "scan_ms" -> c.readMs, "compact_ms" -> c.compactMs,
      "delta_rows" -> c.deltaRows) ++ (if (!h.cfg.trace) Nil else Seq(
      "dv_files_live" -> c.dvFiles, "sidecars_live" -> c.sidecars,
      "scan_files_ratio" -> scanFiles.get(c.k).map(_ / math.max(1, c.liveFiles)))))
      .toSeq

    if (h.cfg.trace) {
      val t = h.tracer
      def med(n: String) = Stats.median0(t.spans.filter(_.name == n).map(_.ms))
      def jobs(n: String) =
        Stats.median0(t.spans.filter(_.name == n).map(_.jobs.size.toDouble))
      h.out.layer("ops.Layout.commit_ms") = Stats.median(commitMs)
      h.out.layer("ops.Layout.upsert_ms") = med("ops.Layout.upsertByKeys")
      h.out.layer("ops.Layout.upsert_jobs") = jobs("ops.Layout.upsertByKeys")
      h.out.layer("ops.Layout.delete_ms") = med("ops.Layout.deleteWhere")
      h.out.layer("ops.Layout.delete_jobs") = jobs("ops.Layout.deleteWhere")
      h.out.layer("ops.Layout.compact_ms") = Stats.median0(cycles.flatMap(_.compactMs))
      h.out.layer("ops.Layout.compact_mb_rewritten") = Stats.median0(cycles.flatMap(c =>
        c.compactMs.map(_ => c.compactBytes / 1048576.0)))
      h.out.layer("ops.Layout.scan_ms") = med("ops.Layout.readSnapshotWhere")
      h.out.layer("ops.Layout.scan_files_ratio") = Stats.median0(cycles.flatMap(c =>
        scanFiles.get(c.k).map(_ / math.max(1, c.liveFiles))))
      h.out.layer("ops.Layout.dv_files_live") = Stats.median0(cycles.map(_.dvFiles.toDouble))
      h.out.layer("ops.Layout.sidecars_live") = Stats.median0(cycles.map(_.sidecars.toDouble))
      val written = t.spans.filter(s => s.name.startsWith("ops.Layout.") &&
        s.name != "ops.Layout.commitSnapshot" && s.name != "ops.Layout.readSnapshotWhere")
        .flatMap(_.jobs.map(_.outputBytes)).sum.toDouble
      val tracedCycles = t.spans.count(_.name == "ops.Layout.upsertByKeys")
      val bytesPerRow = detail._3.toDouble / math.max(1L, liveRows)
      val deltaRows = cycles.map(_.deltaRows).sum.toDouble *
        tracedCycles / math.max(1, cycles.size)
      h.out.layer("ops.Layout.write_amp") = written / math.max(1.0, deltaRows * bytesPerRow)
    }
    base.unpersist()
    if (h.cfg.trace) operatorMix(h)
  }

  // ------------------------------------------------------------ operator_mix

  /** Traced `table_refresh` runs only: the `ops.*` and `functions.*` layers.
    * Two passes over the mix keys on seeded sf 0.01 tables, each key
    * through `BenchProtocol.timeOnce`. The first pass warms the keys' paths;
    * the second, traced, gives each key's time, executor CPU and jobs. Each
    * key's row count and content digest, observed during its own execution,
    * must equal the first pass's. */
  private def operatorMix(h: Harness): Unit = {
    val spark = h.spark
    val sfDir = dir(h, "sf").getAbsolutePath
    h.out.info("mix_input_rows") = SfRender.write(spark, sfDir, h.cfg.seed, MixSf)
    h.out.info("mix_input_bytes") = FileTree.sizeOf(new File(sfDir))
    val fns = SparkEntry.queries
    val missing = MixKeys.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(", ")}")
    def pass(traced: Boolean): Map[String, Digest] = MixKeys.flatMap { key =>
      val obs = Observation()
      def once() = BenchProtocol.timeOnce(spark, sfDir, (s, d) => {
        val df = fns(key)(s, d)
        val (c, hsh) = Checks.digestAggs(df)
        df.observe(obs, c, hsh)
      })
      val secs = if (traced) h.tracer.span(s"ops.$key")(once()) else once()
      if (secs >= 0) Some(key -> Checks.digestOf(obs.get))
      else {
        // timeOnce only reports -1: run the key once more, untimed, to
        // record what it threw
        val f = try {
          noop(fns(key)(spark, sfDir))
          Failure(-1, key, "unknown", "failed once, passed on rerun")
        } catch { case t: Throwable => Failure.of(-1, key, t) }
        h.out.failures += f
        h.out.fail(Seq(s"mix $key: ${f.cls}: ${f.message}"))
        None
      }
    }.toMap
    h.tracer.opId = -1
    val first = pass(traced = false)
    h.listener.drain(spark)
    h.mark("mix warm-up")
    val second = pass(traced = true)
    h.tracer.attachJobs(h.listener.drain(spark))
    h.mark("mix")
    second.foreach { case (k, d) =>
      first.get(k).foreach(f => h.out.fail(Checks.digestProblems(s"mix $k digest", d, f)))
    }
    MixKeys.foreach { k =>
      h.tracer.spans.find(_.name == s"ops.$k").foreach { s =>
        h.out.layer(s"ops.$k.ms") = s.ms
        h.out.layer(s"ops.$k.cpu_ms") = s.jobs.map(_.cpuNs).sum / 1e6
        h.out.layer(s"ops.$k.jobs") = s.jobs.size.toDouble
      }
    }
  }
}
