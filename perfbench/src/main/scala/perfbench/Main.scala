package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** Metric names and units. BENCHMARK.json lists the same two sets; the
  * benchmark's tests hold them equal. */
object Metrics {
  /** Printed by an untraced run (`--trace 0`), on every workload. The two
    * times are CPU times net of steal ([[CpuMark]]): on a shared VM the
    * wall figures move with the other guests' load, so they are reported
    * but not bounded. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cpu_ms_per_op" -> "ms",
    "jobs_per_op" -> "count")

  private val mixKeyMetrics: Seq[(String, String)] = Workloads.MixKeys.flatMap(k =>
    Seq(s"ops.$k.ms" -> "ms", s"ops.$k.cpu_ms" -> "ms", s"ops.$k.jobs" -> "count"))

  /** Printed by a traced run (`--trace 1`), on every workload; a layer the
    * workload does not reach reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "GraftSession.start_ms" -> "ms",
    "cnpj.Ingest.parse_ms" -> "ms",
    "cnpj.Ingest.input_mb" -> "MB",
    "cnpj.Ingest.rows" -> "count",
    "cnpj.Warehouse.cast_ms" -> "ms",
    "cnpj.Warehouse.write_ms" -> "ms",
    "cnpj.Warehouse.written_mb" -> "MB",
    "cnpj.Warehouse.files" -> "count",
    "cnpj.Warehouse.analyze_ms" -> "ms",
    "cnpj.Warehouse.analyze_jobs" -> "count",
    "cnpj.Warehouse.resolve_ms" -> "ms",
    "cnpj.Flagship.plan_ms" -> "ms",
    "cnpj.Flagship.exec_ms" -> "ms",
    "cnpj.Flagship.rows_scanned_per_row_out" -> "ratio",
    "cnpj.Flagship.broadcast_joins" -> "count",
    "cnpj.Flagship.shuffle_mb" -> "MB",
    "cnpj.Export.shard_write_ms" -> "ms",
    "cnpj.Export.merge_ms" -> "ms",
    "cnpj.Export.bytes" -> "bytes",
    "ops.Layout.commit_ms" -> "ms",
    "ops.Layout.upsert_ms" -> "ms",
    "ops.Layout.upsert_jobs" -> "count",
    "ops.Layout.delete_ms" -> "ms",
    "ops.Layout.delete_jobs" -> "count",
    "ops.Layout.compact_ms" -> "ms",
    "ops.Layout.compact_mb_rewritten" -> "MB",
    "ops.Layout.scan_ms" -> "ms",
    "ops.Layout.scan_files_ratio" -> "ratio",
    "ops.Layout.dv_files_live" -> "count",
    "ops.Layout.sidecars_live" -> "count",
    "ops.Layout.write_amp" -> "ratio") ++ mixKeyMetrics ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.dwell_ms" -> "ms",
    "spark.sched_delay_ms" -> "ms",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.gc_ms" -> "ms",
    "spark.exec_cpu_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** The end-to-end figures of an untraced run. `cpu_ms_per_op` is the
    * median over the loop's periods of each period's mean, so every kind
    * of op in a period (a compaction cycle and three plain ones) weighs
    * the same in every run; `jobs_per_op`, an exact count, is the mean. */
  def endToEndValues(o: Outcome): Map[String, Double] = {
    val all = o.ops.toSeq
    val perPeriod = all.grouped(o.period).map(p => p.map(_.netCpuMs).sum / p.size).toSeq
    Map(
      "setup_s" -> (o.sessionCpuS + o.setupOnceCpuS + Stats.median(o.setupRepsCpuS)),
      "cpu_ms_per_op" -> (if (all.isEmpty) Double.NaN else Stats.median(perPeriod)),
      "jobs_per_op" -> all.map(_.jobs.size.toDouble).sum / all.size)
  }

  /** Wall-clock and raw CPU figures of an untraced run, for the report. */
  def wallValues(o: Outcome): Seq[(String, (Double, String))] = {
    val ok = o.ops.filter(_.ok).toSeq
    Seq(
      "setup_wall_s" -> (o.sessionS + o.setupOnceS + Stats.median(o.setupRepsS), "s"),
      "op_p50_ms" -> (Stats.median0(ok.map(_.ms)), "ms"),
      "ops_per_s" -> (ok.size / o.loopWallS, "1/s"),
      "exec_cpu_ms_per_op" -> (o.ops.map(_.cpuMs).sum / o.ops.size, "ms"),
      "driver_cpu_ms_per_op" -> (o.ops.map(_.driverCpuMs).sum / o.ops.size, "ms"),
      "steal_share" -> (Stats.median0(o.ops.map(_.stealShare)), "ratio"))
  }

  /** Scheduler figures per measured op, and the tracing overhead. */
  def schedulerValues(o: Outcome): Map[String, Double] = {
    val ops = o.ops.toSeq
    def perOp(f: JobRec => Double) = ops.map(_.jobs.map(f).sum).sum / ops.size
    val mb = 1048576.0
    val traced = ops.filter(r => r.traced && r.ok).map(_.ms)
    val untraced = ops.filter(r => !r.traced && r.ok).map(_.ms)
    Map(
      "GraftSession.start_ms" -> o.sessionS * 1000,
      "spark.jobs" -> ops.map(_.jobs.size.toDouble).sum / ops.size,
      "spark.stages" -> perOp(_.stages),
      "spark.tasks" -> perOp(_.tasks),
      "spark.dwell_ms" -> ops.map(_.dwellMs).sum / ops.size,
      "spark.sched_delay_ms" -> perOp(_.schedDelayMs),
      "spark.shuffle_read_mb" -> perOp(_.shuffleReadBytes / mb),
      "spark.shuffle_write_mb" -> perOp(_.shuffleWriteBytes / mb),
      "spark.spill_mb" -> perOp(_.spillBytes / mb),
      "spark.gc_ms" -> perOp(_.gcMs),
      "spark.exec_cpu_ms" -> perOp(_.cpuNs / 1e6),
      "trace.overhead_ms" ->
        (if (traced.isEmpty || untraced.isEmpty) 0.0
         else Stats.median(traced) - Stats.median(untraced)))
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: runs one workload and prints, last, one JSON line with
  * `correct`, `attempted`, `failed` and `metrics`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    if (!Workloads.names.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of " +
        Workloads.names.mkString(", "))
      sys.exit(2)
    }
    val work = new File(a("work"))
    FileTree.deleteRecursively(work)
    work.mkdirs()
    val cfg = Config(workload, a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", work)
    val h = new Harness(cfg)
    try Workloads.run(h) finally h.stop()
    println(result(h, new File(a.getOrElse("out", work.getPath))))
  }

  def result(h: Harness, outDir: File): String = {
    val o = h.out
    val cfg = h.cfg
    val e2e = Metrics.endToEndValues(o)
    val layer: Map[String, Double] =
      Metrics.perLayer.map(_._1).map(n => n -> 0.0).toMap ++
        Metrics.schedulerValues(o) ++ o.layer
    val chosen =
      if (cfg.trace) Metrics.perLayer.map { case (n, u) => n -> (layer(n), u) }
      else Metrics.endToEnd.map { case (n, u) => n -> (e2e(n), u) }
    val failedOps = o.ops.count(!_.ok)
    if (chosen.exists(_._2._1.isNaN)) o.fail(Seq("no op completed"))

    // the human-readable report, and the artifact
    val tail = Stats.tail(o.ops.filter(_.ok).map(_.ms).toSeq)
    val report = mutable.LinkedHashMap[String, (Double, String)]()
    Metrics.endToEnd.foreach { case (n, u) => report(n) = (e2e(n), u) }
    report ++= Metrics.wallValues(o)
    report("heap_peak_mb") = (o.heapPeakMb, "MB")
    tail.foreach { case (p, v) => report("op_tail_ms") = (v, s"ms@p$p") }
    if (tail.isEmpty) o.notes.prepend(s"op_tail_ms: ${o.ops.count(_.ok)} samples, fewer than 11")
    report ++= o.report
    report("failed_frac") = (failedOps.toDouble / math.max(1, o.ops.size), "ratio")
    println(s"# ${cfg.workload} seed=${cfg.seed} trace=${if (cfg.trace) 1 else 0} " +
      s"ops=${o.ops.size} failed=$failedOps correct=${o.correct} " +
      s"loop=closed clients=1 seconds=${cfg.seconds}" +
      o.stealPct.fold("")(p => f" steal=$p%.1f%%"))
    report.foreach { case (n, (v, u)) => println(f"#   $n%-28s $v%14.4f $u") }
    o.notes.foreach(n => println(s"#   $n"))
    if (cfg.trace) layer.toSeq.sortBy(_._1).foreach { case (n, v) =>
      println(f"#   $n%-44s $v%14.4f") }
    o.failures.foreach(f => println(s"# failure op=${f.op} ${f.step}: ${f.cls}: ${f.message}"))
    o.problems.take(20).foreach(p => println(s"# check failed: $p"))

    outDir.mkdirs()
    val stem = s"${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}"
    val w = new PrintWriter(new File(outDir, s"$stem.json"), "UTF-8")
    try w.println(Json.obj(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "trace" -> cfg.trace, "loop" -> "closed", "clients" -> 1,
      "ops" -> o.ops.size, "failed" -> failedOps, "correct" -> o.correct,
      "steal_pct" -> o.stealPct,
      "session_s" -> o.sessionS, "setup_once_s" -> o.setupOnceS,
      "setup_reps_s" -> o.setupRepsS, "session_cpu_s" -> o.sessionCpuS,
      "setup_once_cpu_s" -> o.setupOnceCpuS, "setup_reps_cpu_s" -> o.setupRepsCpuS,
      "report" -> report.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "per_layer" -> (if (cfg.trace) layer else Map.empty),
      "warmup_ms" -> o.warmupMs, "op_ms" -> o.ops.map(_.ms), "op_traced" -> o.ops.map(_.traced),
      "op_jobs" -> o.ops.map(_.jobs.size), "op_cpu_ms" -> o.ops.map(_.netCpuMs),
      "op_steal_share" -> o.ops.map(_.stealShare),
      "failures" -> o.failures.map(f => mutable.LinkedHashMap(
        "op" -> f.op, "step" -> f.step, "class" -> f.cls, "message" -> f.message)),
      "problems" -> o.problems, "notes" -> o.notes, "info" -> o.info))
    finally w.close()
    if (cfg.trace) h.tracer.writeJsonl(new File(outDir, s"$stem.spans.jsonl"))

    Json.obj(
      "correct" -> o.correct,
      "attempted" -> o.ops.size,
      "failed" -> failedOps,
      "metrics" -> mutable.LinkedHashMap(chosen.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
  }
}
