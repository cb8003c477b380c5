package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is executed twice and the FASTER run is reported: the first
  * execution pays JVM/JIT/codegen warmup that a long-lived cluster never
  * sees per-query, and what we're measuring is plan cost, not HotSpot
  * compilation. AQE is on — it is the production configuration this
  * engine is designed for (runtime broadcast demotion, skew splitting).
  *
  * Contention evidence: the r8 driver artifact reported a 3.5× phantom
  * regression caused by machine contention during the bench window (an
  * idle-box rerun measured 99 s where the artifact said 342 s). To make
  * such runs self-labeling, the JSON now carries `loadavg` (1-minute
  * system load sampled before and after the loop) and `cpu_wall_ratio`
  * (this JVM's process-CPU seconds ÷ wall seconds over the whole loop).
  * On an idle local[32] box the ratio sits well above 1; a contaminated
  * run shows high loadavg with a depressed ratio — external processes
  * are stealing the cores. Additionally any key whose two timed runs
  * disagree by >3× gets a THIRD run and reports the median, so a single
  * scheduler hiccup cannot define a key's number.
  */
object Bench {
  private def loadAvg1m(): Double = {
    // ManagementFactory's getSystemLoadAverage reads /proc/loadavg on
    // Linux; -1 on platforms without the concept.
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
  }

  private def processCpuSec(): Double = {
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9 // nanoseconds of CPU across all threads
      case _ => -1.0
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(s"local[$cpus]", Some(cpus.toInt))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The clearCaches + noop-sink + -1-sentinel contract (and the
    // rationale for each choice) lives in BenchProtocol, shared with
    // ScaleProbe and perfbench so the three measure identically.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = BenchProtocol.timeOnce(spark, sfDir, fn)
    // One untimed global warmup before the loop: the first keys in
    // alphabetical order otherwise absorb JVM/codegen/parquet-footer
    // warmup that later keys don't pay, making per-key numbers
    // incomparable across rounds (q_agg_group swung 0.6 s ↔ 1.4 s purely
    // by bench position). A join+agg+window composite touches the major
    // codepaths once.
    timeOnce(ops.Relational.queries("q_star_join"))
    timeOnce(ops.Windows.queries("q_window_rank"))
    // per-key executor-CPU attribution (protocol r12.cpu): wall seconds
    // alone cannot distinguish a plan regression from a hotter box — r11
    // showed a broad ~1.3× wall drift on untouched keys purely from
    // machine load. CPU-ns per run is load-invariant for a fixed plan,
    // so the next round diffs cpu_ns to find REAL regressions and
    // wall/cpu to find contention.
    val cpu = new BenchProtocol.CpuListener
    spark.sparkContext.addSparkListener(cpu)
    val loadBefore = loadAvg1m()
    val cpuBefore = processCpuSec()
    val wallBefore = System.nanoTime()
    var rerunCount = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((n, fn), seq) =>
      // Run-sequence forensics (r15 verdict task 2): two rounds running,
      // a single key blew up ONLY inside the official loop (r14
      // q_image_dedup_cluster, r15 q_corpus_clean_lsh) and bisecting
      // required re-runs because the artifact carried no per-key
      // environment. Sampling the 1-minute loadavg at each key's start
      // makes such anomalies self-describing: a key with wall≫cpu and a
      // spiked load-at-key is contention; flat load with high CPU is a
      // real plan problem.
      val loadAtKey = loadAvg1m()
      val cpu0 = cpu.snapshot(spark)
      var runs = 2
      val a = timeOnce(fn)
      val b = timeOnce(fn)
      val t =
        if (a < 0 || b < 0) -1.0
        else if (math.max(a, b) > 3 * math.min(a, b) && math.max(a, b) > 0.5) {
          // >3× disagreement between the two runs (and the slow one is
          // non-trivial): a scheduler hiccup or GC pause hit one of them.
          // Take a tie-breaking third run and report the median so one
          // bad sample can't define the key.
          runs += 1
          val c = timeOnce(fn)
          if (c < 0) math.min(a, b)
          else Seq(a, b, c).sorted.apply(1)
        } else
          // moderate spread on a non-trivial key: r10's round-over-round
          // "regressions" (q_fuzzy_join, q_unpivot) were exactly this
          // band — run-to-run variance, not plan changes. One more
          // sample and min-of-3 bounds it (band + floor constants and
          // their calibration: BenchProtocol).
          BenchProtocol.boundedMin(a, b, { runs += 1; timeOnce(fn) })
      rerunCount += runs - 2
      // mean executor-CPU per run: totals would penalize triple-measured
      // keys; the mean is comparable across keys and across rounds
      val cpuPerRun = (cpu.snapshot(spark) - cpu0) / runs
      (n, t, cpuPerRun, seq, loadAtKey)
    }
    val wallSec = (System.nanoTime() - wallBefore) / 1e9
    val cpuAfter = processCpuSec()
    val loadAfter = loadAvg1m()
    // CPU/wall over the whole timed loop: >1 means this JVM held multiple
    // cores throughout (healthy at local[32]); ≈1 or below with a high
    // loadavg means external contention stole the machine.
    val cpuWallRatio =
      if (cpuBefore < 0 || cpuAfter < 0 || wallSec <= 0) -1.0
      else (cpuAfter - cpuBefore) / wallSec
    // per-query seconds rounded to ms: sub-ms digits are pure noise and
    // ~40% of the artifact line's length
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v, _, _, _) =>
      "\"" + k + "\":" + (if (v < 0) -1.0 else r3(v))
    }.mkString("{", ",", "}")
    // per-key mean executor-CPU ns per timed run (see protocol note)
    val cpuQs = results.map { case (k, _, c, _, _) =>
      "\"" + k + "\":" + c
    }.mkString("{", ",", "}")
    // per-key run order + 1-min loadavg at key start (protocol r16.seq):
    // lets a reader bisect in-loop-only anomalies from the artifact
    val seqQs = results.map { case (k, _, _, i, la) =>
      "\"" + k + "\":[" + i + "," + r3(la) + "]"
    }.mkString("{", ",", "}")
    // -1 marks a failed query; only successful times enter the total so a
    // failure can't make the benchmark look FASTER
    val ok = results.map(_._2).filter(_ >= 0.0)
    val total = ok.sum
    val failed = results.size - ok.size
    val env =
      s""""protocol":"${BenchProtocol.ProtocolVersion}",""" +
        s""""loadavg":{"before":${r3(loadBefore)},"after":${r3(loadAfter)}},""" +
        s""""cpu_wall_ratio":${r3(cpuWallRatio)},"wall_sec":${r3(wallSec)},""" +
        s""""triple_measured":$rerunCount"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,$env,"queries":$qs,"cpu_ns":$cpuQs,"run_seq":$seqQs,"sf":"$sfDir"}"""
    println(fullLine)
    // Self-persist the COMPLETE line: the stdout tail truncates the
    // per-query map's head every round, losing per-key regression diffs.
    // Round number = 1 + the highest driver-written BENCH_r{N}.json.
    val repoDir = {
      val r = new java.io.File("/root/repo")
      if (r.isDirectory) r else new java.io.File(".")
    }
    // Artifact naming is deterministic: an explicit path via
    // SPARK_GRAFT_BENCH_OUT (or argv(0)) is authoritative and no-clobber
    // suffixed if it already exists (a prior record); without one the
    // full line goes to BENCH_full_latest.json, overwritten by design —
    // it means "the most recent run on this box", never a round claim.
    // (The old fallback inferred "round N+1" from driver-written
    // BENCH_r{N}.json files and mis-labeled a round when the driver wrote
    // its file first — a guess baked into a filename is worse than an
    // honest LATEST.)
    val explicitOut =
      sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(args.headOption)
    val outFile = explicitOut match {
      case Some(p) =>
        val f = new java.io.File(p)
        if (!f.exists) f
        else {
          val alt = Iterator.from(1)
            .map(i => new java.io.File(p + s".$i"))
            .find(!_.exists).get
          println(s"""{"warn":"$p exists; writing ${alt.getPath}"}""")
          alt
        }
      case None =>
        println(s"""{"warn":"SPARK_GRAFT_BENCH_OUT unset; writing BENCH_full_latest.json (overwrite-by-design, no round inference)"}""")
        new java.io.File(repoDir, "BENCH_full_latest.json")
    }
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(fullLine) finally w.close()
    println(s"""{"bench_full_written":"${outFile.getPath}"}""")
    // The artifact of record keeps only a bounded TAIL of stdout; with
    // 170+ keys the full contract line above overflows it and the
    // headline number (at the line's START) is what gets cut — it has
    // been lost three rounds running. The short headline prints as the
    // very LAST stdout line of the run: the r20 driver artifact ended up
    // `parsed: null` because the metric line was followed by the warn /
    // bench_full_written lines, so everything informational now prints
    // BEFORE this line and nothing after it (r21 verdict task 2).
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"n_queries":${results.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
