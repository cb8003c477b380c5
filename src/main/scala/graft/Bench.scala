package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query's figure is [[BenchProtocol.bestOf]] its runs: what we're
  * measuring is plan cost, not HotSpot compilation. AQE is on — it is the
  * production configuration this engine is designed for (runtime
  * broadcast demotion, skew splitting).
  *
  * Contention evidence: the r8 driver artifact reported a 3.5× phantom
  * regression caused by machine contention during the bench window (an
  * idle-box rerun measured 99 s where the artifact said 342 s). To make
  * such runs self-labeling, the JSON now carries `loadavg` (1-minute
  * system load sampled before and after the loop) and `cpu_wall_ratio`
  * (this JVM's process-CPU seconds ÷ wall seconds over the whole loop).
  * On an idle local[32] box the ratio sits well above 1; a contaminated
  * run shows high loadavg with a depressed ratio — external processes
  * are stealing the cores.
  */
object Bench {
  import BenchProtocol.{jsonObj, loadAvg1m, r3}

  private def processCpuSec(): Double = {
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9 // nanoseconds of CPU across all threads
      case _ => -1.0
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = BenchProtocol.sfDir
    val spark = GraftSession.local()
    // The clearCaches + noop-sink + -1-sentinel contract (and the
    // rationale for each choice) lives in BenchProtocol, shared with
    // Probe and perfbench so they all measure identically.
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
    val lis = new BenchProtocol.Listener
    spark.sparkContext.addSparkListener(lis)
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
      lis.clear(spark)
      val (t, runs) = BenchProtocol.bestOf(() => timeOnce(fn))
      rerunCount += runs - 2
      // mean executor-CPU per run: totals would penalize triple-measured
      // keys; the mean is comparable across keys and across rounds
      val cpuPerRun = lis.cpuNs(spark) / runs
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
    val qs = jsonObj(results.map { case (k, v, _, _, _) =>
      k -> (if (v < 0) -1.0 else r3(v)) })
    // per-key mean executor-CPU ns per timed run (see protocol note)
    val cpuQs = jsonObj(results.map { case (k, _, c, _, _) => k -> c })
    // per-key run order + 1-min loadavg at key start (protocol r16.seq):
    // lets a reader bisect in-loop-only anomalies from the artifact
    val seqQs = jsonObj(results.map { case (k, _, _, i, la) =>
      k -> s"[$i,${r3(la)}]" })
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
    // Artifact naming is deterministic (BenchProtocol.writeArtifact): an
    // explicit path via SPARK_GRAFT_BENCH_OUT (or argv(0)), else
    // BENCH_full_latest.json — never a round claim. (The old fallback
    // inferred "round N+1" from driver-written BENCH_r{N}.json files and
    // mis-labeled a round when the driver wrote its file first — a guess
    // baked into a filename is worse than an honest LATEST.)
    val explicitOut =
      sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(args.headOption)
    if (explicitOut.isEmpty)
      println(s"""{"warn":"SPARK_GRAFT_BENCH_OUT unset; writing BENCH_full_latest.json (overwrite-by-design, no round inference)"}""")
    val outFile = BenchProtocol.writeArtifact(fullLine, explicitOut,
      "BENCH_full_latest.json")
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
