package graft

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement harness ([[BenchProtocol]]): the one best-of
  * rule, the one listener, the one artifact writer, and [[Probe]]'s
  * subcommands run on a caller's session. Tiny local jobs only. */
class BenchProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("best-of rule: (samples in run order) → (figure, runs taken)") {
    val table = Seq(
      // a failed run is the -1 sentinel, no third sample
      (Seq(-1.0, 2.0), -1.0, 2),
      (Seq(2.0, -1.0), -1.0, 2),
      // spread ≤ 1.25×: min of 2 (fast or slow keys alike)
      (Seq(1.2, 1.0), 1.0, 2),
      (Seq(0.3, 0.2), 0.2, 2), // 1.5× but under the 0.4 s floor
      // > 1.25× with the faster run over 0.4 s: min of 3
      (Seq(1.0, 0.5, 0.45), 0.45, 3),
      (Seq(1.0, 0.5, 0.9), 0.5, 3),
      // > 3× with the slower run over 0.5 s: median of 3
      (Seq(0.1, 0.6, 0.2), 0.2, 3),
      (Seq(4.0, 1.0, 9.0), 4.0, 3),
      // a failed third run: min of the first two
      (Seq(0.1, 0.6, -1.0), 0.1, 3),
      (Seq(1.0, 0.5, -1.0), 0.5, 3))
    table.foreach { case (samples, want, wantRuns) =>
      val it = samples.iterator
      val (got, runs) = BenchProtocol.bestOf(() => it.next())
      assert((got, runs) == ((want, wantRuns)), s"samples $samples")
      assert(!it.hasNext, s"samples $samples: rule left runs unused")
    }
  }

  test("listener CPU sum equals the summed executorCpuTime of the job's tasks") {
    val lis = new BenchProtocol.Listener
    var taskCpu = 0L
    val tasks = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        synchronized(taskCpu += e.taskMetrics.executorCpuTime)
    }
    spark.sparkContext.addSparkListener(lis)
    spark.sparkContext.addSparkListener(tasks)
    try {
      spark.range(0, 200000, 1, 4).selectExpr("sum(id * id)").collect()
      lis.clear(spark)
      tasks.synchronized { taskCpu = 0L }
      spark.range(0, 200000, 1, 4).selectExpr("sum(id % 7)").collect()
      val sum = lis.cpuNs(spark)
      assert(sum > 0)
      assert(sum == tasks.synchronized(taskCpu))
      assert(lis.jobs.nonEmpty && lis.rows.nonEmpty)
      assert(lis.perJobEntries == 0, "per-job maps outlived their jobs")
    } finally {
      spark.sparkContext.removeSparkListener(lis)
      spark.sparkContext.removeSparkListener(tasks)
    }
  }

  test("dwell: 0 before a job that overlaps the previous one; per-job maps emptied") {
    val lis = new BenchProtocol.Listener
    def start(job: Int, t: Long, stages: Seq[Int]): Unit =
      lis.onJobStart(
        new SparkListenerJobStart(job, t, Seq.empty, new Properties) {
          override val stageIds: Seq[Int] = stages
        })
    def end(job: Int, t: Long): Unit =
      lis.onJobEnd(SparkListenerJobEnd(job, t, JobSucceeded))
    start(1, 100, Seq(10, 11))
    start(2, 150, Seq(12)) // starts before job 1 ends
    assert(lis.perJobEntries > 0)
    end(1, 200)
    end(2, 300)
    start(3, 350, Seq(13)) // 50 ms after the last end
    end(3, 400)
    assert(lis.jobs.map(j => j.jobId -> j.gapMs) ==
      Seq(1 -> 0L, 2 -> 0L, 3 -> 50L))
    assert(lis.perJobEntries == 0)
  }

  test("artifact writer: an explicit path is never clobbered") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact")
    try {
      val p = dir.resolve("BENCH.json").toString
      val written = Seq("a", "b", "c").map(BenchProtocol.writeArtifact(
        _, Some(p), "unused.json").getPath)
      assert(written == Seq(p, s"$p.1", s"$p.2"))
      assert(written.map(f => java.nio.file.Files.readString(
        java.nio.file.Paths.get(f)).trim) == Seq("a", "b", "c"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("artifact writer: no path writes the named file in the repository directory") {
    val name = s"probe-spec-${System.nanoTime()}.json"
    val f = BenchProtocol.writeArtifact("x", None, name)
    try {
      assert(f.getName == name)
      assert(new java.io.File(f.getParentFile, "build.sbt").isFile)
    } finally f.delete()
  }

  test("Probe explain and stages run on the suite's session and leave it usable") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Probe.run(spark, Seq("explain", "q_star_join", sf))
      Probe.run(spark, Seq("stages", "q_star_join", "1"), sf)
    }
    val text = out.toString("UTF-8")
    assert(text.contains("========== q_star_join =========="))
    assert(text.contains("Physical Plan"))
    assert(text.contains("== q_star_join run wall="))
    assert(text.contains("JOBS n="))
    assert("""BEST q_star_join wall=\d+\.\d{3} \(best of [23]\)""".r
      .findFirstIn(text).isDefined, text.takeRight(300))
    assert(spark.range(5).count() == 5)
    assert(intercept[IllegalArgumentException](
      Probe.run(spark, Seq("nope"))).getMessage.startsWith("usage:"))
  }
}
