package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Pins [[ControlPlane]]: a probe plans without AQE on a clone of the
  * caller's session, so nothing planned on the caller's session — even
  * while a probe is running — loses AQE or sees a changed conf. */
class ControlPlaneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val base = "target/graft_io/spec/control_plane"

  private def shuffleWidths(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions
    }

  /** Runs `body` while a probe is held open by a UDF blocked on a latch,
    * then releases the probe and checks its answer; returns the probe. */
  private def whileProbeRuns(body: => Unit): DataFrame = {
    ControlPlaneSpec.reset()
    val hold = udf { (x: Long) =>
      ControlPlaneSpec.entered.countDown()
      ControlPlaneSpec.release.await(60, TimeUnit.SECONDS)
      x
    }
    // one partition: the probe's blocked task holds one of the two cores
    val probe = ControlPlane(spark.range(0, 4, 1, 1)
      .select(hold(col("id")).as("x"))
      .groupBy(col("x") % 2).count())
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val running = Future(probe.collect())(
        ExecutionContext.fromExecutor(pool))
      assert(ControlPlaneSpec.entered.await(60, TimeUnit.SECONDS),
        "the probe never started")
      body
      ControlPlaneSpec.release.countDown()
      assert(Await.result(running, 60.seconds).map(_.getLong(1)).sum == 4L)
    } finally {
      ControlPlaneSpec.release.countDown()
      pool.shutdown()
    }
    probe
  }

  test("a running probe leaves AQE on for queries planned on the caller") {
    val probe = whileProbeRuns {
      val seen = (0 until 20).map(_ => spark.conf.get(AqeKey))
      val q = spark.range(0, 100).groupBy(col("id") % 3).count()
      assert(q.collect().map(_.getLong(1)).sum == 100L)
      assert(q.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        "a query planned while the probe ran lost AQE:\n" +
          q.queryExecution.executedPlan)
      assert(!seen.contains("false") && spark.conf.get(AqeKey) == "true",
        s"the caller's session read AQE as $seen")
    }
    assert(!probe.queryExecution.executedPlan
      .isInstanceOf[AdaptiveSparkPlanExec])
  }

  test("the caller's interruptAll does not reach a probe's jobs") {
    // the clone carries its own session tag, so the caller's
    // session-scoped cancel finds nothing of the probe's to cancel (and
    // whileProbeRuns still gets the probe's answer)
    whileProbeRuns(assert(spark.interruptAll().isEmpty))
  }

  test("a grouped collect through ControlPlane runs one job") {
    val sc = spark.sparkContext
    val group = s"control-plane-${System.nanoTime()}"
    sc.setJobGroup(group, "grouped probe")
    try {
      val rows = ControlPlane(spark.range(0, 1000)
        .groupBy((col("id") % 10).as("g")).count()).collect()
      assert(rows.length == 10 && rows.map(_.getLong(1)).sum == 1000L)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 1)
  }

  test("a probe plans under the caller's runtime conf; a pinned width " +
      "stays inside the probe") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "5") // a runtime setting only the caller has
    try {
      val df = spark.range(0, 100).groupBy((col("id") % 7).as("g")).count()
      assert(shuffleWidths(ControlPlane(df)) == Seq(5))
      val pinned = ControlPlane(df, Some(3))
      assert(pinned.collect().map(_.getLong(1)).sum == 100L)
      assert(shuffleWidths(pinned) == Seq(3))
      assert(spark.conf.get(key) == "5")
    } finally spark.conf.set(key, before)
  }

  test("an observation completes when its frame runs through a reused clone") {
    // earlier tests made this thread's clone before the session had any
    // observation: the frame observed now still reports to its caller
    ControlPlane(spark.range(0, 10).groupBy(col("id") % 2).count()).collect()
    val obs = org.apache.spark.sql.Observation("probe_rows")
    val observed = spark.range(0, 10).observe(obs, count(lit(1)).as("rows"))
    ControlPlane(observed.groupBy(col("id") % 2).count()).collect()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try assert(Await.result(Future(obs.get("rows"))(
      ExecutionContext.fromExecutor(pool)), 60.seconds) == 10L)
    finally pool.shutdownNow()
  }

  test("deleteWhere on a renamed column of an id-mapped table") {
    import spark.implicits._
    val t = s"$base/renamed"
    val root = new Path(t)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    Layout.invalidateManifestCache(spark, t)
    Layout.commitSnapshot(spark, t,
      (0L until 20L).map(i => (i, i * 2.0)).toDF("id", "v"),
      props = Map(Layout.ColumnMappingProp -> "id"))
    Layout.renameColumn(spark, t, "v", "w")
    // the caller starts out reading by name: the verb itself turns on
    // by-id reads for the files its probe scans
    spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    Layout.deleteWhere(spark, t, col("w") >= 30.0)
    val left = Layout.readSnapshot(spark, t)
      .select("id", "w").as[(Long, Double)].collect().sorted.toSeq
    assert(left == (0L until 15L).map(i => (i, i * 2.0)))
  }
}

object ControlPlaneSpec {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
}
