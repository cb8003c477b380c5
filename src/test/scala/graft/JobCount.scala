package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Spark jobs a block of code schedules, for specs that pin a job
  * budget. */
object JobCount {

  /** Jobs started while `body` runs, counted by job group; a drain job
    * after it proves the async listener bus delivered everything. */
  def during(spark: SparkSession, group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new AtomicInteger
    val drained = new AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) seen.incrementAndGet()
        if (g == s"$group-drain") drained.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted jobs")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "bus drain marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (drained.get == 0 && System.nanoTime < deadline)
        Thread.sleep(20)
      assert(drained.get > 0, "listener bus never delivered the drain")
      seen.get
    } finally sc.removeSparkListener(l)
  }
}
