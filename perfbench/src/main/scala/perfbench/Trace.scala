package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One finished Spark job as the listener saw it: wall interval (epoch
  * ms, Spark's clock), the call site that submitted it, and its stage and
  * task totals. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, callSite: String,
    stages: Int, tasks: Int, cpuNs: Long, schedDelayMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    gcMs: Long, outputBytes: Long)

/** Scheduler-side counters, always on: the untraced run needs executor
  * CPU and job counts for its end-to-end metrics. Task and stage totals
  * are folded into their job when the job ends; [[drain]] hands out the
  * jobs finished since the last call. */
final class SchedListener extends SparkListener {
  private final class Acc {
    var stages = 0; var tasks = 0; var cpuNs = 0L; var sched = 0L
    var shR = 0L; var shW = 0L; var spill = 0L; var gc = 0L; var out = 0L
  }
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val accs = mutable.Map.empty[Int, Acc]
  private val starts = mutable.Map.empty[Int, (Long, String)]
  private val done = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short"))).orElse(
        e.stageInfos.headOption.map(_.name)).getOrElse("?")
    starts(e.jobId) = (e.time, site)
    accs(e.jobId) = new Acc
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageToJob.remove(e.stageInfo.stageId).flatMap(accs.get).foreach { a =>
        a.stages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageToJob.get(e.stageId).flatMap(accs.get).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gc += m.jvmGCTime
        a.out += m.outputMetrics.bytesWritten
        val i = e.taskInfo
        // the web UI's scheduler-delay formula
        a.sched += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (t0, site) = starts.remove(e.jobId).getOrElse((e.time, "?"))
    val a = accs.remove(e.jobId).getOrElse(new Acc)
    stageToJob.filterInPlace((_, j) => j != e.jobId)
    done.add(JobRec(e.jobId, t0, e.time, site, a.stages, a.tasks, a.cpuNs,
      a.sched, a.shR, a.shW, a.spill, a.gc, a.out))
  }

  /** Jobs finished since the last drain, after the async bus has caught
    * up with everything posted so far. */
  def drain(spark: SparkSession): Seq[JobRec] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val b = Seq.newBuilder[JobRec]
    var j = done.poll()
    while (j != null) { b += j; j = done.poll() }
    b.result().sortBy(_.id)
  }
}

/** A timed call made by the benchmark. Times are epoch ms with a
  * fractional part (nanoTime-derived), so spans and Spark's job times
  * share one clock. */
final class Span(val id: Int, val parent: Int, val opId: Int,
    val name: String, val start: Double) {
  var end: Double = Double.NaN
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = end - start
}

/** Spans around the benchmark's calls into the engine. Disabled (the
  * untraced run), [[span]] only runs its body. Enabled, it records name,
  * start, end, parent and op id; [[attachJobs]] then hangs each Spark job
  * under the innermost span whose interval holds the job's submission.
  * Everything stays in memory until [[writeJsonl]] at the end. */
final class Tracer(val enabled: Boolean) {
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var opId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        opId, name, nowMs)
      spans += s
      stack = s :: stack
      try body finally { s.end = nowMs; stack = stack.tail }
    }

  /** The innermost open span, to attach counts to. */
  def current: Option[Span] = stack.headOption

  def attachJobs(jobs: Seq[JobRec]): Unit = if (enabled) jobs.foreach { j =>
    val holders = spans.filter(s => s.start <= j.startMs + 1 &&
      (s.end.isNaN || j.startMs <= s.end))
    if (holders.nonEmpty) holders.maxBy(depth).jobs += j
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Self time: duration minus the union of what its children cover —
    * child spans and the Spark jobs hung under it. For a leaf call that is
    * the driver time it spent outside any job. */
  def selfMs(s: Span): Double = s.ms - Tracer.unionMs(
    spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq ++
      s.jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)), s.start, s.end)

  /** One line per span, then one per Spark job as a child span (id
    * `j<job id>`) whose counts are the job's stage and task totals. */
  def writeJsonl(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj("span" -> s.id, "parent" -> s.parent, "op" -> s.opId,
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "self_ms" -> selfMs(s), "counts" -> s.counts))
      s.jobs.foreach { j =>
        w.println(Json.obj("span" -> s"j${j.id}", "parent" -> s.id,
          "op" -> s.opId, "name" -> s"job: ${j.callSite}", "start" -> j.startMs,
          "end" -> j.endMs, "counts" -> mutable.LinkedHashMap(
            "stages" -> j.stages, "tasks" -> j.tasks, "cpu_ms" -> j.cpuNs / 1e6,
            "sched_delay_ms" -> j.schedDelayMs, "gc_ms" -> j.gcMs,
            "shuffle_read_bytes" -> j.shuffleReadBytes,
            "shuffle_write_bytes" -> j.shuffleWriteBytes,
            "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes)))
      }
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Driver time inside [lo, hi] with no job running. */
  def dwellMs(jobs: Seq[JobRec], lo: Double, hi: Double): Double =
    (hi - lo) - unionMs(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)),
      lo, hi)
}

/** Just enough JSON for the result line and the artifact. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
