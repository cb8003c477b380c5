package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, workDir: File)

/** One failed op: the exception's class and the first line of its
  * message, not a bare sentinel. */
final case class Failure(op: Int, step: String, cls: String, message: String)

object Failure {
  def of(op: Int, step: String, t: Throwable): Failure = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val e = if (t.getMessage == null) root else t
    Failure(op, step, e.getClass.getName,
      Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse(""))
        .getOrElse("").take(300))
  }
}

/** Per-op record of the closed loop. `driverCpuMs` is the CPU time of the
  * thread that made the op's calls; `stealShare` the share of the host's
  * CPU time the hypervisor stole while the op ran. */
final case class OpRec(index: Int, ms: Double, startMs: Double, endMs: Double,
    jobs: Seq[JobRec], ok: Boolean, traced: Boolean, driverCpuMs: Double,
    stealShare: Double) {
  /** Executor (task) CPU time. */
  def cpuMs: Double = jobs.map(_.cpuNs).sum / 1e6
  /** Driver thread plus executor CPU time, net of steal: see [[CpuMark]]. */
  def netCpuMs: Double = (driverCpuMs + cpuMs) * (1 - stealShare)
  def dwellMs: Double = Tracer.dwellMs(jobs, startMs, endMs)
}

/** The calling thread's CPU time and the host's (steal, total) jiffies at
  * one instant.
  *
  * A thread's CPU time, as the JVM reads it from Linux, also counts the
  * time the hypervisor ran another guest while the thread held a virtual
  * CPU: measured on a shared 4-vCPU VM, an `etl_full` op's driver plus
  * executor CPU read 3.5–4.0 s at 20–34% steal and 2.7–3.1 s below 10%.
  * Scaled by one minus the steal share of the host's CPU time over the
  * same interval, it read 2.5–3.1 s at any steal. The end-to-end CPU
  * figures are that net time. */
final case class CpuMark(threadMs: Double, host: Option[(Long, Long)]) {
  /** Steal share of the host's CPU time since `from`; 0 where unknown. */
  def stealShareSince(from: CpuMark): Double = (for {
    (s0, t0) <- from.host
    (s1, t1) <- host if t1 > t0
  } yield (s1 - s0).toDouble / (t1 - t0)).getOrElse(0.0)

  /** Thread CPU since `from` plus `execMs`, net of steal, in ms. */
  def netCpuMsSince(from: CpuMark, execMs: Double): Double =
    (threadMs - from.threadMs + execMs) * (1 - stealShareSince(from))
}

object CpuMark {
  def now(): CpuMark = CpuMark(Harness.threadCpuMs(), Harness.hostCpu())
}

/** What a workload hands back: measured ops, failures, set-up times and
  * the extra figures only it can compute. */
final class Outcome {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[Failure] = mutable.ArrayBuffer.empty
  var setupOnceS: Double = 0
  var setupRepsS: Seq[Double] = Nil
  var sessionS: Double = 0
  /** The same three set-up parts as CPU seconds, net of steal. */
  var setupOnceCpuS: Double = 0
  var setupRepsCpuS: Seq[Double] = Nil
  var sessionCpuS: Double = 0
  var loopWallS: Double = 0
  /** Ops per period of the loop; measured ops come in whole periods. */
  var period: Int = 1
  val warmupMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var heapPeakMb: Double = 0
  /** Share of the host's CPU time stolen by the hypervisor in the loop. */
  var stealPct: Option[Double] = None
  /** Extra end-to-end figures (name -> (value, unit)) for the report. */
  val report: mutable.LinkedHashMap[String, (Double, String)] =
    mutable.LinkedHashMap.empty
  /** Per-layer metrics (name -> value); units come from [[Metrics]]. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Report lines for figures a run could not give, with the reason. */
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Anything else worth keeping in the artifact. */
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var correct: Boolean = true
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def fail(p: Seq[String]): Unit = if (p.nonEmpty) { correct = false; problems ++= p }
}

/** The harness every workload shares: the session, the scheduler
  * listener, the tracer and the closed loop. */
final class Harness(val cfg: Config) {
  val tracer = new Tracer(cfg.trace)
  val listener = new SchedListener
  val out = new Outcome
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Marks a phase on standard error, in seconds since the JVM started. */
  def mark(phase: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s $phase")

  val spark: SparkSession = {
    val m0 = CpuMark.now()
    val t0 = System.nanoTime()
    val s = tracer.span("GraftSession.getOrCreate") {
      graft.GraftSession.builder()
        .config("spark.sql.warehouse.dir",
          new File(cfg.workDir, "spark-warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(cfg.workDir, "spark-local").getAbsolutePath)
        .config("spark.graft.io.dir", new File(cfg.workDir, "graft_io").getAbsolutePath)
        .getOrCreate()
    }
    out.sessionS = (System.nanoTime() - t0) / 1e9
    out.sessionCpuS = CpuMark.now().netCpuMsSince(m0, 0) / 1000
    mark("session")
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    s
  }

  /** Runs a set-up step; returns its value, wall seconds and net CPU
    * seconds (the calling thread plus the step's Spark jobs). */
  private def setupStep[T](body: => T): (T, Double, Double) = {
    listener.drain(spark)
    val m0 = CpuMark.now()
    val t0 = System.nanoTime()
    val v = tracer.span("setup") { body }
    val wall = (System.nanoTime() - t0) / 1e9
    val jobs = listener.drain(spark)
    tracer.attachJobs(jobs)
    (v, wall, CpuMark.now().netCpuMsSince(m0, jobs.map(_.cpuNs).sum / 1e6) / 1000)
  }

  /** The part of set-up that runs once (rendering shared inputs). */
  def setupOnce[T](body: => T): T = {
    val (v, wall, cpu) = setupStep(body)
    out.setupOnceS += wall
    out.setupOnceCpuS += cpu
    v
  }

  /** Median-of-`reps` set-up: `body(rep)` runs `reps` times, each into
    * fresh state; the last run's value is kept. */
  def setup[T](reps: Int)(body: Int => T): T = {
    val runs = (0 until reps).map(r => setupStep(body(r)))
    out.setupRepsS = runs.map(_._2)
    out.setupRepsCpuS = runs.map(_._3)
    mark("setup")
    runs.last._1
  }

  /** Closed loop, one client: `op(i)` runs only after op i-1 returned.
    *
    *  - `warmup` ops run first, untraced and unmeasured. Then ops run in
    *    whole `period`s, at least `minOps`, and stop at the period boundary
    *    nearest to `seconds`: the loop ends once fewer than half of the last
    *    period's duration is left, so a run's op count does not flip
    *    between one and two periods when a period takes about `seconds`. A
    *    traced run alternates untraced and traced periods, at least one of
    *    each, for the tracing overhead.
    *  - `before(i)` prepares op i's input, untimed.
    *  - An op that throws is a failure, recorded with its cause.
    *    `check(i)` runs after each op, untimed; an op whose check finds
    *    problems is a failure too, and makes the run incorrect.
    *  - After each measured op, untimed, a full GC leaves the heap still in
    *    use; its maximum is the driver's heap high-water mark. */
  def loop(warmup: Int, minOps: Int, period: Int = 1,
      before: Int => Unit = _ => ())
      (op: Int => Unit)(check: Int => Seq[String]): Unit = {
    var i = 0
    def once(measured: Boolean, traced: Boolean): Unit = {
      before(i)
      listener.drain(spark)
      tracer.opId = i
      untraced = !traced
      val m0 = CpuMark.now()
      val t0 = tracer.nowMs
      val ran = try { op(i); true } catch {
        case f: OpFailed => out.failures ++= f.failures; false
        case t: Throwable if scala.util.control.NonFatal(t) =>
          out.failures += Failure.of(i, "op", t); false
      } finally untraced = false
      val t1 = tracer.nowMs
      val m1 = CpuMark.now()
      val jobs = listener.drain(spark)
      if (traced) tracer.attachJobs(jobs)
      val problems = if (ran) check(i).map(p => s"op $i: $p") else Nil
      out.fail(problems)
      if (measured) {
        out.ops += OpRec(i, t1 - t0, t0, t1, jobs, ran && problems.isEmpty, traced,
          m1.threadMs - m0.threadMs, m1.stealShareSince(m0))
        out.heapPeakMb = math.max(out.heapPeakMb, liveHeapMb())
      } else out.warmupMs += t1 - t0
      i += 1
    }
    out.period = period
    (0 until warmup).foreach(_ => once(measured = false, traced = false))
    mark("warm-up")
    val start = System.nanoTime()
    val cpu0 = Harness.hostCpu()
    val deadline = start + (cfg.seconds * 1e9).toLong
    val least = if (tracer.enabled) math.max(minOps, 2 * period) else minOps
    var n = 0
    var periodStart = start
    var lastPeriod = 0L
    while (n < least || n % period != 0 || System.nanoTime() + lastPeriod / 2 < deadline) {
      once(measured = true, traced = tracer.enabled && (n / period) % 2 == 1)
      n += 1
      if (n % period == 0) {
        val now = System.nanoTime()
        lastPeriod = now - periodStart
        periodStart = now
      }
    }
    out.loopWallS = (System.nanoTime() - start) / 1e9
    out.stealPct = for (a <- cpu0; b <- Harness.hostCpu() if b._2 > a._2)
      yield 100.0 * (b._1 - a._1) / (b._2 - a._2)
    mark("loop")
  }

  /** Heap in use after a full GC. The first GC queues what Spark's
    * ContextCleaner must release (broadcasts, shuffles, cached blocks);
    * the cleaner thread polls every 100 ms, and a second GC after it has
    * run reads the heap without the cleaner's timing in it. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(150)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Set while an op runs untraced, so its calls leave no spans. */
  private var untraced = false

  /** A span, unless this op is an untraced one of a traced run. */
  def span[T](name: String)(body: => T): T =
    if (untraced) body else tracer.span(name)(body)

  /** Attach a count to the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (!untraced) tracer.current.foreach(_.counts(name) = v)

  def stop(): Unit = {
    mark("checks")
    listener.drain(spark)
    spark.stop()
    mark("stopped")
  }
}

object Harness {
  /** CPU time of the calling thread, in ms. */
  def threadCpuMs(): Double = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e6

  /** (steal, total) jiffies of the host's CPUs, from Linux's /proc/stat;
    * None elsewhere. On a VM, steal is time the hypervisor gave another
    * guest: wall-clock figures of a run with high steal read slow, and so
    * do thread CPU times (see [[CpuMark]]). */
  def hostCpu(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case _: Exception => None }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** The median, or 0 when there are no samples (a layer not reached). */
  def median0(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  /** The highest whole percentile with at least ten samples above it,
    * and its value; None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val p = math.min(99, math.floor(100.0 * (xs.size - 10) / xs.size).toInt)
      val s = xs.sorted
      // nearest rank: the value with 10 or more samples strictly above it
      Some(p -> s(math.min(s.size - 11, math.ceil(p / 100.0 * s.size).toInt - 1)
        .max(0)))
    }
}
