package graft

import java.lang.ref.SoftReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

/** The one rule for CONTROL-PLANE actions — a verb-internal probe whose
  * driver-side result is bounded by file/commit counts, never by data
  * volume (a uniqueness aggregate, an affected-file-name collect, a
  * limit(1) violation fetch): `ControlPlane(df)`
  * is `df` bound to a clone of its session with AQE off, so the action
  * taken on it plans without adaptive execution.
  *
  * Why AQE off: AQE materializes every shuffle of a query as its own
  * scheduled job plus a re-optimization pass, and each job pays an
  * inter-job driver floor (30-330 ms measured on the lifecycle verbs'
  * probes). A probe's reduce side is bounded (≤ one row per file / per
  * constraint / exactly one row), so adaptive replanning has nothing to
  * improve. The DATA-PLANE queries of every verb (staged writes,
  * snapshot reads, the declared readback) keep AQE.
  *
  * Why a clone: the caller's session is shared with whatever else plans
  * on it, so a setting made for one probe belongs to the probe. Each call
  * first copies the caller's runtime conf onto the clone, so the probe
  * plans under the caller's settings; a `newSession()` would plan under
  * SparkConf defaults. The clone runs on the caller's SparkContext and
  * cache manager (cached plans are reused) and under its own session
  * tag: `interruptAll()` on the caller does not reach a probe's jobs.
  *
  * Why cached: a session's first query costs tens of ms of CPU more than
  * its later ones (on 2 cores, a grouped 1-row probe took 123 ms of
  * process CPU on a fresh clone against 57 ms on a reused one), and the
  * lifecycle verbs run several probes per commit. Each thread keeps one
  * clone per (caller session, pinned width), so no two threads share a
  * clone's conf; the clone is softly held and made again after the JVM
  * reclaims it. A reused clone keeps the caller's query-execution
  * listeners from when it was made (the caller's observation listener is
  * always among them, see ColumnBridge.cloneSession): a listener
  * registered on the caller later does not see probe queries.
  *
  * `shufflePartitions`: a caller whose plan is PROVABLY tiny (a
  * size-dispatched iteration over a materialized cache measured under a
  * byte ceiling — see Sketches.labelPropagation) may also pin the static
  * shuffle width; without AQE's coalescing the session default (one
  * partition per core) would fan each shuffle into near-empty tasks.
  * Never set from a constant belief about the data — only behind a
  * measured size dispatch. */
object ControlPlane {
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WidthKey = "spark.sql.shuffle.partitions"

  def apply(df: DataFrame, shufflePartitions: Option[Int] = None): DataFrame =
    ColumnBridge.ofRows(probeSession(df.sparkSession, shufflePartitions),
      df.queryExecution.analyzed)

  private val clones = ThreadLocal.withInitial(() => new java.util.WeakHashMap[
    SparkSession, Map[Option[Int], SoftReference[SparkSession]]]())

  /** This thread's clone of `caller` for `width`, its conf set to the
    * caller's runtime conf with AQE off and the width pinned. */
  private def probeSession(caller: SparkSession, width: Option[Int])
      : SparkSession = {
    val byWidth = Option(clones.get.get(caller)).getOrElse(Map.empty)
    val probe = byWidth.get(width).flatMap(r => Option(r.get)).getOrElse {
      val c = ColumnBridge.cloneSession(caller)
      clones.get.put(caller, byWidth + (width -> new SoftReference(c)))
      c
    }
    val overrides = Map(AqeKey -> "false") ++
      width.map(n => WidthKey -> n.toString)
    val want = caller.conf.getAll ++ overrides
    val have = probe.conf.getAll
    (have.keySet -- want.keySet).foreach(k => probe.conf.unset(k))
    want.foreach { case (k, v) =>
      if (!have.get(k).contains(v)) probe.conf.set(k, v)
    }
    probe
  }
}
