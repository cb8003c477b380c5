package graft

import org.apache.spark.sql.DataFrame

import scala.util.DynamicVariable

/** The one size-tier dispatch policy: every operator with a small-input
  * path and a scale path asks here, on plan metadata only (no Spark job),
  * whether its input is at or under one of two ceilings:
  *   - [[LocalBytes]] (64 MB) gates the driver-local and AQE-off tiers and
  *     the small-scan fan-out: far above any local-testdata scan, far below
  *     anything a warehouse table reports;
  *   - [[BroadcastBytes]] (1 GiB) gates broadcasts of tables that grow with
  *     the data: well under Spark's 8 GB broadcast limit, about where
  *     per-executor rebroadcast stops beating a shuffled join.
  * Both are constants, not options: each has one value in use and no
  * deployment sets it. Each site's two paths return the same rows, so
  * tests pin both with [[forcing]] rather than by moving a threshold. */
object SizeTier {
  sealed trait Tier
  case object Small extends Tier
  case object Large extends Tier

  val LocalBytes: Long = 64L << 20
  val BroadcastBytes: Long = 1L << 30

  /** Catalyst's size estimate of `df`'s optimized plan: file bytes after
    * pruning for a scan, exact bytes for a materialized cache. */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private val forced = new DynamicVariable[Option[Tier]](None)

  /** `bytes` ≤ `ceiling`, unless a [[forcing]] scope decides (then
    * `bytes` is never evaluated). */
  def small(bytes: => BigInt, ceiling: Long): Boolean =
    forced.value.fold(bytes <= BigInt(ceiling))(_ == Small)

  def small(df: DataFrame, ceiling: Long): Boolean =
    small(planBytes(df), ceiling)

  /** `body` with every dispatch on this thread taking `tier`'s branch. */
  private[graft] def forcing[T](tier: Tier)(body: => T): T =
    forced.withValue(Some(tier))(body)
}
