package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Keeps the last successful action's QueryExecution, so a traced op can
  * read its executed plan's operator counts and scan metrics. */
final class PlanCapture(spark: SparkSession) extends QueryExecutionListener {
  @volatile private var lastQe: Option[QueryExecution] = None
  spark.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = lastQe = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def clear(): Unit = lastQe = None
  def last: Option[QueryExecution] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    lastQe
  }
  def close(): Unit = spark.listenerManager.unregister(this)
}

object PlanCapture extends AdaptiveSparkPlanHelper {
  private def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collect(qe.executedPlan) { case s: FileSourceScanExec => s }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows the file scans produced (after pushed-down filters). */
  def scanRows(qe: QueryExecution): Long =
    scans(qe).map(metric(_, "numOutputRows")).sum

  def filesRead(qe: QueryExecution): Long = scans(qe).map(metric(_, "numFiles")).sum

  def broadcastJoins(qe: QueryExecution): Int =
    collect(qe.executedPlan) { case j: BroadcastHashJoinExec => j }.size
}
