package graft

import org.apache.spark.sql.SparkSession

/** Names the phase of a verb that the enclosed Spark jobs belong to.
  * Inside [[apply]] every job carries the description `"<verb> <phase>"`
  * (what the Spark UI shows and a listener reads as
  * `spark.job.description`) and the job tag `"<verb>:<phase>"`. Both are
  * SparkContext thread-local properties: AQE's query-stage and broadcast
  * threads capture them from the submitting thread, and no session conf
  * is written, so a query planned concurrently on another thread never
  * sees them. The caller's description and tags come back afterwards,
  * also when the body throws, so phases nest. Used by the CNPJ pipeline
  * (`cnpj load <table>`, `cnpj flagship`, `cnpj export`) and by the table
  * verbs a refresh runs: `commitSnapshot stage`, `upsertByKeys stage`,
  * `deleteWhere sidecar` (merge-on-read), `deleteWhere probe` and
  * `deleteWhere rewrite` (copy-on-write), `compactDeletes rewrite`. */
object Phase {
  private val Description = "spark.job.description"
  private val Tags = "spark.job.tags"

  def apply[T](verb: String, phase: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val saved = Seq(Description, Tags).map(k => k -> sc.getLocalProperty(k))
    sc.setJobDescription(s"$verb $phase")
    sc.addJobTag(s"$verb:$phase")
    try body
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
