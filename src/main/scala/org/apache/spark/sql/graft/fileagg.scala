package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{AggregatingAccumulator, SQLExecution}
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** Aggregates evaluated once per OUTPUT FILE by the task that writes the
  * file — the statistics a commit records come from the write itself,
  * never from a second job that reads the staged files back (the design
  * of Delta's `DeltaJobStatisticsTracker`). Resolved on the driver over
  * the rows the writer receives (`schema`); each file gets its own
  * buffer on the executor ([[FileAggregate.Buffer]]), which counts the
  * file's rows beside the aggregates. */
final class FileAggregate private (fns: Seq[NamedExpression],
    input: Seq[Attribute]) extends Serializable {

  /** The result row's shape: one field per aggregate, named by its alias. */
  private val resultSchema: StructType =
    StructType(fns.map(e => StructField(e.name, e.dataType, e.nullable)))

  /** Executor-side: a fresh buffer for one output file. */
  def newFile(): FileAggregate.Buffer = new FileAggregate.Buffer(
    if (fns.isEmpty) None else Some(AggregatingAccumulator(fns, input)),
    resultSchema)
}

object FileAggregate {

  /** Resolve aggregate columns `aggs` (each aliased) over rows of
    * `schema`. Built on the driver; evaluated only by [[Buffer]]s. */
  def apply(spark: SparkSession, schema: StructType, aggs: Seq[Column])
      : FileAggregate = {
    val attrs = DataTypeUtils.toAttributes(schema)
    if (aggs.isEmpty) return new FileAggregate(Nil, attrs)
    val analyzed = ColumnBridge.ofRows(spark, LocalRelation(attrs))
      .agg(aggs.head, aggs.tail: _*)
      .queryExecution.analyzed
    ReplaceExpressions(analyzed) match {
      case a: Aggregate => new FileAggregate(a.aggregateExpressions, attrs)
      case p => throw new IllegalStateException(
        s"FileAggregate: aggregates did not resolve to one Aggregate: $p")
    }
  }

  /** One file's running aggregate. Not thread-safe: one writer owns it. */
  final class Buffer private[FileAggregate] (
      acc: Option[AggregatingAccumulator], schema: StructType) {
    private var n = 0L
    def add(row: InternalRow): Unit = { acc.foreach(_.add(row)); n += 1 }
    def rows: Long = n
    /** The aggregates' values as an external row (the empty row when no
      * aggregate was asked for). */
    def result(): Row = acc.fold(Row.empty) { a =>
      CatalystTypeConverters.createToScalaConverter(schema)(a.value)
        .asInstanceOf[Row]
    }
  }

  /** One written file: its path relative to the output directory
    * (partition directories included), its row count and its aggregate
    * values. */
  final case class Written(rel: String, rows: Long, values: Row)

  /** Write `df` as parquet under `dir`, one directory level per
    * `partitionBy` column (Spark's dynamic-partition writer: sorted per
    * task, empty strings to the default partition), and evaluate `agg`
    * over each output file's rows as the file is written. `agg` must be
    * resolved over `df`'s columns minus `partitionBy` — the columns the
    * files hold. This is Spark's own V1 write (`FileFormatWriter` under
    * the session's commit protocol and parquet options) with one more
    * stats tracker; it runs as one SQL execution of `df`'s query, so
    * listeners and `Observation`s on `df` fire as for
    * `df.write.parquet(dir)`. Returns every file the job committed. */
  def writeParquet(df: DataFrame, dir: String, partitionBy: Seq[String],
      agg: FileAggregate): Seq[Written] = {
    import org.apache.hadoop.fs.Path
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cs = ds.sparkSession
    val qe = ds.queryExecution
    val tracker = new Tracker(agg, partitionBy.size)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val conf = cs.sessionState.newHadoopConf()
      val out = {
        val p = new Path(dir)
        p.getFileSystem(conf).makeQualified(p).toString
      }
      val committer = org.apache.spark.internal.io.FileCommitProtocol
        .instantiate(cs.sessionState.conf.fileCommitProtocolClass,
          java.util.UUID.randomUUID().toString, out)
      FileFormatWriter.write(cs, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(out, Map.empty, plan.output), conf,
        partitionBy.map(c => plan.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no partition column $c"))),
        None,
        Seq(new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(conf),
          BasicWriteJobStatsTracker.metrics), tracker),
        Map.empty)
    }
    tracker.written
  }

  private final case class TaskFiles(files: Seq[Written])
    extends WriteTaskStats

  /** Driver half: gathers the committed tasks' files. `depth` partition
    * directory levels sit between the output directory and each file. */
  private final class Tracker(agg: FileAggregate, depth: Int)
      extends WriteJobStatsTracker {
    @transient private[FileAggregate] var written: Seq[Written] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskTracker(agg, depth)

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      written = stats.flatMap { case TaskFiles(fs) => fs }
  }

  /** Task half: one buffer per open file, keyed by the path the writer
    * reports (a task attempt's temporary path — its last `depth + 1`
    * segments are the committed file's path under the output dir). */
  private final class TaskTracker(agg: FileAggregate, depth: Int)
      extends WriteTaskStatsTracker {
    private val open =
      scala.collection.mutable.HashMap.empty[String, Buffer]
    private val done = scala.collection.mutable.ArrayBuffer.empty[Written]

    override def newPartition(values: InternalRow): Unit = ()

    override def newFile(path: String): Unit = open(path) = agg.newFile()

    override def newRow(path: String, row: InternalRow): Unit =
      open(path).add(row)

    override def closeFile(path: String): Unit =
      open.remove(path).foreach { b =>
        val segs = new org.apache.hadoop.fs.Path(path).toUri.getPath
          .split('/')
        done += Written(segs.takeRight(depth + 1).mkString("/"), b.rows,
          b.result())
      }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toList.foreach(closeFile)
      TaskFiles(done.toList)
    }
  }
}
