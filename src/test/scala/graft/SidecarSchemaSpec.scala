package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Pins [[ColumnBridge.parquetFooterSchema]]: merge-on-read sidecars
  * (position deletes, equality-delete keys) and staged files are read
  * under a footer schema read on the driver, so building a MOR frame
  * schedules no Spark job — and the helper's schema is exactly the one
  * `spark.read.parquet` infers, file shape by file shape. */
class SidecarSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base = "target/graft_io/spec/sidecar_schema"
  private val sf = "/root/testdata/sf0.001"

  private def fs = new Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val t = s"$base/$name"
    fs.delete(new Path(t), true)
    Layout.invalidateManifestCache(spark, t)
    t
  }

  private def headLines(table: String): Seq[String] =
    Layout.manifestLinesOf(spark, table,
      Layout.currentVersion(fs, new Path(table)))

  private def abs(table: String, rel: String): String =
    new Path(table, rel).toString

  private def dataFiles(table: String): Seq[String] =
    headLines(table).map(l => abs(table, l.takeWhile(_ != '\t')))

  private def dvFiles(table: String): Seq[String] =
    headLines(table).flatMap(Layout.entryDvs).distinct.map(abs(table, _))

  private def eqFiles(table: String): Seq[String] =
    headLines(table).flatMap(Layout.entryEqs).map(_._1).distinct
      .map(abs(table, _))

  /** A merge-on-read table carrying live position deletes AND equality
    * deletes: two files, one upsert (its data files key `k`), one
    * delete (dv sidecar), one more upsert. Returns (table, expected
    * rows). */
  private def morTable(name: String): (String, Seq[(Long, String)]) = {
    import spark.implicits._
    val t = fresh(name)
    Layout.commitSnapshot(spark, t,
      (0L until 200L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2),
      props = Map(Layout.RowLevelModeProp -> "mor"))
    Layout.upsertByKeys(spark, t,
      Seq((5L, "u5"), (150L, "u150"), (900L, "n900")).toDF("k", "v"), "k")
    Layout.deleteWhere(spark, t, col("k") % 10 === 3)
    Layout.upsertByKeys(spark, t,
      Seq((6L, "w6"), (901L, "n901")).toDF("k", "v"), "k")
    val lines = headLines(t)
    assert(lines.exists(l => Layout.entryDvs(l).nonEmpty),
      "fixture carries no deletion vector")
    assert(lines.exists(l => Layout.entryEqs(l).nonEmpty),
      "fixture carries no equality delete")
    val upd = Map(5L -> "u5", 150L -> "u150", 6L -> "w6")
    val expected = ((0L until 200L) ++ Seq(900L, 901L))
      .filterNot(k => k % 10 == 3 && k < 200)
      .map(k => k -> upd.getOrElse(k,
        if (k >= 900) s"n$k" else s"v$k"))
    (t, expected)
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("k").cast("long"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  test("MOR frames with dvs and eq deletes build without a Spark job") {
    val (t, expected) = morTable("frames")
    val v = Layout.currentVersion(fs, new Path(t))
    var frames = Seq.empty[DataFrame]
    val jobs = JobCount.during(spark, "sidecar-plan") {
      frames = Seq(
        Layout.readSnapshot(spark, t),
        Layout.readSnapshotWhere(spark, t,
          Seq(Layout.SkipRange("k", 0L, 99L))),
        Layout.maskedDvRead(spark, t, v))
    }
    assert(jobs == 0, s"building the MOR frames scheduled $jobs job(s)")
    assert(rows(frames(0)) == expected)
    assert(rows(frames(1).where(col("k") < 100)) ==
      expected.filter(_._1 < 100))
    // the masked branch serves exactly the dv/eq-carrying files' rows
    val masked = rows(frames(2))
    assert(masked.nonEmpty && masked.forall(expected.contains))
  }

  test("footer schema == spark.read.parquet schema, file shape by shape") {
    import spark.implicits._
    def same(what: String, paths: Seq[String]): Unit = {
      assert(paths.nonEmpty, s"$what: no file")
      assert(ColumnBridge.parquetFooterSchema(spark, paths) ==
        spark.read.parquet(paths: _*).schema, what)
    }
    val (mor, _) = morTable("shapes_mor")
    same("dv sidecar", dvFiles(mor).take(1))
    same("dv sidecars", dvFiles(mor))
    same("eq sidecar, long key", eqFiles(mor).take(1))

    val intKey = fresh("shapes_int")
    Layout.commitSnapshot(spark, intKey,
      (0 until 50).map(i => (i, s"v$i")).toDF("k", "v"),
      props = Map(Layout.RowLevelModeProp -> "mor"))
    Layout.upsertByKeys(spark, intKey, Seq((3, "u3")).toDF("k", "v"), "k")
    same("eq sidecar, int key", eqFiles(intKey))

    val strKey = fresh("shapes_str")
    Layout.commitSnapshot(spark, strKey,
      (0 until 50).map(i => (s"id$i", i.toDouble)).toDF("id", "x"),
      props = Map(Layout.RowLevelModeProp -> "mor"))
    Layout.upsertByKeys(spark, strKey, Seq(("id3", -1.0)).toDF("id", "x"),
      "id")
    same("eq sidecar, string key", eqFiles(strKey))

    // fan-out staging: the duplicated __gp_* partition columns never
    // reach the data files, and explicit files infer no partition column
    val fan = fresh("shapes_fanout")
    Layout.commitSnapshot(spark, fan,
      (0 until 60).map(i => (i, i % 3, s"v$i")).toDF("k", "p", "v"),
      props = Map(Layout.PartitionedByProp -> "p"))
    assert(dataFiles(fan).size >= 3)
    same("fan-out staged file", dataFiles(fan).take(1))
    same("fan-out staged files", dataFiles(fan))

    // id-mapped table: footers carry parquet field ids in the metadata
    val renamed = fresh("shapes_renamed")
    Layout.commitSnapshot(spark, renamed,
      (0L until 20L).map(i => (i, i * 2.0)).toDF("id", "v"),
      props = Map(Layout.ColumnMappingProp -> "id"))
    Layout.renameColumn(spark, renamed, "v", "w")
    Layout.commitSnapshot(spark, renamed,
      Seq((99L, 1.0)).toDF("id", "w"))
    dataFiles(renamed).foreach(p => same(s"field-id file $p", Seq(p)))

    // parquet-cpp files: no Spark row metadata, the converter decides
    same("parquet-cpp lineitem", Seq(s"$sf/lineitem.parquet"))
    Seq("true", "false").foreach { flag =>
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> flag,
          "spark.sql.parquet.inferTimestampNTZ.enabled" -> flag,
          "spark.sql.parquet.binaryAsString" -> flag) {
        same(s"parquet-cpp events (flags $flag)", Seq(s"$sf/events.parquet"))
      }
    }
    val nanos = s"$base/nanos/ts.parquet"
    writeNanosFile(nanos)
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      same("TIMESTAMP(NANOS) under nanosAsLong", Seq(nanos))
      assert(ColumnBridge.parquetFooterSchema(spark, Seq(nanos))("ts")
        .dataType == org.apache.spark.sql.types.LongType)
    }
  }

  test("several files: the footer of the lowest path decides, as inference") {
    import spark.implicits._
    val dir = s"$base/order"
    fs.delete(new Path(dir), true)
    Seq(1, 2).toDF("k").coalesce(1).write.parquet(s"$dir/b")
    Seq(3L).toDF("k").coalesce(1).write.parquet(s"$dir/a")
    Seq((4L, "x")).toDF("k", "extra").coalesce(1).write.parquet(s"$dir/c")
    def part(d: String) = fs.listStatus(new Path(s"$dir/$d")).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head.toString
    val files = Seq("b", "a", "c").map(part)
    Seq(files, files.reverse, files.take(1), files.drop(2)).foreach { ps =>
      assert(ColumnBridge.parquetFooterSchema(spark, ps) ==
        spark.read.parquet(ps: _*).schema, ps.mkString(", "))
    }
    assert(ColumnBridge.parquetFooterSchema(spark, files)("k").dataType ==
      org.apache.spark.sql.types.LongType)
    // a summary file outranks every data file, whatever its path
    val summary = s"$dir/b/_metadata"
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(part("c")), fs,
      new Path(summary), false, spark.sparkContext.hadoopConfiguration)
    val withSummary = Seq(part("a"), summary)
    assert(ColumnBridge.parquetFooterSchema(spark, withSummary) ==
      spark.read.parquet(withSummary: _*).schema)
    assert(ColumnBridge.parquetFooterSchema(spark, withSummary)
      .fieldNames.toSeq == Seq("k", "extra"))
  }

  test("upserts keyed int, then long: same rows whichever key file sorts first") {
    import spark.implicits._
    // txn dirs are random UUIDs, so either key file can sort first; a
    // read under one footer's type would fail whenever the int-keyed
    // file does. Rebuild until both orders have been read.
    val expected = ((0 until 10).map(i => i.toLong -> s"v$i").toMap ++
      Map(2L -> "u2", 3L -> "w3", 20L -> "n20")).toSeq.sortBy(_._1)
    var seen = Set.empty[Boolean]
    var attempts = 0
    while (seen.size < 2 && attempts < 12) {
      attempts += 1
      val t = fresh("key_widen")
      Layout.commitSnapshot(spark, t,
        (0 until 10).map(i => (i, s"v$i")).toDF("k", "v"),
        props = Map(Layout.RowLevelModeProp -> "mor"))
      Layout.upsertByKeys(spark, t, Seq((2, "u2")).toDF("k", "v"), "k")
      // one data file per upsert: each upsert's key file
      Layout.upsertByKeys(spark, t, Seq((3L, "w3"), (20L, "n20"))
        .toDF("k", "v").coalesce(1), "k")
      val keyFiles = eqFiles(t).sorted
      assert(keyFiles.size == 2)
      seen += spark.read.parquet(keyFiles.head).schema("k").dataType ==
        org.apache.spark.sql.types.IntegerType
      assert(rows(Layout.readSnapshot(spark, t)) == expected)
    }
    assert(seen.size == 2, s"only saw int-first == ${seen.head}")
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** One non-Spark parquet file with a TIMESTAMP(NANOS) column (no Spark
    * row metadata), written with parquet-mr's example writer. */
  private def writeNanosFile(p: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    fs.delete(new Path(p), true)
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary s (STRING); }")
    val w = ExampleParquetWriter.builder(new Path(p)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("s", "a"))
    finally w.close()
  }
}
