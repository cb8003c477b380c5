package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.types.{LongType, Metadata, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Pins the in-task merge-on-read mask ([[graft.functions.MorMask]]):
  * every masked read — the DataFrame read core and the row-based SQL
  * scan ([[graft.sql.GraftCowScan]], whose `_pos` must equal
  * `_metadata.row_index`) — returns exactly the rows of the anti-join
  * form it replaced — kept here as the oracle — for position deletes,
  * equality deletes and both; nested equality sets; int-then-long,
  * string, floating (NaN, -0.0), NULL and composite keys, the upsert
  * cases with the upsert's own data files as the key set; several
  * sidecars per file and one sidecar over several files; a table
  * bucketed on its key, one `@eq` group per line per upsert; a
  * pushed-down filter that skips row groups; a renamed column of an
  * id-mapped table; key files whose non-key columns disagree in type
  * and in field ids. A row already deleted by key marks no file for a
  * copy-on-write rewrite. And a masked read is one Spark job at any
  * sidecar count. */
class MorMaskSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val base = "target/graft_io/spec/mor_mask"
  private val Mor = Map(Layout.RowLevelModeProp -> "mor")

  private def fs = new Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val t = s"$base/$name"
    fs.delete(new Path(t), true)
    Layout.invalidateManifestCache(spark, t)
    t
  }

  private def head(t: String): Int = Layout.currentVersion(fs, new Path(t))

  private def headLines(t: String): Seq[String] =
    Layout.manifestLinesOf(spark, t, head(t))

  private def relOf(line: String): String = line.takeWhile(_ != '\t')

  private def abs(t: String, rel: String): String = new Path(t, rel).toString

  /** The anti-join form masked reads used before the in-task mask: the
    * position sidecars of the dv'd lines anti-joined on (grp, pos), then
    * each distinct equality-delete set anti-joined on its key columns
    * under its key files' key columns widened into one schema, read by
    * name. Each row
    * carries its file's name and `_metadata.row_index` as `__name` and
    * `__pos`. */
  private def antiJoinRows(t: String, lines: Seq[String]): DataFrame = {
    val schema = Layout.versionSchema(spark, t, Some(head(t))).get
    Layout.ensureFieldIdRead(spark, schema)
    def read(ls: Seq[String]) =
      spark.read.schema(schema).parquet(ls.map(l => abs(t, relOf(l))): _*)
        .withColumn("__grp",
          substring_index(col("_metadata.file_path"), "/", -2))
        .withColumn("__name",
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn("__pos", col("_metadata.row_index"))
    def dvApplied(ls: Seq[String]): DataFrame = {
      val (dvLines, plain) = ls.partition(l => Layout.entryDvs(l).nonEmpty)
      if (dvLines.isEmpty) return read(plain)
      val del = Layout.readSidecars(spark,
          dvLines.flatMap(Layout.entryDvs).distinct.map(abs(t, _)))
        .select(col("grp").as("__grp"), col("pos").as("__pos"))
      val masked = read(dvLines).join(del, Seq("__grp", "__pos"), "left_anti")
      if (plain.isEmpty) masked else masked.unionByName(read(plain))
    }
    lines.groupBy(l => Layout.entryEqs(l).toSet).toSeq.map {
      case (eqSet, ls) =>
        if (eqSet.isEmpty) dvApplied(ls)
        else {
          val cols = eqSet.head._2
          val paths = eqSet.map(e => abs(t, e._1)).toSeq
          val keySchema = paths
            .map(p => StructType(cols.map(c =>
              ColumnBridge.parquetFooterSchema(spark, Seq(p))(c)
                .copy(metadata = Metadata.empty))))
            .reduce(Layout.mergeWiden)
          dvApplied(ls).join(spark.read.schema(keySchema).parquet(paths: _*)
            .select(cols.map(col): _*), cols, "left_anti")
        }
    }.reduce(_ unionByName _)
  }

  private def antiJoinRead(t: String, lines: Seq[String]): DataFrame =
    antiJoinRows(t, lines).drop("__grp", "__name", "__pos")

  /** `lines` read through the row-based SQL scan with `_file` and `_pos`
    * requested and `pushed` handed to parquet: the data columns, the
    * file's name as `__name`, `_pos` as `__pos`. The readers run here,
    * one per file, as a scan task would run them. */
  private def rowScanRead(t: String, lines: Seq[String],
      pushed: Seq[Filter]): DataFrame = {
    val schema = ColumnBridge.nullableSchema(
      Layout.versionSchema(spark, t, Some(head(t))).get)
    Layout.ensureFieldIdRead(spark, schema)
    val entries = lines.map { l =>
      val p = fs.makeQualified(new Path(t, relOf(l)))
      (l, p.toString, fs.getFileStatus(p).getLen)
    }
    val scan = new graft.sql.GraftCowScan(t, entries, schema,
      schema.add("_file", StringType).add("_pos", LongType), pushed.toArray,
      "spec")
    val out = scan.readSchema()
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(out)
    val factory = scan.createReaderFactory()
    val got = scan.planInputPartitions().toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next())
        .map(r => toRow(r.get()).asInstanceOf[org.apache.spark.sql.Row])
        .toList
      finally r.close()
    }
    spark.createDataFrame(java.util.Arrays.asList(got: _*), out)
      .withColumn("__name", substring_index(col("_file"), "/", -1))
      .withColumnRenamed("_pos", "__pos")
      .drop("_file")
  }

  private def maskedRead(t: String, lines: Seq[String]): DataFrame = {
    val root = new Path(t)
    Layout.readManifestLines(spark, fs, root, head(t), lines)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The masked read of `lines` equals the oracle's, and is not empty;
    * so does their read through the row-based SQL scan (`pushed` handed
    * to parquet), its `_pos` included. */
  private def sameAsOracle(t: String, lines: Seq[String] = Nil,
      where: Column = lit(true), pushed: Seq[Filter] = Nil): Seq[String] = {
    val ls = if (lines.isEmpty) headLines(t) else lines
    val got = rows(maskedRead(t, ls).where(where))
    assert(got == rows(antiJoinRead(t, ls).where(where)))
    assert(got.nonEmpty, "fixture masks every row")
    val scanned = rowScanRead(t, ls, pushed).where(where)
    assert(rows(scanned) == rows(antiJoinRows(t, ls).where(where)
      .select(scanned.columns.toSeq.map(col): _*)),
      "the row-based SQL scan masks (or numbers its rows) differently")
    got
  }

  /** `line` with an equality-delete group on `sidecarRel` keyed on
    * `cols` (the manifest's `@eq` grammar). */
  private def withEq(line: String, sidecarRel: String,
      cols: Seq[String]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    line + "\t@eq\tE:" + enc(sidecarRel) + ";" + cols.map(enc).mkString(",") +
      "\tE:"
  }

  /** Write `df` as one parquet file under `t` and return its path
    * relative to `t`. */
  private def sidecar(t: String, name: String, df: DataFrame): String = {
    val dir = s"$t/_spec_keys/$name"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val f = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .find(_.endsWith(".parquet")).get
    s"_spec_keys/$name/$f"
  }

  /** [[Layout.upsertByKeys]] of `batch`, asserting that its key set is
    * its own appended data files: every `@eq` group the commit adds
    * names a file whose line the same commit adds. */
  private def upsert(t: String, batch: DataFrame, keys: Seq[String]): Unit = {
    def eqs = headLines(t).flatMap(Layout.entryEqs).map(_._1).toSet
    val (filesBefore, eqsBefore) = (headLines(t).map(relOf).toSet, eqs)
    Layout.upsertByKeys(spark, t, batch, keys, deleteOnly = false)
    val appended = headLines(t).map(relOf).toSet -- filesBefore
    val added = eqs -- eqsBefore
    assert(added.nonEmpty && added.subsetOf(appended),
      s"key set $added is not among the appended data files $appended")
  }

  private def table(name: String, n: Long = 400L, files: Int = 4,
      props: Map[String, String] = Mor): String = {
    import spark.implicits._
    val t = fresh(name)
    Layout.commitSnapshot(spark, t,
      (0L until n).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(files, col("k")),
      props = props)
    t
  }

  test("position dvs: several sidecars per file, one sidecar over files") {
    val t = table("dv")
    Layout.deleteWhere(spark, t, col("k") % 7 === 1)
    Layout.deleteWhere(spark, t, col("k") % 5 === 2)
    val lines = headLines(t)
    assert(lines.forall(l => Layout.entryDvs(l).size >= 2),
      "every file should carry two deletes' sidecars")
    val linesPerSidecar = lines.flatMap(Layout.entryDvs).groupBy(identity)
      .values.map(_.size)
    assert(linesPerSidecar.exists(_ >= 2),
      "some sidecar should span several file groups")
    val got = sameAsOracle(t)
    assert(got.size == (0 until 400).count(k => k % 7 != 1 && k % 5 != 2))
  }

  test("equality deletes only, nested sets") {
    import spark.implicits._
    val t = table("eq")
    Layout.upsertByKeys(spark, t,
      Seq((5L, "u5"), (150L, "u150"), (900L, "n900")).toDF("k", "v"), "k")
    Layout.upsertByKeys(spark, t,
      Seq((6L, "w6"), (900L, "m900")).toDF("k", "v"), "k")
    val sets = headLines(t).map(l => Layout.entryEqs(l).toSet).distinct
    assert(sets.exists(a => sets.exists(b => b.nonEmpty && a != b &&
      b.subsetOf(a))), s"equality sets should nest: $sets")
    val got = sameAsOracle(t)
    assert(got.count(_.startsWith("900|")) == 1 && got.contains("900|m900"))
    assert(got.contains("5|u5") && !got.contains("5|v5"))
  }

  test("position dvs and equality deletes together") {
    import spark.implicits._
    val t = table("both")
    Layout.upsertByKeys(spark, t,
      Seq((5L, "u5"), (150L, "u150")).toDF("k", "v"), "k")
    Layout.deleteWhere(spark, t, col("k") % 10 === 3)
    Layout.upsertByKeys(spark, t, Seq((6L, "w6"), (13L, "w13")).toDF("k", "v"),
      "k")
    val lines = headLines(t)
    assert(lines.exists(l => Layout.entryDvs(l).nonEmpty &&
      Layout.entryEqs(l).nonEmpty))
    val got = sameAsOracle(t)
    assert(got.contains("13|w13") && !got.contains("13|v13") &&
      !got.contains("23|v23"))
    // the skipping read and the SQL scan's masked branch agree too
    assert(rows(Layout.readSnapshotWhere(spark, t,
      Seq(Layout.SkipRange("k", 0L, 99L)))) ==
      got.filter(_.takeWhile(_ != '|').toLong <= 99))
    val maskedOnly = rows(Layout.maskedDvRead(spark, t, head(t)))
    assert(maskedOnly.nonEmpty && maskedOnly.forall(got.contains))
    // the interpreted path (no generated code) masks the same rows
    val off = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(rows(maskedRead(t, lines)) == got)
    finally off.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("int-then-long keys: int data against long tombstones, widened") {
    import spark.implicits._
    val t = fresh("int_long")
    Layout.commitSnapshot(spark, t,
      (0 until 300).map(i => (i, s"v$i")).toDF("k", "v").repartition(3),
      props = Mor)
    // long keys against the still-int table (deleteOnly keeps its schema)
    Layout.upsertByKeys(spark, t, Seq(4L, 40L, 400L).toDF("k"),
      Seq("k"), deleteOnly = true)
    assert(Layout.versionSchema(spark, t).get("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    sameAsOracle(t)
    upsert(t, Seq((7, "i7")).toDF("k", "v"), Seq("k"))
    upsert(t, Seq((8L, "l8"), (7L, "l7")).toDF("k", "v"), Seq("k"))
    val got = sameAsOracle(t)
    assert(!got.exists(_.startsWith("4|")) && !got.exists(_.startsWith("40|")))
    assert(got.contains("7|l7") && got.contains("8|l8") &&
      !got.contains("7|i7"))
  }

  test("string keys compare by their bytes") {
    import spark.implicits._
    val t = fresh("str")
    val names = Seq("a", "A", "é", "é", "日本", "", "z z")
    Layout.commitSnapshot(spark, t,
      names.zipWithIndex.map { case (s, i) => (s, i) }.toDF("s", "n")
        .repartition(2), props = Mor)
    upsert(t,
      Seq(("\u00e9", 100), ("\u65e5\u672c", 101), ("", 102), ("b", 103))
        .toDF("s", "n"),
      Seq("s"))
    val got = sameAsOracle(t)
    assert(got.contains("é|3") && got.contains("a|0") &&
      got.contains("A|1"))
    assert(!got.contains("é|2") && !got.contains("日本|4") &&
      !got.contains("|5"))
  }

  test("floating keys: NaN matches NaN, -0.0 matches 0.0") {
    import spark.implicits._
    val t = fresh("dbl")
    val ds = Seq(Some(Double.NaN), Some(-0.0), Some(0.0), Some(1.5),
      Some(2.5), None)
    Layout.commitSnapshot(spark, t,
      ds.flatMap(d => (0 until 3).map(i => (d, s"r$i")))
        .toDF("d", "tag").repartition(2), props = Mor)
    val keys1 = sidecar(t, "d1",
      Seq(Some(Double.NaN), Some(0.0), None).toDF("d"))
    val keys2 = sidecar(t, "d2", Seq(-0.0, 2.5).toDF("d"))
    val lines = headLines(t).zipWithIndex.map { case (l, i) =>
      val one = withEq(l, keys1, Seq("d"))
      if (i == 0) withEq(one, keys2, Seq("d")) else one
    }
    val got = sameAsOracle(t, lines)
    assert(got.forall(r => r.startsWith("1.5|") || r.startsWith("null|") ||
      r.startsWith("2.5|")), got.mkString(", "))
    assert(got.count(_.startsWith("null|")) == 3)
  }

  test("NULL keys never match, on either side") {
    import spark.implicits._
    val t = fresh("nulls")
    val data = Seq[(Option[String], Option[Long], String)](
      (None, Some(1L), "n1"), (Some("x"), None, "xn"),
      (Some("x"), Some(1L), "x1"), (Some("y"), Some(2L), "y2"),
      (None, None, "nn"))
    Layout.commitSnapshot(spark, t, data.toDF("a", "b", "tag").repartition(2),
      props = Mor)
    val keys = sidecar(t, "ab", Seq[(Option[String], Option[Long])](
      (None, Some(1L)), (Some("x"), None), (Some("x"), Some(1L)), (None, None))
      .toDF("a", "b"))
    val lines = headLines(t).map(withEq(_, keys, Seq("a", "b")))
    val got = sameAsOracle(t, lines)
    assert(got.map(_.split('|').last).toSet == Set("n1", "xn", "y2", "nn"))
    // the same composite keys as an upsert batch: its data files, NULL
    // keys and all, are the key set
    upsert(t, Seq[(Option[String], Option[Long], String)](
      (None, Some(1L), "u1"), (Some("x"), None, "u2"),
      (Some("x"), Some(1L), "u3"), (None, None, "u4"))
      .toDF("a", "b", "tag"), Seq("a", "b"))
    assert(sameAsOracle(t).map(_.split('|').last).toSet ==
      Set("n1", "xn", "y2", "nn", "u1", "u2", "u3", "u4"))
  }

  test("a table bucketed on its key: one @eq group per line per upsert") {
    import spark.implicits._
    val t = fresh("bucketed")
    val props = Mor ++ Map(Layout.BucketByProp -> "k",
      Layout.BucketCountProp -> "4")
    Layout.commitSnapshot(spark, t, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING")),
      props = props)
    Layout.commitSnapshot(spark, t,
      (0L until 400L).map(i => (i, s"v$i")).toDF("k", "v"))
    (1 to 2).foreach { i =>
      val before = headLines(t).map(relOf).toSet
      val eqsBefore = headLines(t).flatMap(Layout.entryEqs).map(_._1).toSet
      val batch = (0L until 40L).map(k => (k * 10 + i, s"u$i-$k"))
      val (_, annotated, appended) = Layout.upsertByKeys(spark, t,
        batch.toDF("k", "v"), "k")
      assert(appended > 1, s"upsert $i appended $appended file(s)")
      val groups = headLines(t).filter(l => before(relOf(l)))
        .map(l => Layout.entryEqs(l).map(_._1).count(e => !eqsBefore(e)))
      assert(groups.forall(_ <= 1) && groups.count(_ == 1) == annotated &&
        annotated > 0, s"upsert $i: new groups per line $groups")
    }
    val got = sameAsOracle(t)
    assert(got.size == 400)
    assert(got.contains("12|u2-1") && !got.contains("12|v12") &&
      got.contains("11|u1-1") && got.contains("13|v13"))
  }

  test("a pushed-down filter that skips row groups keeps the ordinals") {
    import spark.implicits._
    val t = fresh("row_groups")
    spark.conf.set("parquet.block.size", "4096")
    try Layout.commitSnapshot(spark, t,
      (0L until 6000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(1).sortWithinPartitions("k"), props = Mor)
    finally spark.conf.unset("parquet.block.size")
    val file = new Path(t, relOf(headLines(t).head))
    val groups = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    try assert(groups.getRowGroups.size > 2, "one row group only")
    finally groups.close()
    Layout.deleteWhere(spark, t, col("k") % 3 === 0)
    val got = sameAsOracle(t, where = col("k") >= 5000L,
      pushed = Seq(GreaterThanOrEqual("k", 5000L)))
    assert(got.size == (5000 until 6000).count(_ % 3 != 0))
  }

  test("a renamed column of an id-mapped table") {
    import spark.implicits._
    val t = table("renamed",
      props = Mor + (Layout.ColumnMappingProp -> "id"))
    Layout.upsertByKeys(spark, t, Seq((5L, "u5"), (250L, "u250"))
      .toDF("k", "v"), "k")
    Layout.deleteWhere(spark, t, col("k") % 9 === 4)
    Layout.renameColumn(spark, t, "v", "w")
    val got = sameAsOracle(t)
    assert(Layout.readSnapshot(spark, t).columns.toSeq == Seq("k", "w"))
    assert(got.contains("5|u5") && !got.contains("13|v13"))
  }

  test("key files whose non-key columns disagree in type and field ids") {
    import spark.implicits._
    val t = fresh("retyped")
    Layout.commitSnapshot(spark, t,
      (0L until 300L).map(i => (i, i.toInt, -i.toInt)).toDF("k", "v", "z")
        .repartition(3),
      props = Mor + (Layout.ColumnMappingProp -> "id"))
    upsert(t, Seq((5L, 500, 0), (150L, 1500, 0)).toDF("k", "v", "z"),
      Seq("k"))
    Layout.dropColumns(spark, t, Seq("v"))
    Layout.addColumns(spark, t, Seq(
      org.apache.spark.sql.types.StructField("v", StringType)))
    // the two upserts' key files hold `v` as INT and as STRING; the
    // mask reads only their key columns
    upsert(t, Seq((6L, 1, "s6"), (150L, 1, "s150")).toDF("k", "z", "v"),
      Seq("k"))
    // a key-only tombstone file (no field ids) beside stamped data files
    Layout.upsertByKeys(spark, t, Seq(7L, 5L).toDF("k"), Seq("k"),
      deleteOnly = true)
    assert(headLines(t).exists(l => Layout.entryEqs(l).size >= 3),
      "some line should carry every upsert's key files")
    val got = sameAsOracle(t)
    assert(got.contains("6|1|s6") && got.contains("150|1|s150") &&
      got.contains("8|-8|null"))
    assert(!got.exists(r => r.startsWith("5|") || r.startsWith("7|")) &&
      got.count(_.startsWith("150|")) == 1)
    Layout.compactDeletes(spark, t)
    assert(headLines(t).forall(l => Layout.entryEqs(l).isEmpty))
    assert(rows(Layout.readSnapshot(spark, t)) == got)
  }

  /** Live sidecars (position and equality) on the head's lines. */
  test("a row already deleted by key marks no file for a copy-on-write " +
      "deleteWhere or replaceWhere") {
    import spark.implicits._
    val t = table("tombstone_cow")
    Layout.upsertByKeys(spark, t, Seq(7L).toDF("k"), "k", deleteOnly = true)
    Layout.setTableProps(spark, t, Map(Layout.RowLevelModeProp -> "cow"),
      Nil)
    val v = head(t)
    val lines = headLines(t)
    assert(Layout.deleteWhere(spark, t, col("k") === 7L) == ((v, 0, 4)))
    val (_, rewritten) = Layout.replaceWhere(spark, t,
      Seq((7L, "r7")).toDF("k", "v"), col("k") === 7L)
    assert(rewritten == 0)
    // the replace appended its batch and kept every line it read
    assert(headLines(t).filterNot(lines.contains).size == 1)
    assert(rows(Layout.readSnapshot(spark, t)) ==
      (0L until 400L).map(k => if (k == 7L) "7|r7" else s"$k|v$k").sorted)
  }

  private def liveSidecars(t: String): Int =
    headLines(t).flatMap(l =>
      Layout.entryDvs(l) ++ Layout.entryEqs(l).map(_._1)).distinct.size

  test("a masked read is one job at 1, 4 and 8 sidecars; compaction ≤ 1") {
    import spark.implicits._
    val t = table("jobs")
    val read = () => Layout.readSnapshotWhere(spark, t,
      Seq(Layout.SkipRange("k", 0L, 10000L))).collect()
    val jobs = (1 to 8).flatMap { i =>
      // each op stages exactly one sidecar: a point delete touches one
      // file, an upsert writes one data file, its key file
      if (i % 2 == 1) Layout.deleteWhere(spark, t, col("k") === i * 47L)
      else Layout.upsertByKeys(spark, t,
        Seq((i * 43L, s"u$i"), (399L - i, s"t$i")).toDF("k", "v")
          .coalesce(1), "k")
      assert(liveSidecars(t) == i)
      if (Set(1, 4, 8)(i))
        Some(i -> JobCount.during(spark, s"mask-read-$i")(read()))
      else None
    }
    assert(jobs.forall(_._2 == 1), s"jobs per masked read: $jobs")
    val before = rows(antiJoinRead(t, headLines(t)))
    val compactJobs = JobCount.during(spark, "mask-compact") {
      Layout.compactDeletes(spark, t)
    }
    assert(compactJobs <= 1, s"compactDeletes ran $compactJobs jobs")
    assert(liveSidecars(t) == 0)
    assert(rows(Layout.readSnapshot(spark, t)) == before)
  }
}
