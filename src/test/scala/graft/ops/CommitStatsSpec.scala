package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.scalatest.funsuite.AnyFunSuite

import graft.{ControlPlane, JobCount}

/** Pins the per-file commit statistics the staging write computes
  * ([[Layout.commitStats]], evaluated by the write task through
  * `org.apache.spark.sql.graft.FileAggregate`): every manifest line a
  * commit adds is byte-identical to the line the read-back stats pass
  * rendered before — one grouped aggregate over the just-staged files,
  * kept here as the oracle ([[readBack]]). Covers string, integral
  * and double bounds, NaN, an all-null column, the `#p:` null proof,
  * `#bucket` with a null key, bloom and KMV groups, the empty CREATE
  * stage, flat / PARTITIONED BY / bucketed staging, a task that writes
  * several files, the rewrite verbs, and the SQL copy-on-write and
  * merge-on-read writers. Also pins the group → sidecar map a
  * merge-on-read delete takes from its write against a read of the
  * staged sidecars, the job budget of the refresh and row-level verbs,
  * an upsert's one staged txn included, and that a refused REPLACE
  * leaves no staged txn behind. */
class CommitStatsSpec extends AnyFunSuite {

  private val base = "target/graft_io/spec/commit_stats"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.graftcs", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftcs.warehouse", s"$base/wh")
    s
  }

  private def fs: FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val t = s"$base/$name"
    fs.delete(new Path(t), true)
    Layout.invalidateManifestCache(spark, t)
    t
  }

  private def head(t: String): Int = Layout.currentVersion(fs, new Path(t))

  private def lines(t: String, v: Int): Seq[String] =
    Layout.manifestLinesOf(spark, t, v)

  /** The lines version `v` added for files it staged (lines whose file
    * `v - 1` did not list; annotated lines of old files excluded). */
  private def staged(t: String, v: Int): Seq[String] = {
    val before =
      if (v <= 1) Set.empty[String]
      else lines(t, v - 1).map(Layout.entryPath).toSet
    lines(t, v).filterNot(l => before.contains(Layout.entryPath(l)))
  }

  /** The decoded filesystem path of `p`, for matching
    * input_file_name() output (a URL-encoded uri: a space is `%20`)
    * against a qualified hadoop Path (raw characters). Parse as a URI
    * first, which decodes escapes; fall back to hadoop-Path
    * normalization for strings a strict URI parser rejects. */
  private def fsPathOf(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getPath != null && u.getPath.nonEmpty) u.getPath
      else new Path(p).toUri.getPath
    } catch { case _: java.net.URISyntaxException =>
      new Path(p).toUri.getPath
    }

  /** The read-back stats pass a commit ran before the write computed
    * the statistics, verbatim but for its inputs: the staged (path,
    * bytes) pairs, the verb's stats columns and the head's props. */
  private def readBack(t: String, staged: Seq[(String, Long)],
      statsColumns: Seq[String]): Seq[String] = {
    import Layout._
    val root = new Path(t)
    def bare = staged.map { case (rel, len) => s"$rel\t@$len" }
    if (staged.isEmpty) return bare
    val headV = currentVersion(fs, root)
    val headProps = propsOf(fs, root, headV)
    val bloomBits = headProps.get(BloomBitsProp).map(_.toInt)
      .getOrElse(BloomBitsDefault)
    val stagedPaths =
      staged.map { case (rel, _) => new Path(root, rel).toString }
    val allProps = headProps
    val statsAll = (statsColumns ++
      allProps.get(StatsColumnsProp).map(splitCols).getOrElse(Nil) ++
      allProps.get(PartitionedByProp)
      .map(splitCols).getOrElse(Nil)).distinct
    val bucketSpec = allProps.get(BucketByProp)
      .zip(allProps.get(BucketCountProp))
      .map { case (c, n) => (c, n.toInt) }
    if (statsAll.isEmpty && !allProps.contains(BloomColumnsProp) &&
        bucketSpec.isEmpty)
      return bare
    val df = readSidecars(spark, stagedPaths)
    def isIntegral(dt: types.DataType) = dt match {
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType => true
      case _ => false
    }
    val bloomCols = allProps.get(BloomColumnsProp).map(splitCols)
      .getOrElse(Nil)
      .filter(df.columns.contains)
      .filter(c => isIntegral(df.schema(c).dataType) ||
        df.schema(c).dataType == types.StringType)
    val present = statsAll.filter(df.columns.contains)
    val bucket = bucketSpec.filter { case (c, _) =>
      df.columns.contains(c) && (isIntegral(df.schema(c).dataType) ||
        df.schema(c).dataType == types.StringType)
    }
    if (present.isEmpty && bloomCols.isEmpty && bucket.isEmpty)
      return bare
    def keyed(c: String): Column = df.schema(c).dataType match {
      case types.StringType           => col(c)
      case dt if isIntegral(dt)       => col(c).cast("long")
      case _                          => col(c).cast("double")
    }
    val partNn = allProps.get(PartitionedByProp).map(splitCols)
      .getOrElse(Nil).filter(df.columns.contains)
    val declared = (statsColumns ++
      allProps.get(StatsColumnsProp).map(splitCols).getOrElse(Nil))
      .distinct
    val ndvCols = present.filter(declared.contains).filter(c =>
      isIntegral(df.schema(c).dataType) ||
        df.schema(c).dataType == types.StringType)
    val aggs = present.flatMap(c =>
      Seq(min(keyed(c)).as(s"__mn_$c"), max(keyed(c)).as(s"__mx_$c"))) ++
      bloomCols.map(c => graft.functions.FileBloom
        .fileBloom(keyed(c), bloomBits).as(s"__bl_$c")) ++
      bucket.toSeq.flatMap { case (c, n) =>
        val e = bucketPlacementExpr(df.schema, c, n)
        Seq(min(e).as("__bk_mn"), max(e).as("__bk_mx"),
          count(e).as("__bk_nn"))
      } ++
      Seq(count(lit(1)).as("__rows")) ++
      partNn.map(c => count(col(c)).as(s"__nn_$c")) ++
      ndvCols.flatMap(c => Seq(
        graft.functions.KmvDistinct
          .kmvSketch(xxhash64(col(c)), NdvSketchK).as(s"__kv_$c"),
        count(col(c)).as(s"__kn_$c")))
    val rows = ControlPlane(df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)).collect()
    val rowsIdx = 1 + 2 * present.size + bloomCols.size +
      (if (bucket.isDefined) 3 else 0)
    val rendered: Map[String, String] = rows.map { r =>
      val groups = new StringBuilder
      val pairs = scala.collection.mutable.Map.empty[String, (String, String)]
      present.zipWithIndex.foreach { case (c, i) =>
        val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
        if (!r.isNullAt(mnI) && !r.isNullAt(mxI)) {
          val pair: Option[(String, String)] =
            df.schema(c).dataType match {
              case types.StringType =>
                Some((encBound(r.getString(mnI)),
                  encBound(r.getString(mxI))))
              case dt if isIntegral(dt) =>
                Some((LongPfx + r.getLong(mnI), LongPfx + r.getLong(mxI)))
              case _ =>
                val (mn, mx) = (r.getDouble(mnI), r.getDouble(mxI))
                if (mn.isNaN || mx.isNaN) None
                else Some((mn.toString, mx.toString))
            }
          pair.foreach { case (mn, mx) =>
            pairs(c) = (mn, mx)
            groups ++= s"\t$c\t$mn\t$mx"
          }
        }
      }
      partNn.zipWithIndex.foreach { case (c, k) =>
        if (pairs.contains(c) &&
            r.getLong(rowsIdx + 1 + k) == r.getLong(rowsIdx)) {
          val (mn, mx) = pairs(c)
          groups ++= s"\t$PartGroupPfx$c\t$mn\t$mx"
        }
      }
      bloomCols.zipWithIndex.foreach { case (c, j) =>
        val idx = 1 + 2 * present.size + j
        if (!r.isNullAt(idx)) {
          val t =
            if (df.schema(c).dataType == types.StringType) "S" else "L"
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](idx))
          groups ++= s"\t$c\t$BloomPfx$t:$b64\t$BloomPfx"
        }
      }
      bucket.foreach { case (c, n) =>
        val base = 1 + 2 * present.size + bloomCols.size
        if (!r.isNullAt(base) && !r.isNullAt(base + 1) &&
            r.getLong(base + 2) == r.getLong(rowsIdx))
          groups ++= s"\t${bucketGroup(c, n)}\t$LongPfx${r.getLong(base)}" +
            s"\t$LongPfx${r.getLong(base + 1)}"
      }
      groups ++= s"\t$RowsGroup\t$LongPfx${r.getLong(rowsIdx)}" +
        s"\t$LongPfx${r.getLong(rowsIdx)}"
      val ndvBase = rowsIdx + 1 + partNn.size
      ndvCols.zipWithIndex.foreach { case (c, j) =>
        val idx = ndvBase + 2 * j
        if (!r.isNullAt(idx)) {
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](idx))
          val nulls = r.getLong(rowsIdx) - r.getLong(idx + 1)
          groups ++= s"\t$c\t$KmvPfx$nulls:$b64\t$KmvPfx"
        }
      }
      fsPathOf(r.getString(0)) -> groups.result()
    }.toMap
    staged.map { case (rel, len) =>
      val k = fsPathOf(fs.makeQualified(new Path(root, rel)).toString)
      s"$rel\t@$len" + rendered.getOrElse(k,
        s"\t$RowsGroup\t${LongPfx}0\t${LongPfx}0")
    }
  }

  /** Version `v`'s staged lines equal the read-back oracle's for the
    * same files; returns them. */
  private def sameAsReadBack(t: String, v: Int,
      statsColumns: Seq[String]): Seq[String] = {
    assert(head(t) == v, s"$t: expected head v$v")
    val got = staged(t, v)
    assert(got.nonEmpty, s"$t v$v staged no file")
    val want = readBack(t,
      got.map(l => (Layout.entryPath(l), Layout.entrySize(l).get)),
      statsColumns)
    assert(got == want, s"$t v$v:\n${got.mkString("\n")}\n  vs\n" +
      want.mkString("\n"))
    got
  }

  private def groupNames(l: String): Seq[String] =
    l.split('\t').drop(2).grouped(3).map(_.head).toSeq

  private def empty(ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      types.StructType.fromDDL(ddl))

  private val flatDdl =
    "s STRING, i INT, l BIGINT, d DOUBLE, f FLOAT, n STRING, b BIGINT"

  private def flatRows(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(
      concat(lit("s"), (col("id") % 37).cast("string")).as("s"),
      (col("id") % 11).cast("int").as("i"),
      (lit(Long.MaxValue) - col("id")).as("l"),
      when(col("id") === 150L, lit(Double.NaN))
        .otherwise(col("id") / 7.0).as("d"),
      (col("id") / 3.0).cast("float").as("f"),
      lit(null).cast("string").as("n"),
      col("id").as("b"))

  test("flat staging: string/integral/double bounds, NaN, all-null, " +
      "bloom and KMV; the empty CREATE stage records #rows 0") {
    val t = fresh("flat")
    Layout.commitSnapshot(spark, t, empty(flatDdl), props = Map(
      Layout.StatsColumnsProp -> "s,i,d,n",
      Layout.BloomColumnsProp -> "s,b"))
    val create = sameAsReadBack(t, 1, Nil)
    assert(create.size == 1 &&
      create.head.endsWith("\t#rows\tL:0\tL:0"), create)
    Layout.commitSnapshot(spark, t,
      flatRows(0, 300).repartition(3, col("i")), Seq("l", "f"))
    val got = sameAsReadBack(t, 2, Seq("l", "f"))
    val names = got.map(groupNames)
    // the NaN file records no `d` bounds, the others do; the all-null
    // column records no bounds but a KMV sketch
    assert(names.count(!_.contains("d")) == 1 &&
      names.count(_.contains("d")) == got.size - 1, names)
    assert(names.forall(ns => ns.count(_ == "n") == 1 &&
      Seq("s", "i", "l", "f", "b", "#rows").forall(ns.contains)), names)
  }

  test("one task writing three files (maxRecordsPerFile)") {
    val t = fresh("max_records")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try Layout.commitSnapshot(spark, t, flatRows(0, 300).coalesce(1),
      Seq("s", "l", "d"))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val got = sameAsReadBack(t, 1, Seq("s", "l", "d"))
    assert(got.size == 3 && got.forall(_.contains("\t#rows\tL:100\tL:100")),
      got)
    assert(got.map(l => new Path(Layout.entryPath(l)).getName
      .split('-').take(2).mkString("-")).distinct.size == 1,
      s"expected one task's files: $got")
  }

  test("PARTITIONED BY staging: the #p: null proof, empty string and " +
      "NULL in one default-partition file") {
    val t = fresh("partitioned")
    Layout.commitSnapshot(spark, t, empty("p STRING, k BIGINT, v STRING"),
      props = Map(Layout.PartitionedByProp -> "p",
        Layout.StatsColumnsProp -> "k"))
    // the dynamic-partition writer writes no file for no rows
    assert(staged(t, 1).isEmpty)
    val df = spark.range(0, 120).select(
      when(col("id") % 4 === 0, lit("a"))
        .when(col("id") % 4 === 1, lit("b"))
        .when(col("id") % 4 === 2, lit(""))
        .otherwise(lit(null).cast("string")).as("p"),
      col("id").as("k"), col("id").cast("string").as("v"))
      .repartition(1)
    Layout.commitSnapshot(spark, t, df)
    val got = sameAsReadBack(t, 2, Nil)
    val proved = got.filter(groupNames(_).contains("#p:p"))
    // "a" and "b" prove their value; the writer's default partition
    // holds the "" and NULL rows together and proves nothing
    assert(got.size == 3 && proved.size == 2, got)
    assert(got.filterNot(proved.contains).head
      .contains("\t#rows\tL:60\tL:60"), got)
    assert(Layout.readSnapshot(spark, t)
      .where(col("p").isNull || col("p") === "").count() == 60)
  }

  private def txnDirs(t: String): Set[String] = {
    val data = new Path(t, "data")
    if (!fs.exists(data)) Set.empty
    else fs.listStatus(data).map(_.getPath.getName)
      .filter(_.startsWith("txn-")).toSet
  }

  test("a stage that commits nothing leaves no txn directory: a failed " +
      "upsert drops its txn, an empty fan-out CREATE stages none") {
    val t = fresh("dropped")
    Layout.commitSnapshot(spark, t, flatRows(0, 100),
      props = Map(Layout.RowLevelModeProp -> "mor"))
    Layout.upsertByKeys(spark, t, flatRows(95, 105), "b")
    val before = txnDirs(t)
    // the data txn is staged, then the CAS refuses the second
    // key-column list
    val e = intercept[Exception] {
      Layout.upsertByKeys(spark, t, flatRows(0, 5), "i")
    }
    assert(e.getMessage.contains("keyed on"), e.getMessage)
    assert(txnDirs(t) == before)
    val p = fresh("empty_partitioned")
    Layout.commitSnapshot(spark, p, empty("p STRING, k BIGINT"),
      props = Map(Layout.PartitionedByProp -> "p"))
    assert(head(p) == 1 && txnDirs(p).isEmpty)
  }

  test("a refused REPLACE leaves data/ as it was: compactSnapshot, " +
      "copy-on-write deleteWhere and mergeInto") {
    // A CHECK constraint calling `race_hook` is evaluated on the files a
    // commit adds, inside the CAS loop once the head's lines have been
    // checked. Armed, its first call commits a REPLACE that drops every
    // line the verb read, so the verb's next CAS attempt refuses.
    spark.udf.register("race_hook", (_: Long) => { RaceHook.fire(); true })
    def refused(name: String)(verb: String => Unit): Unit = {
      val t = fresh(s"refused_$name")
      Layout.commitSnapshot(spark, t, flatRows(0, 100).repartition(2),
        props = Map(Layout.ConstraintPropPrefix + "race" -> "race_hook(b)"))
      val root = new Path(t)
      val inputs = lines(t, head(t)).toSet
      val before = txnDirs(t)
      RaceHook.arm(() =>
        Layout.replaceCommit(fs, root, "race", inputs, Nil))
      val e = intercept[IllegalArgumentException](verb(t))
      assert(e.getMessage.contains("concurrent REPLACE conflict"),
        s"$name: ${e.getMessage}")
      assert(RaceHook.disarmed, s"$name: the racing commit never ran")
      assert(txnDirs(t) == before, s"$name left a staged txn")
    }
    refused("compact")(t => Layout.compactSnapshot(spark, t))
    refused("delete")(t => Layout.deleteWhere(spark, t, col("b") === 7L))
    refused("merge")(t => Layout.mergeInto(spark, t, flatRows(95, 105), "b"))
  }

  test("bucketed staging: #bucket, and a null key's file lacks it") {
    val t = fresh("bucketed")
    Layout.commitSnapshot(spark, t, empty("k BIGINT, v STRING"),
      props = Map(Layout.BucketByProp -> "k",
        Layout.BucketCountProp -> "4", Layout.StatsColumnsProp -> "k",
        Layout.BloomColumnsProp -> "v"))
    val df = spark.range(0, 200).select(
      when(col("id") % 10 === 3, lit(null).cast("long"))
        .otherwise(col("id")).as("k"),
      concat(lit("v"), col("id").cast("string")).as("v"))
    Layout.commitSnapshot(spark, t, df)
    val got = sameAsReadBack(t, 2, Nil)
    val keyed = got.filter(groupNames(_).exists(_.startsWith("#bucket:")))
    assert(keyed.size == 4 && got.size == 5, got)
  }

  test("rewrite verbs: upsert, merge-on-read delete, compaction, " +
      "copy-on-write delete and merge, replaceWhere") {
    val t = fresh("verbs")
    // each verb records the stats columns its base version's lines carry
    def check(v: Int) =
      sameAsReadBack(t, v, Layout.statsColumnsOf(fs, new Path(t), v - 1))
    Layout.commitSnapshot(spark, t, flatRows(0, 400).repartition(4),
      Seq("l", "d"), props = Map(Layout.StatsColumnsProp -> "s,i",
        Layout.BloomColumnsProp -> "b", Layout.RowLevelModeProp -> "mor"))
    Layout.upsertByKeys(spark, t, flatRows(390, 420), "b")
    check(2)
    Layout.deleteWhere(spark, t, col("b") === 7L)
    Layout.compactDeletes(spark, t)
    check(4)
    Layout.setTableProps(spark, t, Map(Layout.RowLevelModeProp -> "cow"),
      Nil)
    Layout.deleteWhere(spark, t, col("b") % 50 === 1L)
    check(6)
    Layout.mergeInto(spark, t, flatRows(395, 430), "b")
    check(7)
    Layout.replaceWhere(spark, t, flatRows(0, 20), col("b") < 20L)
    check(8)
    // 0..429 less the cow delete's 51, 101, …, 351: 1 came back with
    // the replaceWhere, 401 with the merge
    val bs = Layout.readSnapshot(spark, t).select("b").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(bs == (0L until 430L).filterNot(b => b % 50 == 1 &&
      b > 1 && b < 400))
  }

  test("SQL copy-on-write UPDATE and merge-on-read MERGE") {
    def sqlTable(name: String, props: String): String = {
      spark.sql(s"DROP TABLE IF EXISTS graftcs.default.$name")
      spark.sql(s"""CREATE TABLE graftcs.default.$name
                   |  (k BIGINT, v STRING, amt DOUBLE)
                   |TBLPROPERTIES ('graft.stats.columns' = 'k,v,amt',
                   |  'graft.stats.bloom' = 'v'$props)""".stripMargin)
      Seq((0, 100), (100, 200)).foreach { case (lo, hi) =>
        spark.sql(
          s"""INSERT INTO graftcs.default.$name
             |SELECT /*+ REPARTITION(1) */ id AS k, concat('v', id) AS v,
             |  CAST(id AS DOUBLE) AS amt FROM range($lo, $hi)""".stripMargin)
      }
      s"$base/wh/default/$name"
    }
    val cow = sqlTable("cow", "")
    val v0 = head(cow)
    spark.sql("UPDATE graftcs.default.cow SET amt = amt * 2 WHERE k < 10")
    sameAsReadBack(cow, v0 + 1, Layout.statsColumnsOf(fs, new Path(cow), v0))
    val mor = sqlTable("mor", ", 'graft.rowlevel.mode' = 'mor'")
    val m0 = head(mor)
    spark.sql(
      """MERGE INTO graftcs.default.mor AS t
        |USING (SELECT id AS k, concat('u', id) AS v,
        |  CAST(id AS DOUBLE) AS amt FROM range(150, 260)) AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    sameAsReadBack(mor, m0 + 1, Layout.statsColumnsOf(fs, new Path(mor), m0))
    assert(spark.sql("SELECT count(*), sum(amt) FROM graftcs.default.mor")
      .head() == org.apache.spark.sql.Row(260L, (0 until 260).sum.toDouble))
  }

  test("a merge-on-read delete's group → sidecar map matches a read of " +
      "its staged sidecar") {
    val t = fresh("dv_map")
    Layout.commitSnapshot(spark, t, flatRows(0, 300).repartition(3),
      props = Map(Layout.RowLevelModeProp -> "mor"))
    Layout.deleteWhere(spark, t, col("b") % 7 === 0L)
    val annotated = lines(t, 2).filter(Layout.entryDvs(_).nonEmpty)
    assert(annotated.size == 3, annotated)
    val sidecars = annotated.flatMap(Layout.entryDvs).distinct
    assert(sidecars.size == 1, s"one delete stages one sidecar: $sidecars")
    val root = new Path(t)
    val relOf = sidecars.map(rel => fsPathOf(
      fs.makeQualified(new Path(root, rel)).toString) -> rel).toMap
    val read = ControlPlane(Layout.readSidecars(spark,
        sidecars.map(rel => new Path(root, rel).toString))
      .select(col("grp"), input_file_name().as("f")).distinct())
      .collect().groupBy(_.getString(0))
      .map { case (g, rs) =>
        g -> rs.map(r => relOf(fsPathOf(r.getString(1)))).toSeq.sorted
      }
    val committed = annotated.map(l =>
      Layout.grpOfRel(Layout.entryPath(l)) -> Layout.entryDvs(l).sorted).toMap
    assert(committed == read)
  }

  test("job budget: upsertByKeys 1 (deleteOnly too), merge-on-read " +
      "deleteWhere 1, compactDeletes 1") {
    val t = fresh("jobs")
    Layout.commitSnapshot(spark, t, flatRows(0, 400).repartition(4),
      Seq("l"), props = Map(Layout.StatsColumnsProp -> "b",
        Layout.RowLevelModeProp -> "mor"))
    val batch = flatRows(395, 405)
    val txnsBefore = txnDirs(t)
    val upsert = JobCount.during(spark, "budget-upsert") {
      Layout.upsertByKeys(spark, t, batch, "b")
    }
    // the upsert stages one txn, its data files, and they are its key set
    val upsertTxns = txnDirs(t) -- txnsBefore
    assert(upsertTxns.size == 1, upsertTxns)
    val added = staged(t, head(t)).map(Layout.entryPath)
    assert(added.nonEmpty &&
      added.forall(_.startsWith(s"data/${upsertTxns.head}/")), added)
    val keySet = lines(t, head(t)).flatMap(Layout.entryEqs).map(_._1).toSet
    assert(keySet.nonEmpty && keySet.subsetOf(added.toSet), keySet)
    val tombstones = JobCount.during(spark, "budget-tombstones") {
      Layout.upsertByKeys(spark, t, spark.range(10, 13).toDF("b"), "b",
        deleteOnly = true)
    }
    val delete = JobCount.during(spark, "budget-delete") {
      Layout.deleteWhere(spark, t, col("b") === 17L)
    }
    val compact = JobCount.during(spark, "budget-compact") {
      Layout.compactDeletes(spark, t)
    }
    assert((upsert, tombstones, delete, compact) == ((1, 1, 1, 1)))
    assert(Layout.readSnapshot(spark, t).count() == 401)
    // the row-level verbs that find their affected files by a scan: the
    // scan is one control-plane job, as it was before it read masked
    // rows (the merge-on-read merge leaves dvs for the copy-on-write
    // verbs' scans to mask)
    val mergeMor = JobCount.during(spark, "budget-merge-mor") {
      Layout.mergeInto(spark, t, flatRows(398, 410), "b")
    }
    Layout.setTableProps(spark, t, Map(Layout.RowLevelModeProp -> "cow"),
      Nil)
    val deleteCow = JobCount.during(spark, "budget-delete-cow") {
      Layout.deleteWhere(spark, t, col("b") === 20L)
    }
    val replace = JobCount.during(spark, "budget-replace") {
      Layout.replaceWhere(spark, t, flatRows(30, 33),
        col("b") >= 30L && col("b") < 33L)
    }
    val mergeCow = JobCount.during(spark, "budget-merge-cow") {
      Layout.mergeInto(spark, t, flatRows(408, 412), "b")
    }
    assert((mergeMor, deleteCow, replace, mergeCow) == ((7, 2, 3, 5)))
    assert(Layout.readSnapshot(spark, t).count() == 407)
  }

  test("every job of commitSnapshot, upsertByKeys, deleteWhere and " +
      "compactDeletes carries its verb's phase, and the caller's " +
      "description and tags come back") {
    val t = fresh("phases")
    val sc = spark.sparkContext
    // (job group, description, tags) of every job started
    val started =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Set[String])]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        started.synchronized(started += ((prop("spark.jobGroup.id"),
          prop("spark.job.description"),
          prop("spark.job.tags").split(",").filter(_.nonEmpty).toSet)))
      }
    }
    /** Runs `body` under the caller's own job group, description and tag;
      * returns the group. */
    def asCaller(group: String)(body: => Any): String = {
      sc.setJobGroup(group, "the caller's own")
      sc.addJobTag("caller")
      try {
        body
        assert(sc.getLocalProperty("spark.job.description") ==
          "the caller's own", group)
        assert(sc.getJobTags() == Set("caller"), group)
      } finally { sc.removeJobTag("caller"); sc.clearJobGroup() }
      group
    }
    sc.addSparkListener(listener)
    val verbs = try {
      val v = Seq(
        asCaller("phases-commit") {
          // a shuffle ahead of the staging write: AQE's stage jobs too
          Layout.commitSnapshot(spark, t, flatRows(0, 400).repartition(4),
            Seq("l"), props = Map(Layout.StatsColumnsProp -> "b",
              Layout.RowLevelModeProp -> "mor"))
        } -> Set("commitSnapshot stage"),
        asCaller("phases-upsert") {
          Layout.upsertByKeys(spark, t, flatRows(395, 405), "b")
        } -> Set("upsertByKeys stage"),
        asCaller("phases-tombstones") {
          Layout.upsertByKeys(spark, t, spark.range(10, 13).toDF("b"), "b",
            deleteOnly = true)
        } -> Set("upsertByKeys stage"),
        asCaller("phases-delete-mor") {
          Layout.deleteWhere(spark, t, col("b") === 17L)
        } -> Set("deleteWhere sidecar"),
        asCaller("phases-compact") {
          Layout.compactDeletes(spark, t)
        } -> Set("compactDeletes rewrite"))
      Layout.setTableProps(spark, t, Map(Layout.RowLevelModeProp -> "cow"),
        Nil)
      // the copy-on-write probe is a control-plane job
      v :+ (asCaller("phases-delete-cow") {
        Layout.deleteWhere(spark, t, col("b") === 20L)
      } -> Set("deleteWhere probe", "deleteWhere rewrite"))
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    val jobs = started.synchronized(started.toSeq)
    verbs.foreach { case (group, phases) =>
      val mine = jobs.filter(_._1 == group)
      assert(mine.map(_._2).toSet == phases, (group, mine))
      mine.foreach { case (_, d, tags) =>
        val tag = d.replaceFirst(" ", ":")
        // beside Spark's own session, execution and broadcast tags
        assert(tags("caller") && tags(tag) && !tags.exists(g =>
          g != tag && phases.exists(p => g == p.replaceFirst(" ", ":"))),
          (group, mine))
      }
    }
    assert(Layout.readSnapshot(spark, t).count() == 400)
  }
}

/** A one-shot action a task fires from inside a UDF: the local-mode
  * executor shares this JVM, so the driver arms it and the first task
  * to call [[fire]] runs it. */
object RaceHook {
  private var action: Option[() => Unit] = None

  def arm(a: () => Unit): Unit = synchronized { action = Some(a) }

  def disarmed: Boolean = synchronized(action.isEmpty)

  def fire(): Unit = synchronized {
    val a = action
    action = None
    a.foreach(_())
  }
}
