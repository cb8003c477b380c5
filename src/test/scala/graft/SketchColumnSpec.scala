package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the mergeable-sketch-column pattern (q_sketch_rollup): merging
  * persisted per-source sketches must give EXACTLY the estimate a direct
  * sketch over the union gives (k-min-set union is associative), and the
  * estimate must stay within KMV tolerance of the exact distinct count. */
class SketchColumnSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession
    .builder("local[4]", Some(4)).getOrCreate()

  test("merged sketch column == direct sketch, and tracks exact distinct") {
    import graft.functions.KmvDistinct.kmvDistinct
    val hashed = Tables.documents(spark, sf)
      .select(col("lang"), explode(ops.Text.toks(col("text"))).as("t"))
      .select(col("lang"), xxhash64(col("t")).as("h"))
    val direct = hashed.groupBy("lang")
      .agg(kmvDistinct(col("h")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = hashed.groupBy("lang")
      .agg(countDistinct(col("h")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rolled = ops.Sketches.qSketchRollup(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(rolled.keySet == direct.keySet)
    // merge path ≡ direct path, bit-identical (associativity of k-min union)
    assert(rolled == direct)
    // and the estimator itself is within KMV tolerance of truth
    rolled.foreach { case (lang, est) =>
      val n = exact(lang).toDouble
      assert(math.abs(est - n) / n <= 0.2,
        s"$lang: est $est vs exact $n drifts > 20%")
    }
  }

  test("grouped Misra-Gries candidates are a superset of true per-group heavy hitters") {
    import graft.functions.MisraGriesAgg.mgCandidates
    val toks = Tables.documents(spark, sf)
      .select(col("lang"), explode(ops.Text.toks(col("text"))).as("t"))
    val cands = toks.groupBy("lang")
      .agg(mgCandidates(col("t"), 200).as("cand"))
      .select(col("lang"), explode(col("cand")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // exact per-group counts: every token above N_g/201 must be proposed
    val counts = toks.groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val totals = counts.groupBy(_._1._1).view.mapValues(_.map(_._2).sum)
    val mustHave = counts.filter { case ((lang, _), c) =>
      c * 201 > totals(lang)
    }.map(_._1).toSet
    assert(mustHave.nonEmpty)
    assert(mustHave.subsetOf(cands),
      s"missing guaranteed items: ${mustHave -- cands}")
    // and the full operator matches the exact per-lang recompute
    val got = ops.Sketches.qHeavyHittersGrouped(spark, sf)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val expected = counts.filter { case ((lang, _), c) =>
      c * 50 > totals(lang)
    }.toMap
    assert(got == expected)
  }

  test("sketch columns survive a parquet round trip unchanged") {
    import graft.functions.KmvDistinct.{kmvDistinct, kmvMerge, kmvSketch}
    val dir = tempDir("graft-sketch-rt")
    val hashed = Tables.documents(spark, sf)
      .select(explode(ops.Text.toks(col("text"))).as("t"))
      .select(xxhash64(col("t")).as("h"))
    val before = hashed.agg(kmvDistinct(col("h"))).collect()(0).getLong(0)
    hashed.groupBy(spark_partition_id().as("p"))
      .agg(kmvSketch(col("h")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val after = spark.read.parquet(dir)
      .agg(kmvMerge(col("sk"))).collect()(0).getLong(0)
    assert(after == before)
  }

  test("sketch rollup IO: configurable root, Hadoop-FS cleanup, stale sweep") {
    import org.apache.hadoop.fs.Path
    val root = tempDir("graft-sketch-io")
    spark.conf.set("spark.graft.io.dir", root)
    try {
      val sketchRoot = new Path(s"$root/sf0.001/token_sketches")
      val fs = sketchRoot.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // plant a stale sibling leaf (older than the 30-min sweep horizon):
      // the operator must reclaim it, or bench reruns accumulate one
      // sketch-table copy per timed run
      val stale = new Path(sketchRoot, "stale-leaf")
      fs.mkdirs(stale)
      fs.create(new Path(stale, "part-0.parquet")).close()
      fs.setTimes(stale, System.currentTimeMillis() - 31L * 60 * 1000, -1)

      val out = ops.Sketches.qSketchRollup(spark, sf)
      assert(out.count() > 0)
      // the run used the configured root (it exists), removed the stale
      // sibling, and cleaned its own single-use leaf after the merge
      assert(fs.exists(sketchRoot), "configured io root was not used")
      assert(!fs.exists(stale), "stale sibling leaf not swept")
      assert(fs.listStatus(sketchRoot).isEmpty,
        "per-invocation leaf not cleaned up after the final merge")
    } finally {
      spark.conf.unset("spark.graft.io.dir")
    }
  }
}
