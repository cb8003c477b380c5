package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import SizeTier.{Large, Small, forcing}

/** Every [[SizeTier]] dispatch site, run under both forced tiers: the
  * tier picks the plan, never the answer. The local fixtures always weigh
  * in under the ceilings, so without [[SizeTier.forcing]] the scale
  * branches would run only at warehouse sizes. */
class SizeTierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private val sf = "/root/testdata/sf0.01"

  private def sortedRows(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  private def bothTiers(key: String): (Seq[String], Seq[String]) = {
    def run(t: SizeTier.Tier) =
      forcing(t)(sortedRows(SparkEntry.queries(key)(spark, sf).collect()))
    (run(Small), run(Large))
  }

  Seq("q_profile", "q_bpe_learn", "q_dedup_cluster_lsh", "q_triangle_count",
      "q_pagerank", "q_quantiles_auto").foreach { key =>
    test(s"$key: small and large tiers return the same rows") {
      val (small, large) = bothTiers(key)
      assert(small.nonEmpty, s"$key returned no rows")
      assert(small == large, s"$key: tiers disagree")
    }
  }

  test("the forced tier picks the branch at each exposed dispatch") {
    def profilePlan = SparkEntry.queries("q_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(forcing(Small)(profilePlan).contains("RoundRobinPartitioning"))
    assert(!forcing(Large)(profilePlan).contains("RoundRobinPartitioning"))
    assert(forcing(Small)(ops.Graph.triangleBroadcastsAdj(spark, sf)))
    assert(!forcing(Large)(ops.Graph.triangleBroadcastsAdj(spark, sf)))
    assert(forcing(Small)(ops.Graph.pagerankBroadcastsRanks(spark, sf)))
    assert(!forcing(Large)(ops.Graph.pagerankBroadcastsRanks(spark, sf)))
    assert(!forcing(Small)(ops.Advanced.quantilesAutoPicksBinned(spark, sf)))
    assert(forcing(Large)(ops.Advanced.quantilesAutoPicksBinned(spark, sf)))
  }

  test("bucketed Layout commit: both tiers stage the same snapshot") {
    import ops.Layout._
    val rows = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    def commitUnder(t: SizeTier.Tier, name: String): (Seq[String], Int) = {
      val table = s"target/graft_io/spec/size_tier_$name"
      dropTable(spark, table)
      forcing(t)(commitSnapshot(spark, table, rows,
        props = Map(BucketByProp -> "o_orderkey", BucketCountProp -> "4")))
      val root = new Path(table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = manifestLinesOf(spark, table, currentVersion(fs, root))
      (sortedRows(readSnapshot(spark, table).collect()), files.size)
    }
    val (smallRows, smallFiles) = commitUnder(Small, "small")
    val (largeRows, largeFiles) = commitUnder(Large, "large")
    assert(smallRows.size == rows.count())
    assert(smallRows == largeRows)
    assert(smallFiles == largeFiles,
      s"small tier staged $smallFiles files, large $largeFiles")
  }

  test("a forced scope left by an exception restores the default") {
    val over = BigInt(SizeTier.LocalBytes) + 1
    assert(SizeTier.small(BigInt(0), SizeTier.LocalBytes))
    assert(!SizeTier.small(over, SizeTier.LocalBytes))
    intercept[IllegalStateException] {
      forcing(Small) {
        assert(SizeTier.small(over, SizeTier.LocalBytes))
        forcing(Large) {
          assert(!SizeTier.small(BigInt(0), SizeTier.LocalBytes))
        }
        assert(SizeTier.small(over, SizeTier.LocalBytes),
          "leaving an inner scope must restore the outer one")
        throw new IllegalStateException("boom")
      }
    }
    assert(SizeTier.small(BigInt(0), SizeTier.LocalBytes))
    assert(!SizeTier.small(over, SizeTier.LocalBytes))
  }
}
