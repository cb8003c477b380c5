package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_pagerank pinned to a hand-computed star graph (every floor-division
  * step derived by hand below), q_pareto pinned to the brute-force O(n²)
  * dominance filter it replaces. */
class GraphParetoSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession
    .builder("local[4]", Some(4)).getOrCreate()

  test("pagerank matches the hand-computed star graph exactly") {
    import spark.implicits._
    val dir = tempDir("graft-pr")
    // suppliers 1,2,3 all supplying part 1 → star: center = part node 3,
    // leaves = supplier nodes 2,4,6
    Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = ops.Graph.qPagerank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // N=4, r0=250e6 each.
    // i1: center ← 3·⌊250e6/1⌋ = 750e6; leaf ← ⌊250e6/3⌋ = 83,333,333
    // r1: base = ⌊15·(1e9 div 4)/100⌋ = 37.5e6
    //     center = 37.5e6 + ⌊85·750e6/100⌋          = 675,000,000
    //     leaf   = 37.5e6 + ⌊85·83,333,333/100⌋     = 108,333,333
    // r2: center = 37.5e6 + ⌊85·(3·108,333,333)/100⌋ = 313,749,999
    //     leaf   = 37.5e6 + ⌊85·⌊675e6/3⌋/100⌋       = 228,750,000
    // r3: center = 37.5e6 + ⌊85·(3·228,750,000)/100⌋ = 620,812,500
    //     leaf   = 37.5e6 + ⌊85·⌊313,749,999/3⌋/100⌋ = 126,395,833
    assert(got == Map(
      3L -> 620812500L,
      2L -> 126395833L, 4L -> 126395833L, 6L -> 126395833L))
  }

  test("pagerank on testdata: positive ranks, near-unit total mass") {
    val rows = ops.Graph.qPagerank(spark, sf)
      .collect().map(r => r.getLong(1))
    assert(rows.nonEmpty && rows.forall(_ > 0L))
    val total = rows.sum
    // floor divisions only ever LOSE mass: up to deg units per node per
    // iteration (contrib floors) plus 2 per node (the 15/100 + 85/100
    // floors) — thousands of 1e-9 units on this graph (measured 5,061 at
    // sf0.001), never anywhere near 0.1% of the mass
    assert(total <= 1000000000L)
    assert(total >= 999000000L, s"mass fell to $total")
  }

  test("pareto frontier equals the brute-force dominance filter") {
    val pts = Tables.part(spark, sf).select(col("p_partkey"),
        (Tables.dec2(col("p_retailprice")) * 100).cast("long").as("pc"),
        col("p_size").cast("long").as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = pts.filter { case (_, p, z) =>
      !pts.exists { case (_, p2, z2) =>
        p2 <= p && z2 >= z && (p2 < p || z2 > z)
      }
    }.map(t => (t._1, t._2, t._3)).sortBy(_._1).toSeq
    val got = ops.Advanced.qPareto(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
