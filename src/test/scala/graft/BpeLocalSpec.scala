package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r22 LOCAL BPE learner (one vocabulary-collect job + driver-side
  * folds) must produce the exact merge table of the distributed rescan
  * learner on every corpus — same pair counts, same (cnt desc, a, b)
  * argmax tie-break, same greedy left-to-right non-overlapping merge
  * fold — because the size dispatch that picks it is a pure cost
  * decision (Bpe.learnMergesFresh). Pinned on the classic fixture,
  * on testdata, on a randomized corpus, and at both dispatch settings. */
class BpeLocalSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-bpel")
    rows.map { case (id, t) => (id, t, "en", "fix") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("local learner == rescan learner on the classic corpus") {
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    assert(ops.Bpe.learnMergesLocal(spark, d) ==
      ops.Bpe.learnMergesRescan(spark, d))
  }

  test("local learner == rescan learner on sf0.001 testdata") {
    val d = "/root/testdata/sf0.001"
    val local = ops.Bpe.learnMergesLocal(spark, d)
    assert(local == ops.Bpe.learnMergesRescan(spark, d))
    assert(local.nonEmpty)
  }

  test("local learner == rescan learner on randomized corpora, deep") {
    // seeded random corpora with heavy tie pressure (tiny alphabet, so
    // many pairs share counts and the (a, b) tie-break decides rounds).
    // merge depth stays near the deployed 8 — the rescan learner nests
    // one mergeExpr per round, and a deep request exists only to blow
    // up its plan, not to exercise the kernel
    val rnd = new scala.util.Random(20260820L)
    (1 to 3).foreach { trial =>
      val docs = (1L to 20L).map { id =>
        val words = Seq.fill(rnd.nextInt(30) + 5) {
          val len = rnd.nextInt(6) + 1
          Array.fill(len)("abc0".charAt(rnd.nextInt(4))).mkString
        }
        (id, words.mkString(" "))
      }
      val d = docsDir(docs)
      val n = 10
      val local = ops.Bpe.learnMergesLocal(spark, d, n)
      val rescan = ops.Bpe.learnMergesRescan(spark, d, n)
      assert(local == rescan, s"trial $trial diverged")
    }
  }

  test("local learner matches rescan when the pair table exhausts") {
    // request far more merges than the corpus can supply: both learners
    // must stop at the same rank with identical tables
    val d = docsDir(Seq((1L, "aa aa ab")))
    val local = ops.Bpe.learnMergesLocal(spark, d, 6)
    val rescan = ops.Bpe.learnMergesRescan(spark, d, 6)
    assert(local == rescan)
    assert(local.size < 6, s"expected exhaustion, got $local")
  }

  test("learnMergesFresh dispatches by scan size, same output") {
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    // force the distributed branch (large tier), then the local branch
    // (default ceiling far above the fixture) — identical tables
    val viaDistributed =
      SizeTier.forcing(SizeTier.Large)(ops.Bpe.learnMergesFresh(spark, d, 4))
    val viaLocal = ops.Bpe.learnMergesFresh(spark, d, 4)
    assert(viaDistributed == viaLocal)
    assert(viaLocal == ops.Bpe.learnMergesRescan(spark, d, 4))
  }
}
