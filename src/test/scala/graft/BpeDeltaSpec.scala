package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The delta-update BPE learner (incremental pair-count maintenance) must
  * (1) produce the exact merge table of the full-recount learner on every
  * corpus, and (2) actually bound per-round distributed work to the words
  * containing the merged pair — the property that makes 10⁵-merge
  * tokenizer training affordable, pinned here via the learner's reported
  * affected-word counts on a corpus built so each merge touches a known
  * small subset of a large vocabulary. */
class BpeDeltaSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-bped")
    rows.map { case (id, t) => (id, t, "en", "fix") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("delta learner == rescan learner on the classic corpus") {
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    assert(ops.Bpe.learnMergesDelta(spark, d)._1 ==
      ops.Bpe.learnMergesRescan(spark, d))
  }

  test("delta learner == rescan learner on sf0.001 testdata") {
    val d = "/root/testdata/sf0.001"
    val delta = ops.Bpe.learnMergesDelta(spark, d)._1
    assert(delta == ops.Bpe.learnMergesRescan(spark, d))
    assert(delta.nonEmpty)
  }

  test("per-round work is proportional to affected words only") {
    // 24 filler words (rotations of 8 disjoint letter triples — every
    // filler pair lives in exactly 2 words) + one high-frequency pair
    // confined to 2 words. A full-recount learner re-processes all 26
    // vocabulary words every round; the delta learner must only touch
    // the words containing each round's merged pair: 2, then 1, then
    // ≤ 2 per filler round.
    val filler = Seq(
      "abc", "def", "ghi", "jkl", "mno", "prs", "tuv", "wxy",
      "bca", "efd", "hig", "klj", "nom", "rsp", "uvt", "xyw",
      "cab", "fde", "igh", "ljk", "omn", "spr", "vtu", "ywx")
    val d = docsDir(
      filler.zipWithIndex.map { case (w, i) => (i.toLong, w) } ++ Seq(
        (100L, Seq.fill(40)("qq").mkString(" ")),
        (101L, Seq.fill(30)("qqz").mkString(" "))))
    val (merges, affected) = ops.Bpe.learnMergesDelta(spark, d)
    // round 1 merges (q,q) w70 — present in exactly the 2 q-words
    assert(merges.head._2 == "q" && merges.head._3 == "q" &&
      merges.head._5 == 70L)
    assert(affected.head == 2L,
      s"round 1 rewrote ${affected.head} words, expected the 2 q-words")
    // round 2 merges (qq,z) w30 — present in exactly 1 word
    assert(merges(1)._2 == "qq" && merges(1)._3 == "z" &&
      merges(1)._5 == 30L)
    assert(affected(1) == 1L)
    // every later round merges a filler pair, each confined to ≤ 2 of
    // the 26 vocabulary words — never a vocabulary-wide rewrite
    assert(affected.drop(2).forall(_ <= 2L), affected.mkString(","))
  }

  test("learnMerges auto-dispatches rescan vs delta on merge count") {
    // the dispatch is a pure cost decision (both learners are output-
    // equivalent, proven above); pin the branch at both ends of the
    // measured crossover so a demonstrator request keeps the cheap
    // rescan plan and a 10⁵-merge tokenizer build lands on the delta.
    assert(ops.Bpe.learnerFor(8) == "rescan")
    assert(ops.Bpe.learnerFor(ops.Bpe.DeltaCrossoverMerges) == "rescan")
    assert(ops.Bpe.learnerFor(ops.Bpe.DeltaCrossoverMerges + 1) == "delta")
    assert(ops.Bpe.learnerFor(100000) == "delta")
    // and the dispatching entry agrees with the direct learner on a
    // real corpus at both branch settings
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    val viaDispatch = ops.Bpe.learnMerges(spark, d, nMerges = 4)
    val viaRescan = ops.Bpe.learnMergesRescan(spark, d, nMerges = 4)
    assert(viaDispatch == viaRescan)
    val deep = ops.Bpe.learnMerges(spark, d,
      nMerges = ops.Bpe.DeltaCrossoverMerges + 5)
    // tiny vocab exhausts its pairs long before the requested count;
    // the delta branch must still agree with rescan on the full table
    val deepRescan = ops.Bpe.learnMergesRescan(spark, d,
      nMerges = ops.Bpe.DeltaCrossoverMerges + 5)
    assert(deep == deepRescan)
  }
}
