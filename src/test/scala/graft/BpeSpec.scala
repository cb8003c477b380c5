package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins q_bpe_learn to the classic hand-computed BPE example (the
  * low/lower/newest/widest corpus from the public Sennrich et al. BPE
  * description): every merge, its order, and its weight are derived by
  * hand below, including three lexicographic tie-breaks — so any change
  * to pair counting, tie-breaking, or the non-overlapping left-to-right
  * substitution fails this spec. */
class BpeSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-bpe")
    rows.map { case (id, t) => (id, t, "en", "fix") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("BPE learns the hand-computed merge table on the classic corpus") {
    // vocab: low×5 lower×2 newest×6 widest×3
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    val got = ops.Bpe.qBpeLearn(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq
    // Hand derivation (pair weight = sum of word freqs over adjacent
    // symbol positions):
    //  r1: (e,s)=9 ties (s,t)=9 → lex picks (e,s)         → es    w9
    //  r2: (es,t)=9                                        → est   w9
    //  r3: (l,o)=7 ties (o,w)=7 → lex picks (l,o)          → lo    w7
    //  r4: (lo,w)=7                                        → low   w7
    //  r5: (e,w)=(n,e)=(w,est)=6 → lex picks (e,w)         → ew    w6
    //  r6: (ew,est)=(n,ew)=6 → lex picks (ew,est)          → ewest w6
    //  r7: (n,ewest)=6                                     → newest w6
    //  r8: (d,est)=(i,d)=(w,i)=3 → lex picks (d,est)       → dest  w3
    val expected = Seq(
      (1L, "e", "s", "es", 9L),
      (2L, "es", "t", "est", 9L),
      (3L, "l", "o", "lo", 7L),
      (4L, "lo", "w", "low", 7L),
      (5L, "e", "w", "ew", 6L),
      (6L, "ew", "est", "ewest", 6L),
      (7L, "n", "ewest", "newest", 6L),
      (8L, "d", "est", "dest", 3L))
    assert(got == expected)
  }

  test("encode applies the learned merges in rank order") {
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    val got = ops.Bpe.qBpeEncode(spark, d)
      .collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getLong(3))).toMap
    // replaying the 8 learned rules by hand:
    //   low    = l o w   → lo w → low                       (1 symbol)
    //   lower  = l o w e r → lo w e r → low e r             (3 symbols;
    //            no (e,r) or (low,e) rule exists)
    //   newest = n e w e s t → … → newest                   (1 symbol)
    //   widest = w i d e s t → w i d es t → w i d est
    //            → w i dest                                 (3 symbols)
    assert(got == Map(
      "low" -> ("low", 1L),
      "lower" -> ("low e r", 3L),
      "newest" -> ("newest", 1L),
      "widest" -> ("w i dest", 3L)))
  }

  test("tokenize maps every document to its id sequence via the vocab join") {
    val d = docsDir(Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))))
    // encoded vocab (previous test): low=[low], lower=[low,e,r],
    // newest=[newest], widest=[w,i,dest]. Distinct symbols sorted
    // lexicographically: dest=1 e=2 i=3 low=4 newest=5 r=6 w=7.
    val got = ops.Bpe.qBpeTokenizeDocs(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (Seq.fill(5)("4").mkString(","), 5L),
      2L -> (Seq.fill(2)("4,2,6").mkString(","), 6L),
      3L -> (Seq.fill(6)("5").mkString(","), 6L),
      4L -> (Seq.fill(3)("7,3,1").mkString(","), 9L)))
  }

  test("merge substitution is greedy left-to-right non-overlapping") {
    // "aaaa"×2: r1 merges (a,a)=6 adjacent positions… weight = 3
    // positions × 2 freq = 6; substitution must yield [aa, aa], not
    // [aa, a, a] or a re-merged [aaaa]
    val d = docsDir(Seq((1L, "aaaa aaaa")))
    val got = ops.Bpe.qBpeLearn(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq
    // vocab: aaaa×2 → symbols a a a a: pairs (a,a) weight 3·2=6
    // r1: a+a→aa w6 ; repr becomes "aa aa" → pairs (aa,aa) w2
    // r2: aa+aa→aaaa w2 ; repr "aaaa" → no pairs → loop stops
    assert(got == Seq(
      (1L, "a", "a", "aa", 6L),
      (2L, "aa", "aa", "aaaa", 2L)))
  }
}
