package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant coverage for the curation-stack operators that previously had
  * only the driver oracle as a safety net (`q_segment_dedup`,
  * `q_dup_ngrams`, `q_classifier_score`, `q_semantic_dedup`): crafted
  * fixtures with hand-computed expected rows, plus semantic invariants the
  * oracle's hash compare can't express (idempotence, keeper-minimality). */
class CurationSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Writes a documents.parquet fixture (driver testdata schema) and
    * returns the directory usable as an sfDir. */
  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-docs")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def embDir(rows: Seq[(Long, Seq[Float], Int)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-emb")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ---- q_substring_dedup -----------------------------------------------

  test("substring dedup: later copy of a shared span removed in full, " +
      "first copy and unique text intact") {
    // doc 1: unique prefix a1..a4 + shared span s1..s12 (12 > anchor 8)
    // doc 2: shared span s1..s12 + unique suffix b1..b4
    // doc 3: fully unique
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, ((1 to 4).map(i => s"a$i").mkString(" ")) + " " + shared,
        "en", "a"),
      (2L, shared + " " + ((1 to 4).map(i => s"b$i").mkString(" ")),
        "en", "a"),
      (3L, (1 to 10).map(i => s"u$i").mkString(" "), "en", "a")))
    val out = ops.Curation.qSubstringDedup(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds the corpus-first occurrence of every shared gram: intact
    assert(out(1L) == ((16L, 0L,
      (1 to 4).map(i => s"a$i").mkString(" ") + " " + shared)))
    // doc 2's 12 shared-span tokens are all covered by later occurrences
    // of the 5 shared 8-grams; its unique suffix survives
    assert(out(2L) == ((16L, 12L, (1 to 4).map(i => s"b$i").mkString(" "))))
    // doc 3 shares nothing: untouched
    assert(out(3L) == ((10L, 0L, (1 to 10).map(i => s"u$i").mkString(" "))))
  }

  test("substring dedup: intra-doc repetition beyond first occurrence " +
      "is removed too") {
    val span = (1 to 8).map(i => s"r$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, span + " z1 z2 " + span, "en", "a")))
    val out = ops.Curation.qSubstringDedup(spark, d).collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 18L)
    assert(out(0).getLong(2) == 8L)
    assert(out(0).getString(3) == span + " z1 z2")
  }

  // ---- q_segment_dedup -------------------------------------------------

  private def words(prefix: String, from: Int, to: Int): String =
    (from to to).map(i => s"$prefix$i").mkString(" ")

  test("segment dedup: first occurrence wins, doc rebuilt from survivors") {
    val d = docsDir(Seq(
      (1L, words("w", 1, 20), "en", "a"),             // segments W1, W2
      (2L, words("w", 1, 10) + " " + words("x", 11, 20), "en", "a"))) // W1 dup + X
    val out = ops.Curation.qSegmentDedup(spark, d)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[Long]("n_segs") == 2 && r1.getAs[Long]("n_kept") == 2)
    assert(r1.getAs[String]("clean_text") == words("w", 1, 20))
    val r2 = out(1)
    assert(r2.getAs[Long]("n_segs") == 2 && r2.getAs[Long]("n_kept") == 1,
      "doc 2's copy of doc 1's first segment must be dropped")
    assert(r2.getAs[String]("clean_text") == words("x", 11, 20))
  }

  test("segment dedup is idempotent on aligned segments") {
    // all segments exactly 10 tokens → re-running over the rebuilt docs
    // re-chunks at identical boundaries, and survivors are globally
    // distinct by construction, so a second pass keeps everything
    val d = docsDir(Seq(
      (1L, words("w", 1, 20), "en", "a"),
      (2L, words("w", 1, 10) + " " + words("x", 11, 20), "en", "a"),
      (3L, words("x", 11, 20) + " " + words("y", 1, 10), "en", "a")))
    val first = ops.Curation.qSegmentDedup(spark, d)
      .select(col("doc_id"), col("clean_text").as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val d2 = docsDir(first.map { case (id, t) => (id, t, "en", "a") })
    val second = ops.Curation.qSegmentDedup(spark, d2).collect()
    second.foreach { r =>
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_segs"),
        s"second pass dropped segments for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  // ---- q_dup_ngrams ----------------------------------------------------

  test("dup ngrams: hand-computed fractions on a crafted overlap") {
    // doc 1: a1..a10 → grams at i=1..3; doc 2 shares exactly gram i=1
    // (a1..a8); doc 3 is too short for any 8-gram and must be absent
    val d = docsDir(Seq(
      (1L, words("a", 1, 10), "en", "a"),
      (2L, words("a", 1, 8) + " b9 b10", "en", "a"),
      (3L, "tiny doc under eight tokens yes", "en", "a")))
    val out = ops.Curation.qDupNgrams(spark, d).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    out.foreach { r =>
      assert(r.getAs[Long]("n_tok") == 10)
      assert(r.getAs[Long]("n_grams") == 3)
      assert(r.getAs[Long]("n_dup_pos") == 1,
        "exactly the shared a1..a8 gram is duplicated")
      assert(r.getAs[Double]("dup_ratio") == 0.333333)
      assert(r.getAs[Double]("dup_token_frac") == 0.8,
        "the shared gram covers token positions 1..8 of 10")
    }
  }

  // ---- q_classifier_score ----------------------------------------------

  test("classifier score: hand-computed Naive-Bayes rows") {
    // train (doc_id % 10 < 8): en {alpha beta, alpha gamma},
    //                          fr {delta epsilon, delta zeta}
    // → c(alpha)=(2,0) c(beta)=(1,0) c(gamma)=(1,0)
    //   c(delta)=(0,2) c(epsilon)=(0,1) c(zeta)=(0,1)
    //   t1=4 t0=4 v=6 d1=2 d0=2 → prior=ln(3/3)=0, w0=0
    //   w(alpha)=ln(3/10)-ln(1/10)=ln3=1.098612
    //   w(beta)=ln2=0.693147, w(delta)=-ln3, w(epsilon)=-ln2
    // test docs: 8 = "alpha beta nova" (nova unseen → w0=0)
    //            9 = "delta epsilon"
    val d = docsDir(Seq(
      (0L, "alpha beta", "en", "a"), (1L, "alpha gamma", "en", "a"),
      (2L, "delta epsilon", "fr", "a"), (3L, "delta zeta", "fr", "a"),
      (8L, "alpha beta nova", "en", "a"), (9L, "delta epsilon", "fr", "a")))
    val out = ops.Curation.qClassifierScore(spark, d)
      .orderBy("doc_id").collect()
    assert(out.length == 2, "only held-out docs (id % 10 >= 8) are scored")
    val r8 = out(0)
    assert(r8.getAs[Long]("doc_id") == 8 && r8.getAs[Long]("n_tok") == 3)
    assert(r8.getAs[Double]("score") == 1.7918, // ln3 + ln2 + 0, round4
      s"got ${r8.getAs[Double]("score")}")
    assert(r8.getAs[Int]("pred_en") == 1 && r8.getAs[Int]("is_en") == 1)
    val r9 = out(1)
    assert(r9.getAs[Long]("doc_id") == 9 && r9.getAs[Long]("n_tok") == 2)
    assert(r9.getAs[Double]("score") == -1.7918) // -(ln3 + ln2)
    assert(r9.getAs[Int]("pred_en") == 0 && r9.getAs[Int]("is_en") == 0)
  }

  test("classifier score: prediction is the sign of the score (real data)") {
    ops.Curation.qClassifierScore(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        val expect = if (r.getAs[Double]("score") > 0) 1 else 0
        assert(r.getAs[Int]("pred_en") == expect)
      }
  }

  // ---- q_semantic_dedup ------------------------------------------------

  test("semantic dedup: keeper is the lowest-id cluster-mate above τ") {
    // ids 0..7 are the seed centroids (orthogonal unit vectors → mutual
    // cosine 0, none deduped); 8 and 9 sit in id-0's cluster and are both
    // near-duplicates of vector 0 AND of each other — the keeper must be
    // the MINIMUM qualifying id (0), never 8 for 9
    def unit(i: Int): Seq[Float] =
      (0 until 8).map(j => if (i == j) 1f else 0f)
    val d = embDir(
      (0 until 8).map(i => (i.toLong, unit(i), 0)) ++ Seq(
        (8L, Seq(1f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f), 0),
        (9L, Seq(0.99f, 0.05f, 0f, 0f, 0f, 0f, 0f, 0f), 0)))
    val out = ops.Vectors.qSemanticDedup(spark, d).orderBy("vec_id")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("kept_by")))
    assert(out.toSeq == Seq((8L, 0L), (9L, 0L)), out.mkString(", "))
  }

  test("semantic dedup: every dropped vector names a lower-id keeper") {
    ops.Vectors.qSemanticDedup(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        assert(r.getAs[Long]("kept_by") < r.getAs[Long]("vec_id"))
        assert(r.getAs[Double]("kept_cosine") >= 0.45)
      }
  }

  // ---- q_bloom_decontaminate -------------------------------------------

  test("bloom decontamination equals the exact broadcast-join form") {
    val d = "/root/testdata/sf0.001"
    val exact = ops.Curation.qDecontaminate(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val bloom = ops.Curation.qBloomDecontaminate(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact.nonEmpty, "fixture must actually contain contamination")
    assert(bloom == exact,
      "the verify join must cancel every Bloom false positive")
  }

  // ---- q_weighted_sample -----------------------------------------------

  test("weighted sample: kept set is exactly the integer-hash PPS rule") {
    val d = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, d)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = all
      .filter { case (id, nc) => (id * 2654435761L) % 1000L < math.min(nc, 450L) }
      .map(_._1).sorted.toSeq
    val got = ops.Curation.qWeightedSample(spark, d)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(got == expect, "sample membership must be hash-deterministic")
    assert(expect.nonEmpty && expect.size < all.length,
      "fixture must exercise both keep and drop")
  }

  test("weighted sample: HT weights invert the inclusion probability") {
    ops.Curation.qWeightedSample(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        val w = math.min(r.getAs[Long]("n_chars"), 450L)
        assert(r.getAs[Double]("p_incl") ==
          math.rint(w / 1000.0 * 1e6) / 1e6)
        assert(r.getAs[Double]("ht_weight") ==
          math.rint(1000.0 / w * 1e6) / 1e6)
      }
  }

  // ---- q_cnpj_flagship -------------------------------------------------

  test("cnpj flagship key: every row passes the reference IN lists") {
    val rows = cnpj.FlagshipKey.qCnpjFlagship(spark, "/root/testdata/sf0.001")
    assert(rows.count() > 0)
    // descriptions encode the joined dim ids — check them against the
    // reference's literal filters
    rows.select("descricao_cnae", "nome_municipio",
        "descricao_situacao_cadastral").distinct().collect().foreach { r =>
      val cnae = r.getString(0).stripPrefix("cnae_").toLong
      val mun = r.getString(1).stripPrefix("municipio_").toInt
      val sit = r.getString(2).stripPrefix("situacao_").toInt
      assert(cnpj.Flagship.cnaes.contains(cnae))
      assert(cnpj.Flagship.municipios.contains(mun))
      assert(cnpj.Flagship.situacoes.contains(sit))
    }
    assert(rows.columns.toSeq == cnpj.Flagship.outputCols,
      "projection must keep the reference's 20-column order")
  }
}
