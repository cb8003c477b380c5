package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Lexical retrieval primitives over the `documents` table — the ranking
  * half of a training-data curation loop (query-focused corpus selection,
  * retrieval-based decontamination checks).
  *
  * Scale posture:
  *   - BM25 here is per-row tf computation (narrow, codegen'd) plus ONE
  *     single-row global statistics aggregate broadcast back to every
  *     partition — no explode, no per-token shuffle, one scan. At 100 TB
  *     the stats row is a one-off metadata job (or maintained
  *     incrementally by the warehouse); scoring stays embarrassingly
  *     parallel.
  *   - The inverted index is the one genuinely shuffle-heavy build
  *     (explode (doc, token) pairs, regroup by token) — that IS the
  *     operator; posting lists are capped and counts carried separately
  *     so no unbounded row ever materializes.
  */
object Ranking {

  /** Fixed query-term set for the oracle-checkable BM25 contract; the
    * library form takes any term list. */
  private val Terms = Seq("table", "hash", "window")

  /** Okapi BM25 (k1=1.2, b=0.75) of every document against [[Terms]].
    *
    * Per-term scores land in fixed columns and the total is the fixed-
    * order sum of those columns — no grouped double-sum whose addend
    * order could differ between engines; with ln() the only libm call,
    * round(…,4) on both sides absorbs the last-ULP difference. */
  def qBm25(s: SparkSession, d: String): DataFrame = {
    // tokens materialized in their own projection: the Column tree is
    // inlined at each of the 4 use sites below and lambda-bearing
    // expressions defeat codegen subexpression elimination, so inlining
    // the tokenizer would re-run the regex split 4x per row
    val tk = col("tk")
    val perDoc = documents(s, d)
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(tk).cast("long").as("dl"),
        size(filter(tk, t => t === Terms(0))).cast("long").as("tf_table"),
        size(filter(tk, t => t === Terms(1))).cast("long").as("tf_hash"),
        size(filter(tk, t => t === Terms(2))).cast("long").as("tf_window"))
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      sum(when(col("tf_table") > 0, 1L).otherwise(0L)).as("df_table"),
      sum(when(col("tf_hash") > 0, 1L).otherwise(0L)).as("df_hash"),
      sum(when(col("tf_window") > 0, 1L).otherwise(0L)).as("df_window"))
    // identical double expression text on both engines:
    //   idf = ln((n - df + 0.5)/(df + 0.5) + 1)
    //   s   = idf * tf*2.2 / (tf + 1.2*(0.25 + 0.75*dl/avgdl))
    def score(tf: String, df: String) =
      log((col("n_docs").cast("double") - col(df) + 0.5d) /
            (col(df).cast("double") + 0.5d) + 1.0d) *
        (col(tf).cast("double") * 2.2d) /
        (col(tf).cast("double") +
          lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dl").cast("double") / col("avgdl")))
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        col("tf_table"), col("tf_hash"), col("tf_window"),
        round(score("tf_table", "df_table"), 4).as("s_table"),
        round(score("tf_hash", "df_hash"), 4).as("s_hash"),
        round(score("tf_window", "df_window"), 4).as("s_window"),
        round(score("tf_table", "df_table") + score("tf_hash", "df_hash") +
          score("tf_window", "df_window"), 4).as("bm25"))
      .orderBy("doc_id")
  }

  /** Inverted-index build: token → document frequency + capped posting
    * list (first 10 doc ids, ascending, as a canonical CSV string — the
    * driver compare can't sort arrays). One explode of DISTINCT per-doc
    * tokens, one shuffle on token; the full posting list at scale is
    * written bucketed-by-token, the cap here keeps the contract
    * deterministic and rows bounded. */
  def qInvertedIndex(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(Text.toks(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(slice(sort_array(collect_list(col("doc_id"))), 1, 10),
            x => x.cast("string")), ",").as("postings10"))
      .orderBy("token")

  /** Library form of BM25: any term list, same per-row-tf + one-broadcast-
    * stats plan as [[qBm25]] (which pins the 3-term oracle contract). */
  def bm25(s: SparkSession, d: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct)
    val tk = Text.toks(col("text"))
    def tfc(t: String) = s"tf_$t"
    def dfc(t: String) = s"df_$t"
    val perDoc = documents(s, d)
      .select(col("doc_id"), tk.as("tk"))
      .select(
        col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
          terms.map(t =>
            size(filter(col("tk"), x => x === t)).cast("long")
              .as(tfc(t))): _*)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        terms.map(t =>
          sum(when(col(tfc(t)) > 0, 1L).otherwise(0L)).as(dfc(t))): _*)
    def score(t: String) =
      log((col("n_docs").cast("double") - col(dfc(t)) + 0.5d) /
            (col(dfc(t)).cast("double") + 0.5d) + 1.0d) *
        (col(tfc(t)).cast("double") * (k1 + 1.0)) /
        (col(tfc(t)).cast("double") +
          lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("avgdl")))
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        terms.map(score).reduce(_ + _).as("bm25"))
      .orderBy("doc_id")
  }

  /** Full (uncapped) inverted index as a DataFrame of (token, doc_id, tf)
    * postings — the layout that gets WRITTEN bucketed-by-token at scale,
    * so every retrieval/scoring join on `token` is co-located and
    * shuffle-free (proof: InvertedIndexSpec). */
  def postings(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(Text.toks(col("text"))).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).cast("long").as("tf"))

  /** Token co-occurrence with pointwise mutual information — the corpus
    * word-association statistic (collocation mining, embedding-free
    * similarity, phrase detection). Presence-based: a pair counts once
    * per document containing both tokens.
    *
    * Scale posture: the vocabulary is first cut to tokens appearing in
    * ≥ 20% of documents (df·5 ≥ N) — by Zipf that set is dozens of words
    * at ANY corpus size, so it broadcasts safely forever. Pairs are then
    * generated MAP-SIDE from each doc's sorted qualifying-token array via
    * nested `transform` (no self-join shuffle keyed on doc_id — the
    * classic way to do this shuffles the token table against itself);
    * the only wide ops are the df aggregation, the per-doc collect_set,
    * and the final (t1,t2) count. Pair volume is bounded by
    * |vocab|²/2 · N rows before the partial aggregate collapses them
    * map-side. PMI = ln(c_pair·N / (df1·df2)); all products are
    * integer-exact in double range, round(…,6) absorbs the ln ULP. */
  def qCooccurrence(s: SparkSession, d: String): DataFrame = {
    val toksD = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(Text.toks(col("text")))).as("t"))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val vocab = toksD.groupBy("t").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") * 5 >= col("n_docs"))
      .select("t", "df")
    val docToks = toksD.join(broadcast(vocab.select("t")), "t")
      .groupBy("doc_id").agg(sort_array(collect_set(col("t"))).as("ts"))
    // fanOutSmallScan on the per-doc token sets: AQE coalesces the tiny
    // collect_set shuffle to ~1 partition — right for bytes, wrong for
    // the compute-bound HOF pair expansion stacked on it (r21
    // StageProbe: 1.4 s on one task). Dispatch on the DOCUMENTS SCAN's
    // exact stats, not docToks' own estimate: the post-join estimate
    // multiplies above the ceiling even at kilobyte volume, which
    // silently blocked the fan-out (the r21 probe caught exactly that).
    // docToks has at most one row per document, so the scan bound is
    // sound, and at corpus scale the scan is over the ceiling → identity.
    val pairs = fanOutSmallScan(docToks, sizeOf = Some(documents(s, d)))
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> transform(" +
          "slice(ts, i + 2, size(ts)), y -> struct(x AS t1, y AS t2))))"))
        .as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("c_pair"))
    pairs
      .join(broadcast(vocab.select(col("t").as("t1"), col("df").as("df1"))),
        "t1")
      .join(broadcast(vocab.select(col("t").as("t2"), col("df").as("df2"))),
        "t2")
      .crossJoin(broadcast(nDocs))
      .where(col("c_pair") * 10 >= col("n_docs"))
      .select(col("t1"), col("t2"), col("c_pair"), col("df1"), col("df2"),
        round(log(col("c_pair").cast("double") * col("n_docs") /
          (col("df1") * col("df2"))), 6).as("pmi"))
      .orderBy("t1", "t2")
  }

  /** Corpus-level top-k bigrams per language through the custom
    * [[graft.plans.TopKPerKey]] physical operator: bigram counting is a
    * partial+final hash aggregation, then the per-language top-5 runs as
    * the two-phase partial/final top-k — map-side heaps bound the final
    * shuffle at k·partitions·languages rows, where the row_number window
    * form would shuffle every distinct bigram. Non-distinct bigrams
    * (counting occurrences, not presence — contrast Text.bigrams). */
  def qTopNgrams(s: SparkSession, d: String): DataFrame = {
    val tk = documents(s, d)
      .select(col("lang"), Text.toks(col("text")).as("tk"))
    val counts = tk
      .select(col("lang"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
    graft.plans.TopKPerKey.topKPerKey(counts,
      Seq(counts("lang")),
      Seq(counts("cnt").desc, counts("bigram")),
      5)
      .select("lang", "bigram", "cnt")
      .orderBy(col("lang"), col("cnt").desc, col("bigram"))
  }

  /** Bigram conditional language model over the corpus: for every
    * high-frequency context token w1, the top-3 next tokens by
    * P(w2|w1) = c(w1,w2)/c(w1) — the n-gram LM estimation step (quality
    * perplexity filters, autocomplete, phrase statistics).
    *
    * Scale posture: one bigram count aggregation (partial+final), one
    * context-marginal aggregation derived from it, and a Zipf cut —
    * contexts carrying ≥ 0.5% of all bigram volume are a few dozen words
    * at ANY corpus size, so the qualifying-context table broadcasts
    * forever and prunes the bigram table map-side. The top-3 filter is
    * the row_number()≤k idiom, which [[graft.plans.RowNumberTopKRewrite]]
    * rewrites into the two-phase partial/final top-k operator — no
    * whole-vocabulary window shuffle. P is a double division of two
    * exact longs (IEEE-identical in DuckDB), rounded to 6. */
  def qBigramLm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = documents(s, d)
      .select(Text.toks(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
    val big = tk
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = big.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val total = big.agg(sum(col("c12")).as("n_big"))
    val hot = ctx.crossJoin(broadcast(total))
      .where(col("c1") * 200 >= col("n_big"))
      .select("w1", "c1")
    big.join(broadcast(hot), "w1")
      .withColumn("rk", row_number().over(
        Window.partitionBy("w1").orderBy(col("c12").desc, col("w2"))))
      .where(col("rk") <= 3)
      // rk is DROPPED here (rank is implicit in the output order), which
      // is exactly what lets RowNumberTopKRewrite replace the whole
      // Filter+Window with the two-phase TopKPerKey operator
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round(col("c12").cast("double") / col("c1"), 6).as("p"))
      .orderBy(col("w1"), col("c12").desc, col("w2"))
  }

  /** Per-document top-3 terms by TF-IDF (idf = ln(N/df)) — the classic
    * term-weighting step behind keyword extraction, sparse retrieval, and
    * topic labeling of training shards.
    *
    * Scale posture: tf is one (doc_id, term) partial+final aggregation;
    * df re-aggregates tf's output (no second scan); the tf⋈df join is a
    * plain shuffle equi-join on `term` — NO broadcast hint, because the
    * vocabulary is the one table that grows without bound (the
    * q_unigram_surprisal lesson), and AQE still broadcasts it when it
    * fits. The top-3-per-doc filter is the row_number()≤k idiom that
    * [[graft.plans.RowNumberTopKRewrite]] turns into the two-phase
    * partial/final top-k, so the window shuffle carries ≤ 3·partitions
    * rows per doc, not the full posting volume. Ranking uses the ROUNDED
    * score with a term tiebreak so both engines select identical rows. */
  def qTfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents(s, d)
      .select(col("doc_id"), explode(Text.toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
  }

  /** Per-source KL divergence of the source's token distribution against
    * the whole-corpus distribution — the domain-shift statistic behind
    * mixture rebalancing and outlier-domain detection in corpus curation
    * (cf. q_domain_mix, which weights by doc counts; this weighs by what
    * the tokens actually say).
    *
    * Scale posture: one (source, token) aggregation, corpus marginals
    * re-aggregated from its OUTPUT (no second scan of documents), and a
    * shuffle equi-join on `token` — never a vocabulary broadcast. The
    * per-source reduction uses the algebraic split
    *   KL = Σ c_st·ln(c_st/c_t) / n_s + ln(n_all/n_s)
    * so the per-term expression needs only (c_st, c_t): the source
    * marginal n_s falls out of the SAME groupBy rather than a pre-join.
    * Every wide op partial-aggregates map-side and is keyed by token (or
    * (source, token)) — never by source alone before a partial agg — so
    * a giant source never funnels through one reducer. */
  def qDomainDivergence(s: SparkSession, d: String): DataFrame = {
    val st = documents(s, d)
      .select(col("source"), explode(Text.toks(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c_st"))
    val ct = st.groupBy("t").agg(sum(col("c_st")).as("c_t"))
    val tot = st.agg(sum(col("c_st")).cast("double").as("n_all"))
    st.join(ct, "t")
      .groupBy("source")
      .agg(sum(col("c_st")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("c_st").cast("double") *
          log(col("c_st").cast("double") / col("c_t"))).as("s1"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("s1") / col("n_tokens") +
          log(col("n_all") / col("n_tokens")), 6).as("kl"))
      .orderBy("source")
  }

  /** Per-document perplexity proxy under the corpus's own bigram LM:
    * nll = −(1/n) Σ ln P(w2|w1) over the doc's bigrams, with
    * P(w2|w1) = c12/c1 estimated from the whole corpus — the classic
    * LM-based quality filter (low nll ≈ fluent/common phrasing, high
    * nll ≈ noise, boilerplate-breaking, or OOD text). No smoothing is
    * needed: every doc bigram exists in the corpus counts by
    * construction, so P > 0 always.
    *
    * Scale posture: doc-level bigram counts aggregate FIRST (partial+
    * final on (doc_id, w1, w2)), the corpus bigram and context marginals
    * re-aggregate that output (no second scan), and both prob joins are
    * plain shuffle equi-joins — the bigram table is vocab²-scale and must
    * never broadcast. The big⋈ctx join keys on w1 alone, where hot
    * contexts ("the") are real skew: that's a join, not an agg, so AQE's
    * skew-join split handles it (OptimizeSkewedJoin), and the probe side
    * carries one row per DISTINCT doc bigram, not per occurrence. */
  def qDocPerplexity(s: SparkSession, d: String): DataFrame = {
    // fanOutSmallScan: the bigram explode is the expensive per-row stage
    // and a single-row-group scan ran it on ONE task (r21 StageProbe:
    // 2 × 0.66 s serial). localCheckpoint: db feeds BOTH the corpus LM
    // (big → ctx) and the probe join; the src/key pruning above the two
    // consumers defeated exchange reuse, so the doc-bigram aggregation
    // (scan + tokenize + explode + shuffle) executed twice per run — the
    // cut materializes it once (same pattern as Graph's edge lists).
    val tk = fanOutSmallScan(documents(s, d))
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
    val db = tk
      .select(col("doc_id"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c_doc"))
      .localCheckpoint(eager = false)
    val big = db.groupBy("w1", "w2").agg(sum(col("c_doc")).as("c12"))
    val ctx = big.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val bp = big.join(ctx, "w1")
    db.join(bp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("c_doc")).as("n_bigrams"),
        sum(col("c_doc").cast("double") *
          log(col("c12").cast("double") / col("c1"))).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 6).as("nll"))
      .orderBy("doc_id")
  }

  /** Hybrid retrieval: BM25 lexical ranking fused with embedding-cosine
    * semantic ranking by reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher 2009, k = 60) — the standard two-tower retrieval shape a
    * curation loop uses to pull query-relevant training slices. The
    * lexical side reuses [[qBm25]]'s exact score expression; the
    * semantic side scores every corpus vector against the fixed query
    * vector (vec_id 0; the embeddings table is row-aligned with
    * documents) with the codegen'd sequential-fold dot kernel. Each
    * side is cut to its top 50 BEFORE ranks are assigned via
    * orderBy+limit — a distributed TakeOrdered, so the row_number
    * window ranks 50 rows and no global sort of the corpus ever
    * happens (the rank-after-top-k pattern; at 100 TB both sides
    * remain one scan + one bounded take). Fusion is a 50∨50-row
    * full-outer join; absent ranks contribute nothing to the RRF sum
    * and surface as rank 0. Doubles are safe for the oracle: ranks are
    * integers, the RRF sum is a two-term fold of 1/(60+rank), and BM25
    * ties are broken on the already-round(4) score then doc_id. */
  def qHybridRetrieval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExprs.dotProduct
    val topN = 50
    val lexTop = qBm25(s, d)
      .where(col("bm25") > 0)
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topN)
    val lex = lexTop.withColumn("rank_lex",
      row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_lex"))
    val e = embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = e.where(col("vec_id") === 0).select(col("emb").as("qe"))
    val semTop = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        (dotProduct(col("emb"), col("qe")) /
          (sqrt(dotProduct(col("emb"), col("emb"))) *
            sqrt(dotProduct(col("qe"), col("qe"))))).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(topN)
    val sem = semTop.withColumn("rank_sem",
      row_number().over(Window.orderBy(col("cosine").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(0)).cast("long").as("rank_lex"),
        coalesce(col("rank_sem"), lit(0)).cast("long").as("rank_sem"),
        round(
          coalesce(lit(1.0d) / (lit(60) + col("rank_lex")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(60) + col("rank_sem")), lit(0.0d)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25"           -> qBm25 _,
    "q_hybrid_retrieval" -> qHybridRetrieval _,
    "q_tfidf"          -> qTfidf _,
    "q_domain_divergence" -> qDomainDivergence _,
    "q_doc_perplexity" -> qDocPerplexity _,
    "q_inverted_index" -> qInvertedIndex _,
    "q_cooccurrence"   -> qCooccurrence _,
    "q_top_ngrams"     -> qTopNgrams _,
    "q_bigram_lm"      -> qBigramLm _,
  )

  val oracleSql: Map[String, String] = Map(
    "q_hybrid_retrieval" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'table')) AS BIGINT) AS tf_table,
        |    CAST(len(list_filter(tk, x -> x = 'hash')) AS BIGINT) AS tf_hash,
        |    CAST(len(list_filter(tk, x -> x = 'window')) AS BIGINT) AS tf_window
        |  FROM tk),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        |    CAST(SUM(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_table,
        |    CAST(SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
        |    CAST(SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_window
        |  FROM p),
        |scored AS (
        |  SELECT doc_id,
        |    round(ln((CAST(n_docs AS DOUBLE) - df_table + 0.5)/(CAST(df_table AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf_table AS DOUBLE) * 2.2)
        |      / (CAST(tf_table AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl))
        |    + ln((CAST(n_docs AS DOUBLE) - df_hash + 0.5)/(CAST(df_hash AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf_hash AS DOUBLE) * 2.2)
        |      / (CAST(tf_hash AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl))
        |    + ln((CAST(n_docs AS DOUBLE) - df_window + 0.5)/(CAST(df_window AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf_window AS DOUBLE) * 2.2)
        |      / (CAST(tf_window AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl)), 4) AS bm25
        |  FROM p, st),
        |lex AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
        |      AS rank_lex
        |  FROM scored WHERE bm25 > 0
        |  QUALIFY rank_lex <= 50),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |      FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
        |sem AS (
        |  SELECT vec_id AS doc_id,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY list_cosine_similarity(e.emb, q.qe) DESC, vec_id)
        |      AS BIGINT) AS rank_sem
        |  FROM e, q WHERE vec_id <> 0
        |  QUALIFY rank_sem <= 50)
        |SELECT doc_id,
        |  COALESCE(rank_lex, 0) AS rank_lex,
        |  COALESCE(rank_sem, 0) AS rank_sem,
        |  round(COALESCE(CAST(1 AS DOUBLE) / (60 + rank_lex), 0)
        |      + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_sem), 0), 6) AS rrf
        |FROM lex FULL OUTER JOIN sem USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q_doc_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |f AS (SELECT doc_id, tk FROM tk WHERE len(tk) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
        |  FROM f),
        |db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
        |         CAST(COUNT(*) AS BIGINT) AS c_doc
        |       FROM bg GROUP BY 1, 2, 3),
        |big AS (SELECT w1, w2, CAST(SUM(c_doc) AS BIGINT) AS c12
        |        FROM db GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
        |        FROM big GROUP BY 1),
        |bp AS (SELECT big.w1, big.w2, c12, c1 FROM big JOIN ctx USING (w1)),
        |per AS (
        |  SELECT db.doc_id, CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
        |    SUM(CAST(c_doc AS DOUBLE) * ln(CAST(c12 AS DOUBLE) / c1)) AS s
        |  FROM db JOIN bp ON db.w1 = bp.w1 AND db.w2 = bp.w2
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, round(-s / n_bigrams, 6) AS nll
        |FROM per ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS term FROM tk),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |       FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(CAST(tf.tf AS DOUBLE) *
        |      ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term), nd),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rk
        |  FROM sc)
        |SELECT doc_id, term, tf, df, tfidf
        |FROM r WHERE rk <= 3
        |ORDER BY doc_id, tfidf DESC, term""".stripMargin,
    "q_domain_divergence" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> x <> '')) AS t
        |  FROM documents),
        |st AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_st
        |       FROM tk GROUP BY 1, 2),
        |ct AS (SELECT t, CAST(SUM(c_st) AS BIGINT) AS c_t
        |       FROM st GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_st) AS DOUBLE) AS n_all FROM st),
        |per AS (
        |  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    SUM(CAST(c_st AS DOUBLE) * ln(CAST(c_st AS DOUBLE) / c_t)) AS s1
        |  FROM st JOIN ct USING (t) GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        |  round(s1 / n_tokens + ln(n_all / n_tokens), 6) AS kl
        |FROM per, tot ORDER BY source""".stripMargin,
    "q_bigram_lm" ->
      """WITH tk AS (
        |  SELECT list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS tk
        |  FROM documents WHERE len(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) >= 2),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b
        |  FROM tk),
        |c AS (SELECT b.w1 AS w1, b.w2 AS w2,
        |        CAST(COUNT(*) AS BIGINT) AS c12
        |      FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
        |        FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_big FROM c),
        |hot AS (SELECT w1, c1 FROM ctx, tot WHERE c1 * 200 >= n_big),
        |r AS (
        |  SELECT c.w1, c.w2, c.c12, hot.c1,
        |    ROW_NUMBER() OVER (PARTITION BY c.w1
        |      ORDER BY c.c12 DESC, c.w2) AS rk
        |  FROM c JOIN hot ON c.w1 = hot.w1)
        |SELECT w1, w2, c12, c1,
        |  round(CAST(c12 AS DOUBLE) / c1, 6) AS p
        |FROM r WHERE rk <= 3
        |ORDER BY w1, c12 DESC, w2""".stripMargin,
    "q_top_ngrams" ->
      """WITH tk AS (
        |  SELECT lang, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT lang, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM tk WHERE len(tk) >= 2),
        |c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, bigram, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, bigram) AS rn
        |  FROM c)
        |SELECT lang, bigram, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rn <= 5
        |ORDER BY lang, cnt DESC, bigram""".stripMargin,
    "q_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'table')) AS BIGINT) AS tf_table,
        |    CAST(len(list_filter(tk, x -> x = 'hash')) AS BIGINT) AS tf_hash,
        |    CAST(len(list_filter(tk, x -> x = 'window')) AS BIGINT) AS tf_window
        |  FROM tk),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        |    CAST(SUM(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS df_table,
        |    CAST(SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS df_hash,
        |    CAST(SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS df_window
        |  FROM p)
        |SELECT doc_id, dl, tf_table, tf_hash, tf_window,
        |  round(ln((CAST(n_docs AS DOUBLE) - df_table + 0.5)/(CAST(df_table AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf_table AS DOUBLE) * 2.2)
        |    / (CAST(tf_table AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl)), 4) AS s_table,
        |  round(ln((CAST(n_docs AS DOUBLE) - df_hash + 0.5)/(CAST(df_hash AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf_hash AS DOUBLE) * 2.2)
        |    / (CAST(tf_hash AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl)), 4) AS s_hash,
        |  round(ln((CAST(n_docs AS DOUBLE) - df_window + 0.5)/(CAST(df_window AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf_window AS DOUBLE) * 2.2)
        |    / (CAST(tf_window AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl)), 4) AS s_window,
        |  round(ln((CAST(n_docs AS DOUBLE) - df_table + 0.5)/(CAST(df_table AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf_table AS DOUBLE) * 2.2)
        |    / (CAST(tf_table AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl))
        |  + ln((CAST(n_docs AS DOUBLE) - df_hash + 0.5)/(CAST(df_hash AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf_hash AS DOUBLE) * 2.2)
        |    / (CAST(tf_hash AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl))
        |  + ln((CAST(n_docs AS DOUBLE) - df_window + 0.5)/(CAST(df_window AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf_window AS DOUBLE) * 2.2)
        |    / (CAST(tf_window AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)/avgdl)), 4) AS bm25
        |FROM p CROSS JOIN st ORDER BY doc_id""".stripMargin,
    "q_inverted_index" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''))) AS token
        |  FROM documents)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings10
        |FROM tk GROUP BY token ORDER BY token""".stripMargin,
    "q_cooccurrence" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |tok AS (SELECT DISTINCT doc_id, unnest(tk) AS t FROM tk),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tok
        |       GROUP BY t),
        |v AS (SELECT t, df FROM df, nd WHERE df * 5 >= n_docs),
        |tv AS (SELECT tok.doc_id, tok.t FROM tok JOIN v USING (t)),
        |p AS (SELECT a.t AS t1, b.t AS t2,
        |        CAST(COUNT(*) AS BIGINT) AS c_pair
        |      FROM tv a JOIN tv b
        |        ON a.doc_id = b.doc_id AND a.t < b.t
        |      GROUP BY a.t, b.t)
        |SELECT t1, t2, c_pair, d1.df AS df1, d2.df AS df2,
        |  round(ln(CAST(c_pair AS DOUBLE) * n_docs / (d1.df * d2.df)), 6)
        |    AS pmi
        |FROM p JOIN v d1 ON p.t1 = d1.t JOIN v d2 ON p.t2 = d2.t, nd
        |WHERE c_pair * 10 >= n_docs
        |ORDER BY t1, t2""".stripMargin,
  )
}
