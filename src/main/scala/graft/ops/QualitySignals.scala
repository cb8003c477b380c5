package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Corpus-hygiene signals beyond [[Text.qTextQuality]]'s length/stopword
  * heuristics: within-document repetition (the Gopher-style "repetitive
  * junk" filters), PII redaction, and the corpus length profile.
  *
  * Scale posture:
  *   - Repetition ratios are per-row except the top-token mode, which is
  *     one (doc_id, token) explode + regroup — partial-aggregated map-side
  *     so the shuffle carries (doc, token, count) triples, never text.
  *   - PII scrubbing is a pure per-row regex pass, codegen'd, zero
  *     shuffle — the shape of every masking/filter pass over 100 TB.
  *   - The histogram is a classic low-cardinality groupBy: partial
  *     aggregation collapses each partition to ≤ n_bins rows before the
  *     one tiny shuffle.
  */
object QualitySignals {

  /** Within-doc repetition signals: duplicate-token ratio, duplicate-
    * bigram ratio, and the most-frequent token with its mass fraction
    * (ties broken lexicographically — determinism is part of the
    * contract). High values flag boilerplate/spam for corpus filtering. */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    // tokens materialized once: the Column tree would otherwise be
    // inlined at 3 use sites and lambda-bearing exprs defeat codegen
    // subexpression elimination (regex split re-run per use)
    val toked = documents(s, d)
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
    val tk = col("tk")
    val base = toked.select(
      col("doc_id"),
      size(tk).cast("long").as("n_tok"),
      size(array_distinct(tk)).cast("long").as("n_distinct"),
      size(Text.bigrams(tk)).cast("long").as("n_bg_distinct"))
    val top = toked
      .select(col("doc_id"), explode(tk).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n").desc, col("token"))))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("token").as("top_tok"), col("n").as("top_n"))
    base.join(top, "doc_id")
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        col("top_tok"), col("top_n"),
        (lit(1.0d) - col("n_distinct").cast("double") / col("n_tok"))
          .as("dup_tok_ratio"),
        (col("top_n").cast("double") / col("n_tok")).as("top_tok_frac"),
        when(col("n_tok") >= 2,
          lit(1.0d) - col("n_bg_distinct").cast("double") / (col("n_tok") - 1))
          .otherwise(lit(0.0d)).as("dup_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** PII redaction: the corpus rows are augmented with deterministic
    * synthetic contact strings (the test corpus contains none), then
    * emails, IPv4s and phone-shaped numbers are counted and masked.
    * Regexes stay in the Java∩RE2 common dialect so the oracle replays
    * them exactly; output carries the match counts plus the fingerprint
    * of the scrubbed text, not the text itself. */
  def qPiiScrub(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phoneRe = "\\b\\d{3}-\\d{4}\\b"
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com via 10.0."),
      (col("doc_id") % 256).cast("string"), lit("."),
      (col("doc_id") % 100).cast("string"), lit(" or call 555-01"),
      lpad((col("doc_id") % 100).cast("string"), 2, "0"))
    // One fused kernel in place of six regex expressions per row, each
    // re-decoding the same augmented UTF8String: the kernel decodes once
    // and fuses the email count+replace pass (functions/PiiScrub.scala).
    // PiiScrubKernelSpec pins it output-identical to the six-regex form.
    val pii = graft.functions.PiiScrub
      .piiScrub(aug, emailRe, ipRe, phoneRe)
    documents(s, d).select(col("doc_id"), pii.as("p"))
      .select(
        col("doc_id"),
        col("p.n_email").as("n_email"),
        col("p.n_ip").as("n_ip"),
        col("p.n_phone").as("n_phone"),
        length(col("p.scrubbed")).cast("long").as("n_scrub"),
        md5(col("p.scrubbed")).as("scrub_fp"))
      .orderBy("doc_id")
  }

  /** Unigram surprisal — the model-free perplexity surrogate used to
    * rank corpus quality: mean −ln(p(token)) per document under the
    * corpus's own unigram distribution. Two narrow passes: the token
    * frequency table (a (token, n) aggregate), then a per-doc mean over
    * the exploded tokens. Only the 1-row grand total is broadcast; the
    * frequency table joins back as a plain shuffle equi-join on token —
    * at 100 TB the long-tail vocabulary runs to billions of rows and a
    * broadcast would OOM the driver, while AQE still promotes the join
    * to broadcast at runtime whenever freq actually fits. Shuffles carry
    * (token, count) and (doc, partial-sum) pairs only; round(…,4)
    * absorbs ln() ULPs. */
  def qUnigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val toked = documents(s, d)
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
    val tokens = toked.select(col("doc_id"), explode(col("tk")).as("token"))
    val freq = tokens.groupBy("token").agg(count(lit(1)).as("n"))
    val total = freq.agg(sum(col("n")).as("n_total"))
    tokens
      .join(freq.crossJoin(broadcast(total)), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        round(
          (sum(-log(col("n").cast("double") / col("n_total"))) /
            count(lit(1))), 4).as("surprisal"))
      .orderBy("doc_id")
  }

  /** Corpus length profile: equi-width histogram of document char
    * lengths (200-char bins). */
  def qLengthHistogram(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(expr("n_chars div 200").as("bin"), col("n_chars"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("bin")

  /** Compression-ratio quality signal (the Gopher-style "too
    * compressible = boilerplate, incompressible = noise" filter):
    * deflate(level 6) output bytes over input bytes per document. zlib
    * is deterministic for a fixed level, so the column is reproducible;
    * it is NOT SQL-expressible, so the contract is the rows-only check
    * plus CompressRatioSpec (stability + boilerplate ordering). Pure
    * per-row map — the UDF is interpreted, but deflate dominates the
    * call overhead; zero shuffle. */
  def qCompressRatio(s: SparkSession, d: String): DataFrame = {
    val deflateLen = udf { (text: String) =>
      if (text == null) 0L
      else {
        val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val defl = new java.util.zip.Deflater(6, false)
        defl.setInput(in)
        defl.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!defl.finished()) total += defl.deflate(buf)
        defl.end()
        total
      }
    }
    documents(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_raw"),
        deflateLen(col("text")).as("n_deflate"))
      .select(col("doc_id"), col("n_raw"), col("n_deflate"),
        round(col("n_deflate").cast("double") / col("n_raw"), 4)
          .as("ratio"))
      .orderBy("doc_id")
  }

  /** Shannon entropy of each doc's within-doc token distribution — low
    * entropy flags template/boilerplate text the way repetition ratios do,
    * but weights by frequency. Algebraic form ln(n) − Σc·ln(c)/n avoids a
    * per-token division and folds the whole signal into ONE partial+final
    * aggregation after the (doc_id, token) count — two shuffles on the
    * same doc_id key (co-partitioned), linear at any scale. round(6)
    * absorbs the add-order FP jitter of the Σ so the hash compare is
    * stable across partitionings and engines. */
  def qTokenEntropy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(Text.toks(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("s"))
      .select(col("doc_id"), col("n_tok"),
        round(log(col("n_tok").cast("double")) -
          col("s") / col("n_tok").cast("double"), 6).as("entropy"))
      .orderBy("doc_id")

  /** Zipf-law fit over the top-100 corpus tokens: least-squares slope of
    * ln(freq) against ln(rank) — the corpus-health check that catches
    * template/boilerplate-dominated crawls (slope far from ≈ −1) before
    * any per-doc filter runs.
    *
    * Scale posture: token counts are one partial+final aggregation; the
    * top-100 cut is a global sort+limit, which Spark plans as
    * TakeOrderedAndProject — per-partition top-100 heaps merged on the
    * driver, never a full sort. Everything after operates on exactly 100
    * rows (the single-partition window is 100 rows by construction).
    * Slope comes from the closed form (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    * with identical expression text in the oracle; round(…,4) on slope
    * and intercept absorbs sum-order ULP drift. */
  def qZipfFit(s: SparkSession, d: String): DataFrame = {
    val top = documents(s, d)
      .select(explode(Text.toks(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t"))
      .limit(100)
    val xy = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("t"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    xy.agg(count(lit(1)).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_tokens"),
        round((col("n_tokens") * col("sxy") - col("sx") * col("sy")) /
          (col("n_tokens") * col("sxx") - col("sx") * col("sx")), 4)
          .as("slope"),
        round((col("sy") - ((col("n_tokens") * col("sxy") -
          col("sx") * col("sy")) /
          (col("n_tokens") * col("sxx") - col("sx") * col("sx"))) *
          col("sx")) / col("n_tokens"), 4).as("intercept"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zipf_fit"   -> qZipfFit _,
    "q_repetition" -> qRepetition _,
    "q_pii_scrub"  -> qPiiScrub _,
    "q_length_histogram" -> qLengthHistogram _,
    "q_unigram_surprisal" -> qUnigramSurprisal _,
    "q_compress_ratio" -> qCompressRatio _,
    "q_token_entropy" -> qTokenEntropy _,
  )

  val oracleSql: Map[String, String] = Map(
    "q_zipf_fit" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS t
        |  FROM documents),
        |c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
        |top AS (SELECT t, cnt FROM c ORDER BY cnt DESC, t LIMIT 100),
        |r AS (SELECT cnt,
        |        ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rank
        |      FROM top),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |              ln(CAST(cnt AS DOUBLE)) AS y
        |       FROM r),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |        SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(x*y) AS sxy, SUM(x*x) AS sxx
        |      FROM xy)
        |SELECT n_tokens,
        |  round((n_tokens * sxy - sx * sy) /
        |        (n_tokens * sxx - sx * sx), 4) AS slope,
        |  round((sy - ((n_tokens * sxy - sx * sy) /
        |        (n_tokens * sxx - sx * sx)) * sx) / n_tokens, 4)
        |    AS intercept
        |FROM a""".stripMargin,
    "q_token_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t, COUNT(*) AS c FROM tk GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_tok,
        |  round(ln(CAST(SUM(c) AS DOUBLE)) -
        |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
        |      / CAST(SUM(c) AS DOUBLE), 6) AS entropy
        |FROM c GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_distinct(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1]))) AS BIGINT) AS n_bg_distinct
        |  FROM t),
        |c AS (
        |  SELECT doc_id, token, COUNT(*) AS n
        |  FROM (SELECT doc_id, unnest(tk) AS token FROM t)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, token, n,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY n DESC, token) AS rn
        |  FROM c)
        |SELECT b.doc_id, n_tok, n_distinct,
        |  token AS top_tok, CAST(n AS BIGINT) AS top_n,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_tok AS dup_tok_ratio,
        |  CAST(n AS DOUBLE) / n_tok AS top_tok_frac,
        |  CASE WHEN n_tok >= 2
        |    THEN 1.0 - CAST(n_bg_distinct AS DOUBLE) / (n_tok - 1)
        |    ELSE 0.0 END AS dup_bigram_ratio
        |FROM b JOIN r ON b.doc_id = r.doc_id AND rn = 1
        |ORDER BY b.doc_id""".stripMargin,
    "q_pii_scrub" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com via 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 100 AS VARCHAR) || ' or call 555-01'
        |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS aug
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, aug,
        |    regexp_replace(regexp_replace(regexp_replace(aug,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(aug,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(aug,
        |    '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(length(scrubbed) AS BIGINT) AS n_scrub,
        |  md5(scrubbed) AS scrub_fp
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_unigram_surprisal" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(tk) AS token FROM tk),
        |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM f)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  round(SUM(-ln(CAST(n AS DOUBLE) / n_total)) / COUNT(*), 4)
        |    AS surprisal
        |FROM t JOIN f USING (token) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_length_histogram" ->
      """SELECT n_chars // 200 AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_chars) AS min_chars,
        |  MAX(n_chars) AS max_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY bin""".stripMargin,
  )
}
