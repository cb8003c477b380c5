package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Sketch-based near-duplicate detection (SURVEY.md §2.4 X2) — the 100 TB
  * scale paths that avoid the exact all-pairs shingle join of
  * [[Text.qDedupNear]].
  *
  * Both sketches are fully deterministic (xxhash64 with fixed literal
  * seeds), so results are reproducible run-to-run and cluster-to-cluster —
  * but they are NOT SQL-expressible in DuckDB (different hash function), so
  * these keys carry no oracleSql and get the driver's rows-only check.
  * Their correctness is covered by ScalaTest asserting LSH output ==
  * exact-Jaccard output on the testdata corpus (the corpus's dup pairs sit
  * at J ≥ 0.9 where 8×4 banding has ~99.98% recall).
  *
  * Scale posture:
  *   - MinHash: per-doc sketch is a single groupBy over exploded shingles
  *     (32 mins computed map-side); banding shuffles only (band, bucket,
  *     id) triples; candidate pairs are bounded per bucket instead of per
  *     shingle. Exact Jaccard verification runs only on candidates.
  *   - SimHash: 64-bit signature via bit-vote aggregation; candidate pairs
  *     via multi-table block banding (Manku/Jain/Sarma, WWW'07 §3): the
  *     signature splits into 6 blocks and every 3-of-6 block combination
  *     forms a band table, so any pair within Hamming ≤ 3 shares at least
  *     one full combination — pigeonhole over blocks instead of 16-bit
  *     chunks. Hamming verified with bit_count(xor).
  */
object Sketches {

  private val NumHashes = 32
  private val NumBands  = 8 // × 4 rows per band

  /** X2 scale path: MinHash-LSH candidate generation + exact-Jaccard
    * verification. Output shape matches q_dedup_near (da, db, jaccard).
    *
    * Every per-document stage is a narrow map through the codegen
    * kernels: [[graft.functions.ShingleSet]] builds the shingle-hash set
    * and [[graft.functions.MinHashSketch]] derives the 32 minhashes from
    * it in one pass — no exploded shingle rows, no k-column min groupBy.
    * The only shuffles left are the ones that move information BETWEEN
    * documents: the (band, bucket) candidate self-join and the candidate
    * verification lookups, both bounded by bucket occupancy rather than
    * corpus size. */
  def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashVerifiedPairs(s, d).orderBy("da", "db")

  /** The LSH-banded, exact-verified near-dup pair set — the corpus-scale
    * candidate generator, factored out so the cluster operator can
    * consume the SAME pair set ([[qDedupClusterLsh]]): banding bounds
    * candidate volume by bucket occupancy, the intersect kernel verifies
    * only candidates, and the τ cut makes the surviving pairs
    * band-recall permitting identical to the exact-join pair set
    * (SketchSpec pins that equality on testdata). */
  private[graft] def minhashVerifiedPairs(s: SparkSession, d: String)
      : DataFrame = {
    import graft.functions.SketchKernels.minHashSketch
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    // Persisted memo: this plan reads the shingle sets THREE times
    // (sketch build + both verification joins). Unpersisted, each read
    // re-ran the scan+kernel, and the r15 official bench showed the
    // in-loop failure mode that invites: 2.9 s → 67.5 s wall (11× CPU)
    // for this key only, while the idle-box twin held steady. The memo
    // is registered with Text.clearCaches so bench keys stay
    // order-independent.
    val arr = Text.shingleSetsCached(s, d)
    val mh = arr.select(col("doc_id"),
      minHashSketch(col("hs"), NumHashes).as("mh"))

    // 8 band keys, each hashing 4 consecutive minhash positions
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((4 * b until 4 * b + 4).map(i =>
          element_at(col("mh"), i + 1)): _*).as("bkey"))
    }
    val banded = mh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))

    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()

    // exact verification restricted to candidates, via the two-pointer
    // intersect kernel over the already-materialized sorted sets
    cand
      .join(arr.as("aa"), col("da") === col("aa.doc_id"))
      .join(arr.as("ab"), col("db") === col("ab.doc_id"))
      .select(col("da"), col("db"),
        sortedIntersectCount(col("aa.hs"), col("ab.hs")).as("c"),
        col("aa.n").as("na"), col("ab.n").as("nb"))
      .select(col("da"), col("db"),
        round(col("c").cast("double") /
          (col("na") + col("nb") - col("c")), 6).as("jaccard"))
      .where(col("jaccard") >= 0.6)
  }

  /** Block boundaries for SimHash banding: 64 bits → 6 blocks of
    * 11/11/11/11/10/10 bits (offsets paired with widths). */
  private[graft] val SimHashBlocks: Seq[(Int, Int)] =
    Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))

  /** All C(6,3) = 20 block triples; combo c survives a pair iff none of
    * the pair's flipped bits land in c's three blocks. */
  private[graft] val SimHashCombos: Seq[Seq[Int]] =
    (0 until 6).combinations(3).map(_.toSeq).toSeq

  /** X2 alternative sketch: 64-bit SimHash signatures + Hamming-banded
    * near-dup pairs (Hamming ≤ 3 over distinct-token signatures).
    * Signatures come from the per-row [[graft.functions.SimHash64]]
    * kernel (value-identical to the exploded 64-column bit-vote
    * aggregation it replaced — SketchSpec pins this); only the banding
    * join shuffles.
    *
    * Banding (the 100 TB-safe shape, replacing the former 4×16-bit chunk
    * tables): the signature splits into 6 blocks (11/11/11/11/10/10 bits)
    * and each of the C(6,3)=20 block triples forms a band table keyed on
    * the 32–33 concatenated bits of its three blocks (hashed to one
    * 64-bit key). Hamming ≤ 3 flips touch ≤ 3 blocks, so ≥ 3 blocks
    * survive untouched and the pair collides in the table of any
    * untouched triple — recall 1.0 for Hamming ≤ 3, by pigeonhole, with
    * the explicit bit_count filter removing hash-collision false
    * positives. The old chunk tables had only 2^16 buckets each →
    * O(n²/65536) candidate pairs per table at corpus scale; these keys
    * span ≥ 2^32 buckets, so expected occupancy stays O(1) until ~10^10
    * docs (SimHashBandingSpec pins pair-set equality vs brute force). */
  def qSimhash(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchKernels.simHash64
    val sig = documents(s, d)
      .select(col("doc_id"), simHash64(col("text")).as("simhash"))
    hammingBandedPairs(sig, "doc_id", "simhash")
      .orderBy("da", "db")
  }

  /** The Manku 3-of-6 block-banded Hamming-≤3 pair generator over ANY
    * (id, 64-bit signature) frame — the machinery behind [[qSimhash]],
    * shared verbatim by image near-dup dedup over perceptual dHashes
    * ([[Multimodal.qImageNearDup]]): a 64-bit signature is a 64-bit
    * signature regardless of whether the bits came from token votes or
    * pixel-gradient signs. Returns (da, db, hamming) with da < db;
    * recall 1.0 for Hamming ≤ 3 by the block pigeonhole
    * (SimHashBandingSpec). */
  private[graft] def hammingBandedPairs(sig: DataFrame, idCol: String,
      sigCol: String): DataFrame = {
    def block(i: Int): Column = {
      val (off, w) = SimHashBlocks(i)
      shiftright(col(sigCol), off).bitwiseAND((1L << w) - 1L)
    }
    val bandStructs = SimHashCombos.zipWithIndex.map { case (combo, c) =>
      struct(lit(c).as("k"),
        xxhash64(lit(c) +: combo.map(block): _*).as("bkey"))
    }
    val banded = sig.select(col(idCol), col(sigCol),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col(sigCol), col("bk.k").as("k"),
        col("bk.bkey").as("bkey"))

    banded.as("x").join(banded.as("y"),
        col("x.k") === col("y.k") && col("x.bkey") === col("y.bkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("da"), col(s"y.$idCol").as("db"),
        bit_count(col(s"x.$sigCol").bitwiseXOR(col(s"y.$sigCol")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= 3)
  }

  /** X2 composition: connected-component clustering of the near-dup
    * pair graph via iterative label propagation (each node adopts the
    * minimum label among itself and its neighbors until fixpoint) — the
    * dedup-cluster primitive ("keep one doc per duplicate cluster").
    *
    * Scale posture: one shuffle join per iteration; iterations are
    * bounded by the graph diameter (near-dup clusters are tiny — this
    * converges in 1-2 rounds). The driver-side loop only reads a
    * convergence COUNT per round, never the data. Oracle: recursive-CTE
    * transitive closure over the same pairs. */
  def qDedupCluster(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // the pair set is the memoized materialized view (Text.nearDupPairs);
    // the derived edge list is additionally cached because every
    // propagation round joins against it
    val pairs = Text.nearDupPairs(s, d).select(col("da"), col("db"))
    labelPropagation(pairs, maxIter = 20)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** The full production dedup DAG in one key: MinHash banding generates
    * candidates, the exact intersect kernel verifies them, and label
    * propagation clusters the surviving pairs — sketch → verify →
    * cluster, which is how a 100 TB corpus is actually deduped (the
    * exact-join pair set [[qDedupCluster]] consumes is itself
    * quadratic-prone at corpus scale; the banded generator is not).
    * Shares q_dedup_cluster's oracle string, so the DuckDB gate proves
    * clusters(banded + verified) ≡ clusters(exact pairs) end to end. */
  def qDedupClusterLsh(s: SparkSession, d: String): DataFrame =
    labelPropagation(
      minhashVerifiedPairs(s, d).select(col("da"), col("db")),
      maxIter = 20)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .orderBy("doc_id")

  /** Rounds [[labelPropagation]] took to converge on its last invocation
    * — observability for the O(log diameter) claim (LabelPropagationSpec
    * asserts a 24-diameter chain converges in ≤ 8 rounds, not ~24). */
  private[graft] var lastLabelPropIterations: Int = 0

  /** Iterative min-label propagation over an undirected edge list given as
    * (da, db) pairs; returns (id, lbl) with lbl = the component's minimum
    * id. One shuffle join per round; the driver-side loop only reads a
    * convergence COUNT. Lineage is truncated with localCheckpoint every 5
    * rounds — without that, each iteration's plan embeds all previous
    * iterations' joins and a large-diameter graph blows up optimizer time
    * and stack depth long before data volume is a problem
    * (LabelPropagationSpec asserts the plan stays bounded).
    *
    * Scale posture — round count, not just per-round cost: plain neighbor
    * propagation needs O(diameter) rounds, and at warehouse scale each
    * round is a full keyed shuffle — a 10k-link duplication chain (shingle
    * chains of re-posted near-identical pages do this) would mean 10k
    * shuffles. From the third round on, each round therefore also POINTER
    * JUMPS: lbl ← lbl(lbl), one extra id-keyed equi-join that composes the
    * label mapping with itself, doubling the distance information travels
    * per round (the Wyllie/pointer-doubling idea; same mechanism that gives
    * the alternating star algorithms their O(log n) bound). Net: O(log
    * diameter) rounds, while shallow graphs (typical near-dup clusters,
    * diameter ≤ 3) converge before jumping starts and pay nothing extra.
    * Correctness is invariant: labels only ever decrease to ids inside the
    * same component, so the propagation fixpoint (chg == 0) is still
    * "constant per component = component min" with or without jumps. */
  /** The returned (id, lbl) frame projects the LAST round's cached
    * `next`, so that cache cannot be dropped before the caller consumes
    * the result — it is instead held here and unpersisted on the NEXT
    * invocation (or by [[clearLabelPropCache]]), bounding the session to
    * at most one retained round at any time instead of leaking one per
    * call. */
  private var lastRoundCache: DataFrame = null

  private[graft] def clearLabelPropCache(): Unit = synchronized {
    if (lastRoundCache != null) {
      try lastRoundCache.unpersist(blocking = false)
      catch { case _: Throwable => () }
      lastRoundCache = null
    }
  }

  private[graft] def labelPropagation(pairs: DataFrame, maxIter: Int)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    clearLabelPropCache()
    val cols = pairs.columns
    val edges = pairs
      .union(pairs.select(col(cols(1)), col(cols(0))))
      .toDF("src", "dst")
      .cache()
    // Size-dispatched LOCAL-PLAN rounds (r22, guide §7 driver dwell):
    // each round is ONE driver action (the convergence aggregate), but
    // under AQE that action materializes every shuffle of the round's
    // 2-3 joins as its own scheduled job plus a re-optimization pass —
    // the r22 StageProbe measured q_image_dedup_cluster at 29 jobs /
    // 2.1 s of inter-job driver dwell for 0.33 s of executor CPU, all
    // of it label-prop rounds. Adaptive planning buys nothing on a
    // graph that fits in one cache block, so once round 0 has
    // MATERIALIZED the edge cache (its stats then report exact cached
    // bytes — plan metadata, no extra job), rounds below the ceiling
    // run inside controlPlane with a pinned small shuffle width: one
    // scheduled job per round. At warehouse scale the edge cache
    // exceeds the ceiling and every round keeps AQE (skew splits,
    // coalescing) — the dispatch can only fire where the whole graph
    // is kilobytes. Labels are exact integers under a deterministic
    // min-fixpoint, so join strategy/partitioning cannot change the
    // result (LabelPropagationSpec + the shared dedup oracles pin it).
    val sess = pairs.sparkSession
    val localBytes = sess.conf
      .get("spark.graft.labelprop.localBytes", (64L << 20).toString).toLong
    var smallGraph = false
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    // the handle that actually went through .cache() — unpersist must
    // target the EXACT cached plan: calling it on the (id, lbl)
    // projection assigned to `labels` below never matches in the cache
    // manager (sameResult is checked against the cached plan), so the
    // projection-handle form leaked one cached round per iteration
    var prevCached: DataFrame = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("nid"))
        .agg(min(col("lbl")).as("nlbl"))
      // the convergence flag is computed INSIDE the propagation join (a
      // label changed iff a neighbor's min undercuts it), so one
      // aggregate action both materializes the round's cache and reads
      // the convergence count — the old form re-joined next against the
      // previous labels per round just to count changes, an extra
      // id-keyed shuffle join per iteration that carried no new
      // information
      var next = labels.join(neighborMin, labels("id") === col("nid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nlbl"), col("lbl")) < col("lbl")).as("chg"))
      if (iter % 5 == 4) next = next.localCheckpoint(eager = false)
      next.cache()
      def convergenceCount(): Long = next
        .agg(coalesce(sum(when(col("chg"), lit(1L)).otherwise(lit(0L))),
          lit(0L))) // empty graph (no pairs at all) sums to NULL
        .head.getLong(0) // 1-row convergence decision (driver control)
      val changed =
        if (smallGraph) Layout.controlPlane(sess, Some(4))(convergenceCount())
        else convergenceCount()
      if (iter == 0)
        // after round 0 the edge cache is materialized, so its plan
        // stats are the exact cached bytes — dispatch for the REMAINING
        // rounds on what the graph actually weighs, never an estimate
        smallGraph = edges.queryExecution.optimizedPlan.stats.sizeInBytes
          .<=(BigInt(localBytes)) // BigInt compare: never truncate
      if (prevCached != null) prevCached.unpersist()
      prevCached = next
      labels = next.select(col("id"), col("lbl"))
      converged = changed == 0
      if (!converged && iter >= 2) {
        // pointer jump (see scaladoc): every lbl value is itself a node id
        // present in `labels`, so the inner self-join is total. The right
        // side renames its columns so the self-join cannot hit Spark's
        // ambiguous-attribute resolution.
        val hop = labels.select(col("id").as("jid"), col("lbl").as("jlbl"))
        labels = labels.join(hop, col("lbl") === col("jid"))
          .select(col("id"), col("jlbl").as("lbl"))
      }
      iter += 1
    }
    lastLabelPropIterations = iter
    edges.unpersist()
    synchronized { lastRoundCache = prevCached }
    labels
  }

  /** Frequency threshold for [[qHeavyHitters]]: report tokens with
    * count > N/HH_PHI of the total token stream. */
  private[graft] val HH_PHI = 50

  /** Heavy hitters, EXACT output from an approximate pass: per-partition
    * Misra-Gries summaries (k counters, constant memory) propose a
    * candidate superset, then one broadcast-filtered recount keeps
    * exactly the tokens with global count > N/φ.
    *
    * Why the superset is safe: if a token's global count exceeds N/φ,
    * then by averaging its count exceeds N_p/φ in at least one partition,
    * and Misra-Gries with k ≥ φ counters never evicts an item whose
    * partition-local count exceeds N_p/(k+1) < N_p/φ. So the MG pass has
    * no false negatives and the recount removes all false positives —
    * sketch speed, exact answer, and the oracle can check it with plain
    * GROUP BY/HAVING.
    *
    * Scale posture: the sketch pass is mapPartitions with O(k) memory —
    * the legitimate use of per-partition imperative code (a groupBy on
    * raw tokens would shuffle the full token stream; this shuffles only
    * candidate-matching tokens, ≤ k·partitions keys). The 1-row total and
    * the candidate list are broadcast. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 4 * HH_PHI
    def toksDf = documents(s, d)
      .select(explode(Text.toks(col("text"))).as("t"))
    val candidates = toksDf.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (m.contains(t)) m(t) += 1L
        else if (m.size < k) m(t) = 1L
        else { // decrement-all, drop zeros (the classic MG step)
          m.mapValuesInPlace((_, v) => v - 1L)
          m.filterInPlace((_, v) => v > 0L)
        }
      }
      m.keysIterator
    }.toDF("t").distinct()
    // total token count WITHOUT a third explode: sum of per-doc token
    // array sizes — a narrow codegen'd scan, same value
    val tot = documents(s, d)
      .agg(sum(size(Text.toks(col("text")))).as("n"))
    toksDf.join(broadcast(candidates), Seq("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .where(col("cnt") * HH_PHI > col("n"))
      .select(col("t"), col("cnt"))
      .orderBy("t")
  }

  /** Heavy hitters PER GROUP (frequent tokens per language) through the
    * grouped Misra-Gries TypedImperativeAggregate
    * ([[graft.functions.MisraGriesAgg]]) — where [[qHeavyHitters]] runs
    * the sketch per PARTITION with mapPartitions, this runs it per KEY
    * through Spark's normal partial/final aggregation, so the bounded
    * k-counter summary also works under GROUP BY (and in streaming
    * state). Same exactness recipe: the merged summary proposes a
    * candidate superset (mergeable-summaries error ≤ N_g/(k+1) <
    * N_g/φ), one broadcast-filtered recount keeps exactly the tokens
    * with within-group count > N_g/φ.
    *
    * Scale posture: the sketch pass shuffles k counters per (map task,
    * group) instead of the full token stream; the recount shuffles only
    * candidate-matching tokens, ≤ k·|groups| keys broadcast. */
  def qHeavyHittersGrouped(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MisraGriesAgg.mgCandidates
    val k = 4 * HH_PHI
    def toks = documents(s, d)
      .select(col("lang"), explode(Text.toks(col("text"))).as("t"))
    val sketch = toks.groupBy("lang")
      .agg(mgCandidates(col("t"), k).as("cand"),
        count(lit(1)).as("n"))
    val cands = sketch.select(col("lang"), explode(col("cand")).as("t"))
    toks.join(broadcast(cands), Seq("lang", "t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("cnt"))
      .join(broadcast(sketch.select(col("lang"), col("n"))), Seq("lang"))
      .where(col("cnt") * HH_PHI > col("n"))
      .select(col("lang"), col("t"), col("cnt"))
      .orderBy("lang", "t")
  }

  /** Mergeable-sketch rollup — the pre-aggregation pattern that makes
    * distinct counting affordable at warehouse scale: (1) the "ingest"
    * job reduces each (lang, source) partition of the corpus to ONE
    * serialized KMV sketch of its distinct token hashes and PERSISTS the
    * sketch column to parquet; (2) the "query" job answers per-language
    * distinct-token estimates by merging a handful of kilobyte sketches —
    * it never rescans the corpus (Spark's own hll_sketch_agg /
    * hll_union_agg split, here over the graft KMV sketch so estimates
    * stay deterministic and mergeable with bit-identical results).
    *
    * Scale posture: stage 1 is one partial+final aggregation whose buffer
    * is k=256 longs per group, constant memory; stage 2 touches
    * #groups × ~2 KB regardless of corpus size. K-min-set union is
    * associative + commutative, so merged estimates equal direct ones
    * exactly (SketchColumnSpec pins that). Rows-only key: the estimator
    * isn't reproducible in DuckDB. */
  def qSketchRollup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KmvDistinct.{kmvMerge, kmvSketch}
    import org.apache.hadoop.fs.Path
    val sf = new Path(d).getName
    // Output root comes from config so the sketch table can live on a
    // real warehouse filesystem (HDFS/S3/anything with a Hadoop FS
    // implementation): spark conf first, JVM property next, local
    // target/ as the dev default. ALL path manipulation below goes
    // through the Hadoop FileSystem resolved from that root — never
    // java.io.File, which silently no-ops on non-local URIs.
    val confRoot = s.conf.getOption("spark.graft.io.dir")
      .orElse(sys.props.get("graft.io.dir"))
      .getOrElse("target/graft_io")
    val root = new Path(s"$confRoot/$sf/token_sketches")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // per-invocation unique leaf dir: two concurrent invocations on the
    // same scale factor (parallel bench, concurrency sweep) must not race
    // on one overwrite-then-read path. Leaves are single-use: sweep
    // siblings old enough that no live invocation can still be reading
    // them (bench reruns otherwise accumulate one copy of the sketch
    // table per timed run, unbounded).
    // mtime > 0 guard: object stores (S3A fake directories) can report
    // modificationTime 0 for directory entries — treating 0 as "ancient"
    // would sweep a LIVE concurrent invocation's leaf between its write
    // and its read-back merge. Unknown mtime → leave the leaf alone
    // (worst case: a stale leaf survives until a filesystem with real
    // mtimes or an operator cleans it).
    val staleMs = 30L * 60 * 1000
    if (fs.exists(root)) fs.listStatus(root)
      .filter(st => st.isDirectory && st.getModificationTime > 0 &&
        st.getModificationTime < System.currentTimeMillis() - staleMs)
      .foreach(st => fs.delete(st.getPath, /* recursive = */ true))
    val out = new Path(root, java.util.UUID.randomUUID().toString)
    // exception net: if this invocation dies between write and cleanup,
    // the filesystem reclaims the leaf at JVM exit (and the stale sweep
    // above catches even kill -9 on the next run)
    fs.deleteOnExit(out)
    documents(s, d)
      .select(col("lang"), col("source"),
        explode(Text.toks(col("text"))).as("t"))
      .groupBy("lang", "source")
      .agg(kmvSketch(xxhash64(col("t"))).as("sketch"),
        count(lit(1)).as("n_tokens"))
      .write.mode("overwrite").parquet(out.toString)
    // Demonstrator-only eager cleanup: production KEEPS the sketch table
    // (it is the warehouse artifact the pattern exists for); here the
    // leaf is single-use per invocation. Order matters for recoverability:
    // run the final merge over the files FIRST and pin its tiny result
    // (#groups × ~2 KB) with an eager localCheckpoint, and only then
    // delete the leaf — deleting right after checkpointing the raw scan
    // (the old form) cut lineage AND removed the files, so losing any
    // checkpoint block made the remaining aggregation unrecoverable.
    val result = s.read.parquet(out.toString)
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_sources"),
        sum(col("n_tokens")).as("n_tokens"),
        kmvMerge(col("sketch")).as("est_distinct_tokens"))
      .orderBy("lang")
      .localCheckpoint(eager = true)
    fs.delete(out, /* recursive = */ true)
    result
  }

  /** Mergeable QUANTILE sketch columns — the p50/p95/p99 companion to
    * [[qSketchRollup]]'s distinct counts: stage 1 builds one HDR-style
    * log-bucketed histogram sketch per (event_type, day) — the shape a
    * warehouse persists per ingest shard — and stage 2 answers
    * per-event-type quantiles by ADDING histograms, never rescanning or
    * sorting raw values ([[graft.functions.HdrHistogram]]).
    *
    * Scale posture: stage 1 is one partial+final aggregation with a
    * bounded bucket map per group; stage 2 touches #groups × ~1 KB. No
    * per-group sort, no window over raw rows — the quantile cost is
    * decoupled from row count entirely.
    *
    * Oracle-checked, unlike HLL-style sketches: the bucket arithmetic is
    * integer-exact (exponent = length(bin(v)) − 1) and bucket counts add
    * under union, so DuckDB computing the DIRECT histogram + rank walk
    * must equal Spark's two-level merge — the oracle re-proves
    * merge ≡ direct every round, the same trick the dedup DAG uses. */
  def qHdrQuantiles(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HdrHistogram.{hdrMergeQuantiles, hdrSketch}
    val e = graft.Events.events(s, d).select(col("event_type"),
      expr("ts div 86400000000000").as("day"), // epoch-day from nanos
      (graft.Tables.dec2(col("value")) * 100).cast("long").as("cents"))
    val daily = e.groupBy("event_type", "day")
      .agg(hdrSketch(col("cents")).as("sketch"), count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        hdrMergeQuantiles(col("sketch"), Seq(0.5, 0.9, 0.99)).as("q"))
      .select(col("event_type"), col("n_events"),
        round(col("q")(0).cast("double") / 100.0, 2).as("p50"),
        round(col("q")(1).cast("double") / 100.0, 2).as("p90"),
        round(col("q")(2).cast("double") / 100.0, 2).as("p99"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hdr_quantiles" -> qHdrQuantiles _,
    "q_minhash_lsh"   -> qMinhashLsh _,
    "q_simhash"       -> qSimhash _,
    "q_dedup_cluster" -> qDedupCluster _,
    "q_dedup_cluster_lsh" -> qDedupClusterLsh _,
    "q_heavy_hitters" -> qHeavyHitters _,
    "q_heavy_hitters_grouped" -> qHeavyHittersGrouped _,
    "q_sketch_rollup" -> qSketchRollup _,
  )

  /** SimHash stays non-oracle (xxhash64 isn't reproducible in DuckDB);
    * MinHash-LSH and the cluster operators ARE oracle-checked: banding
    * only generates CANDIDATES — the exact-Jaccard verify step makes the
    * surviving pair set identical to the exact path's (SketchSpec pins
    * that equality), so each shares its exact twin's oracle SQL and the
    * DuckDB gate re-proves LSH ≡ exact every round. */
  val oracleSql: Map[String, String] = Map(
    // DIRECT histogram + rank walk: Spark merges per-day sketches, the
    // oracle never splits by day — equality proves merge ≡ direct
    // (bucket counts are associative). Bucket/representative arithmetic
    // is the integer-exact mirror of HdrHistogram.bucketOf/repOf with
    // exponent = length(bin(cents)) − 1.
    "q_hdr_quantiles" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CASE WHEN cents < 128 THEN cents
        |         ELSE (CAST(length(bin(cents)) - 7 AS BIGINT) * 128)
        |            + ((cents >> (length(bin(cents)) - 8)) & 127)
        |    END AS bucket, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, bucket, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b),
        |rp AS (
        |  SELECT event_type, cum, c, n,
        |    CASE WHEN bucket < 128 THEN bucket
        |         ELSE (CAST(1 AS BIGINT) << CAST((bucket // 128) + 6 AS INTEGER))
        |            + (bucket % 128) *
        |              (CAST(1 AS BIGINT) << CAST((bucket // 128) - 1 AS INTEGER))
        |            + ((CAST(1 AS BIGINT) << CAST((bucket // 128) - 1 AS INTEGER)) >> 1)
        |    END AS rep
        |  FROM r),
        |q AS (
        |  SELECT event_type, MAX(n) AS n_events,
        |    MIN(CASE WHEN CAST(ceil(0.5 * n) AS BIGINT) > cum - c
        |              AND CAST(ceil(0.5 * n) AS BIGINT) <= cum
        |             THEN rep END) AS p50c,
        |    MIN(CASE WHEN CAST(ceil(0.9 * n) AS BIGINT) > cum - c
        |              AND CAST(ceil(0.9 * n) AS BIGINT) <= cum
        |             THEN rep END) AS p90c,
        |    MIN(CASE WHEN CAST(ceil(0.99 * n) AS BIGINT) > cum - c
        |              AND CAST(ceil(0.99 * n) AS BIGINT) <= cum
        |             THEN rep END) AS p99c
        |  FROM rp GROUP BY 1)
        |SELECT event_type, n_events,
        |  round(p50c / 100.0, 2) AS p50,
        |  round(p90c / 100.0, 2) AS p90,
        |  round(p99c / 100.0, 2) AS p99
        |FROM q ORDER BY event_type""".stripMargin,
    // same contract as q_dedup_near (Text.oracleSql), same reasoning as
    // q_dedup_cluster_lsh sharing clusterSql below. NOTE the equality
    // leans on the corpus's Jaccard gap (built-in near-dups sit >= 0.9,
    // where the 8x4 banding hit rate is > 0.9999; background < 0.4):
    // a borderline pair at J ~ 0.6 would have only a ~2/3 banding hit
    // rate and could make LSH lawfully omit a pair the exact oracle
    // keeps. SketchSpec's pair-set-equality assertion fails first and
    // names the pair if regenerated testdata ever closes that gap.
    "q_minhash_lsh" -> Text.oracleSql("q_dedup_near"),
    "q_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS t
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM tk)
        |SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tk, tot
        |GROUP BY t, n
        |HAVING COUNT(*) * 50 > n
        |ORDER BY t""".stripMargin,
    "q_heavy_hitters_grouped" ->
      """WITH tk AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS t
        |  FROM documents),
        |tot AS (SELECT lang, COUNT(*) AS n FROM tk GROUP BY 1)
        |SELECT tk.lang, t, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tk JOIN tot ON tk.lang = tot.lang
        |GROUP BY tk.lang, t, n
        |HAVING COUNT(*) * 50 > n
        |ORDER BY tk.lang, t""".stripMargin,
    "q_dedup_cluster" -> clusterSql,
    // The banded-generator composition MUST land on the same clusters as
    // the exact-pair path — one shared oracle string makes the DuckDB
    // gate prove it every round (and the two strings can't drift).
    "q_dedup_cluster_lsh" -> clusterSql,
  )

  private lazy val clusterSql: String =
      ("""WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db FROM cand
        |  JOIN sizes sa ON cand.da = sa.doc_id
        |  JOIN sizes sb ON cand.db = sb.doc_id
        |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.6),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |          UNION SELECT db, da FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS doc_id, MIN(r) AS cluster_rep
        |FROM reach GROUP BY id ORDER BY doc_id""").stripMargin
}
