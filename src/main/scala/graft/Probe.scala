package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchProtocol.{bestOf, jsonObj, loadAvg1m, r3}
import graft.streaming.{DocIngest, EventStream, StatefulSessions}

/** Dev measurement CLI: one main, five subcommands (`Usage`), each a
  * [[run]] over a caller's session so a spec can drive it without
  * stopping a shared session. Measures under [[BenchProtocol]]'s rules
  * on its sf dir; `explain`'s `sfDir` overrides it. Not part of the
  * driver contract. */
object Probe {

  private val Usage = "usage: graft.Probe stages <key[,key...]> [runs=2]" +
    " | scale [outPath] | manifest-scale [sizes=10000,50000,200000]" +
    " [commits=20] | stream | explain [key] [sfDir]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String],
      sfDir: String = BenchProtocol.sfDir): Unit = args match {
    case Seq("stages", keys, rest @ _*) =>
      stages(spark, sfDir, keys.split(",").toSeq,
        rest.headOption.map(_.toInt).getOrElse(2))
    case Seq("scale", rest @ _*) => scale(spark, sfDir, rest.headOption)
    case Seq("manifest-scale", rest @ _*) =>
      manifestScale(spark,
        rest.headOption.getOrElse("10000,50000,200000")
          .split(",").map(_.trim.toInt).toSeq,
        rest.lift(1).map(_.toInt).getOrElse(20))
    case Seq("stream") => stream(spark, sfDir)
    case Seq("explain", rest @ _*) =>
      explain(spark, rest.headOption, rest.lift(1).getOrElse(sfDir))
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** Run each key and print per-STAGE wall/CPU/task attribution and the
    * driver dwell between its jobs, so a multi-stage query's cost can be
    * assigned to the operator that spends it (guide §1: decide whether
    * the time goes to shuffle read, compute, or scheduling BEFORE
    * changing anything). After one warmup run outside the probe window
    * (JIT/codegen, parquet footers), every run [[BenchProtocol.bestOf]]
    * takes is probed, then more up to `runs`; the BEST line is the
    * rule's figure. */
  def stages(spark: SparkSession, sfDir: String, keys: Seq[String],
      runs: Int): Unit = {
    val lis = new BenchProtocol.Listener
    spark.sparkContext.addSparkListener(lis)
    try keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      BenchProtocol.timeOnce(spark, sfDir, fn)
      var probed = 0
      def probeOnce(): Double = {
        lis.clear(spark)
        val t = BenchProtocol.timeOnce(spark, sfDir, fn)
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        probed += 1
        println(f"== $key run wall=$t%.3f s ==")
        val rows = lis.rows
        rows.sortBy(-_.cpuMs).take(12).foreach { r =>
          println(f"  job=${r.jobId}%3d stage=${r.stageId}%4d cpu=${r.cpuMs}%6d ms run=${r.runMs}%6d ms wall=${r.wallMs}%6d ms tasks=${r.tasks}%4d sr=${r.shuffleReadMB}%8.1f MB sw=${r.shuffleWriteMB}%8.1f MB in=${r.inputMB}%8.1f MB  ${r.name}")
        }
        println(f"  TOTAL cpu=${rows.map(_.cpuMs).sum}%6d ms over ${rows.size} stages, ${rows.map(_.tasks).sum} tasks")
        val jobs = lis.jobs.sortBy(_.startMs)
        val jobWall = jobs.map(j => j.endMs - j.startMs).sum
        val gapSum = jobs.map(_.gapMs).sum
        println(f"  JOBS n=${jobs.size} jobWall=$jobWall%5d ms interJobGap=$gapSum%5d ms (driver dwell between jobs)")
        jobs.foreach { j =>
          val site = if (j.site.nonEmpty) j.site
            else rows.find(_.jobId == j.jobId).map(_.name).getOrElse("")
          println(f"    gap=${j.gapMs}%5d ms before job=${j.jobId}%3d (ran ${j.endMs - j.startMs}%4d ms)  $site")
        }
        t
      }
      val (best, n) = bestOf(() => probeOnce())
      while (probed < runs) probeOnce()
      println(f"BEST $key wall=$best%.3f (best of $n)")
    } finally spark.sparkContext.removeSparkListener(lis)
  }

  /** Print the formatted physical plan of one or all queries — the
    * feedback loop for the scale checklist (PushedFilters reaching the
    * scan, dims broadcast, WholeStageCodegen spans, shuffle count). */
  def explain(spark: SparkSession, key: Option[String],
      sfDir: String): Unit = {
    val targets = key match {
      case Some(n) => Seq(n -> SparkEntry.queries(n))
      case None    => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    targets.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
  }

  /** Measure the manifest metadata plane's cost as a function of table
    * FILE COUNT — the scaling axis the per-key bench never exercises
    * (sf0.1 tables hold tens of files; a 100 TB table holds ~800k).
    *
    * For each size N it builds a table whose head manifest lists N lines
    * (synthetic paths through the REAL commit protocol —
    * [[ops.Layout.appendEntriesUnchecked]], the CAS loop minus data
    * staging; the metadata plane never opens data files, so line realness
    * does not change what is measured), then reports:
    *
    *   - `commit_ms`: mean wall per ONE-LINE append commit (the
    *     streaming-sink / CDC-upsert shape) over `commits` commits
    *   - `commit_bytes`: mean manifest bytes WRITTEN per such commit
    *   - `cold_read_ms`: head file-list reconstruction with an
    *     invalidated cache (the planning-time cost of one fresh reader)
    *
    * One JSON line per run. Pre-r20 (full-rewrite manifests) both commit
    * columns grow linearly in N — the wall the r19 verdict named; the
    * r20 delta+checkpoint format is flat in N for commits and bounded by
    * checkpoint-interval full reads for cold reads. Numbers are recorded
    * in BASELINE.md. The probe tables are deleted afterwards.
    */
  def manifestScale(spark: SparkSession, sizes: Seq[Int],
      commits: Int): Unit = {
    import spark.implicits._
    val base = s"target/manifest_probe_${System.nanoTime()}"
    // a realistic line: txn-dir path + @bytes + one bounds group
    def line(i: Long): String =
      f"data/txn-seed/f$i%08d.parquet@131072\tid\t$i\t$i"
    val results = try sizes.map { n =>
      val table = s"$base/t$n"
      ops.Layout.dropTable(spark, table)
      ops.Layout.commitSnapshot(spark, table,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      var at = 0L
      while (at < n) { // chunked setup: few commits, each O(n) once
        val c = math.min(100000L, n - at)
        ops.Layout.appendEntriesUnchecked(spark, table,
          (at until at + c).map(line))
        at += c
      }
      val root = new org.apache.hadoop.fs.Path(table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val samples = (0 until commits).map { i =>
        val t0 = System.nanoTime()
        val v = ops.Layout.appendEntriesUnchecked(spark, table,
          Seq(line(10000000L + i)))
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, fs.getFileStatus(new org.apache.hadoop.fs.Path(
          root, s"manifests/v$v.manifest")).getLen)
      }
      val commitMs = samples.map(_._1).sum / commits
      val p50Ms = samples.map(_._1).sorted.apply(commits / 2)
      val maxMs = samples.map(_._1).max
      val bytes = samples.map(_._2).sum
      ops.Layout.invalidateManifestCache(spark, table)
      val r0 = System.nanoTime()
      val head = ops.Layout.currentVersion(fs, root)
      val nLines = ops.Layout.versionFilePaths(fs, root, head).size
      val coldMs = (System.nanoTime() - r0) / 1e6
      require(nLines == n + 3 + commits,
        s"probe self-check: head lists $nLines lines, " +
          s"expected ${n + 3 + commits}")
      f""""$n":{"commit_ms":$commitMs%.2f,"commit_ms_p50":$p50Ms%.2f,""" +
        f""""commit_ms_max":$maxMs%.2f,""" +
        f""""commit_bytes":${bytes / commits},"cold_read_ms":$coldMs%.2f}"""
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(base))
    println(s"""{"probe":"manifest_scale","commits":$commits,""" +
      s""""sizes":{${results.mkString(",")}}}""")
  }

  /** Streaming micro-benchmark: rows/s through each stateful streaming
    * pipeline at `sfDir` — the state-store regression signal the
    * batch bench can't see (all streaming ops are spec-proven ≡ batch, but
    * a state-store slowdown would never show up in `graft.Bench`).
    *
    * Each pipeline replays the sf dir's parquet through the file streaming
    * source into a noop sink and reports input rows / wall seconds, the
    * wall being [[BenchProtocol.bestOf]] its runs (same warmup rationale
    * as Bench). Prints ONE JSON line and self-persists it to
    * SPARK_GRAFT_STREAMBENCH_OUT, default STREAMBENCH.json (driver stdout
    * tails truncate). The session's conf and the temp dirs are left as
    * they were found.
    *
    * Measurement honesty (the round-8 1,010 rows/s finding): the documents
    * table is 20× smaller than events at every sf, so a single-file replay
    * measured (5,000 rows ÷ ~5 s of per-query FIXED cost — query start,
    * one micro-batch, 32 state-partition commits, the watermark's no-data
    * batch, stop) — a denominator artifact, not a state-store cost; the
    * event pipelines pay the same ~4-5 s wall over 100k rows. The ingest
    * dedup pipeline therefore streams a REPLAYED source: K distinct-id
    * copies of the documents table staged as K files (untimed setup),
    * consumed one file per micro-batch. That is also the more honest
    * shape for the operator itself — an ingest edge sees a steady stream
    * of mostly-new fingerprints across many micro-batches with an
    * advancing watermark (state insert + eviction both exercised), not
    * one giant batch of history. Per-pipeline wall seconds ride along in
    * the JSON so a fixed-cost artifact is self-evident next time.
    */
  def stream(spark: SparkSession, sfDir: String): Unit = {
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val docsBase = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docsBase.count()
    // ---- replayed ingest source for the dedup pipeline (untimed setup):
    // K copies of the documents table with disjoint doc_id ranges, one
    // file each, so the file source forms K micro-batches of mostly-new
    // fingerprints with an advancing ingest_t watermark.
    val replayK = 20
    val nReplayed = replayK * nDocs
    // every temp dir (replay source, staging, checkpoints) lives under
    // one root, deleted on the way out
    val tmp = Files.createTempDirectory("graft-streambench")
    val results = try {
      val ingestDir = Files.createDirectory(tmp.resolve("replay"))
      (0 until replayK).foreach { i =>
        val stage = Files.createTempDirectory(tmp, "stage")
        docsBase
          .withColumn("doc_id", col("doc_id") + lit(i * nDocs))
          .coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        import scala.jdk.CollectionConverters._
        Files.list(stage).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .foreach(p => Files.move(p,
            ingestDir.resolve(f"batch$i%03d.parquet")))
      }

      def readDocsReplayed(): DataFrame =
        spark.readStream
          .schema(docsBase.schema)
          .option("maxFilesPerTrigger", "1") // one file per micro-batch
          .parquet(ingestDir.toString)
          .withColumn("ingest_t", timestamp_seconds(col("doc_id")))

      /** One timed replay: fresh checkpoint, noop sink, synchronous
        * drain; wall seconds. */
      def timeOnce(mode: String, build: () => DataFrame): Double = {
        val ckpt = Files.createTempDirectory(tmp, "ckpt")
        val t0 = System.nanoTime()
        val q = build()
          .writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .format("noop")
          .start()
        try q.processAllAvailable() finally q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      /** (rows/s as whole rows, wall seconds) of the best-of wall. */
      def bench(rows: Long, mode: String)
          (build: () => DataFrame): (Double, Double) = {
        val sec = bestOf(() => timeOnce(mode, build))._1
        (math.rint(rows / sec), r3(sec))
      }

      Seq(
        // watermarked windowed agg (HDFSBackedStateStore aggregation state)
        "stream_windowed_counts" -> bench(nEvents, "update")(() =>
          EventStream.windowedCounts(EventStream.readEvents(spark, sfDir))),
        // KMV TypedImperativeAggregate merging inside streaming state
        "stream_windowed_distinct" -> bench(nEvents, "update")(() =>
          EventStream.windowedDistinctUsers(
            EventStream.readEvents(spark, sfDir))),
        // flatMapGroupsWithState sessionization (per-user state fold)
        "stream_sessions" -> bench(nEvents, "append")(() =>
          StatefulSessions
            .sessionize(spark, EventStream.readEvents(spark, sfDir)).toDF()),
        // dropDuplicatesWithinWatermark fingerprint dedup (eviction state),
        // measured at steady state over K one-file micro-batches, with
        // state partitions sized to the per-batch row count (the round-8
        // root cause: inheriting the batch shuffle default oversharded the
        // state 32 ways and per-batch commit cost drowned the row work —
        // see DocIngest.statePartitionsFor); the session's own setting
        // is restored after
        "stream_ingest_dedup" -> {
          val key = "spark.sql.shuffle.partitions"
          val prior = spark.conf.getAll.get(key) // set values only
          spark.conf.set(key, DocIngest.statePartitionsFor(nDocs,
            spark.sparkContext.defaultParallelism).toString)
          try bench(nReplayed, "append")(() =>
            DocIngest.dedupOnIngest(readDocsReplayed()))
          finally prior match {
            case Some(v) => spark.conf.set(key, v)
            case None    => spark.conf.unset(key)
          }
        })
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)

    val qs = jsonObj(results.map { case (k, (v, _)) => k -> v })
    val walls = jsonObj(results.map { case (k, (_, w)) => k -> w })
    val line =
      s"""{"metric":"stream_rows_per_sec","unit":"rows/sec","pipelines":$qs,"wall_sec":$walls,"n_events":$nEvents,"n_docs":$nDocs,"n_ingest_replayed":$nReplayed,"sf":"$sfDir"}"""
    println(line)
    BenchProtocol.writeArtifact(line,
      sys.env.get("SPARK_GRAFT_STREAMBENCH_OUT"), "STREAMBENCH.json")
  }

  private def shiftStep(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1

  private def buildReplica(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    // v3: the replica also scales customer and shifts orders' o_custkey
    // (the CNPJ flagship probe needs a 10× empresas population; marker is
    // versioned so an older replica left in target/ rebuilds)
    // v4: the UNSCALED dim tables (supplier/part/nation/region) are now
    // copied in — "dim tables are not scaled" never meant "not present",
    // and their absence made every probed key touching them die with
    // FileNotFoundException (the r14 probe shipped q_snapshot_widening
    // as a -1.0 sentinel for exactly this)
    // The marker records the source it was built from: a replica of one
    // sf dir is never reused for another.
    val done = new File(s"$out/_REPLICA_DONE_v4")
    val source = new File(src).getCanonicalPath
    if (done.exists() && Files.readString(done.toPath) == source) return
    done.delete()
    val docs = Tables.documents(spark, src)
    val docStep = shiftStep(docs, "doc_id")
    val docsN = (0 until copies).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + i * docStep).as("doc_id"),
        regexp_replace(col("text"), "([a-z0-9]+)", "$1q" + i).as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "([a-z0-9]+)", "$1q" + i))
          .cast("long").as("n_chars"))
    }.reduce(_ unionAll _)
    docsN.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // the other facts: copy i shifts each key column by i × its step
    def replicate(name: String, df: DataFrame, steps: (String, Long)*)
        : Unit =
      (0 until copies).map(i => steps.foldLeft(df) { case (d, (c, step)) =>
        d.withColumn(c, col(c) + i * step)
      }).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    val li = Tables.lineitem(spark, src)
    val okStep = shiftStep(li, "l_orderkey")
    replicate("lineitem", li, "l_orderkey" -> okStep,
      "l_suppkey" -> shiftStep(li, "l_suppkey"),
      "l_partkey" -> shiftStep(li, "l_partkey"))

    // customer scales WITH orders' o_custkey shift: the CNPJ flagship
    // derives its empresas fact from customer, so each copy must own a
    // disjoint customer population (empresas is ~60M rows at real CNPJ
    // scale — fact-sized, not a dim) and its orders must reference it
    val cust = Tables.customer(spark, src)
    val ckStep = shiftStep(cust, "c_custkey")
    replicate("customer", cust, "c_custkey" -> ckStep)
    replicate("orders", Tables.orders(spark, src),
      "o_orderkey" -> okStep, "o_custkey" -> ckStep)

    // events: event_id/user_id shift per copy — the time range stays, the
    // user population grows ×10, so per-user session/as-of/funnel state
    // scales horizontally the way a real firehose does. ts passes through
    // raw; the loader's schema dispatch (graft.Events.normalize) handles
    // whatever encoding the write round-trips to.
    val ev = Tables.eventsRaw(spark, src)
    replicate("events", ev, "event_id" -> shiftStep(ev, "event_id"),
      "user_id" -> shiftStep(ev, "user_id"))

    // vectors repeat across copies (only ids shift): retrieval ranks are
    // then decided by the deterministic doc_id tie-break, which is fine
    // for a throughput probe — scoring work is what scales
    val emb = Tables.embeddings(spark, src)
    replicate("embeddings", emb, "vec_id" -> shiftStep(emb, "vec_id"))

    // dims pass through unscaled (facts grow, dims don't) — present so
    // a probed key can open them
    Seq("supplier", "part", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    done.getParentFile.mkdirs()
    Files.writeString(done.toPath, source)
  }

  /** The 10 heaviest keys of the round-8 clean bench — together they
    * cover the prefix-join near-dup path (above the all-pairs
    * crossover at the replica's 50k docs), banding, substring-dedup's
    * gram shuffle, BPE's vocab folds, Pregel iteration, windowed exact
    * quantiles, and the plain wide scan. */
  private val ProbeKeys = Seq(
    "q_corpus_clean", "q_bpe_encode", "q_bpe_learn", "q_substring_dedup",
    "q_simhash", "q_dedup_cluster", "q_dedup_cluster_lsh",
    "q_hybrid_retrieval", "q_pagerank", "q_projection",
    // quantiles: the naive twin (expected superlinear BY CONTRACT), the
    // binned twin (the scale path the dispatcher must reach), and the
    // auto entry point — auto ≈ dist at 10× is the dispatch fix's proof
    "q_quantiles", "q_quantiles_auto", "q_quantiles_dist", "q_profile",
    // remaining heavy corpus keys the round-10 verdict wanted measured,
    // not argued: two-level gram prefix agg, tf-idf join, window gap-fill
    "q_dup_ngrams", "q_tfidf", "q_gap_fill",
    // events-table shapes (probe-able since the v2 replica scales events):
    // per-user windowed state, union+window as-of, binned interval join,
    // tumbling windows — each should track the ×10 event volume linearly
    "q_sessionize", "q_asof_join", "q_range_join_binned", "q_time_window",
    // the completed dedup DAGs' recurring corpus-scale stages
    "q_bpe_tokenize", "q_image_dedup_cluster",
    // round-11 additions: PQ encode/ADC over 10× candidates (queries and
    // codebooks stay fixed — copy-0 ids), and the triangle census over
    // 10 disjoint co-purchase components (edges ×10, degrees constant)
    "q_vector_ann_pq", "q_triangle_count",
    // HDR sketch columns: bucket cardinality is value-range-bounded, so
    // the merge stage should be flat while the encode pass tracks ×10
    "q_hdr_quantiles",
    // sketch-table rollup post the Hadoop-FS rework: the partial-sketch
    // write and merge-read should both track volume, nothing driver-bound
    "q_sketch_rollup",
    // warehouse lifecycle: data writes must track volume while the
    // metadata operations (partition dirs, manifest CAS, rollup merge)
    // stay O(1) — q_schema_evolution is omitted (supplier isn't scaled
    // in the replica, so its ratio would measure nothing)
    "q_partitioned_backfill", "q_incremental_agg", "q_manifest_snapshot",
    // round-12 lifecycle verbs: REPLACE-commit compaction (read+rewrite
    // tracks volume, the CAS stays O(1)), copy-on-write delete and merge
    // (affected-file scan + selective rewrite track volume)
    "q_compact_snapshot", "q_snapshot_delete", "q_snapshot_merge",
    "q_manifest_skipping", "q_snapshot_changes",
    // round-12 additions per the r11 verdict task 6: the remaining
    // heavy keys never probed — Misra-Gries per group, SCD2 window
    // merge, per-key rolling windows — and the corpus pipeline's new
    // LSH composition (expected well under q_corpus_clean's ~8.6×)
    "q_heavy_hitters_grouped", "q_scd2_merge", "q_rolling_window",
    "q_corpus_clean_lsh",
    // streaming table read: per-trigger cost is manifest metadata (O(1)
    // in table size) + the delta scan, so the 3-commit end-to-end key
    // should track data volume, never file count; the pipe adds the
    // sink's per-batch staging write, and the batch veneer adds the
    // relation-resolution overhead — all should track volume
    "q_manifest_stream", "q_manifest_pipe", "q_manifest_batch_io",
    // categorical skipping: the one-language read should scale with the
    // LANGUAGE's bytes, not the table's
    "q_manifest_skipping_str",
    // round-13 lakehouse keys (r13 verdict task 7): multi-column
    // skipping's z-write + two-range read should track volume with the
    // pruning fraction constant; widening evolution adds only the
    // schema-merge O(1) on top of two appends
    "q_manifest_skipping_multi", "q_snapshot_widening",
    // round-14: the SQL catalog lifecycle — CREATE + two INSERT commits
    // + aggregate read through the DSv2 scan; all data-volume-bound,
    // catalog resolution O(1)
    "q_manifest_sql",
    // round-15: MERGE INTO through the group-based COW rewrite — the
    // rewrite cost is matched-file footprint + insert volume (runtime
    // group filtering prunes the rest), so the key should track data
    // volume like the insert path it extends
    "q_manifest_merge_sql",
    // round-15: CALL maintenance procedures — compact tracks rewritten
    // bytes, rollback/expire are O(manifest) metadata verbs, so the
    // key's ratio should sit near the insert volume like the other
    // lifecycle keys
    "q_manifest_maintenance_sql",
    // round-15: SQL-path manifest skipping — insert volume dominates;
    // the pruned read's cost tracks the SELECTED quartile's bytes, with
    // the pruning fraction constant at 10×
    "q_manifest_skipping_sql",
    // round-16: bloom skipping — insert volume dominates; the probed
    // read's cost is bloom-bounded at sf0.1 (files pruned) and
    // saturation-bounded at 10× (524288 bits vs 375k rows/file → blooms
    // saturate, nothing prunes, the scan is paid — the documented
    // sizing contract: bits must track rows/file)
    "q_manifest_skipping_bloom",
    // round-16: REPLACE WHERE — the full insert dominates; the backfill
    // rewrites only files holding upper-range keys (COW), so the key
    // should track insert volume like the other lifecycle verbs
    "q_manifest_replace_where",
    // round-16: CHECK constraints — the gated insert pays one extra
    // limit(1) pass per constraint over the staged bytes; both the
    // insert and the gate track volume
    "q_manifest_constraint_sql",
    // round-16: DDL evolution — ADD COLUMN is an O(manifest) schema-only
    // commit; the two inserts dominate and track volume (supplier isn't
    // scaled in the replica, so absolute ratio mostly measures fixed
    // commit overhead — the pin is "no superlinear surprise")
    "q_manifest_evolution_sql",
    // round-17: merge-on-read row-level verbs — the r16 verdict's #1
    // ask. The MOR delete's cost is the matched-position scan + sidecar
    // write (∝ matched rows, never table size) and the dv-applied
    // re-read adds one anti-join of the grid; the MOR merge adds the
    // update/insert append. Both should track data volume with NO
    // file-rewrite component (the COW twins above carry that)
    "q_snapshot_delete_mor", "q_snapshot_merge_mor", "q_merge_sql_mor",
    // round-17: PARTITIONED BY via SQL — the bulk insert (clustered by
    // the partition column) dominates and tracks volume; the REPLACE
    // WHERE day rebuild tracks the day's bytes
    "q_partitioned_sql",
    // round-17: sharded-HNSW graph ANN — build cost ∝ shard volume
    // (n·log n inserts each over an in-memory graph), search fan-out =
    // shards × ef with the query set fixed; should track corpus volume
    "q_vector_ann_hnsw",
    // round-18: persisted shard graphs — build + serialize tracks
    // corpus volume; the search half restores the graph table (∝ graph
    // size) instead of reconstructing, so the key should probe BELOW
    // the in-memory twin at scale
    "q_vector_ann_hnsw_persist",
    // round-18: RENAME COLUMN lifecycle — two inserts dominate
    // (supplier unscaled in the replica, so the pin is fixed-overhead
    // sanity like the evolution key); the rename itself is O(manifest)
    "q_rename_sql",
    // round-18: storage-partitioned joins — the writes (fanout-staged
    // single-value files) dominate and track volume; the join halves
    // have ZERO shuffle at both scales, so the read cost is the two
    // scans + per-value zip (∝ volume). The bucket twins are the
    // fact⋈fact case — orders AND lineitem both scale ×10; the r19
    // string-key twin adds the xxhash64 placement on the same shape
    "q_spj_join", "q_bucket_join", "q_bucket_join_str",
    // round-18: WAP and clone lifecycles — the staged insert dominates
    // and tracks volume; fork, publish (fast-forward CAS) and clone
    // are O(manifest) metadata verbs, so both keys should sit at the
    // two-insert lifecycle envelope
    "q_wap_publish", "q_clone_sql",
    // round-19: equality-upsert lifecycle — the two upsert commits are
    // append+annotate (zero data-file reads), so the key should track
    // the two-insert volume like the WAP twin, with the masked read's
    // key anti-join ∝ batch size on top; the r20 composite-key twin
    // runs THREE upserts on a two-column key, same envelope
    "q_upsert_eq", "q_upsert_eq_multi",
    // round-19 (probed r20 per the r19 verdict): relayout is the one
    // key whose cost is BY DESIGN O(table) — a full REPLACE re-fanout
    // under the new layout props — so its ratio should sit near the
    // rewrite keys' (q_compact_snapshot family), never above
    "q_relayout_sql",
    // round-20: metadata-only evolution — the props swap itself is
    // O(manifest); the key's cost is its two bucketed inserts plus the
    // closing compact, so the ratio should track the insert+rewrite
    // volume like the relayout sibling
    "q_evolve_layout",
    // the CNPJ vertical (reference envelope ">20 GB", readme.md:108):
    // synthetic flagship over the replica's 10× orders/customer —
    // r15 splits load (z-cluster + commit, data-volume-bound) from
    // query (pruned read + star join) so each phase gets its own ratio
    "q_cnpj_load", "q_cnpj_flagship")
  /** 10× scaling probe: measures whether the heaviest query shapes scale
    * ~linearly in data volume — the asymptotic claims (banding occupancy,
    * prefix-join candidate volume, two-level prefix aggregation) argued in
    * the operator docs, checked by experiment.
    *
    * Builds a 10× replica of `src` (sf0.1 by default) under
    * target/sf1_replica (one-time, guarded by a marker naming its
    * source), then times the historically most expensive keys at both
    * scales (BenchProtocol's best-of rule and protocol: memo caches
    * cleared before every timed run, noop sink so final sorts execute)
    * and reports per-key sec and the sf1/sf0.1 ratio to `outPath`,
    * default BENCH_sf1.json. A key whose ratio lands well
    * above 10 is superlinear and needs its plan re-audited.
    *
    * The replica is NOT naive duplication — copies must be semantically
    * DISTINCT the way 10× real data would be, or pair-generating operators
    * see 10 exact copies of every row and candidate volume inflates ×100
    * (a data artifact, not a plan property):
    *   - documents: every token gets a per-copy suffix (regexp token
    *     rewrite), so cross-copy docs share no shingles/grams and each
    *     copy keeps its internal near-dup structure; doc_id shifts by the
    *     id range; n_chars recomputed. Vocabulary grows ×10 — an upper
    *     bound on real sublinear vocab growth, i.e. conservative for BPE.
    *   - lineitem: l_orderkey, l_suppkey, l_partkey shift per copy — the
    *     supply graph gains 10 disjoint components (a genuinely 10×
    *     graph for PageRank), order ids stay join-consistent with orders.
    *   - orders: o_orderkey shifts with lineitem's step.
    * Dim tables are not scaled (facts grow, dims don't).
    */
  def scale(spark: SparkSession, src: String,
      outPath: Option[String]): Unit = {
    val out = "target/sf1_replica"
    buildReplica(spark, src, out, copies = 10)

    // Dispatch pin (round-10 finding #1): the 10× replica MUST route
    // q_quantiles_auto to the binned scale path — fail the probe loudly
    // if a threshold/estimate change ever re-pins the naive sort at scale.
    val autoBinnedAtSf1 = ops.Advanced.quantilesAutoPicksBinned(spark, out)
    require(autoBinnedAtSf1,
      s"q_quantiles_auto dispatched NAIVE at the 10x replica (estimate=" +
        s"${ops.Advanced.quantileInputEstimate(spark, out)} <= threshold=" +
        s"${ops.Advanced.QuantileDispatchBytes}) — recalibrate")

    // CNPJ flagship plan audit at both scales: the three dimension joins
    // must stay broadcast and the plan must never degrade to a cartesian;
    // the empresas (fact⋈fact) side is planner-decided — broadcast while
    // it fits, sort-merge beyond the threshold — so record which it chose
    // rather than pinning it.
    def flagshipPlanShape(dir: String): (Boolean, String) = {
      val p = SparkEntry.queries("q_cnpj_flagship")(spark, dir)
        .queryExecution.executedPlan.toString
      val ok = "BroadcastHashJoin".r.findAllIn(p).size >= 3 &&
        !p.contains("CartesianProduct")
      val empJoin = if (p.contains("SortMergeJoin")) "sort_merge"
        else if (p.contains("ShuffledHashJoin")) "shuffled_hash"
        else "broadcast"
      (ok, empJoin)
    }
    val (fs01ok, fs01emp) = flagshipPlanShape(src)
    val (fs1ok, fs1emp) = flagshipPlanShape(out)
    require(fs01ok && fs1ok,
      s"flagship plan degraded (sf0.1 ok=$fs01ok, sf1 ok=$fs1ok)")

    // Bench's best-of rule, so one GC pause / scheduler hiccup at 10×
    // volume can't masquerade as a superlinear ratio (measured:
    // q_dedup_cluster@sf1 swung 11.8 s ↔ 42 s across runs on a noisy box
    // with identical plans and label-propagation round counts)
    def best(key: String, dir: String): Double = bestOf(() =>
      BenchProtocol.timeOnce(spark, dir, SparkEntry.queries(key)))._1

    // same contention self-labeling as Bench: a ratio measured while
    // another tenant holds the cores is not a plan property
    val loadBefore = loadAvg1m()
    val rows = ProbeKeys.map { k =>
      val t01 = best(k, src)
      val t1 = best(k, out)
      val ratio = if (t01 > 0 && t1 > 0) t1 / t01 else -1
      println(s"""PROBE {"$k":{"sf01":${r3(t01)},"sf1":${r3(t1)},"ratio":${r3(ratio)}}}""")
      (k, t01, t1, ratio)
    }
    val qs = jsonObj(rows.map { case (k, a, b, r) =>
      k -> s"""{"sf01_sec":${r3(a)},"sf1_sec":${r3(b)},"ratio":${r3(r)}}""" })
    // a -1 sentinel is a FAILED measurement, not a ratio — it must ship
    // as an explicit failed_keys entry (and shout), never as a silent
    // number a reader has to notice (the r14 artifact shipped one)
    val failed = rows.collect { case (k, a, b, _) if a < 0 || b < 0 => k }
    if (failed.nonEmpty)
      System.err.println(
        s"PROBE FAILED KEYS (measurement errored, not a plan property): " +
          failed.mkString(", "))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"sf1_scaling","copies":10,"quantiles_auto_binned_at_sf1":$autoBinnedAtSf1,"flagship_emp_join":{"sf01":"$fs01emp","sf1":"$fs1emp"},"loadavg":{"before":${r3(loadBefore)},"after":${r3(loadAvg1m())}},"failed_keys":$failedJson,"queries":$qs,"src":"$src"}"""
    println(line)
    BenchProtocol.writeArtifact(line, outPath, "BENCH_sf1.json")
  }
}
