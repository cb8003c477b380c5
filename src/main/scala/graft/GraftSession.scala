package graft

import org.apache.spark.sql.SparkSession

/** The engine's front door: a SparkSession configured the way every graft
  * operator expects — AQE on (runtime broadcast demotion, skew splits,
  * partition coalescing), shuffle parallelism sized to the machine rather
  * than Spark's default 200, UTC session time, nanos-tolerant parquet
  * reads, and the graft extensions (custom strategy + SQL functions)
  * installed. */
object GraftSession {

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Cost-based optimization stays OPT-IN (Spark's default), not a
      // session default: measured on this engine's deep stat-less text
      // plans, cbo.enabled=true costs real planner time for zero
      // information — q_substring_dedup 2.4× slower (5.7 s vs 2.4 s),
      // q_dup_ngrams/q_corpus_clean/q_cooccurrence ~1.2× — because the
      // row-count estimator walks every operator of every re-planned
      // iteration while no table carries catalog statistics. Sessions
      // that query tables registered with statistics (cnpj.Warehouse
      // writeTableWithStats / analyzeTable) should set
      // spark.sql.cbo.enabled=true themselves; CboStatsSpec pins the
      // stats-driven broadcast flip that buys.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // column-mapped (renameable) tables carry parquet field ids in
      // their recorded schemas; matching by id is what lets pre-rename
      // files keep reading. No-op for schemas without ids, and every
      // graft read path also sets it lazily (Layout.ensureFieldIdRead)
      // for sessions not built here.
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // storage-partitioned joins (r18): lets a scan's reported
      // KeyGroupedPartitioning reach the planner, so two graft tables
      // PARTITIONED BY the same columns join WITHOUT a shuffle on
      // either side; pushPartValues pads partition values present on
      // only one side with empty partitions instead of re-shuffling.
      // Inert for every non-keyed scan (only the graft catalog's
      // eligible partitioned snapshots report a partitioning).
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      // allow shuffled-hash joins where the planner's size conditions
      // hold (Spark defaults to sort-merge): a hash build skips both
      // sides' sorts, and the guide's starting configuration (§9)
      // recommends exactly this flip. The OOM guard stays — the planner
      // only picks SHJ when a build-side partition provably fits
      // (canBuildLocalHashMap), so at warehouse scale oversized builds
      // still fall back to sort-merge. A/B r21 (3-run min, local[32]):
      // q_join_fact CPU 2.26 → 1.16 s, q_salted_join wall 1.44 → 1.26 s,
      // q_scd2/q_setops/q_outer_join/q_semi_anti all ≤, none worse.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // let AQE re-partition reads of CACHED plans (off by default in
      // Spark): the engine caches small iteration state by design (label
      // propagation rounds, merge sources, pair-set memos), and with the
      // conf off every consumer stage of a cached frame inherits the full
      // static shuffle partition count — the r21 StageProbe measured
      // q_image_dedup_cluster spending its entire wall on 658 near-empty
      // tasks across 31 stages. With it on, AQE coalesces those to the
      // data's real size (A/B: wall 2.14 → 1.43 s, executor CPU 1.13 →
      // 0.21 s; q_dedup_cluster_lsh wall 2.03 → 1.41 s). Safe here: no
      // graft operator relies on a cached plan's output partitioning —
      // everything downstream of a cache is a keyed join/aggregate that
      // declares its own requirement.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // fork-free local-fs permissions: with no libhadoop.so, stock
      // Hadoop shells out `chmod` on EVERY file create/mkdir — r21
      // thread dumps showed that fork under RawLocalFileSystem.
      // setPermission as the hottest driver-dwell signature across the
      // lifecycle keys (16-bucket fanout commits pay 16+ forks each).
      // NioLocalFileSystem does the same chmod through java.nio (no
      // process launch, identical bits; sticky/setuid fall back to the
      // stock path). Inert for non-file schemes — HDFS/S3 deployments
      // never load it.
      .config("spark.hadoop.fs.file.impl",
        "graft.hadoop.NioLocalFileSystem")
      // ... and the FileContext-side registry, which structured
      // streaming's CheckpointFileManager resolves `file:` through
      // (offset/commit logs forked one chmod per micro-batch file
      // without this — see NioLocalFs).
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.hadoop.NioLocalFs")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
  }

  def getOrCreate(): SparkSession = builder().getOrCreate()
}
