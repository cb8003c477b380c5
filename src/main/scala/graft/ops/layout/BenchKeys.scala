package graft.ops
package layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types
import graft.{ControlPlane, SizeTier}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The manifest-table bench keys and their DuckDB oracle SQL.
  * Mixed into [[graft.ops.Layout]]. */
private[ops] trait BenchKeys { this: Layout.type =>
  /** Two committed append transactions + one deliberately crashed one
    * (files staged, no manifest), read back at the newest snapshot. The
    * oracle — shared with q_table_roundtrip's plain directory read —
    * proves the manifest protocol loses nothing (both halves present)
    * and leaks nothing (the orphan's duplicate rows would double every
    * count if manifest-less files were visible). */
  def qManifestSnapshot(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_snapshot"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 0))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    // crashed transaction: staged files, manifest never published
    o.limit(1000).write.mode("overwrite")
      .parquet(s"$table/data/txn-crashed")
    statusTotals(readSnapshot(s, table), dec2(col("o_totalprice")))
  }

  /** OPTIMIZE-under-isolation, end to end: append the table as two
    * deliberately fragmented transactions (10 small files each — the S8
    * append cadence), REPLACE-commit a [[compactSnapshot]] sorted on the
    * key, read the head. The oracle — shared with q_table_roundtrip and
    * q_manifest_snapshot — proves the re-pack swaps file LAYOUT without
    * touching content; SnapshotIsolationSpec pins the isolation side (a
    * reader pinned to the pre-compact version still reads its files). */
  def qCompactSnapshot(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_optimize"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 0).repartition(10))
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 1).repartition(10))
    compactSnapshot(s, table, sortBy = Seq("o_orderkey"))
    statusTotals(readSnapshot(s, table), dec2(col("o_totalprice")))
  }

  /** Copy-on-write DELETE, end to end: two append transactions split the
    * table by orderkey parity, then [[deleteWhere]] removes one
    * status-slice of the ODD half — so the even transaction's files
    * contain no matching row and must survive untouched (pinned by
    * SnapshotIsolationSpec), while the odd files are rewritten minus the
    * slice. The oracle recomputes the post-delete aggregate from source
    * with the negated predicate: hash-equality proves the rewrite
    * removed exactly the predicate's rows and nothing else. */
  def qSnapshotDelete(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_cow_delete"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 0))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    deleteWhere(s, table,
      pmod(col("o_orderkey"), lit(2)) === 1 && col("o_orderstatus") === "F")
    statusTotals(readSnapshot(s, table), dec2(col("o_totalprice")))
  }

  /** Merge-on-read DELETE, end to end (r16 verdict task 1): the same
    * table and predicate as [[qSnapshotDelete]], but the table carries
    * `graft.rowlevel.mode = 'mor'` — so the delete writes a
    * position-delete sidecar and annotates manifest lines instead of
    * rewriting any data file (pinned by SnapshotIsolationSpec: the
    * line PATHS are unchanged, only dv groups appear, and delete cost
    * scales with matched rows). The shared oracle proves MOR state ≡
    * COW state: the dv-applying read must answer exactly like the
    * rewriting delete. (Compaction-materializes-the-vectors ≡ dv-applied
    * is pinned by SnapshotIsolationSpec — deliberately NOT in this key,
    * so the benched figure is the delete+masked-read cost alone,
    * ∝ matched rows, with no full-table rewrite mixed in.) */
  def qSnapshotDeleteMor(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_mor_delete"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 0),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    deleteWhere(s, table,
      pmod(col("o_orderkey"), lit(2)) === 1 && col("o_orderstatus") === "F")
    statusTotals(readSnapshot(s, table), dec2(col("o_totalprice")))
  }

  /** Merge-on-read EQUALITY-upsert lifecycle (r19): even + odd halves
    * land under mor; [[upsertByKeys]] re-lands the odd non-'F' slice
    * by key (masks every pre-existing version of those keys, appends
    * identical rows — the CDC idempotent-replay shape), then a
    * tombstone batch (`deleteOnly`) kills the odd-'F' keys. NEITHER
    * commit reads or rewrites a data file. The visible state must
    * equal the predicate DELETE's, so the oracle is SHARED with
    * q_snapshot_delete / q_snapshot_delete_mor: a resurrected row
    * (mask not applied), a double-counted one (the upsert's own
    * append wrongly masked), or an over-deleted one (scoping wrong)
    * all hash-mismatch. SnapshotIsolationSpec pins what the aggregate
    * can't see (pinned pre-upsert reads, compaction materialization,
    * SQL dispatch, guards). */
  def qUpsertEq(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_eq_upsert"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 0),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    upsertByKeys(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 1 &&
        col("o_orderstatus") =!= "F"), "o_orderkey")
    upsertByKeys(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 1 &&
        col("o_orderstatus") === "F").select("o_orderkey"),
      "o_orderkey", deleteOnly = true)
    statusTotals(readSnapshot(s, table), dec2(col("o_totalprice")))
  }

  /** COMPOSITE-key equality upsert (r20), same visible state as
    * [[qUpsertEq]] so the shared DELETE oracle proves it — with a
    * discriminating twist only true multi-column matching passes: after
    * re-landing the odd non-F slice and tombstoning the odd-F slice on
    * (o_orderkey, o_orderstatus), a final tombstone batch carries the
    * LIVE odd keys paired with the WRONG status ('F'). Composite
    * anti-join semantics make it a no-op (no row has that pair); any
    * implementation that degraded to key-column-only masking would
    * delete the re-landed rows and hash-mismatch. */
  def qUpsertEqMulti(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_eq_upsert_multi"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    val keys = Seq("o_orderkey", "o_orderstatus")
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 0),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    upsertByKeys(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 1 &&
        col("o_orderstatus") =!= "F"), keys, deleteOnly = false)
    upsertByKeys(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 1 &&
        col("o_orderstatus") === "F").select(keys.map(col): _*),
      keys, deleteOnly = true)
    upsertByKeys(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 1 &&
          col("o_orderstatus") =!= "F")
        .select(col("o_orderkey"), lit("F").as("o_orderstatus")),
      keys, deleteOnly = true)
    statusTotals(readSnapshot(s, table), dec2(col("o_totalprice")))
  }

  /** Copy-on-write MERGE, end to end: the table (narrow orders
    * projection) lands as two parity transactions, then one
    * [[mergeInto]] applies a delta carrying ALL THREE verbs — updates
    * (price×2 for the o_orderkey%10==3 slice), inserts (the %10==7
    * slice re-keyed past the key range), and DELETES (the %10==1 slice
    * retracted via the `WHEN MATCHED AND is_retract THEN DELETE`
    * clause). Every touched slice is all-odd (…1 and …3 are odd), so
    * the even transaction's files must survive untouched. The oracle
    * recomputes the merged state from source: hash-equality proves
    * update-in-place, retraction, insert, and carry-through each did
    * exactly their rows. Prices stay DECIMAL(18,2) through the update
    * arithmetic so old and rewritten files share one physical schema. */
  def qSnapshotMerge(s: SparkSession, d: String): DataFrame =
    mergeFixture(s, d, "orders_merge", Map.empty)

  /** Merge-on-read MERGE, end to end: the same three-verb delta as
    * [[qSnapshotMerge]] (updates, inserts, retractions) against a
    * `graft.rowlevel.mode = 'mor'` table — matched rows position-delete
    * via a dv sidecar, updated+inserted rows append as new files, no
    * affected data file is rewritten. The shared oracle proves the MOR
    * merge's visible state ≡ the COW merge's. */
  def qSnapshotMergeMor(s: SparkSession, d: String): DataFrame =
    mergeFixture(s, d, "orders_merge_mor", Map(RowLevelModeProp -> "mor"))

  /** The merge keys' one fixture: `props` on the first commit picks the
    * row-level mode. */
  private def mergeFixture(s: SparkSession, d: String, name: String,
      props: Map[String, String]): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/$name"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 0), props = props)
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    val mx = maxOrderKey(o)
    val updates = o.where(pmod(col("o_orderkey"), lit(10)) === 3)
      .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
      .withColumn("is_retract", lit(false))
    val inserts = o.where(pmod(col("o_orderkey"), lit(10)) === 7)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2L * mx))
      .withColumn("is_retract", lit(false))
    val retracts = o.where(pmod(col("o_orderkey"), lit(10)) === 1)
      .withColumn("is_retract", lit(true))
    mergeInto(s, table,
      updates.unionByName(inserts).unionByName(retracts),
      "o_orderkey", deleteWhen = Some(col("is_retract")))
    statusTotals(readSnapshot(s, table), col("price"))
  }

  /** Manifest-level data skipping, end to end: land orders
    * range-clustered on o_orderkey with per-file bounds recorded in the
    * manifest, then answer a key-range aggregate through
    * [[readSnapshotRange]]. The oracle recomputes from source with the
    * same BETWEEN — hash-equality proves pruning drops only files the
    * range could never touch; SnapshotIsolationSpec pins that files ARE
    * dropped (and that stats-less files always survive). */
  def qManifestSkipping(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_skipping"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, table,
      o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      statsColumns = Seq("o_orderkey"))
    val mx = maxOrderKey(o)
    statusTotals(readSnapshotRange(s, table, "o_orderkey", mx / 4, mx / 2),
      col("price"))
  }

  /** Categorical manifest skipping, end to end: documents land
    * range-clustered on `lang` with lexicographic string bounds
    * recorded per file, then one language is answered through
    * [[readSnapshotEquals]] — the hive-partition-pruning shape without
    * hive directories. The oracle recomputes from source with the same
    * equality filter: hash-match proves pruning drops only files the
    * value cannot reach; SnapshotIsolationSpec pins that files ARE
    * dropped and that bounds survive encoding round trips. */
  def qManifestSkippingStr(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/documents_lang_skipping"
    dropTable(s, table) // deterministic re-run: fresh table history
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars"))
    commitSnapshot(s, table,
      docs.repartitionByRange(8, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id"),
      statsColumns = Seq("lang"))
    readSnapshotEquals(s, table, "lang", "en")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("lang")
  }

  /** MULTI-column manifest skipping, end to end: orders lands z-ordered
    * on (o_custkey, o_orderkey) with per-file bounds recorded for BOTH
    * columns — exactly the pairing the z-layout exists for: each file
    * covers a small rectangle of the two-column value space, so each
    * column's recorded bounds are tight and a conjunctive two-range
    * query prunes on both independently (the reference itself indexes
    * three columns of one table,
    * ETLCNPJFinalEmpresaEstabelecimentos.py:178-181). The oracle
    * recomputes the same conjunction from source — pruning must change
    * the read set, never the answer; SnapshotIsolationSpec pins that
    * files ARE dropped for each column independently and that both
    * columns' bounds survive delete/merge/compact rewrites. */
  def qManifestSkippingMulti(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_skipping_multi"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, table,
      zArranged(o, "o_custkey", "o_orderkey", files = 16, buckets = 1024),
      statsColumns = Seq("o_custkey", "o_orderkey"))
    val m = o.agg(max(col("o_orderkey")).as("mk"),
      max(col("o_custkey")).as("mc")).head
    val (mk, mc) = (m.getLong(0), m.getLong(1))
    statusTotals(readSnapshotWhere(s, table, Seq(
        SkipRange("o_custkey", mc / 8, mc / 4),
        SkipRange("o_orderkey", mk / 8, mk / 4))), col("price"))
  }

  /** Type-WIDENING schema evolution, end to end: generation 1 commits
    * supplier with s_suppkey as INT, generation 2 appends the same
    * column as BIGINT — the commit widens the recorded schema
    * (INT → BIGINT), and the head read promotes gen-1's int32 files at
    * scan time (Spark 4 vectorized-reader widening, SPARK-40876): no
    * file rewrite, both generations under one BIGINT schema. The
    * oracle recomputes the whole-table aggregate from source —
    * hash-equality proves no row was lost or mistyped through the
    * widening; SnapshotIsolationSpec pins the refusal path for a
    * genuinely incompatible change (string → int). */
  def qSnapshotWidening(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/supplier_snapshot_widening"
    dropTable(s, table) // deterministic re-run: fresh table history
    val sup = supplier(s, d)
    commitSnapshot(s, table,
      sup.where(pmod(col("s_suppkey"), lit(2)) === 0)
        .select(col("s_suppkey").cast("int").as("s_suppkey"),
          col("s_nationkey"), dec2(col("s_acctbal")).as("bal")))
    commitSnapshot(s, table,
      sup.where(pmod(col("s_suppkey"), lit(2)) === 1)
        .select(col("s_suppkey").cast("long").as("s_suppkey"),
          col("s_nationkey"), dec2(col("s_acctbal")).as("bal")))
    readSnapshot(s, table)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(col("s_suppkey")).as("sum_key"),
        sum(col("bal")).cast("double").as("sum_bal"))
      .orderBy("s_nationkey")
  }

  /** Incremental consumption, end to end: three append transactions land
    * the table in thirds (o_orderkey mod 3), and [[readChanges]] between
    * v1 and the head returns exactly the last two. The oracle recomputes
    * the same two-thirds from source: hash-equality proves the line-set
    * diff is precisely the appended rows — nothing from v1 leaks in,
    * nothing appended is missed. */
  def qSnapshotChanges(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_cdc"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    val v1 = commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(3)) === 0))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(3)) === 1))
    val v3 = commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(3)) === 2))
    statusTotals(readChanges(s, table, v1, v3), dec2(col("o_totalprice")))
  }

  /** Schema evolution on the manifest table, end to end: generation 1
    * commits a narrow supplier projection, generation 2 appends with a
    * new `bal` column — the commit MERGES the recorded schema (add-column
    * only; type changes throw), and the head read null-fills gen-1 rows
    * under the evolved schema. The oracle — shared with
    * q_schema_evolution's explicit NULL-union — proves the evolved read
    * is exactly the mergeSchema semantics, with the schema now a
    * versioned table property instead of a per-read option (time travel
    * to v1 sees v1's schema; SnapshotIsolationSpec pins that side). */
  def qSnapshotEvolution(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/supplier_snapshot_evolving"
    dropTable(s, table) // deterministic re-run: fresh table history
    val sup = supplier(s, d)
    commitSnapshot(s, table,
      sup.select(col("s_suppkey"), col("s_nationkey")))
    commitSnapshot(s, table,
      sup.select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal")))
    readSnapshot(s, table)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        count(col("bal")).as("n_bal"),
        sum(col("bal")).cast("double").as("sum_bal"))
      .orderBy("s_nationkey")
  }

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming table read, end to end: three append transactions land a
    * narrow orders projection in thirds, then the `graft-manifest`
    * structured-streaming source ([[graft.streaming.ManifestStreamProvider]])
    * consumes the table with `maxVersionsPerTrigger = 1` — three
    * commit-granular micro-batches into a memory sink — and the batch
    * aggregate over the streamed rows is the answer. The oracle — shared
    * with q_table_roundtrip — proves the streamed union ≡ the table:
    * nothing dropped at a batch boundary, nothing delivered twice.
    * ManifestStreamSpec pins the incremental side (delta-only batches,
    * checkpoint resume, REPLACE refusal). */
  def qManifestStream(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_stream"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(3)) === 0))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(3)) === 1))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(3)) === 2))
    val name = s"graft_manifest_stream_${streamSeq.incrementAndGet()}"
    val q = s.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(table)
      .select(col("o_orderstatus"), col("price"))
      .writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val res = statusTotals(s.table(name), col("price"))
    // materialize the (few-row) aggregate, then drop the memory sink's
    // backing view so bench re-runs don't accumulate driver-side rows
    val rows = java.util.Arrays.asList(res.collect(): _*)
    s.catalog.dropTempView(name)
    s.createDataFrame(rows, res.schema)
  }

  /** The full streaming lakehouse loop, end to end: orders lands in a
    * source manifest table as three append commits; a structured-
    * streaming query reads it with the `graft-manifest` SOURCE
    * (commit-granular batches) and writes it through the
    * `graft-manifest` SINK (exactly-once txn markers keyed by the
    * checkpoint); the answer aggregates the SINK table's head snapshot.
    * Oracle shared with q_table_roundtrip: the piped table must equal
    * the source exactly — no batch dropped, none double-committed.
    * ManifestStreamSpec pins the replay/idempotence mechanics. */
  def qManifestPipe(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val base = s"${Sources.ioDir(s, d)}/orders_pipe"
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    dropTable(s, src); dropTable(s, dst) // deterministic re-run
    new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new Path(base), true)
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, src, o.where(pmod(col("o_orderkey"), lit(3)) === 0))
    commitSnapshot(s, src, o.where(pmod(col("o_orderkey"), lit(3)) === 1))
    commitSnapshot(s, src, o.where(pmod(col("o_orderkey"), lit(3)) === 2))
    val q = s.readStream.format("graft-manifest")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", ckpt).option("path", dst)
      .start()
    try q.processAllAvailable() finally q.stop()
    statusTotals(readSnapshot(s, dst), col("price"))
  }

  /** The DataFrameReader/Writer surface of the format, end to end:
    * orders lands through `df.write.format("graft-manifest")` as two
    * append commits, is read back through `spark.read.format(...)` (the
    * file-source relation with pushdown over the manifest's file list),
    * and aggregated. Oracle shared with q_table_roundtrip — the format
    * API must be a lossless veneer over the commit verbs.
    * ManifestStreamSpec pins SaveMode mapping, time travel options and
    * the pushdown plan shape. */
  def qManifestBatchIo(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_batch_fmt"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d)
    o.where(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.format("graft-manifest").mode("append").save(table)
    o.where(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.format("graft-manifest").mode("append").save(table)
    statusTotals(s.read.format("graft-manifest").load(table),
      dec2(col("o_totalprice")))
  }

  /** The largest `o_orderkey` of `o`, read as a 1-row control decision
    * (see [[graft.ControlPlane]]: one job, not an agg stage + result). */
  private[graft] def maxOrderKey(o: DataFrame): Long =
    ControlPlane(o.agg(max(col("o_orderkey")))).head.getLong(0)

  /** The orders keys' shared answer: rows and `price` total per status. */
  private def statusTotals(df: DataFrame, price: Column): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(price).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_manifest_snapshot" -> qManifestSnapshot _,
    "q_compact_snapshot"  -> qCompactSnapshot _,
    "q_snapshot_delete"   -> qSnapshotDelete _,
    "q_snapshot_delete_mor" -> qSnapshotDeleteMor _,
    "q_upsert_eq"         -> qUpsertEq _,
    "q_upsert_eq_multi"   -> qUpsertEqMulti _,
    "q_snapshot_merge"    -> qSnapshotMerge _,
    "q_snapshot_merge_mor" -> qSnapshotMergeMor _,
    "q_manifest_skipping" -> qManifestSkipping _,
    "q_snapshot_changes"  -> qSnapshotChanges _,
    "q_manifest_stream"   -> qManifestStream _,
    "q_snapshot_evolution" -> qSnapshotEvolution _,
    "q_manifest_pipe"     -> qManifestPipe _,
    "q_manifest_batch_io" -> qManifestBatchIo _,
    "q_manifest_skipping_str" -> qManifestSkippingStr _,
    "q_manifest_skipping_multi" -> qManifestSkippingMulti _,
    "q_snapshot_widening" -> qSnapshotWidening _,
  )

  // one oracle string per (COW, MOR) verb pair — sharing the literal
  // means the DuckDB gate PROVES the two execution strategies land the
  // identical visible state, and the strings cannot drift apart
  private val oracleSqlDelete =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM orders
      |WHERE NOT (o_orderkey % 2 = 1 AND o_orderstatus = 'F')
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  private val oracleSqlMerge =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |base AS (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_orderkey % 10 = 3
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
      |        AS DECIMAL(18,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      |  FROM orders WHERE o_orderkey % 10 <> 1
      |  UNION ALL
      |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
      |  FROM orders, mx WHERE o_orderkey % 10 = 7)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS sum_price
      |FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // SHARED with q_table_roundtrip (same output shape, same semantics):
    // the DuckDB gate thereby proves snapshot read ≡ plain table read
    "q_manifest_snapshot" -> Sources.oracleSql("q_table_roundtrip"),
    // also shared: compaction must swap layout, never content
    "q_compact_snapshot"  -> Sources.oracleSql("q_table_roundtrip"),
    // also shared: a streamed read must deliver exactly the table once
    "q_manifest_stream"   -> Sources.oracleSql("q_table_roundtrip"),
    // shared with the directory-level mergeSchema key: versioned schema
    // tracking must answer exactly like the explicit NULL-union
    "q_snapshot_evolution" -> Sources.oracleSql("q_schema_evolution"),
    // also shared: source → sink piping must reproduce the table exactly
    "q_manifest_pipe"     -> Sources.oracleSql("q_table_roundtrip"),
    // also shared: the reader/writer veneer must be lossless too
    "q_manifest_batch_io" -> Sources.oracleSql("q_table_roundtrip"),
    // categorical pruning must never change the answer
    "q_manifest_skipping_str" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // SHARED with q_snapshot_delete / q_snapshot_merge: merge-on-read
    // and copy-on-write must land the IDENTICAL visible state — the
    // oracle hash proves the dv-applying read equals the rewriting verb
    "q_snapshot_delete_mor" -> oracleSqlDelete,
    // shared string: the equality-upsert detour (identical-row re-land
    // by key + tombstone batch) must land exactly the predicate
    // DELETE's visible state — resurrection, double-count, or
    // over-masking all hash-mismatch
    "q_upsert_eq" -> oracleSqlDelete,
    // shared again (r20): the composite-key detour must land the same
    // state, and its wrong-status tombstone batch must be a no-op
    "q_upsert_eq_multi" -> oracleSqlDelete,
    "q_snapshot_merge_mor"  -> oracleSqlMerge,
    // post-delete state recomputed from source with the negated predicate
    "q_snapshot_delete" -> oracleSqlDelete,
    // post-merge state recomputed from source: update-in-place for the
    // %10=3 slice, retraction (WHEN MATCHED DELETE) of the %10=1 slice,
    // re-keyed inserts for the %10=7 slice
    "q_snapshot_merge" -> oracleSqlMerge,
    // same range recomputed from source — pruning must change the read
    // set, never the answer
    "q_manifest_skipping" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders, mx
        |WHERE o_orderkey >= mx.m // 4 AND o_orderkey <= mx.m // 2
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the same two-column conjunction recomputed from source — pruning
    // on either column must change the read set, never the answer
    "q_manifest_skipping_multi" ->
      """WITH m AS (SELECT MAX(o_orderkey) AS mk, MAX(o_custkey) AS mc
        |           FROM orders)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders, m
        |WHERE o_custkey >= m.mc // 8 AND o_custkey <= m.mc // 4
        |  AND o_orderkey >= m.mk // 8 AND o_orderkey <= m.mk // 4
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // whole-table aggregate recomputed from source: the widened read
    // must lose or mistype nothing across the INT->BIGINT generations
    "q_snapshot_widening" ->
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // the two appended thirds recomputed from source
    "q_snapshot_changes" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )
}
