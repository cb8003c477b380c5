package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Layout

/** The SQL-surface query key: the whole table lifecycle as `spark.sql`
  * text over a registered catalog, nothing programmatic in the data
  * path. Oracle shared with q_table_roundtrip — CREATE + two INSERT
  * halves must reassemble orders exactly; GraftCatalogSpec pins the
  * pieces the aggregate can't see (VERSION AS OF / TIMESTAMP AS OF
  * reads, INSERT OVERWRITE, CTAS, DROP, filter pushdown in EXPLAIN). */
object GraftSql {
  import org.apache.spark.sql.functions._
  import graft.Tables._

  /** Catalog name derived from the warehouse path: Spark's
    * CatalogManager caches the catalog INSTANCE on first lookup and
    * never re-initializes it, so re-pointing `spark.sql.catalog
    * .graft.warehouse` in a session that already used `graft` silently
    * keeps the first path (the r14 ADVICE finding). One name per
    * warehouse makes first-use pinning correct by construction. */
  private[graft] def catalogFor(s: SparkSession, wh: String): String = {
    val name = "graft_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(wh) & 0xffffffffL)
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    name
  }

  def qManifestSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_sql")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_sql_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_sql
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_sql
            |SELECT * FROM orders_sql_src WHERE o_orderkey % 2 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_sql
            |SELECT * FROM orders_sql_src WHERE o_orderkey % 2 = 1""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_sql
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** The row-level SQL surface as a bench key: CREATE + INSERT a
    * manifest table from half of orders, then one `MERGE INTO` whose
    * source both overlaps (update/delete clauses) and extends (insert
    * clause) the target, then aggregate the merged truth. The oracle
    * recomputes the post-merge state relationally (left joins) over the
    * raw parquet — so the group-based COW rewrite, runtime group
    * filtering, and the REPLACE commit all sit under the hash check.
    * GraftRowLevelSpec pins what the aggregate can't see (group
    * pruning: untouched files carry by manifest line). */
  def qManifestMergeSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_merge")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_merge_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_merge
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_merge
            |SELECT * FROM orders_merge_src
            |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(s"""MERGE INTO $cat.default.orders_merge AS t
            |USING (SELECT * FROM orders_merge_src
            |       WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1) AS s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET price = s.price * 2
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, price)
            |  VALUES (s.o_orderkey, s.o_orderstatus, s.price)
            |""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_merge
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** The maintenance-procedure surface as a bench key: CREATE + two
    * INSERT commits, then the full SQL-text maintenance life — `CALL
    * system.compact` (REPLACE repack), `CALL system.rollback` back to
    * the pre-compact version, `CALL system.expire_snapshots` (keep_last
    * omitted → DefaultValue path) — and an aggregate over the surviving
    * head. The oracle recomputes the rollback target's state (the two
    * inserts' union) relationally, so the procedures' commit plumbing
    * sits under the hash check; GraftProcedureSpec pins what the
    * aggregate can't see (result rows, manifest deletion, history). */
  def qManifestMaintenanceSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_maint")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_maint_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_maint
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_maint
            |SELECT * FROM orders_maint_src
            |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_maint
            |SELECT * FROM orders_maint_src
            |WHERE o_orderkey % 4 = 1""".stripMargin)
    // CREATE committed v1 (empty), the inserts v2/v3, compact v4 —
    // rollback to v3 = both inserts' union, the state the oracle checks
    s.sql(s"CALL $cat.system.compact('default.orders_maint')")
    s.sql(s"CALL $cat.system.rollback('default.orders_maint', 3)")
    s.sql(s"CALL $cat.system.expire_snapshots('default.orders_maint')")
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_maint
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Manifest-level data skipping, SQL-only loop: CREATE TABLE with the
    * `graft.stats.columns` property, range-disjoint INSERTs (each
    * records per-file o_orderkey bounds), then a SELECT whose WHERE
    * translates to a bounds predicate and drops the other ranges'
    * files before any footer opens (GraftSkippingSqlSpec pins the
    * pruned counts; this key puts the loop under the oracle). The
    * quartile threshold is computed from the data so the key is
    * scale-independent; the oracle recomputes it with DuckDB's
    * integer division. */
  def qManifestSkippingSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_skip")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_skip_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_skip
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES ('graft.stats.columns' = 'o_orderkey')"""
      .stripMargin)
    val mx = Layout.maxOrderKey(orders(s, d))
    val step = mx / 4 + 1
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO $cat.default.orders_skip
              |SELECT * FROM orders_skip_src
              |WHERE o_orderkey >= ${i * step}
              |  AND o_orderkey < ${(i + 1) * step}""".stripMargin)
    }
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_skip
            |WHERE o_orderkey <= ${mx / 4}
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** CHECK constraints as pure SQL (r16): CREATE TABLE with
    * `graft.constraint.*` TBLPROPERTIES — data-quality gates every
    * commit verb enforces against the staged bytes (violating batches
    * refuse with the constraint named; ALTER-time addition proves
    * existing data first; see GraftCatalogSpec for the refusal paths) —
    * then a full conforming INSERT and the aggregate. The oracle is
    * SHARED with q_manifest_sql / q_table_roundtrip: a gated insert of
    * conforming data must land exactly the ungated state. */
  def qManifestConstraintSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_ck")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_ck_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_ck
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES (
            |  'graft.constraint.key_pos' = 'o_orderkey >= 0',
            |  'graft.constraint.priced'  = 'price IS NOT NULL AND price > 0')"""
      .stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_ck
            |SELECT * FROM orders_ck_src""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_ck
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** REPLACE WHERE as pure SQL (r16): CREATE + full INSERT, then
    * `INSERT INTO ... REPLACE WHERE o_orderkey % 4 = 2` swaps exactly
    * that residue class for a recomputed batch (price doubled) in ONE
    * atomic commit — the idempotent-backfill verb (running the backfill
    * twice converges; the spec pins that, plus the out-of-predicate
    * refusal and the copy-on-write file accounting). The oracle
    * recomputes the post-backfill state relationally. */
  def qManifestReplaceWhere(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_rw")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_rw_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_rw
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.orders_rw
            |SELECT * FROM orders_rw_src""".stripMargin)
    // the canonical backfill shape: replace the upper KEY RANGE with a
    // recomputed batch (REPLACE WHERE predicates must be v1-Filter
    // translatable — range/equality/IN — which is exactly the
    // partition-shaped predicate real backfills use)
    val cut = Layout.maxOrderKey(orders(s, d)) / 2
    s.sql(s"""INSERT INTO $cat.default.orders_rw
            |REPLACE WHERE o_orderkey >= $cut
            |SELECT o_orderkey, o_orderstatus,
            |  CAST(price * 2 AS DECIMAL(18,2)) AS price
            |FROM orders_rw_src WHERE o_orderkey >= $cut""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $cat.default.orders_rw
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Bloom-filter manifest skipping, SQL-only loop (r16): CREATE TABLE
    * with `graft.stats.bloom` on a HIGH-CARDINALITY SCATTERED key —
    * each of the four inserts takes one `o_orderkey % 4` residue class,
    * so every file's [min, max] spans nearly the whole key domain and
    * range bounds can prune NOTHING — then probe two concrete keys with
    * an IN list. The per-file blooms prove the probed keys absent from
    * the other residue classes' files and drop them before any footer
    * opens (GraftSkippingSqlSpec pins the pruned counts; this key puts
    * the loop under the oracle). Probe keys derive from the data (max
    * key of each residue class) so the key is scale-independent. */
  def qManifestSkippingBloom(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.orders_bloom")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_bloom_src")
    s.sql(s"""CREATE TABLE $cat.default.orders_bloom
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES ('graft.stats.bloom' = 'o_orderkey',
            |               'graft.stats.bloom.bits' = '524288')"""
      .stripMargin)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO $cat.default.orders_bloom
              |SELECT * FROM orders_bloom_src
              |WHERE o_orderkey % 4 = $i""".stripMargin)
    }
    // two concrete probe keys, one from residue class 2, one from 1 —
    // 1-row control aggregates, the same driver-side decision posture
    // as the skipping key's quartile threshold
    val o = orders(s, d)
    val (p1, p2) = (Layout.maxOrderKey(o.where(col("o_orderkey") % 4 === 2)),
      Layout.maxOrderKey(o.where(col("o_orderkey") % 4 === 1)))
    s.sql(s"""SELECT o_orderkey, o_orderstatus,
            |  CAST(price AS DOUBLE) AS price
            |FROM $cat.default.orders_bloom
            |WHERE o_orderkey IN ($p1, $p2)
            |ORDER BY o_orderkey, o_orderstatus, price""".stripMargin)
  }

  /** Schema evolution as pure SQL text (r15 verdict task 3): CREATE the
    * narrow table, INSERT generation 1, `ALTER TABLE ... ADD COLUMN bal`
    * (the [[GraftCatalog.alterTable]] AddColumn path → schema-only
    * commit), INSERT generation 2 WITH bal, aggregate the head. Gen-1
    * files null-fill `bal` under the evolved read schema — the oracle is
    * SHARED with q_snapshot_evolution / q_schema_evolution (explicit
    * NULL-union recompute), so DuckDB proves the DDL path lands the
    * identical evolved state the append-merge path does. */
  def qManifestEvolutionSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    s.sql(s"DROP TABLE IF EXISTS $cat.default.supplier_evo")
    supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal"))
      .createOrReplaceTempView("supplier_evo_src")
    s.sql(s"""CREATE TABLE $cat.default.supplier_evo
            |  (s_suppkey BIGINT, s_nationkey BIGINT)""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.supplier_evo
            |SELECT s_suppkey, s_nationkey FROM supplier_evo_src"""
      .stripMargin)
    s.sql(s"""ALTER TABLE $cat.default.supplier_evo
            |ADD COLUMN bal DECIMAL(18,2)""".stripMargin)
    s.sql(s"""INSERT INTO $cat.default.supplier_evo
            |SELECT s_suppkey, s_nationkey, bal FROM supplier_evo_src"""
      .stripMargin)
    s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(bal) AS BIGINT) AS n_bal,
            |  CAST(SUM(bal) AS DOUBLE) AS sum_bal
            |FROM $cat.default.supplier_evo
            |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
  }

  /** `PARTITIONED BY` end to end (r16 verdict task 2): the nightly
    * partitioned-backfill shape of q_partitioned_backfill, re-expressed
    * as pure SQL text against the manifest catalog — CREATE TABLE …
    * PARTITIONED BY (day), one bulk INSERT (the clause clusters the
    * batch by day and records per-file day bounds), then the idempotent
    * last-day rebuild via `INSERT … REPLACE WHERE`. The shared oracle
    * proves the clustered+skipped layout answers exactly like the
    * hive-directory layout; GraftSkippingSqlSpec pins the pruning side
    * (a day-predicate SELECT opens only that day's files). */
  def qPartitionedSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.events_part_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    val dayNs = 86400L * 1000 * 1000 * 1000
    graft.Events.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        dec2(col("value")).as("v"),
        expr(s"ts div $dayNs").as("day"))
      .createOrReplaceTempView("events_part_src")
    s.sql(s"""CREATE TABLE $t
            |  (event_id BIGINT, user_id BIGINT, event_type STRING,
            |   v DECIMAL(18,2), day BIGINT)
            |PARTITIONED BY (day)""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM events_part_src")
    val lastDay = s.sql("SELECT MAX(day) AS d FROM events_part_src")
      .head.getLong(0)
    // the idempotent partition rebuild: re-running converges instead of
    // duplicating — one atomic commit swaps exactly the day's rows
    s.sql(s"""INSERT INTO $t REPLACE WHERE day = $lastDay
            |SELECT * FROM events_part_src WHERE day = $lastDay"""
      .stripMargin)
    s.sql(s"""SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events,
            |  CAST(SUM(v) AS DOUBLE) AS sum_value
            |FROM $t GROUP BY day ORDER BY day""".stripMargin)
  }

  /** Type widening as DDL (r16 verdict task 4): CREATE with an INT key,
    * land generation-1, `ALTER TABLE … ALTER COLUMN … TYPE BIGINT`
    * (schema-only commit — zero bytes rewritten, old files
    * scan-promote), land generation-2 with 64-bit keys, aggregate
    * across both generations. Shares q_snapshot_widening's oracle: the
    * DDL path must land exactly the append-merge widening path's
    * state. */
  def qWideningSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.supplier_widen_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal"))
      .createOrReplaceTempView("supplier_widen_src")
    s.sql(s"""CREATE TABLE $t
            |  (s_suppkey INT, s_nationkey BIGINT,
            |   bal DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $t
            |SELECT CAST(s_suppkey AS INT), s_nationkey, bal
            |FROM supplier_widen_src WHERE s_suppkey % 2 = 0"""
      .stripMargin)
    s.sql(s"ALTER TABLE $t ALTER COLUMN s_suppkey TYPE BIGINT")
    s.sql(s"""INSERT INTO $t
            |SELECT s_suppkey, s_nationkey, bal
            |FROM supplier_widen_src WHERE s_suppkey % 2 = 1"""
      .stripMargin)
    s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
            |  CAST(SUM(bal) AS DOUBLE) AS sum_bal
            |FROM $t GROUP BY s_nationkey ORDER BY s_nationkey"""
      .stripMargin)
  }

  /** RENAME COLUMN end to end (r17 verdict task 4): CREATE with
    * `graft.column.mapping='id'` (field-id indirection), land
    * generation-1 under the original column name, `ALTER TABLE … RENAME
    * COLUMN` (schema-only commit — zero bytes rewritten; old files
    * match by parquet field id), land generation-2 under the NEW name,
    * aggregate across both generations. Shares q_snapshot_widening's /
    * q_widening_sql's oracle: the renamed lifecycle must land exactly
    * the plain lifecycle's state — the hash proves pre-rename files
    * read correctly under the new name. */
  def qRenameSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.supplier_rename_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        dec2(col("s_acctbal")).as("bal"))
      .createOrReplaceTempView("supplier_rename_src")
    s.sql(s"""CREATE TABLE $t
            |  (s_suppkey BIGINT, s_nationkey BIGINT,
            |   acct DECIMAL(18,2))
            |TBLPROPERTIES ('graft.column.mapping' = 'id')""".stripMargin)
    s.sql(s"""INSERT INTO $t
            |SELECT s_suppkey, s_nationkey, bal
            |FROM supplier_rename_src WHERE s_suppkey % 2 = 0"""
      .stripMargin)
    s.sql(s"ALTER TABLE $t RENAME COLUMN acct TO bal")
    s.sql(s"""INSERT INTO $t
            |SELECT s_suppkey, s_nationkey, bal
            |FROM supplier_rename_src WHERE s_suppkey % 2 = 1"""
      .stripMargin)
    s.sql(s"""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
            |  CAST(SUM(bal) AS DOUBLE) AS sum_bal
            |FROM $t GROUP BY s_nationkey ORDER BY s_nationkey"""
      .stripMargin)
  }

  /** The delta (merge-on-read) SQL MERGE, end to end: the exact
    * statement of [[qManifestMergeSql]] against a
    * `graft.rowlevel.mode='mor'` table — Spark's delta rewrite drives
    * [[GraftDeltaOperation]], matched rows position-delete via
    * (_file,_pos) row ids into a dv sidecar, updated+inserted rows
    * append, and NO pre-existing data file is rewritten
    * (GraftRowLevelSpec pins the untouched-paths side). The shared
    * oracle proves delta-MERGE state ≡ COW-MERGE state. */
  def qMergeSqlMor(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.orders_merge_mor_sql"
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_merge_mor_src")
    s.sql(s"""CREATE TABLE $t
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |TBLPROPERTIES ('graft.rowlevel.mode' = 'mor')""".stripMargin)
    s.sql(s"""INSERT INTO $t
            |SELECT * FROM orders_merge_mor_src
            |WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql(s"""MERGE INTO $t AS t
            |USING (SELECT * FROM orders_merge_mor_src
            |       WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1) AS s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET price = s.price * 2
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, price)
            |  VALUES (s.o_orderkey, s.o_orderstatus, s.price)
            |""".stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Storage-partitioned join end to end (r18): two tables PARTITIONED
    * BY (day) — an events fact and a per-day dimension — joined on the
    * partition column. With v2 bucketing on (GraftSession default) both
    * scans report KeyGroupedPartitioning over their single-value files,
    * so the join AND the grouped aggregate plan with ZERO shuffles —
    * the co-partitioned fact⋈dim zip that replaces the dominant
    * warehouse shuffle at 100 TB. SpjSpec pins the shuffle-free plan
    * and the write invariant; this key pins the ANSWER: the oracle
    * recomputes the join relationally over the raw events parquet, so a
    * wrong file grouping (rows keyed into the wrong partition) would
    * hash-mismatch immediately. */
  def qSpjJoin(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val fact = s"$cat.default.events_spj_fact"
    val dim = s"$cat.default.events_spj_dim"
    s.sql(s"DROP TABLE IF EXISTS $fact")
    s.sql(s"DROP TABLE IF EXISTS $dim")
    val dayNs = 86400L * 1000 * 1000 * 1000
    graft.Events.events(s, d)
      .select(col("event_id"), col("event_type"),
        dec2(col("value")).as("v"),
        expr(s"ts div $dayNs").as("day"))
      .createOrReplaceTempView("events_spj_src")
    s.sql(s"""CREATE TABLE $fact
            |  (event_id BIGINT, event_type STRING, v DECIMAL(18,2),
            |   day BIGINT)
            |PARTITIONED BY (day)""".stripMargin)
    s.sql(s"INSERT INTO $fact SELECT * FROM events_spj_src")
    s.sql(s"""CREATE TABLE $dim (day BIGINT, w DECIMAL(18,2))
            |PARTITIONED BY (day)""".stripMargin)
    s.sql(s"""INSERT INTO $dim
            |SELECT day, CAST(SUM(v) AS DECIMAL(18,2)) AS w
            |FROM events_spj_src GROUP BY day""".stripMargin)
    s.sql(s"""SELECT f.day, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(f.v) AS DOUBLE) AS sum_v,
            |  CAST(MAX(d.w) AS DOUBLE) AS day_w
            |FROM $fact f JOIN $dim d ON f.day = d.day
            |GROUP BY f.day ORDER BY f.day""".stripMargin)
  }

  /** Bucket-layout SPJ end to end (r18): orders and lineitem both
    * `PARTITIONED BY (bucket(16, orderkey))` — the canonical fact⋈fact
    * shape whose shuffle dominates every warehouse plan at 100 TB. The
    * writes place rows by the catalog's `bucket` function (pmod), the
    * scans report KeyGroupedPartitioning over the SAME bound function,
    * and the equi-join on the bucket key plans with ZERO shuffles on
    * either side (SpjSpec pins the plan; broadcast can't fake this —
    * both sides are fact-sized). The oracle recomputes the join over
    * the raw parquet, so a single row placed or grouped into the wrong
    * bucket hash-mismatches. */
  def qBucketJoin(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val of = s"$cat.default.orders_bkt"
    val lf = s"$cat.default.lineitem_bkt"
    s.sql(s"DROP TABLE IF EXISTS $of")
    s.sql(s"DROP TABLE IF EXISTS $lf")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_bkt_src")
    lineitem(s, d)
      .select(col("l_orderkey"), dec2(col("l_quantity")).as("qty"))
      .createOrReplaceTempView("lineitem_bkt_src")
    s.sql(s"""CREATE TABLE $of
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $of SELECT * FROM orders_bkt_src")
    s.sql(s"""CREATE TABLE $lf (l_orderkey BIGINT, qty DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, l_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $lf SELECT * FROM lineitem_bkt_src")
    s.sql(s"""SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(l.qty) AS DOUBLE) AS sum_qty,
            |  CAST(SUM(o.price) AS DOUBLE) AS sum_price
            |FROM $of o JOIN $lf l ON o.o_orderkey = l.l_orderkey
            |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus"""
      .stripMargin)
  }

  /** String-key bucket SPJ end to end (r19): the same fact⋈fact shape
    * as [[qBucketJoin]] but on STRING join keys — the common case in
    * LLM-pipeline tables (doc ids, UUIDs, URLs), where a zero-shuffle
    * co-bucketed join was previously out of reach. Both tables are
    * `PARTITIONED BY (bucket(16, <string key>))`; placement is
    * `pmod(xxhash64(key), 16)` end to end (writer fanout, manifest
    * `#bucket` groups, the catalog's V2 `bucket` function under its
    * string canonical name), and the join plans with zero shuffles
    * (SpjSpec pins the plan). The oracle recomputes the join
    * relationally over the raw parquet with the same string-cast keys —
    * placement is hash-private, the join RESULT is not, so one row
    * placed or grouped into the wrong bucket hash-mismatches. */
  def qBucketJoinStr(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val of = s"$cat.default.orders_bkts"
    val lf = s"$cat.default.lineitem_bkts"
    s.sql(s"DROP TABLE IF EXISTS $of")
    s.sql(s"DROP TABLE IF EXISTS $lf")
    orders(s, d)
      .select(concat(lit("ord-"), col("o_orderkey")).as("o_key"),
        col("o_orderstatus"), dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_bkts_src")
    lineitem(s, d)
      .select(concat(lit("ord-"), col("l_orderkey")).as("l_key"),
        dec2(col("l_quantity")).as("qty"))
      .createOrReplaceTempView("lineitem_bkts_src")
    s.sql(s"""CREATE TABLE $of
            |  (o_key STRING, o_orderstatus STRING, price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_key))""".stripMargin)
    s.sql(s"INSERT INTO $of SELECT * FROM orders_bkts_src")
    s.sql(s"""CREATE TABLE $lf (l_key STRING, qty DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, l_key))""".stripMargin)
    s.sql(s"INSERT INTO $lf SELECT * FROM lineitem_bkts_src")
    s.sql(s"""SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(l.qty) AS DOUBLE) AS sum_qty,
            |  CAST(SUM(o.price) AS DOUBLE) AS sum_price
            |FROM $of o JOIN $lf l ON o.o_key = l.l_key
            |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus"""
      .stripMargin)
  }

  /** Guarded partition-spec evolution end to end (r19): CREATE a
    * bucket(16) table, land the full orders projection, `CALL
    * system.relayout` to bucket(8) — one REPLACE commit re-fanning
    * every file out under the new spec and swapping the layout props
    * atomically (the rewrite path the ALTER-immutability refusal
    * names) — then aggregate THROUGH the relayouted snapshot, with a
    * point lookup exercising the new placement's pruning on the way.
    * Shares q_table_roundtrip's oracle: a relayout that drops,
    * duplicates, or mis-places one row hash-mismatches.
    * GraftProcedureSpec pins what the aggregate can't see (pinned
    * pre-relayout keying, SPJ eligibility, branch/arg guards). */
  def qRelayoutSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.orders_rel"
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_rel_src")
    s.sql(s"""CREATE TABLE $t
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM orders_rel_src")
    s.sql(s"""CALL $cat.system.relayout('default.orders_rel',
            |bucket_by => 'o_orderkey', bucket_count => 8)""".stripMargin)
    // a point lookup through the NEW placement (bucket pruning on the
    // re-fanned files) — the driver-visible smoke that the relayouted
    // layout actually serves
    s.sql(s"SELECT COUNT(*) FROM $t WHERE o_orderkey = 32").collect()
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      .stripMargin)
  }

  /** METADATA-ONLY layout evolution end to end (r20): CREATE bucket(16)
    * + land the even half under it, `CALL system.evolve_layout` to
    * bucket(8) — one props-only commit, ZERO rewrite — then land the
    * odd half under the NEW spec (the ingest that keeps flowing, the
    * case [[graft.ops.Layout.relayout]]'s strict replace cannot serve),
    * point-look-up through the mixed state (old-spec files survive
    * pruning, new-spec files prune to 1/8 — either way the answer is
    * exact), compact (ordinary maintenance re-places the old half and
    * restores SPJ keying), and aggregate. Shares q_table_roundtrip's
    * oracle: mixed-spec reads, the props swap and the re-placement must
    * all be state-preserving. LayoutEvolveSpec pins what the aggregate
    * can't see (unkeyed mixed snapshot, keyed post-compact snapshot,
    * stale groups never keying). */
  def qEvolveLayout(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val t = s"$cat.default.orders_ev"
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_ev_src")
    s.sql(s"""CREATE TABLE $t
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))
            |PARTITIONED BY (bucket(16, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM orders_ev_src " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"""CALL $cat.system.evolve_layout('default.orders_ev',
            |bucket_by => 'o_orderkey', bucket_count => 8)""".stripMargin)
    s.sql(s"INSERT INTO $t SELECT * FROM orders_ev_src " +
      "WHERE o_orderkey % 2 = 1")
    // point lookup through the MIXED state: bucket(8) pruning applies
    // to the new-spec files, the old-spec files survive — exactness
    // either way
    s.sql(s"SELECT COUNT(*) FROM $t WHERE o_orderkey = 32").collect()
    s.sql(s"CALL $cat.system.compact('default.orders_ev')")
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      .stripMargin)
  }

  /** Write-audit-publish end to end (r18): CREATE + land the even half
    * on main, fork branch 'audit', land the odd half on the BRANCH
    * under `spark.graft.wap.branch` (the Iceberg-style session switch —
    * the INSERT statement is identical to a direct write), run the
    * audit gate as a real query against `VERSION AS OF 'audit'`
    * (refusing publish on a failed check), publish (one fast-forward
    * CAS, zero data movement), drop the branch, aggregate main. Shares
    * q_table_roundtrip's oracle: the WAP detour must land EXACTLY the
    * direct two-insert state — a leak (batch visible before publish),
    * a loss (publish dropping lines), or a duplication all
    * hash-mismatch. BranchWapSpec pins what the aggregate can't see
    * (invisibility before publish, divergence refusal, GC safety). */
  def qWapPublish(s: SparkSession, d: String): DataFrame =
    withWapBranch(s, None) {
      val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
      val cat = catalogFor(s, wh)
      val t = s"$cat.default.orders_wap"
      s.sql(s"DROP TABLE IF EXISTS $t")
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec2(col("o_totalprice")).as("price"))
        .createOrReplaceTempView("orders_wap_src")
      s.sql(s"""CREATE TABLE $t
              |  (o_orderkey BIGINT, o_orderstatus STRING,
              |   price DECIMAL(18,2))""".stripMargin)
      s.sql(s"""INSERT INTO $t
              |SELECT * FROM orders_wap_src WHERE o_orderkey % 2 = 0"""
        .stripMargin)
      s.sql(s"CALL $cat.system.create_branch('default.orders_wap', 'audit')")
      withWapBranch(s, Some("audit")) {
        s.sql(s"""INSERT INTO $t
                |SELECT * FROM orders_wap_src WHERE o_orderkey % 2 = 1"""
          .stripMargin)
      }
      // the audit gate: a real validation query against the branch — a
      // staged batch that fails it never publishes
      val bad = s.sql(s"""SELECT COUNT(*) FROM $t VERSION AS OF 'audit'
                        |WHERE o_orderkey IS NULL OR price < 0"""
        .stripMargin).head.getLong(0)
      require(bad == 0, s"audit failed: $bad bad rows — not publishing")
      s.sql(s"CALL $cat.system.publish_branch('default.orders_wap', 'audit')")
      s.sql(s"CALL $cat.system.drop_branch('default.orders_wap', 'audit')")
      s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
              |  CAST(SUM(price) AS DOUBLE) AS sum_price
              |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin)
    }

  /** `body` with `spark.graft.wap.branch` at `branch` (None: unset), then
    * the caller's value back: an operator's switch never wipes or leaks
    * into the session's. */
  private def withWapBranch[T](s: SparkSession, branch: Option[String])
      (body: => T): T = {
    val prev = s.conf.getOption("spark.graft.wap.branch")
    def put(v: Option[String]): Unit = v.fold(
      s.conf.unset("spark.graft.wap.branch"))(
      s.conf.set("spark.graft.wap.branch", _))
    put(branch)
    try body finally put(prev)
  }

  /** Zero-copy shallow clone end to end (r18): land the even half on
    * the SOURCE, `CALL system.clone` (one manifest commit referencing
    * the source's files absolutely — no data movement at any size),
    * land the odd half on the CLONE, aggregate the clone. Shares
    * q_table_roundtrip's oracle: the clone must serve the source's
    * files and its own appends as one table — a broken absolute-path
    * resolution loses the even half, a leak into the source doubles
    * it. CloneSpec pins divergence isolation, carried stats pruning,
    * and vacuum safety. */
  def qCloneSql(s: SparkSession, d: String): DataFrame = {
    val wh = s"${graft.ops.Sources.ioDir(s, d)}/sql_catalog"
    val cat = catalogFor(s, wh)
    val src = s"$cat.default.orders_clone_src"
    val t = s"$cat.default.orders_clone"
    s.sql(s"DROP TABLE IF EXISTS $src")
    s.sql(s"DROP TABLE IF EXISTS $t")
    orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).as("price"))
      .createOrReplaceTempView("orders_clone_src_v")
    s.sql(s"""CREATE TABLE $src
            |  (o_orderkey BIGINT, o_orderstatus STRING,
            |   price DECIMAL(18,2))""".stripMargin)
    s.sql(s"""INSERT INTO $src
            |SELECT * FROM orders_clone_src_v WHERE o_orderkey % 2 = 0"""
      .stripMargin)
    s.sql(s"CALL $cat.system.clone('default.orders_clone_src', " +
      "'default.orders_clone')")
    s.sql(s"""INSERT INTO $t
            |SELECT * FROM orders_clone_src_v WHERE o_orderkey % 2 = 1"""
      .stripMargin)
    s.sql(s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(price) AS DOUBLE) AS sum_price
            |FROM $t GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      .stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_spj_join" -> qSpjJoin _,
    "q_wap_publish" -> qWapPublish _,
    "q_clone_sql" -> qCloneSql _,
    "q_bucket_join" -> qBucketJoin _,
    "q_bucket_join_str" -> qBucketJoinStr _,
    "q_relayout_sql" -> qRelayoutSql _,
    "q_evolve_layout" -> qEvolveLayout _,
    "q_partitioned_sql" -> qPartitionedSql _,
    "q_widening_sql" -> qWideningSql _,
    "q_rename_sql" -> qRenameSql _,
    "q_merge_sql_mor" -> qMergeSqlMor _,
    "q_manifest_sql" -> qManifestSql _,
    "q_manifest_merge_sql" -> qManifestMergeSql _,
    "q_manifest_maintenance_sql" -> qManifestMaintenanceSql _,
    "q_manifest_skipping_sql" -> qManifestSkippingSql _,
    "q_manifest_skipping_bloom" -> qManifestSkippingBloom _,
    "q_manifest_replace_where" -> qManifestReplaceWhere _,
    "q_manifest_constraint_sql" -> qManifestConstraintSql _,
    "q_manifest_evolution_sql" -> qManifestEvolutionSql _)

  // post-merge truth recomputed relationally over raw parquet: matched
  // non-'F' rows doubled, matched 'F' rows deleted, unmatched source
  // rows inserted — shared by the COW and MOR MERGE keys
  private val mergeSqlOracle =
      """WITH t AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders WHERE o_orderkey % 4 = 0),
        |     s AS (SELECT o_orderkey, o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders
        |           WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1),
        |     kept AS (
        |       SELECT t.o_orderkey, t.o_orderstatus,
        |         CASE WHEN s.o_orderkey IS NULL THEN t.price
        |              ELSE CAST(t.price * 2 AS DECIMAL(18,2)) END AS price
        |       FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
        |       WHERE s.o_orderkey IS NULL OR t.o_orderstatus <> 'F'),
        |     ins AS (
        |       SELECT s.o_orderkey, s.o_orderstatus, s.price
        |       FROM s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
        |       WHERE t.o_orderkey IS NULL),
        |     merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the SPJ fact⋈dim recomputed relationally from the raw events —
    // a wrong partition-value file grouping would shift n/sum_v/day_w
    // for the misgrouped day and hash-mismatch
    "q_spj_join" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |  dim AS (
        |    SELECT day, CAST(SUM(v) AS DECIMAL(18,2)) AS w
        |    FROM src GROUP BY day)
        |SELECT f.day, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(f.v) AS DOUBLE) AS sum_v,
        |  CAST(MAX(d.w) AS DOUBLE) AS day_w
        |FROM src f JOIN dim d ON f.day = d.day
        |GROUP BY f.day ORDER BY f.day""".stripMargin,
    // the bucket-layout fact⋈fact recomputed relationally from the raw
    // tables — any row placed or grouped into the wrong bucket would
    // drop/duplicate join matches and hash-mismatch
    "q_bucket_join" ->
      """SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    // the STRING-key bucket join recomputed relationally with the same
    // derived keys — the xxhash64 placement is not SQL-expressible in
    // DuckDB, but the join result is placement-independent, so any
    // mis-bucketed row still drops/duplicates matches and mismatches
    "q_bucket_join_str" ->
      """WITH o AS (SELECT 'ord-' || CAST(o_orderkey AS VARCHAR) AS o_key,
        |             o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders),
        |     l AS (SELECT 'ord-' || CAST(l_orderkey AS VARCHAR) AS l_key,
        |             CAST(l_quantity AS DECIMAL(18,2)) AS qty
        |           FROM lineitem)
        |SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(l.qty) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(o.price) AS DOUBLE) AS sum_price
        |FROM o JOIN l ON o.o_key = l.l_key
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    // shared string: PARTITIONED BY (clustering + manifest skipping)
    // must answer exactly like the hive-directory layout it replaces
    "q_partitioned_sql" ->
      graft.ops.Sources.oracleSql("q_partitioned_backfill"),
    // shared string: the ALTER COLUMN TYPE DDL path must land exactly
    // the append-merge widening path's state
    "q_widening_sql" ->
      graft.ops.Layout.oracleSql("q_snapshot_widening"),
    // shared string: the renamed lifecycle (field-id indirection) must
    // land exactly the plain lifecycle's state
    "q_rename_sql" ->
      graft.ops.Layout.oracleSql("q_snapshot_widening"),
    "q_manifest_sql" -> graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: the WAP detour (branch stage + audit + publish)
    // must land exactly the direct two-insert state
    "q_wap_publish" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: the relayout rewrite (bucket(16) → bucket(8))
    // must preserve the table's visible state exactly
    "q_relayout_sql" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared again (r20): the METADATA-ONLY evolution — mixed-spec
    // reads, the props swap, and the compaction that re-places the old
    // half — must also preserve the state exactly
    "q_evolve_layout" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: source files served through absolute manifest
    // lines + the clone's own appends must reassemble the direct state
    "q_clone_sql" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared string: a constraint-gated insert of conforming data must
    // land exactly the ungated table state
    "q_manifest_constraint_sql" ->
      graft.ops.Sources.oracleSql("q_table_roundtrip"),
    // shared-string convention: the DDL evolution path must land exactly
    // the append-merge path's evolved state
    "q_manifest_evolution_sql" ->
      graft.ops.Sources.oracleSql("q_schema_evolution"),
    // rollback(2) makes the head ≡ the two inserts' union — compact and
    // expire must be state-preserving, which is exactly what the hash
    // check proves
    "q_manifest_maintenance_sql" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // post-backfill truth: the upper key range doubled, everything else
    // as inserted — proves the swap was atomic-complete (no row lost,
    // none duplicated, none doubled twice)
    "q_manifest_replace_where" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey >=
        |         (SELECT MAX(o_orderkey) // 2 FROM orders)
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |            AS DECIMAL(18,2))
        |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the bloom probes are recomputable relationally: max key of each
    // residue class — pruning changes the read set, never the answer
    "q_manifest_skipping_bloom" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey IN (
        |  (SELECT MAX(o_orderkey) FROM orders WHERE o_orderkey % 4 = 2),
        |  (SELECT MAX(o_orderkey) FROM orders WHERE o_orderkey % 4 = 1))
        |ORDER BY o_orderkey, o_orderstatus, price""".stripMargin,
    // DuckDB `//` = integer division, matching the Spark side's Long /
    "q_manifest_skipping_sql" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 4 FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_manifest_merge_sql" -> mergeSqlOracle,
    // shared string: the delta (merge-on-read) MERGE must land the
    // IDENTICAL visible state as the group-based COW MERGE — one oracle
    // hash proves the two execution strategies equivalent
    "q_merge_sql_mor" -> mergeSqlOracle)
}
