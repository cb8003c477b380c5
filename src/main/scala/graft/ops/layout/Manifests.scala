package graft.ops
package layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types
import graft.{ControlPlane, SizeTier}

/** The manifest layer: codec, cache, table props, the entry grammar
  * (bounds, blooms, sketches, deletion vectors, equality deletes) and
  * column-mapping field ids.
  * Mixed into [[graft.ops.Layout]]. */
private[ops] trait Manifests { this: Layout.type =>
  // ---------------------------------------------------------------------
  // Manifest-based snapshot commits — the table-format core (the idea
  // under Iceberg/Delta) on plain parquet + the Hadoop FileSystem API.
  //
  // A table is a directory whose READERS NEVER LIST IT: the authoritative
  // state is the newest manifests/v<N>.manifest, a text file of
  // root-relative data-file paths (relative so the table is relocatable).
  // A write transaction (1) stages its parquet files under a uuid'd
  // data/txn-* directory — invisible, since no manifest references them —
  // then (2) publishes manifest v<N+1> = v<N>'s list + the new files via
  // create-temp-then-rename. Rename-if-absent is the commit point and
  // doubles as optimistic concurrency: two racing writers both try
  // v<N+1>, the loser's rename fails (destination exists), and it retries
  // against the new head. Crash between (1) and (2) leaves orphan files
  // that no reader ever sees (compaction can sweep them by age).
  //
  // Why this is the 100 TB design: object stores make directory listing
  // slow, expensive and (historically) eventually-consistent, while
  // manifest-read + direct-file-open is O(1) round trips; snapshot reads
  // pin a version so long queries see a frozen table while commits land;
  // and the commit cost is one small-file rename regardless of data
  // volume. SnapshotIsolationSpec pins version pinning + orphan
  // invisibility; the q_manifest_snapshot oracle (shared with
  // q_table_roundtrip) re-proves snapshot read ≡ plain table read.
  //
  // COMMIT-SAFETY PRECONDITION: publish-if-absent is a true CAS only
  // where the publish atomically fails on an existing destination. The
  // protocol gets that on both filesystems it runs on, by different
  // primitives: HDFS rename refuses an existing destination
  // atomically; local filesystems get link(2) via [[publishNoReplace]]
  // — POSIX hard-link creation fails with EEXIST atomically, unlike
  // POSIX rename(2), which silently REPLACES the destination and
  // returns true. On top of the exclusive publish, every commit embeds
  // a per-attempt UUID (`#commit` header) and re-reads the destination
  // after a "successful" publish — belt and braces for filesystems
  // with neither primitive (raw object stores: S3A rename is a
  // non-atomic copy+delete). There the verify NARROWS the lost-update
  // window but does not close it (A can publish, verify its own UUID,
  // and return before B's copy replaces the object) — the same class
  // of caveat every Hadoop-committed table format carries: on S3,
  // Delta requires a LogStore with a conditional-put/locking service
  // and Iceberg a catalog (Hive/Glue/REST) to arbitrate commits.
  // Deploying THIS protocol against an object store likewise REQUIRES
  // an external commit arbiter: set `graft.commit.lockfile=true`
  // (Hadoop conf) to serialize commits through a create-exclusive
  // `manifests/_commit.lock` — see [[acquireCommitLock]]; the
  // manifest-read/direct-open READ path needs no such help and is
  // where the object-store win actually lives.
  // ---------------------------------------------------------------------

  import org.apache.hadoop.fs.{FileSystem, Path}

  private[ops] val ManifestRe = """v(\d+)\.manifest""".r

  /** Manifest-chain designator (r18 branches): "" = the main chain
    * (`v<N>.manifest`), `chainOf(name)` = branch `name`'s chain
    * (`b.<name>.v<N>.manifest`, same manifests/ dir — the main chain's
    * regex never matches it, so every pre-branch reader is oblivious).
    * Branch names are restricted to [A-Za-z0-9_-] so the file-name
    * grammar stays unambiguous. */
  private[graft] def chainOf(branch: String): String = {
    require(branch.matches("[A-Za-z0-9_\\-]+"),
      s"branch name must match [A-Za-z0-9_-]+, got '$branch'")
    // an all-digit name would be UNREACHABLE: `VERSION AS OF '7'`
    // parses as main-chain version 7 before branch resolution is ever
    // tried, so the audit read would silently validate the wrong data
    require(!branch.forall(_.isDigit),
      s"branch name must contain a non-digit (got '$branch' — " +
        "VERSION AS OF would read main version " + branch + " instead)")
    s"b.$branch."
  }

  /** Every committed version number of `table`'s `chain` — the ONE
    * place the manifest file-name grammar is parsed, so chain
    * discovery (head/base/liveness) can never diverge from chain
    * addressing. */
  private[ops] def chainVersions(fs: FileSystem, table: Path,
      chain: String): Seq[Int] = {
    val mdir = new Path(table, "manifests")
    if (!fs.exists(mdir)) return Nil
    val re =
      if (chain.isEmpty) ManifestRe
      else (java.util.regex.Pattern.quote(chain) + """v(\d+)\.manifest""").r
    fs.listStatus(mdir).flatMap(st => st.getPath.getName match {
      case re(n) => Some(n.toInt)
      case _     => None
    }).toSeq
  }

  /** Newest committed version of `table`'s `chain`, 0 if none. */
  def currentVersion(fs: FileSystem, table: Path,
      chain: String = ""): Int =
    chainVersions(fs, table, chain).foldLeft(0)(math.max)

  /** Manifest LINES (the commit-protocol currency: set arithmetic for
    * append/replace rebasing operates on whole lines, which are copied
    * verbatim across commits). A line is a root-relative file path,
    * optionally followed by a `@bytes` size token and any number of
    * per-column `col\tmin\tmax` bounds groups (see the grammar at
    * [[entryBounds]]) — [[entryPath]]/[[entrySize]]/[[entryBounds]]
    * split the concerns, and every consumer that touches the filesystem
    * goes through entryPath so decorated and bare lines mix freely in
    * one table's history. `#`-prefixed header lines (the per-version
    * schema record, txn markers, the commit UUID) are metadata, not
    * line currency — skipped here so the rebase arithmetic never copies
    * a stale header across commits. */
  private[ops] def manifestFiles(fs: FileSystem, table: Path, v: Int,
      chain: String = ""): Seq[String] =
    rawManifestLines(fs, table, v, chain).filterNot(isHeader)

  private def isHeader(line: String): Boolean = line.startsWith("#")

  /** Bounded cache of manifest contents. A committed manifest file is
    * never rewritten in place, but a table CAN be dropped and recreated
    * at the same path (every spec/bench fixture does), so the cache key
    * carries the file's (mtime, length) identity — one cheap
    * getFileStatus instead of re-reading a manifest that can list
    * millions of entries. It matters because one commit attempt consults
    * the head manifest several times (file lines, schema header, txn
    * carry, a txn verb's replay re-check): with the cache that is one
    * GET + N HEADs per attempt instead of N GETs.
    *
    * (mtime, length) identity has one known hole: manifest lines are
    * fixed-width (UUID txn dirs + fixed part names), so a table dropped
    * and recreated at the same path can produce a same-length manifest,
    * and on a filesystem with coarse (1 s) mtime resolution the cache
    * could then serve the OLD table's file list. Local FS checksums
    * aren't available to strengthen the key cheaply, so the
    * drop-and-recreate path must call [[invalidateManifestCache]] (or
    * [[dropTable]], which does) — every fixture in this repo does. */
  // bounded by CHARACTERS, not entry count: one manifest can list
  // millions of lines, and 64 of those LRU'd by count alone would pin
  // gigabytes of driver heap. Sized so a large table's WORKING SET
  // fits: the delta-chain floor (full checkpoint), the chain's
  // physical deltas, and two head reconstructions — ~45M chars EACH at
  // the verdict's 800k-file scale, so the 256M default holds that
  // working set with room (~1.2 GB worst-case with String overhead,
  // inside the 8g default driver heap). The r20 steady-state commit
  // loop reads the previous head's cached reconstruction and applies
  // one delta; evicting it makes every commit re-parse the whole
  // chain from disk (ManifestScaleProbe measured 10-20x on exactly
  // that cliff at both 200k and 800k lines). Million-file-plus tables
  // tune -Dgraft.manifest.cache.chars with driver memory, the same
  // driver-heap ∝ live-metadata rule Delta/Iceberg drivers live by.
  private val ManifestCacheMaxChars: Long =
    sys.props.get("graft.manifest.cache.chars").map { v =>
      // parsed inside object init: a bare toLong would surface as an
      // opaque ExceptionInInitializerError naming nothing, and a
      // non-positive budget would silently evict every entry (the
      // documented 10-20x re-parse cliff) — fail with the property name
      val n =
        try v.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft.manifest.cache.chars must be a long, got '$v'") }
      require(n > 0,
        s"graft.manifest.cache.chars must be positive, got $n")
      n
    }.getOrElse(256L << 20)
  private var manifestCacheChars = 0L
  private val manifestCache =
    new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f,
      /* accessOrder = */ true)
  private def charsOf(lines: Seq[String]): Long =
    lines.iterator.map(_.length.toLong).sum

  // ---------------------------------------------------------------------
  // Delta + checkpoint manifest format (r20) — breaking the
  // O(total-files)-per-commit wall the r19 verdict named. A manifest
  // file now comes in two physical forms behind ONE logical API
  // ([[rawManifestLines]] always returns the FULL equivalent content):
  //
  //   FULL  — the pre-r20 format verbatim: headers + complete line list.
  //   DELTA — first line `#delta\t<base>\t<depth>` (base = v-1, the CAS
  //           head this commit rebased onto; depth = base's depth + 1),
  //           then the same full headers every commit carries (schema /
  //           props / txns are small and carrying them whole keeps
  //           propsOf/schemaOf/txnsOf single-file reads), then
  //           `#rm\t<full line>` records for lines the commit drops and
  //           plain lines for the ones it adds. Reconstruction =
  //           base's lines minus removals, plus additions appended —
  //           order within one version is deterministic, and the
  //           protocol's line arithmetic is set-based (paths unique).
  //
  // [[casCommit]] writes a DELTA when the change is genuinely
  // incremental (adds+removes < half the full list — a one-row
  // streaming append to an 800k-file table writes ~200 B instead of
  // ~160 MB) and the head's delta chain is shorter than
  // `graft.manifest.checkpoint.interval` (Hadoop conf, default 20);
  // otherwise it writes FULL — the checkpoint, costing what every
  // pre-r20 commit cost. Cold-read cost is thus bounded by one full
  // manifest plus at most interval-1 small deltas, and reconstructions
  // are cached like any manifest. Delta bases are always the SAME
  // chain's v-1 and main-chain versions expire only as a prefix, so
  // the one dependency a sweep can sever is the oldest retained
  // version's — [[expireSnapshots]] materializes that version as a
  // `v<N>.ckpt` sidecar (its full reconstruction, byte-deterministic)
  // BEFORE deleting, and reconstruction prefers the sidecar. This is
  // the Delta-Lake-shaped tiering (JSON actions + periodic parquet
  // checkpoint) re-expressed in the engine's line grammar; Iceberg
  // solves the same wall with a manifest-list tree. Cited as design
  // prior art, not code.
  // ---------------------------------------------------------------------

  private[ops] val DeltaHeader = "#delta\t"
  private[ops] val RmHeader    = "#rm\t"
  val CheckpointIntervalConf = "graft.manifest.checkpoint.interval"

  /** Physical-form probe: delta-chain depth of `v` (0 = FULL). Reads
    * at most the FIRST line (the `#delta` marker leads a delta file),
    * cached by file identity. */
  private val manifestDepthCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[ops] def depthOf(fs: FileSystem, table: Path, v: Int,
      chain: String = ""): Int = {
    val mf = new Path(table, s"manifests/${chain}v$v.manifest")
    val st = fs.getFileStatus(mf)
    val key = s"${fs.makeQualified(mf)}#${st.getModificationTime}" +
      s"#${st.getLen}"
    val hit = manifestDepthCache.get(key)
    if (hit != null) return hit.intValue
    val in = fs.open(mf)
    val d =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .take(1).toList.headOption match {
          case Some(l) if l.startsWith(DeltaHeader) =>
            l.substring(DeltaHeader.length).split('\t')(1).toInt
          case _ => 0
        }
      finally in.close()
    // identity-keyed entries are tiny; a rare flush beats an unbounded map
    if (manifestDepthCache.size > 10000) manifestDepthCache.clear()
    manifestDepthCache.put(key, d)
    d
  }

  private[ops] def ckptPath(table: Path, v: Int, chain: String): Path =
    new Path(table, s"manifests/${chain}v$v.ckpt")

  /** One physical small-file read, cached by (path, mtime, length). */
  private def readCachedFile(fs: FileSystem, f: Path): Seq[String] = {
    val st = fs.getFileStatus(f) // FileNotFound here = expired/missing
    val key = s"${fs.makeQualified(f)}#${st.getModificationTime}" +
      s"#${st.getLen}"
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    val in = fs.open(f)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    cachePut(key, lines)
    lines
  }

  private def cachePut(key: String, lines: Seq[String]): Unit =
    manifestCache.synchronized {
      if (!manifestCache.containsKey(key)) {
        manifestCacheChars += charsOf(lines)
        manifestCache.put(key, lines)
        // evict LRU-first until back under budget (the just-inserted
        // entry is spared so a single huge manifest still caches)
        val it = manifestCache.entrySet().iterator()
        while (manifestCacheChars > ManifestCacheMaxChars && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) {
            manifestCacheChars -= charsOf(e.getValue)
            it.remove()
          }
        }
      }
    }

  /** The FULL logical content of `v`'s manifest — headers + complete
    * line list — whatever the physical form on disk. Delta files
    * reconstruct against their base (recursively; bounded by the
    * checkpoint interval), preferring a `v<N>.ckpt` sidecar when
    * [[expireSnapshots]] left one. Reconstructions are cached under the
    * delta FILE's identity: committed manifests are immutable, so the
    * reconstruction is as immutable as the file (drop-and-recreate goes
    * through [[invalidateManifestCache]] as ever). */
  private def fullKeyOf(fs: FileSystem, mf: Path): String = {
    val st = fs.getFileStatus(mf) // FileNotFound here = expired/missing
    s"${fs.makeQualified(mf)}#${st.getModificationTime}" +
      s"#${st.getLen}#full"
  }

  private[ops] def rawManifestLines(fs: FileSystem, table: Path, v: Int,
      chain: String = ""): Seq[String] =
    try rawManifestLinesOnce(fs, table, v, chain)
    catch {
      // Racing expireSnapshots: the walk can check exists(ckpt)=false
      // at the oldest retained delta, descend, and find the base
      // deleted by the sweep. The sweep publishes the `.ckpt` BEFORE
      // deleting, so one retry from the top resolves through the
      // sidecar; a second failure means v itself (or its support) is
      // genuinely expired and propagates as before.
      case _: java.io.FileNotFoundException =>
        rawManifestLinesOnce(fs, table, v, chain)
    }

  private def rawManifestLinesOnce(fs: FileSystem, table: Path, v: Int,
      chain: String = ""): Seq[String] = {
    def mfOf(w: Int) = new Path(table, s"manifests/${chain}v$w.manifest")
    val key = fullKeyOf(fs, mfOf(v))
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    // Walk DOWN the delta chain collecting physical deltas until a
    // resolvable floor: a FULL file, a `.ckpt` sidecar, or a version
    // whose reconstruction is already cached. Then fold the deltas
    // oldest-first in ONE ordered-set pass — O(floor + Σ delta sizes),
    // never O(depth × floor), and only the REQUESTED version's
    // reconstruction enters the cache (caching every intermediate of a
    // deep chain evicted itself wholesale at large file counts).
    var pending = List.empty[Seq[String]] // deltas, oldest first
    var cur = v
    var floor: Seq[String] = null
    while (floor == null) {
      val phys = readCachedFile(fs, mfOf(cur))
      phys.headOption match {
        case Some(first) if first.startsWith(DeltaHeader) =>
          val ck = ckptPath(table, cur, chain)
          if (fs.exists(ck)) floor = readCachedFile(fs, ck)
          else {
            pending ::= phys
            cur = first.substring(DeltaHeader.length).split('\t')(0).toInt
            manifestCache.synchronized {
              val hit = manifestCache.get(fullKeyOf(fs, mfOf(cur)))
              if (hit != null) floor = hit
            }
          }
        case _ => floor = phys // FULL form
      }
    }
    if (pending.isEmpty) return floor // v itself was the floor
    val headers = pending.last.filter(l => isHeader(l) &&
      !l.startsWith(DeltaHeader) && !l.startsWith(RmHeader))
    val full =
      if (!pending.exists(_.exists(_.startsWith(RmHeader)))) {
        // removal-free chain (pure appends — the streaming shape):
        // plain concatenation, no hashing of the whole line set
        headers ++ (floor.filterNot(isHeader) ++
          pending.flatMap(_.filterNot(isHeader)))
      } else {
        val set = new java.util.LinkedHashSet[String]()
        floor.foreach(l => if (!isHeader(l)) set.add(l))
        pending.foreach(_.foreach { l =>
          if (l.startsWith(RmHeader))
            set.remove(l.substring(RmHeader.length))
          else if (!isHeader(l)) set.add(l)
        })
        headers ++ scala.jdk.CollectionConverters
          .CollectionHasAsScala(set).asScala.toList
      }
    cachePut(key, full)
    full
  }

  /** Reconstructed manifest LINES of `v` (headers stripped) — the spec
    * surface for asserting exactly what a version lists, physical form
    * notwithstanding. */
  private[graft] def manifestLinesOf(spark: SparkSession, table: String,
      v: Int, chain: String = ""): Seq[String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestFiles(fs, root, v, chain)
  }

  /** Drop every cached manifest of `table` — REQUIRED before reusing a
    * path for a NEW table (see the cache-identity note on the cache
    * above). Deleting files does not invalidate; this does. */
  def invalidateManifestCache(spark: SparkSession, table: String): Unit = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = fs.makeQualified(new Path(root, "manifests")).toString
    manifestCache.synchronized {
      val it = manifestCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(prefix)) {
          manifestCacheChars -= charsOf(e.getValue)
          it.remove()
        }
      }
    }
    val dit = manifestDepthCache.keySet().iterator()
    while (dit.hasNext) if (dit.next().startsWith(prefix)) dit.remove()
  }

  /** Delete a manifest table AND its cache entries — the
    * drop-and-recreate fixture verb. A bare `fs.delete` can leave the
    * cache poisoned for a recreated table at the same path. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    invalidateManifestCache(spark, table)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
  }

  private[ops] val SchemaHeader = "#schema\t"

  /** The table schema RECORDED for `version` — written by every commit
    * since schema tracking landed; None for manifests that predate it
    * (readers then fall back to file-footer inference, the old
    * behavior). Versioned schemas are what make time travel honest
    * under evolution: v_N reads with v_N's schema, not today's. */
  def versionSchema(spark: SparkSession, table: String,
      version: Option[Int] = None): Option[types.StructType] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, root))
    require(v > 0, s"versionSchema: no committed version in $table")
    schemaOf(fs, root, v)
  }

  private[ops] def schemaOf(fs: FileSystem, root: Path, v: Int,
      chain: String = ""): Option[types.StructType] =
    rawManifestLines(fs, root, v, chain).collectFirst {
      case l if l.startsWith(SchemaHeader) =>
        types.DataType.fromJson(l.substring(SchemaHeader.length))
          .asInstanceOf[types.StructType]
    }

  private[ops] val PropHeader = "#prop\t"

  /** Table properties recorded in `version`'s manifest header
    * (`#prop\t<key>\t<value>`, URL-encoded) — carried forward by every
    * commit verb like txn markers, initially written by the commit that
    * sets them (CREATE TABLE TBLPROPERTIES through the SQL catalog, or
    * [[commitSnapshot]]'s `props` argument). The one property the
    * engine itself interprets is `graft.stats.columns`: a
    * comma-separated column list every subsequent APPEND/REPLACE
    * records per-file bounds for — which is what lets a pure-SQL table
    * get manifest-level file skipping without any Scala in the loop. */
  def tableProps(spark: SparkSession, table: String,
      version: Option[Int] = None,
      chain: String = ""): Map[String, String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, root, chain))
    if (v == 0) Map.empty else propsOf(fs, root, v, chain)
  }

  val StatsColumnsProp = "graft.stats.columns"

  /** Per-file Bloom-filter TBLPROPERTIES (r16) — the point-lookup
    * secondary-index tier: `graft.stats.bloom` names integral/string
    * columns whose per-file blooms every commit records in the manifest
    * line; equality / IN probes then drop files whose bloom PROVES the
    * value absent, even when the column's [min,max] spans the whole
    * domain (scattered high-cardinality keys — exactly where range
    * bounds prune nothing). `graft.stats.bloom.bits` sizes the filter
    * (default 8192; choose ≈ 10× the expected distinct values per file
    * for ~1% false-positive rate — a false positive only wastes a scan,
    * never changes an answer). */
  val BloomColumnsProp = "graft.stats.bloom"
  val BloomBitsProp    = "graft.stats.bloom.bits"
  private[ops] val BloomBitsDefault = 8192

  /** Declarative clustering TBLPROPERTIES (r15 verdict task 4): a table
    * CREATEd with one of these gets its INSERTs range-clustered
    * (`sort_by`, one or more columns) or z-order-clustered (`zorder_by`,
    * exactly two columns) at write time — the pruning layout from birth,
    * no post-hoc `CALL system.compact` needed. Properties carry through
    * every commit verb like any other prop, so the declared layout
    * survives compaction/rollback and later writers keep honoring it. */
  val ClusterSortProp   = "graft.cluster.sort_by"
  val ClusterZorderProp = "graft.cluster.zorder_by"
  /** Marker recorded by SQL `CREATE TABLE … PARTITIONED BY (…)`: the
    * declared partition columns (identity transforms), surfaced back
    * through `Table.partitioning()`/DESCRIBE. Physically the clause IS
    * `graft.cluster.sort_by` + `graft.stats.columns` on those columns —
    * value-clustered files with manifest bounds, pruned like partition
    * directories without the listing pathology. */
  val PartitionedByProp = "graft.partitioned.by"

  /** Bucket layout (r18): recorded by SQL `CREATE TABLE … PARTITIONED
    * BY (bucket(N, col))`. Physically: every commit repartitions the
    * batch into N hash buckets — `pmod(col, N)` on the column cast to
    * long — and stages ONE-BUCKET files (the same fanout writer the
    * identity layout uses), recording each file's bucket id as a
    * spec-qualified `#bucket:<N>:<col>` manifest group (a name no real
    * column can take: manifest lines are tab-split, so the leading '#'
    * only means "header" at line start; the spec rides in the name so
    * stale placements can never key — see [[bucketGroup]]). The scan
    * side then reports
    * KeyGroupedPartitioning(bucket(N, col)) and two tables bucketed the
    * SAME way join on `col` with NO shuffle on either side — the
    * fact⋈fact co-location Hive bucketing / Iceberg bucket transforms
    * exist for. The placement function is pmod — deliberately the
    * simplest deterministic choice, exposed to Spark's planner as the
    * catalog's `bucket` V2 function so both sides' TransformExpressions
    * compare equal (canonicalName), and evaluable so Spark could even
    * shuffle a THIRD, unbucketed side to match. Integral columns place
    * by `pmod(cast long, N)` (the cast keeps int/long tables
    * compatible); STRING columns (r19 — doc ids, UUIDs, URLs are the
    * common join key in LLM-pipeline tables) place by
    * `pmod(xxhash64(col), N)`, the engine's own deterministic hash,
    * identical across the writer, the point-lookup pruner and the V2
    * function. Bucket count is CREATE-time immutable (changing it
    * re-places every row — that is a rewrite, not a property flip;
    * enforced by [[setTableProps]]). */
  val BucketByProp    = "graft.bucket.by"
  val BucketCountProp = "graft.bucket.count"

  /** Bucket id of string key `s` under `n` buckets — delegates to the
    * ONE placement definition ([[org.apache.spark.sql.graft
    * .BucketPlacement]]) shared with the V2 function and runtime group
    * filtering, so driver-side pruning arithmetic and the executor-side
    * codegen'd placement expression can never disagree. */
  private[graft] def strBucketId(s: String, n: Long): Long =
    org.apache.spark.sql.graft.BucketPlacement.idOfString(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), n.toInt)
      .toLong

  /** THE bucket placement expression, chosen by the column's declared
    * type — every writer-side use (fanout repartition, per-file stats)
    * goes through here so a type can never place by one function and
    * key by another. */
  private[graft] def bucketPlacementExpr(schema: types.StructType,
      c: String, n: Int): Column = schema(c).dataType match {
    case types.StringType => pmod(xxhash64(col(c)), lit(n.toLong))
    case _                => pmod(col(c).cast("long"), lit(n.toLong))
  }
  /** The recorded bucket-id group name is SPEC-QUALIFIED (r19):
    * `#bucket:<N>:<col>` asserts the exact placement the file was
    * staged under, so a file placed under one spec can NEVER key (or
    * prune) under another — the invariant that makes
    * [[relayout]] sound against writers racing the layout swap: a
    * stale-spec file simply lacks the matching group and the snapshot
    * degrades to the unkeyed scan until one compaction re-places it.
    * ('#' only means header at LINE start; the name rides the same
    * tab-split group grammar as any column's bounds.) */
  private[graft] def bucketGroup(c: String, n: Int): String =
    s"#bucket:$n:$c"
  /** Null-proved identity-partition group name prefix: `#p:<col>` —
    * written by commitStats only when the file has ZERO nulls in the
    * column, so an SPJ grouping keyed on it can never misplace
    * NULL-key rows (plain min/max bounds ignore nulls and cannot prove
    * that). Legacy files lack the group → the snapshot soundly falls
    * back to the unkeyed scan until a compaction re-records it. */
  private[graft] val PartGroupPfx = "#p:"

  /** The key shape [[spjFileKeys]] proved for a snapshot: identity
    * partition columns, or one bucket transform. */
  private[graft] sealed trait SpjShape
  private[graft] final case class SpjIdentity(cols: Seq[String])
      extends SpjShape
  private[graft] final case class SpjBucket(col: String, n: Int)
      extends SpjShape

  private[graft] def splitCols(v: String): Seq[String] =
    v.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Validate clustering properties against a schema (CREATE TABLE /
    * SET TBLPROPERTIES time — a typo must fail the DDL, not a later
    * INSERT). */
  private[graft] def validateClusterProps(props: Map[String, String],
      schema: Option[types.StructType]): Unit = {
    require(!(props.contains(ClusterSortProp) &&
        props.contains(ClusterZorderProp)),
      s"$ClusterSortProp and $ClusterZorderProp are mutually exclusive")
    props.get(ClusterZorderProp).foreach { v =>
      val k = splitCols(v).size
      // 63 interleave bits / 10 bucket bits (the DDL path's fixed 1024
      // buckets) = up to six clustering columns
      require(k >= 2 && k <= 6,
        s"$ClusterZorderProp takes two to six comma-separated " +
          s"columns, got '$v'")
    }
    schema.foreach { sch =>
      Seq(ClusterSortProp, ClusterZorderProp).foreach(p =>
        props.get(p).foreach(v => splitCols(v).foreach(c =>
          require(sch.fieldNames.contains(c),
            s"$p names unknown column '$c' " +
              s"(table columns: ${sch.fieldNames.mkString(", ")})"))))
    }
  }

  /** CHECK-constraint TBLPROPERTIES (r16) — Delta-style data-quality
    * gates: every `graft.constraint.<name>` property carries a SQL
    * boolean expression that every commit verb validates against the
    * STAGED BYTES before publishing; a violating batch refuses (txn dir
    * cleaned), so bad rows can never enter the table. Adding a
    * constraint to a NON-empty table scans the head snapshot first and
    * refuses if existing data violates — the invariant then holds for
    * the whole table, not just future writes. Rows where the expression
    * is NULL count as violations (a CHECK must PROVE the row valid). */
  val ConstraintPropPrefix = "graft.constraint."

  private[graft] def constraintsOf(props: Map[String, String])
      : Seq[(String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith(ConstraintPropPrefix) =>
        (k.substring(ConstraintPropPrefix.length), v)
    }.sortBy(_._1)

  /** DDL-time validation: the expression must parse and resolve to a
    * BOOLEAN against the table schema — a typo fails the statement, not
    * some later INSERT. */
  private[graft] def validateConstraintProps(spark: SparkSession,
      props: Map[String, String],
      schema: Option[types.StructType]): Unit =
    constraintsOf(props).foreach { case (name, sqlText) =>
      require(name.nonEmpty, "constraint name must be non-empty " +
        s"('$ConstraintPropPrefix<name>')")
      schema.foreach { sch =>
        // forcing analysis surfaces parse errors, unknown columns AND
        // non-boolean expressions (where() requires boolean) here
        try emptyFrame(spark, sch).where(expr(sqlText))
          .queryExecution.analyzed
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"CHECK constraint '$name' does not resolve against the " +
              s"table schema: $sqlText — ${e.getMessage}") }
      }
    }

  /** Refuse a frame that violates any of `constraints`; `what` names the
    * refusing verb in the error. ONE scan computes every constraint's
    * violation flag together (a per-constraint limit(1) pass would scan
    * the whole frame once per constraint when the data is valid — the
    * common case); only an actual refusal pays a second pass to fetch
    * the named example row. */
  private[ops] def enforceConstraints(df: DataFrame,
      constraints: Seq[(String, String)], what: String): Unit = {
    if (constraints.isEmpty) return
    val flags = constraints.map { case (n, s) =>
      max(when(!coalesce(expr(s), lit(false)), lit(1)).otherwise(lit(0)))
        .as(s"__viol_$n")
    }
    val row = ControlPlane(df.agg(flags.head, flags.tail: _*)).head()
    constraints.zipWithIndex.foreach { case ((name, sqlText), i) =>
      if (!row.isNullAt(i) && row.getInt(i) == 1) {
        val ex = df.where(!coalesce(expr(sqlText), lit(false)))
          .limit(1).collect().headOption
        throw new IllegalArgumentException(
          s"$what refused: CHECK constraint '$name' ($sqlText) is " +
            s"violated, e.g. by ${ex.getOrElse("<row>")}")
      }
    }
  }

  /** The per-CAS-attempt constraint gate: validates exactly the data
    * files this commit ADDS (`all`'s paths minus the attempt head's
    * paths) against the constraints of the MERGED props this attempt
    * will publish — head props through the verb's propsXform. Enforcing
    * only before the CAS (as first shipped) left a TOCTOU: a constraint
    * committed between enforcement and publish would admit the unproven
    * rows on rebase. Per-attempt enforcement closes it; enforcing the
    * POST-xform props (not the head's, as r16 shipped) closes the
    * sibling hole the r16 advice named — a create-with-data commit
    * carrying its own `graft.constraint.*` props now proves its own
    * rows too, since the constraints it ADDS are inside the enforced
    * set. Comparison is by file PATH, not whole line: data files are
    * immutable once committed, so a line whose metadata changed (a
    * deletion-vector group appended by a MOR delete) carries no new
    * rows and must not be re-scanned. Memoized on the constraint set so
    * retries against an unchanged set don't re-scan. On refusal the new
    * txn dirs are deleted before the throw (nothing orphaned for
    * vacuum). */
  private[ops] final class AttemptConstraintGate(fs: FileSystem, root: Path,
      op: String, chain: String = "") {
    private var provenFor: Option[Seq[(String, String)]] = None
    def check(head: Int, all: Seq[String],
        constraints: Seq[(String, String)]): Unit = {
      if (constraints.isEmpty || provenFor.contains(constraints)) return
      val prior: Set[String] =
        if (head == 0) Set.empty
        else manifestFiles(fs, root, head, chain).map(entryPath).toSet
      val newPaths = all.map(entryPath).filterNot(prior).distinct
        .map(rel => new Path(root, rel).toString)
      if (newPaths.isEmpty) { provenFor = Some(constraints); return }
      val spark = SparkSession.active
      try {
        // footer-typed read first: staged files self-describe, so a
        // type-WIDENING append reads correctly — the head's
        // pre-widening schema would crash on the wider parquet types. A
        // NARROW append missing a constrained column fails analysis and
        // falls back to the recorded schema, whose null-fill then fails
        // a NOT-NULL-style check — which is exactly right.
        def enforce(df: DataFrame): Unit =
          enforceConstraints(df, constraints, op)
        try enforce(readSidecars(spark, newPaths))
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            val r = spark.read
            enforce(schemaOf(fs, root, head, chain).fold(r)(s =>
              r.schema(s)).parquet(newPaths: _*))
        }
        provenFor = Some(constraints)
      } catch {
        case e: Throwable =>
          // a refused (or unevaluable) batch must leave nothing behind
          newPaths.map(p => new Path(p).getParent).distinct.foreach { d =>
            try fs.delete(d, true)
            catch { case _: java.io.IOException => () }
          }
          throw e
      }
    }
  }

  /** Validate bloom properties at DDL time — unknown columns,
    * un-probe-able types, and bad bit counts must fail the statement,
    * not some later INSERT. */
  private[graft] def validateBloomProps(props: Map[String, String],
      schema: Option[types.StructType]): Unit = {
    props.get(BloomBitsProp).foreach { v =>
      val n =
        try v.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$BloomBitsProp must be an integer, got '$v'") }
      require(n >= 64 && n % 64 == 0,
        s"$BloomBitsProp must be a positive multiple of 64, got $n")
    }
    props.get(BloomColumnsProp).foreach { v =>
      val cols = splitCols(v)
      require(cols.nonEmpty, s"$BloomColumnsProp names no columns")
      schema.foreach { sch =>
        cols.foreach { c =>
          val f = sch.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"$BloomColumnsProp names unknown column '$c' " +
                s"(table columns: ${sch.fieldNames.mkString(", ")})"))
          f.dataType match {
            case types.ByteType | types.ShortType | types.IntegerType |
                 types.LongType | types.StringType => ()
            case dt => throw new IllegalArgumentException(
              s"$BloomColumnsProp column '$c' has unsupported type " +
                s"${dt.sql} — blooms probe equality, so integral or " +
                "string only")
          }
        }
      }
    }
  }

  /** Arrange `df` per the table's declared clustering properties —
    * applied by the SQL INSERT bridge before the commit verb so a
    * DDL-declared layout holds for every write. One range shuffle
    * (sort_by) or one z-shuffle (zorder_by); file count rides the
    * session's shuffle-partition sizing, with AQE free to coalesce. */
  private[graft] def clusterArrange(df: DataFrame,
      props: Map[String, String]): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    props.get(ClusterZorderProp).map(splitCols) match {
      case Some(cols) if cols.size >= 2 => zArrangedN(df, cols, n, 1024)
      case _ =>
        val so = props.get(ClusterSortProp).map(splitCols).getOrElse(Nil)
        if (so.isEmpty) df
        else df.repartitionByRange(n, so.map(col): _*)
          .sortWithinPartitions(so.map(col): _*)
    }
  }

  private[ops] def propsOf(fs: FileSystem, root: Path, v: Int,
      chain: String = ""): Map[String, String] =
    if (v == 0) Map.empty
    else rawManifestLines(fs, root, v, chain).collect {
      case l if l.startsWith(PropHeader) =>
        // limit -1 keeps trailing empty strings: TBLPROPERTIES('k'='')
        // is legal SQL and writes "#prop\tk\t" — the default limit-0
        // split dropped the empty value and every later read of the
        // table threw "bad prop header", write-bricking it (r15 advice).
        l.substring(PropHeader.length).split("\t", -1) match {
          case Array(k, value) => dec(k) -> dec(value)
          case _ => throw new IllegalStateException(s"bad prop header: $l")
        }
    }.toMap

  private[ops] def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[ops] val TxnHeader = "#txn\t"

  /** Writer-transaction markers of `version`: appId → highest batch id
    * that writer has committed — the exactly-once ledger the streaming
    * sink consults before applying a replayed micro-batch (same idea as
    * Delta's txnAppId/txnVersion). Carried forward by EVERY commit verb:
    * a compaction or rollback must never erase the knowledge that batch
    * N was already applied, or a sink restart would double-write it. */
  private[ops] def txnsOf(fs: FileSystem, root: Path, v: Int,
      chain: String = ""): Map[String, Long] =
    if (v == 0) Map.empty
    else rawManifestLines(fs, root, v, chain).collect {
      case l if l.startsWith(TxnHeader) =>
        l.substring(TxnHeader.length).split('\t') match {
          case Array(app, b) => app -> b.toLong
          case _ => throw new IllegalStateException(s"bad txn header: $l")
        }
    }.toMap

  /** Time travel by wall clock: the newest version whose manifest was
    * committed at or before `tsMillis` — the rename IS the commit point,
    * so the manifest file's mtime is the commit time (same resolution
    * contract as Delta's timestampAsOf). Fails if the oldest retained
    * snapshot is already newer than `tsMillis` (history before it was
    * vacuumed, or the table did not exist yet). */
  def versionAt(spark: SparkSession, table: String,
      tsMillis: Long): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = currentVersion(fs, root)
    require(head > 0, s"versionAt: no committed version in $table")
    val at = (1 to head)
      .filter(v => fs.exists(new Path(root, s"manifests/v$v.manifest")))
      .reverse
      .find(v => fs.getFileStatus(
        new Path(root, s"manifests/v$v.manifest"))
        .getModificationTime <= tsMillis)
    at.getOrElse(throw new IllegalArgumentException(
      s"versionAt: no snapshot of $table at or before $tsMillis " +
        "(before table creation, or expired by expireSnapshots)"))
  }

  /** The highest batch id `appId` has committed to `table`, if any. */
  def lastCommittedBatch(spark: SparkSession, table: String,
      appId: String): Option[Long] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentVersion(fs, root)
    if (v == 0) None else txnsOf(fs, root, v).get(appId)
  }

  /** Root-relative data-file paths of `version`'s manifest — the
    * line-set with stats suffixes stripped, for consumers that only walk
    * the filesystem (the streaming source's per-batch delta diff). */
  private[graft] def versionFilePaths(fs: FileSystem, root: Path,
      version: Int): Seq[String] = {
    require(fs.exists(new Path(root, s"manifests/v$version.manifest")),
      s"manifest v$version of $root does not exist (expired by " +
        "expireSnapshots, or never committed)")
    manifestFiles(fs, root, version).map(entryPath)
  }

  /** `version`'s (root-relative path, recorded byte size) pairs — what
    * the streaming source's byte-capped admission control sums per
    * candidate version without a single getFileStatus (legacy lines
    * predating the `@bytes` token return None and the consumer stats
    * them individually). */
  private[graft] def versionFileEntries(fs: FileSystem, root: Path,
      version: Int): Seq[(String, Option[Long])] =
    manifestFiles(fs, root, version).map(l => (entryPath(l), entrySize(l)))

  /** The file path of a manifest line (strips any size/stats suffix). */
  private[ops] def entryPath(line: String): String =
    line.indexOf('\t') match {
      case -1 => line
      case i  => line.substring(0, i)
    }

  // ------------------------------------------------------------------
  // Per-file statistics suffixes. Line grammar (every older form is a
  // prefix of it and still parses — old tables keep reading):
  //
  //   line  := path ("\t@" bytes)? group*
  //   group := "\t" column "\t" bound "\t" bound     (min, max)
  //   bound := "S:" url-encoded string               (lexicographic)
  //          | "L:" decimal long                     (lossless integral)
  //          | double literal                        (fractional/legacy)
  //
  // `@bytes` is the data file's length — the streaming source's
  // byte/file-capped admission control (maxBytesPerTrigger /
  // maxFilesPerTrigger) and compactSnapshot's byte accounting read it
  // from the manifest instead of issuing one getFileStatus per file
  // per trigger. Bounds groups record
  // ANY number of columns per file — the Iceberg/Delta shape, where
  // every hot filter column gets manifest-level skipping, not just one.
  // Integral bounds are recorded as "L:" longs and compared in long,
  // never through double: a |v| > 2^53 key round-tripped through double
  // rounds, and a rounded max below the true max would WRONGLY prune a
  // file that contains in-range rows — stats must never become a
  // correctness input.
  // ------------------------------------------------------------------

  private[graft] sealed trait ColBounds
  private[graft] final case class LongBounds(mn: Long, mx: Long)
      extends ColBounds
  private[graft] final case class NumBounds(mn: Double, mx: Double)
      extends ColBounds
  private[graft] final case class StrBounds(mn: String, mx: String)
      extends ColBounds

  // string bounds are URL-encoded (tab/newline are the manifest's
  // structural characters) and prefixed so a numeric reader never
  // mistakes them for doubles nor vice versa
  private val StrPfx = "S:"
  private[ops] val LongPfx = "L:"
  // bloom groups: (col, "B:<L|S>:<base64 bitset>", "B:") — the bound
  // slots carry a prefix no bounds decoder accepts, so entryBounds
  // skips them and pre-bloom readers keep parsing mixed lines
  private[ops] val BloomPfx = "B:"
  // deletion-vector groups: ("@dv", "D:<url-encoded sidecar rel path>",
  // "D:") — the merge-on-read pointer (r16 verdict task 1). The
  // "column" slot is `@dv`, a name validateStatsColumns REFUSES for
  // real columns (starts with @), so a dv group can never collide with
  // a bounds/bloom group; the bound slots carry the `D:` prefix no
  // bounds decoder accepts, so entryBounds/entryBlooms skip dv groups
  // and pre-dv readers keep parsing mixed lines. The sidecar is a
  // position-delete parquet (Iceberg v2's shape): rows (grp, pos)
  // where `grp` is the data file's last two path segments
  // ("txn-<uuid>/part-….parquet" — table-wide unique, relocation-proof)
  // and `pos` its 0-based row ordinal. A line may carry SEVERAL dv
  // groups (one per MOR delete that touched the file); a reader
  // masks the union, so overlap is harmless.
  private val DvCol = "@dv"
  private val DvPfx = "D:"
  // commit-time NDV statistics (r19 verdict task 6): per-file KMV
  // sketches ride the group grammar as ("<col>", "K:<base64 longs>",
  // "K:") — the bound decoders reject the K: prefix exactly as they
  // reject B:/D:, so old readers parse mixed lines untouched. Merged at
  // scan time (k-min union is associative) into a snapshot NDV the
  // planner reads through estimateStatistics — ANALYZE without a
  // second scan, because the commit already read the staged bytes.
  private[ops] val KmvPfx = "K:"
  /** Sketch size: 128 longs ≈ 1.4 KB base64 per column per file buys a
    * ~9% NDV standard error (1/√k) — the join-reorder signal needs the
    * order of magnitude, not the digit. */
  private[graft] val NdvSketchK = 128
  /** Per-file row count as a synthetic bounds group (min == max ==
    * rows) — '#'-led like #bucket/#p:, so no real column collides. */
  private[graft] val RowsGroup = "#rows"

  /** Whether a line's second field is the optional `@bytes` size token
    * (digits only) — NOT any other '@'-prefixed token. On a legacy line
    * that predates the size token, the first tab field after the path
    * can be a group's column slot — including `@dv` — and a parser that
    * skipped any '@'-token as "the size" would silently drop that whole
    * group (r17 ADVICE: position-deleted rows would resurrect). */
  private def isSizeToken(s: String): Boolean =
    s.length > 1 && s.charAt(0) == '@' &&
      s.substring(1).forall(c => c >= '0' && c <= '9')
  private[ops] def encBound(s: String): String =
    StrPfx + java.net.URLEncoder.encode(s, "UTF-8")

  /** Decode one (min, max) bound pair. NaN bounds (old manifests written
    * before the commit-side NaN filter) read back as no-bounds — the
    * file then always survives selection instead of being wrongly pruned
    * by always-false NaN comparisons. */
  private def decodePair(mn: String, mx: String): Option[ColBounds] =
    if (mn.startsWith(StrPfx) && mx.startsWith(StrPfx))
      Some(StrBounds(
        java.net.URLDecoder.decode(mn.substring(StrPfx.length), "UTF-8"),
        java.net.URLDecoder.decode(mx.substring(StrPfx.length), "UTF-8")))
    else if (mn.startsWith(LongPfx) && mx.startsWith(LongPfx))
      scala.util.Try(LongBounds(mn.substring(LongPfx.length).toLong,
        mx.substring(LongPfx.length).toLong)).toOption
    else
      scala.util.Try(NumBounds(mn.toDouble, mx.toDouble)).toOption
        .filterNot(b => b.mn.isNaN || b.mx.isNaN)

  /** All column bounds recorded on `line` (possibly none). */
  private[graft] def entryBounds(line: String): Map[String, ColBounds] = {
    val f = line.split('\t')
    var i = 1
    if (i < f.length && isSizeToken(f(i))) i += 1
    val b = Map.newBuilder[String, ColBounds]
    while (i + 3 <= f.length) {
      decodePair(f(i + 1), f(i + 2)).foreach(v => b += f(i) -> v)
      i += 3
    }
    b.result()
  }

  /** All per-file Bloom filters recorded on `line`:
    * column → (type tag 'L'|'S', bitset bytes). */
  private[graft] def entryBlooms(line: String)
      : Map[String, (Char, Array[Byte])] = {
    val f = line.split('\t')
    var i = 1
    if (i < f.length && isSizeToken(f(i))) i += 1
    val b = Map.newBuilder[String, (Char, Array[Byte])]
    while (i + 3 <= f.length) {
      val mid = f(i + 1)
      if (mid.startsWith(BloomPfx) && mid.length > 4 && mid(3) == ':') {
        val t = mid(2)
        if (t == 'L' || t == 'S')
          scala.util.Try(java.util.Base64.getDecoder
              .decode(mid.substring(4)))
            .toOption.foreach(bytes => b += f(i) -> (t, bytes))
      }
      i += 3
    }
    b.result()
  }

  /** All per-file KMV groups recorded on `line`: column → (null count,
    * sketch bytes — the serialized k-min set
    * [[functions.KmvDistinct]] merges). Token shape `K:<nulls>:<b64>`.
    */
  private[graft] def entryKmvs(line: String)
      : Map[String, (Long, Array[Byte])] = {
    val f = line.split('\t')
    var i = 1
    if (i < f.length && isSizeToken(f(i))) i += 1
    val b = Map.newBuilder[String, (Long, Array[Byte])]
    while (i + 3 <= f.length) {
      val mid = f(i + 1)
      if (mid.startsWith(KmvPfx)) {
        val body = mid.substring(KmvPfx.length)
        val sep = body.indexOf(':')
        if (sep > 0) scala.util.Try((body.take(sep).toLong,
            java.util.Base64.getDecoder.decode(body.substring(sep + 1))))
          .toOption.foreach(v => b += f(i) -> v)
      }
      i += 3
    }
    b.result()
  }

  /** All deletion-vector sidecar rel paths recorded on `line` (possibly
    * none) — one per MOR delete that touched the file; a reader applies
    * their UNION. */
  private[graft] def entryDvs(line: String): Seq[String] = {
    val f = line.split('\t')
    var i = 1
    if (i < f.length && isSizeToken(f(i))) i += 1
    val b = Seq.newBuilder[String]
    while (i + 3 <= f.length) {
      if (f(i) == DvCol && f(i + 1).startsWith(DvPfx))
        b += java.net.URLDecoder.decode(
          f(i + 1).substring(DvPfx.length), "UTF-8")
      i += 3
    }
    b.result()
  }

  /** `line` with a deletion-vector group for `sidecarRel` appended. */
  private[ops] def withDvGroup(line: String, sidecarRel: String): String =
    line + "\t" + DvCol + "\t" + DvPfx +
      java.net.URLEncoder.encode(sidecarRel, "UTF-8") + "\t" + DvPfx

  // equality deletes (r19 verdict task 7): ("@eq",
  // "E:<url-enc key file rel>;<url-enc key col>", "E:") — the
  // merge-on-read currency for writers that CANNOT read matched
  // positions first (streaming CDC upserts): the key file is a parquet
  // file whose key columns are the key set (an upsert's own appended
  // data file, or a tombstone batch's key-only file), and a masked read
  // drops rows by the key instead of the ordinal. Scoping is per-line,
  // like dvs: the committing verb annotates the lines present at ITS
  // head, so a file appended later (including the upsert's own batch)
  // is never masked — exactly Iceberg's sequence-number rule, expressed
  // in the line-copy currency this manifest already has. Bound decoders
  // reject the E: prefix like B:/D:/K:, so mixed lines parse everywhere.
  private val EqCol = "@eq"
  private val EqPfx = "E:"

  /** `line` with an equality-delete group appended. `keyCols` (r20:
    * one or MORE — composite CDC keys like (tenant_id, id) are the
    * multi-tenant shape) ride the annotation comma-joined after
    * per-name URL-encoding (',' encodes to %2C, so the join is
    * unambiguous); a single column writes byte-identically to the r19
    * form. */
  private[ops] def withEqGroup(line: String, sidecarRel: String,
      keyCols: Seq[String]): String =
    line + "\t" + EqCol + "\t" + EqPfx +
      java.net.URLEncoder.encode(sidecarRel, "UTF-8") + ";" +
      keyCols.map(java.net.URLEncoder.encode(_, "UTF-8"))
        .mkString(",") + "\t" + EqPfx

  /** All equality-delete groups on `line`: (sidecar rel path, key
    * columns), possibly several — one per upsert since compaction. */
  private[graft] def entryEqs(line: String): Seq[(String, Seq[String])] = {
    val f = line.split('\t')
    var i = 1
    if (i < f.length && isSizeToken(f(i))) i += 1
    val b = Seq.newBuilder[(String, Seq[String])]
    while (i + 3 <= f.length) {
      if (f(i) == EqCol && f(i + 1).startsWith(EqPfx)) {
        val body = f(i + 1).substring(EqPfx.length)
        val sep = body.indexOf(';')
        if (sep > 0) b += ((
          java.net.URLDecoder.decode(body.take(sep), "UTF-8"),
          body.substring(sep + 1).split(',').toSeq
            .map(java.net.URLDecoder.decode(_, "UTF-8"))))
      }
      i += 3
    }
    b.result()
  }

  /** Whether `line` carries a row mask: position or equality deletes. */
  private[graft] def masked(line: String): Boolean =
    entryDvs(line).nonEmpty || entryEqs(line).nonEmpty

  /** Refuse a schema DDL touching a column that keys live equality
    * deletes — the annotations mask by NAME, so a rename orphans them
    * and a drop breaks every masked read. One definition, shared by
    * both DDL verbs so the guard can't diverge. */
  private[ops] def requireNoLiveEqKey(fs: FileSystem, root: Path, head: Int,
      verb: String, hits: String => Boolean): Unit =
    manifestFiles(fs, root, head).flatMap(entryEqs).flatMap(_._2)
      .distinct.foreach(c => require(!hits(c),
        s"$verb: column '$c' keys live equality deletes — materialize " +
          "them first (CALL system.compact(only_dv => true))"))

  /** (live dvs?, live eqs?) of `v` in ONE line pass — the SQL table
    * handle and the branch/clone guards ask both, and two separate walks
    * of a million-line manifest are a million wasted line parses. */
  private[graft] def versionMasks(fs: FileSystem, root: Path,
      v: Int): (Boolean, Boolean) = {
    if (v <= 0) return (false, false)
    var dv = false
    var eq = false
    val it = manifestFiles(fs, root, v).iterator
    while (it.hasNext && !(dv && eq)) {
      val l = it.next()
      if (!dv && entryDvs(l).nonEmpty) dv = true
      if (!eq && entryEqs(l).nonEmpty) eq = true
    }
    (dv, eq)
  }

  /** `v`'s equality-delete annotations keyed by root-relative data file
    * path (annotated lines only) — the streaming source's retraction
    * detector. */
  private[graft] def versionEqMap(fs: FileSystem, root: Path,
      v: Int): Map[String, Seq[(String, Seq[String])]] =
    if (v <= 0) Map.empty
    else manifestFiles(fs, root, v).iterator
      .map(l => entryPath(l) -> entryEqs(l))
      .filter(_._2.nonEmpty)
      .toMap

  /** The (table-wide unique) position-delete group key of a data file,
    * relative or absolute: [[graft.functions.MorMask.grpOf]], the key
    * the scan derives from `_metadata.file_path`. Relocation-proof (no
    * table root). */
  private[graft] def grpOfRel(path: String): String =
    graft.functions.MorMask.grpOf(path)

  /** `v`'s live deletion-vector pointers keyed by root-relative data
    * file path (dv-carrying lines only) — the streaming source's
    * per-batch dispatch currency: a dv on a file the stream has NOT yet
    * emitted is maskable in-batch; a dv on an already-emitted file is a
    * retraction the append-only contract cannot express. */
  private[graft] def versionDvMap(fs: FileSystem, root: Path,
      v: Int): Map[String, Seq[String]] =
    if (v <= 0) Map.empty
    else manifestFiles(fs, root, v).iterator
      .map(l => entryPath(l) -> entryDvs(l))
      .filter(_._2.nonEmpty)
      .toMap

  /** `graft.rowlevel.mode` — `cow` (default): row-level verbs rewrite
    * affected files; `mor`: [[deleteWhere]]/[[mergeInto]] (and SQL
    * `DELETE FROM`, which rides deleteWhere) record position-delete
    * sidecars instead and every scan anti-applies them
    * ([[compactSnapshot]] materializes). [[upsertByKeys]] (r19) adds
    * the EQUALITY-delete currency for CDC writers that cannot read
    * matched positions first. SQL `UPDATE`/`MERGE INTO` follow the
    * mode too: Spark's group-based rewrite on `cow`
    * ([[graft.sql.GraftRowLevelOperation]]), its delta rewrite on `mor`
    * ([[graft.sql.GraftDeltaOperation]] — position deletes + appends);
    * both scan through the same in-task [[graft.functions.MorMask]], so
    * no position- or equality-deleted row resurrects. [[replaceWhere]]
    * and truncate stay copy-on-write by design in both modes too: a
    * backfill swaps whole value ranges, so the rewrite IS the payload,
    * not overhead. Concurrent MOR deletes compose: disjoint file sets
    * rebase past each other (each loser re-annotates ONLY its own
    * lines onto the winner's head); overlapping file sets hit the
    * standard REPLACE conflict and the caller re-runs against the new
    * head, where the dv-applied matched-set recompute makes the retry
    * a union, never a double-delete. */
  val RowLevelModeProp = "graft.rowlevel.mode"

  private[ops] def morEnabled(props: Map[String, String]): Boolean =
    props.get(RowLevelModeProp).exists(_.equalsIgnoreCase("mor"))

  // -- column mapping (field-id indirection → RENAME COLUMN) -----------
  //
  // `graft.column.mapping = 'id'` (CREATE-time only): every column gets
  // a stable integer field id, stamped as `parquet.field.id` schema
  // metadata on every write — Spark's own parquet field-id support
  // (SPARK-38094, the Iceberg-compat mechanism) then writes the ids
  // into the footers and, with `spark.sql.parquet.fieldId.read.enabled`,
  // matches read-schema columns to file columns BY ID instead of by
  // name. A RENAME COLUMN is then a schema-only commit (the id carries),
  // and files written under the old name keep reading correctly — the
  // Delta/Iceberg column-mapping design on public Spark machinery.
  // Without the property, renames refuse (parquet matches by name; old
  // files would silently null-fill) and add+backfill stays the
  // documented workaround.
  val ColumnMappingProp = "graft.column.mapping"

  /** Spark's parquet field-id metadata key
    * (`ParquetUtils.FIELD_ID_METADATA_KEY`). */
  private[graft] val FieldIdKey = "parquet.field.id"

  private[ops] def idMapped(props: Map[String, String]): Boolean =
    props.get(ColumnMappingProp).exists(_.equalsIgnoreCase("id"))

  private[graft] def hasFieldIds(s: types.StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  private def withId(f: types.StructField, id: Long): types.StructField =
    f.copy(metadata = new types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** CREATE-time id assignment: 1..n in declaration order. */
  private[ops] def assignIds(s: types.StructType): types.StructType =
    types.StructType(s.fields.zipWithIndex.map { case (f, i) =>
      withId(f, i + 1L) })

  /** `graft.column.max_id`: the highest field id an id-mapped table
    * has ever assigned — Delta's `maxColumnId`, Iceberg's
    * `last-column-id`. The table's schema alone cannot tell: a dropped
    * column's id leaves it, and minting max+1 over the survivors would
    * hand that id to the next added column, whose reads would then
    * match the dropped column's values in old files. Every commit that
    * records an id-carrying schema advances it ([[withColumnIdMark]]);
    * it carries like every table property and is never set by hand. */
  val MaxColumnIdProp = "graft.column.max_id"

  /** The next field id a table with head `props` and schema `prior` may
    * assign: past its high-water mark and past every id `prior` holds. */
  private[ops] def nextColumnId(props: Map[String, String],
      prior: types.StructType): Long =
    (prior.fields.iterator.filter(_.metadata.contains(FieldIdKey))
      .map(_.metadata.getLong(FieldIdKey)) ++
      props.get(MaxColumnIdProp).map(_.toLong) ++ Iterator(0L)).max + 1

  /** `props` with [[MaxColumnIdProp]] advanced over the field ids of the
    * schema a commit records (unchanged when it records none). */
  private[ops] def withColumnIdMark(props: Map[String, String],
      schema: Option[types.StructType]): Map[String, String] =
    schema.filter(hasFieldIds).fold(props)(s =>
      props + (MaxColumnIdProp -> (nextColumnId(props, s) - 1).toString))

  /** `graft.column.retired`: every name RENAME COLUMN took off a field
    * id, with that id (`name:id` pairs, the name lower-cased and
    * URL-encoded, comma-separated). Spark's parquet reader clips a file's
    * columns by id, then converts each clipped column to the read field
    * of the NAME the file stores it under: a new column under a
    * renamed-away name would take the renamed column's data from every
    * pre-rename file (PARQUET_COLUMN_DATA_TYPE_MISMATCH, or its values
    * when the types agree). So, like ids, a retired name is never handed
    * to another id; renaming the column back keeps its id and stays
    * allowed. Recorded by [[renameColumn]]; it carries like every table
    * property and is never set by hand. */
  val RetiredColumnsProp = "graft.column.retired"

  private[ops] def retiredColumns(props: Map[String, String])
      : Map[String, Long] =
    props.get(RetiredColumnsProp).toSeq.flatMap(splitCols).map { e =>
      val Array(n, id) = e.split(':')
      dec(n) -> id.toLong
    }.toMap

  /** `props` with `name` recorded as retired from field `id`. */
  private[ops] def withRetiredColumn(props: Map[String, String],
      name: String, id: Long): Map[String, String] =
    props + (RetiredColumnsProp ->
      (retiredColumns(props) + (name.toLowerCase -> id)).toSeq.sorted
        .map { case (n, i) => s"${enc(n)}:$i" }.mkString(","))

  /** Refuse to give `name` a field id other than `id` (a fresh id when
    * `None`) when a rename retired it from another id. */
  private[ops] def requireNotRetired(props: Map[String, String],
      name: String, id: Option[Long]): Unit =
    retiredColumns(props).get(name.toLowerCase).filterNot(id.contains)
      .foreach { old =>
        throw new IllegalArgumentException(
          s"column name '$name' was retired by RENAME COLUMN from field " +
            s"id $old: files written before that rename store the " +
            s"column's data under '$name', and a read would take it for " +
            "the new column. Choose another name.")
      }

  /** Carry `prior`'s ids onto `merged` by (case-insensitive) name;
    * fields new in `merged` get fresh ids past the table's high-water
    * mark ([[nextColumnId]] under head `props`) — ids are never reused,
    * so neither a rename nor a re-added column can collide with a
    * historical one. */
  private[ops] def restampIds(prior: types.StructType,
      merged: types.StructType,
      props: Map[String, String]): types.StructType = {
    val byName = prior.fields.iterator
      .filter(_.metadata.contains(FieldIdKey))
      .map(f => f.name.toLowerCase -> f.metadata.getLong(FieldIdKey))
      .toMap
    var next = nextColumnId(props, prior)
    types.StructType(merged.fields.map { f =>
      val id = byName.getOrElse(f.name.toLowerCase, {
        requireNotRetired(props, f.name, None)
        val v = next; next += 1; v
      })
      withId(f, id)
    })
  }

  /** Make this session read id-carrying schemas BY ID (a no-op for
    * schemas without ids, so it never changes non-mapped reads). */
  private[graft] def ensureFieldIdRead(spark: SparkSession,
      s: types.StructType): Unit =
    if (hasFieldIds(s))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Stamp an outgoing frame's columns with the table's field ids so
    * the parquet writer records them ([[FieldIdKey]] metadata →
    * footer). On a non-mapped table this is the identity. On a mapped
    * table every column must already exist in the recorded schema —
    * id-mapped tables take schema evolution through DDL
    * ([[addColumns]]), which assigns the id atomically; letting an
    * APPEND mint ids would race a concurrent rename/evolution into a
    * silent id mismatch between staged footers and the committed
    * schema. */
  private[ops] def stampFieldIds(spark: SparkSession, fs: FileSystem,
      root: Path, df: DataFrame,
      createProps: Map[String, String],
      chain: String = "",
      allowNewIds: Boolean = false,
      resolvedHead: Option[(Int, Map[String, String])] = None)
      : DataFrame = {
    // chain-addressed (r18): a BRANCH append must stamp ids from the
    // BRANCH head's schema — main may have renamed/re-added a column
    // since the fork, and stamping main's ids would silently desync
    // the staged footers from the branch's recorded schema.
    // resolvedHead: the caller's already-resolved (head, props) — one
    // directory listing per staged commit, not two.
    val (head, headProps) = resolvedHead.getOrElse {
      val h = currentVersion(fs, root, chain)
      (h, if (h > 0) propsOf(fs, root, h, chain)
          else Map.empty[String, String])
    }
    val props = if (head > 0) headProps else createProps
    if (!idMapped(props)) return df
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val recorded = if (head > 0) schemaOf(fs, root, head, chain) else None
    val cols = recorded match {
      case Some(rs) =>
        require(hasFieldIds(rs),
          s"$ColumnMappingProp='id' on a table whose recorded schema " +
            "carries no field ids — the property is CREATE-time only")
        val idByName = rs.fields.iterator.map(f =>
          f.name.toLowerCase -> f.metadata.getLong(FieldIdKey)).toMap
        // REPLACE verbs may carry new columns: they record the frame's
        // own schema (replaceSchemaFor → restampIds), so fresh ids are
        // minted HERE with the identical next-in-frame-order rule —
        // footer ids and the recorded schema agree by construction.
        // Appends keep the refusal: their schema evolves through DDL,
        // and an append minting ids would race a concurrent rename.
        var next = nextColumnId(props, rs)
        df.schema.fields.map { f =>
          val id = idByName.getOrElse(f.name.toLowerCase, {
            requireNotRetired(props, f.name, None)
            if (allowNewIds) { val v = next; next += 1; v }
            else throw new IllegalArgumentException(
              s"column-mapped table: column '${f.name}' is not in the " +
                "recorded schema. Id-mapped tables evolve through " +
                "ALTER TABLE ADD COLUMN (which assigns the field id " +
                "atomically), then append.")
          })
          col(f.name).as(f.name, new types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(FieldIdKey, id).build())
        }
      case None => // creating commit: 1..n in frame order — the exact
        // ids [[assignIds]] gives the recorded schema
        df.schema.fields.zipWithIndex.map { case (f, i) =>
          col(f.name).as(f.name, new types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(FieldIdKey, i + 1L)
            .build())
        }
    }
    df.select(cols.toSeq: _*)
  }

  private[graft] def validateColumnMappingProp(
      props: Map[String, String]): Unit =
    props.get(ColumnMappingProp).foreach(v =>
      require(v.equalsIgnoreCase("id"),
        s"$ColumnMappingProp must be 'id', got '$v'"))

  /** `graft.merge.schema_evolution = 'true'` (opt-in, toggleable):
    * surfaces Spark's `TableCapability.AUTOMATIC_SCHEMA_EVOLUTION`, so
    * a `MERGE INTO` whose source carries columns the target lacks
    * auto-ADDs them (the analyzer drives the catalog's AddColumn path —
    * a schema-only commit; old rows null-fill) instead of refusing.
    * Off by default: silent schema growth is a policy decision. */
  val MergeSchemaEvolutionProp = "graft.merge.schema_evolution"

  private[graft] def validateMergeEvolutionProp(
      props: Map[String, String]): Unit =
    props.get(MergeSchemaEvolutionProp).foreach(v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"$MergeSchemaEvolutionProp must be 'true' or 'false', got '$v'"))

  private[graft] def validateRowLevelProps(
      props: Map[String, String]): Unit =
    props.get(RowLevelModeProp).foreach(v =>
      require(v.equalsIgnoreCase("cow") || v.equalsIgnoreCase("mor"),
        s"$RowLevelModeProp must be 'cow' or 'mor', got '$v'"))

  /** The data file's recorded byte length, if the committing writer
    * recorded one (every commit since the size token landed does;
    * consumers fall back to getFileStatus for older lines). */
  private[graft] def entrySize(line: String): Option[Long] = {
    val f = line.split('\t')
    if (f.length > 1 && isSizeToken(f(1)))
      scala.util.Try(f(1).substring(1).toLong).toOption
    else None
  }

  /** Every column any line of `version`'s manifest records bounds for —
    * what a rewriting verb (delete/merge/compact) uses to keep the
    * skipping property it found. */
  private[graft] def statsColumnsOf(fs: FileSystem, root: Path, v: Int)
      : Seq[String] =
    manifestFiles(fs, root, v).iterator
      .flatMap(l => entryBounds(l).keysIterator)
      .distinct.toSeq

  private[ops] val CommitHeader = "#commit\t"

  /** `#op\t<verb>` — the committing verb's name, recorded so history
    * answers "WHICH operation produced version N" (the DESCRIBE
    * HISTORY `operation` column) instead of just a UUID. Unknown to
    * pre-r17 readers (every header parser matches its own prefix) and
    * absent from pre-r17 manifests (history shows "" for those). */
  private[ops] val OpHeader = "#op\t"

  /** The verb recorded in `v`'s manifest, if the committing writer
    * recorded one. */
  private[ops] def opNameOf(fs: FileSystem, root: Path, v: Int,
      chain: String = ""): Option[String] =
    rawManifestLines(fs, root, v, chain)
      .find(_.startsWith(OpHeader))
      .map(l => dec(l.substring(OpHeader.length)))

  /** The commit UUID recorded in a manifest, read UNCACHED — the
    * post-rename winner check must see the file's actual current bytes,
    * never a cache entry keyed on (mtime, length). */
  private[graft] def commitIdOf(fs: FileSystem, mf: Path): Option[String] = {
    val in = fs.open(mf)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .find(_.startsWith(CommitHeader))
      .map(_.substring(CommitHeader.length))
    finally in.close()
  }

}
