package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types
import graft.SizeTier

/** Physical-layout operators: multi-dimensional clustering for write-time
  * data skipping.
  *
  * A linear sort (DataSkippingSpec's tier-2 layout) gives perfect
  * row-group pruning on ONE column and none on any other. Z-ordering
  * interleaves the bits of two columns' bucket ranks into one clustering
  * key, so each written file covers a small rectangle of the
  * (a, b) value space — its parquet min/max stats are narrow in BOTH
  * columns, and a selective filter on EITHER prunes most row groups at
  * the reader. This is the standard lakehouse layout trick for tables
  * with more than one hot filter column (e.g. documents filtered by
  * source on one query and by length band on the next).
  *
  * Everything is pure Column arithmetic (bitwise spread-and-interleave,
  * codegen'd, no UDF); the only extra cost at write time is the 1-row
  * stats broadcast and the range exchange the sorted write needs anyway.
  * At 100 TB the write is one pass, and every subsequent scan with a
  * filter on either dimension reads a fraction of the table.
  */
object Layout {

  /** Spread the low 32 bits of `x` into the even bit positions of a
    * long (bit i → bit 2i) — the classic mask-and-shift morton spread,
    * as five codegen'd bitwise steps. */
  private def spread(x: Column): Column =
    Seq(
      16 -> 0x0000FFFF0000FFFFL,
      8  -> 0x00FF00FF00FF00FFL,
      4  -> 0x0F0F0F0F0F0F0F0FL,
      2  -> 0x3333333333333333L,
      1  -> 0x5555555555555555L
    ).foldLeft(x.bitwiseAND(lit(0xFFFFFFFFL))) { case (acc, (s, m)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(m))
    }

  /** Morton (z-curve) interleave of two non-negative ints < 2^31. */
  def zValue(a: Column, b: Column): Column =
    spread(a).bitwiseOR(shiftleft(spread(b), 1))

  /** k-ary morton interleave (r16 verdict task 3): bit j of rank i
    * lands at position j·k + i, so any prefix of the z value is a
    * near-cube of the k-column bucket space — the 3-4 column clustering
    * real OPTIMIZE requests routinely ask for. Built as k·bits codegen'd
    * shift/mask/or steps (k=3, bits=10 → 30 ops — still one
    * whole-stage-codegen expression); the k=2 case keeps the 5-step
    * mask-spread fast path in [[zValue]]. */
  def zValueN(ranks: Seq[Column], bits: Int): Column = {
    val k = ranks.size
    require(k >= 2, "zValueN: need at least two columns")
    require(k * bits <= 63,
      s"zValueN: $k columns × $bits bits exceeds 63 interleaved bits")
    ranks.zipWithIndex.map { case (r, i) =>
      (0 until bits).map { j =>
        shiftleft(shiftright(r, j).bitwiseAND(lit(1L)), j * k + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Equi-width bucket rank of `c` in [0, buckets) given broadcast
    * min/max columns. */
  private def bucketOf(c: Column, lo: Column, hi: Column,
                       buckets: Int): Column =
    when(hi <= lo, lit(0L)).otherwise(
      least(lit(buckets - 1L),
        ((c.cast("double") - lo.cast("double")) * buckets /
          (hi.cast("double") - lo.cast("double") + 1e-9)).cast("long")))

  /** The z-clustered arrangement of `df` (shared by [[zorderWrite]] and
    * the z-order paths of [[compact]]/[[compactSnapshot]]/DDL
    * clustering): bucket-rank each column against its global min/max
    * (one 1-row broadcast), interleave the ranks, range-partition into
    * `files` contiguous z chunks and sort within each — every output
    * file is a near-cube of the k-column value space, so each column's
    * recorded bounds prune independently. */
  private[graft] def zArrangedN(df: DataFrame, cols: Seq[String],
                                files: Int, buckets: Int): DataFrame = {
    require(cols.size >= 2, "z-order needs at least two columns")
    val bits = math.max(1,
      64 - java.lang.Long.numberOfLeadingZeros((buckets - 1).toLong))
    require(cols.size * bits <= 63,
      s"z-order: ${cols.size} columns × $bits bucket bits exceeds the " +
        "63-bit interleave — lower zBuckets or drop a column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"__zmn$i"), max(col(c)).as(s"__zmx$i")) }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      bucketOf(col(c), col(s"__zmn$i"), col(s"__zmx$i"), buckets) }
    val z =
      if (cols.size == 2) zValue(ranks.head, ranks(1))
      else zValueN(ranks, bits)
    val helper = cols.indices.flatMap(i => Seq(s"__zmn$i", s"__zmx$i"))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: helper: _*)
  }

  private[graft] def zArranged(df: DataFrame, a: String, b: String,
                               files: Int, buckets: Int): DataFrame =
    zArrangedN(df, Seq(a, b), files, buckets)

  /** Write `df` as parquet clustered on the z-curve of (`a`, `b`). */
  def zorderWrite(df: DataFrame, a: String, b: String, path: String,
                  files: Int = 16, buckets: Int = 1024): Unit =
    zArranged(df, a, b, files, buckets)
      .write.mode("overwrite").parquet(path)

  /** Result of one [[compact]] pass. `filesRewritten` counts input files
    * actually read and re-packed; carried-over files (incremental mode)
    * are not rewritten. */
  case class CompactStats(filesBefore: Int, filesAfter: Int,
                          bytesBefore: Long, bytesAfter: Long,
                          filesRewritten: Int)

  /** Small-file compaction — the OPTIMIZE half of lakehouse table
    * maintenance (the reference's index-after-bulk-load step,
    * ETLCNPJFinalEmpresaEstabelecimentos.py:176-182, is the moral slot:
    * a physical-reorg pass after chunked appends). Chunked appends (S8)
    * leave a table as many files sized by APPEND cadence, not by read
    * efficiency; at 100 TB that means listing millions of files, opening
    * each for a footer, and starving scans of full row groups. This pass
    * rewrites the table into ceil(bytes / targetFileBytes) files:
    *
    *   - default: `coalesce` bin-packing — NO shuffle, pure IO merge
    *     (compaction is an IO job; shuffling 100 TB to merge files would
    *     dwarf the win). Existing intra-file ordering survives per bin.
    *   - `sortBy`: range-partition + in-file sort — one shuffle, buys
    *     min/max row-group + file skipping on the sort key (tier-2
    *     layout of DataSkippingSpec).
    *   - `zorderBy`: the [[zArranged]] two-column clustering — one
    *     shuffle, buys pruning on BOTH columns.
    *
    * Commit protocol: write to a sibling temp dir, then swap via two
    * renames (dir → backup, tmp → dir) and drop the backup — the
    * FS-level equivalent of a table-format's atomic REPLACE commit; on
    * HDFS each rename is atomic, so readers see the old or the new
    * complete table, never a mix. A real lakehouse deployment would run
    * this under a Delta/Iceberg transaction instead; the plan shape
    * (read all → arrange → write few) is identical.
    *
    * NOT for manifest tables: the rename-swap moves files out from
    * under a reader pinned to an existing snapshot version — on a table
    * managed by [[commitSnapshot]]/[[readSnapshot]], use
    * [[compactSnapshot]] (OPTIMIZE as a REPLACE commit; old files stay
    * put until [[expireSnapshots]]) instead. This directory form is for
    * plain, listing-read parquet directories only. */
  /** `onlySmallerThan`: incremental OPTIMIZE — bin-pack ONLY files below
    * the threshold and carry every file at or above it into the new
    * table unchanged (hard link where the FS supports it, metadata-only;
    * copy otherwise). This is how production OPTIMIZE actually runs at
    * 100 TB: after each append burst, the small tail is re-packed while
    * the dominant mass of already-right-sized files is never re-read —
    * rewrite cost tracks the APPEND rate, not the table size.
    * Incompatible with sortBy/zorderBy (a sort over only the small
    * subset would break the global disjointness clustering buys). */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil,
              zBuckets: Int = 1024,
              onlySmallerThan: Option[Long] = None): CompactStats = {
    import org.apache.hadoop.fs.Path
    require(onlySmallerThan.isEmpty || (sortBy.isEmpty && zorderBy.isEmpty),
      "incremental compaction cannot re-cluster: sort/z-order need a full rewrite")
    val path = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    def dataFiles(p: Path) = fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val before = dataFiles(path)
    val bytesBefore = before.map(_.getLen).sum
    val (rewrite, carry) = onlySmallerThan match {
      case Some(thr) => before.partition(_.getLen < thr)
      case None      => (before, Seq.empty)
    }
    if (rewrite.size <= 1 && carry.nonEmpty) // nothing worth re-packing
      return CompactStats(before.size, before.size,
        bytesBefore, bytesBefore, 0)
    val rewriteBytes = rewrite.map(_.getLen).sum
    val nOut = math.max(1L,
      (rewriteBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df =
      if (carry.isEmpty) spark.read.parquet(dir)
      else spark.read.parquet(rewrite.map(_.getPath.toString): _*)
    val arranged =
      if (zorderBy.nonEmpty) zArrangedN(df, zorderBy, nOut, zBuckets)
      else if (sortBy.nonEmpty)
        df.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(nOut)
    val tmp = new Path(path.getParent,
      path.getName + ".compact-tmp")
    val bak = new Path(path.getParent,
      path.getName + ".compact-bak")
    fs.delete(tmp, true); fs.delete(bak, true)
    arranged.write.mode("overwrite").parquet(tmp.toString)
    // carry right-sized files into the new table: hard link (metadata-
    // only, same-FS) with a byte copy as the portability fallback; a
    // real lakehouse would express "carry" as the file simply staying
    // referenced by the next table-format snapshot
    carry.foreach { st =>
      val dst = new Path(tmp, st.getPath.getName)
      val linked =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri),
            java.nio.file.Paths.get(st.getPath.toUri))
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, dst,
          false, conf)
    }
    if (!fs.rename(path, bak))
      throw new java.io.IOException(s"compact: cannot back up $path")
    if (!fs.rename(tmp, path)) {
      fs.rename(bak, path) // roll back — the old table is intact
      throw new java.io.IOException(s"compact: cannot publish $tmp")
    }
    fs.delete(bak, true)
    val after = dataFiles(path)
    CompactStats(before.size, after.size,
      bytesBefore, after.map(_.getLen).sum, rewrite.size)
  }

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

  private val ManifestRe = """v(\d+)\.manifest""".r

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
  private def chainVersions(fs: FileSystem, table: Path,
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
  private def manifestFiles(fs: FileSystem, table: Path, v: Int,
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

  private val DeltaHeader = "#delta\t"
  private val RmHeader    = "#rm\t"
  val CheckpointIntervalConf = "graft.manifest.checkpoint.interval"

  /** Physical-form probe: delta-chain depth of `v` (0 = FULL). Reads
    * at most the FIRST line (the `#delta` marker leads a delta file),
    * cached by file identity. */
  private val manifestDepthCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def depthOf(fs: FileSystem, table: Path, v: Int,
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

  private def ckptPath(table: Path, v: Int, chain: String): Path =
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

  private def rawManifestLines(fs: FileSystem, table: Path, v: Int,
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

  private val SchemaHeader = "#schema\t"

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

  private def schemaOf(fs: FileSystem, root: Path, v: Int,
      chain: String = ""): Option[types.StructType] =
    rawManifestLines(fs, root, v, chain).collectFirst {
      case l if l.startsWith(SchemaHeader) =>
        types.DataType.fromJson(l.substring(SchemaHeader.length))
          .asInstanceOf[types.StructType]
    }

  private val PropHeader = "#prop\t"

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

  /** The `graft.stats.columns` property of `table`'s head, parsed —
    * what the SQL write bridge passes as statsColumns on every INSERT.
    * Columns absent from the written frame are skipped (bounds are an
    * optimization; a narrower insert must not fail on them). */
  private[graft] def statsColumnsProp(spark: SparkSession,
      table: String): Seq[String] =
    tableProps(spark, table).get(StatsColumnsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

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
  private val BloomBitsDefault = 8192

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
    * written by withStats only when the file has ZERO nulls in the
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
  private def enforceConstraints(df: DataFrame,
      constraints: Seq[(String, String)], what: String): Unit = {
    if (constraints.isEmpty) return
    val flags = constraints.map { case (n, s) =>
      max(when(!coalesce(expr(s), lit(false)), lit(1)).otherwise(lit(0)))
        .as(s"__viol_$n")
    }
    val row = controlPlane(df.sparkSession) {
      df.agg(flags.head, flags.tail: _*).head()
    }
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
  private final class AttemptConstraintGate(fs: FileSystem, root: Path,
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

  private def propsOf(fs: FileSystem, root: Path, v: Int,
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

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private val TxnHeader = "#txn\t"

  /** Writer-transaction markers of `version`: appId → highest batch id
    * that writer has committed — the exactly-once ledger the streaming
    * sink consults before applying a replayed micro-batch (same idea as
    * Delta's txnAppId/txnVersion). Carried forward by EVERY commit verb:
    * a compaction or rollback must never erase the knowledge that batch
    * N was already applied, or a sink restart would double-write it. */
  private def txnsOf(fs: FileSystem, root: Path, v: Int,
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
  private def entryPath(line: String): String =
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
  private val LongPfx = "L:"
  // bloom groups: (col, "B:<L|S>:<base64 bitset>", "B:") — the bound
  // slots carry a prefix no bounds decoder accepts, so entryBounds
  // skips them and pre-bloom readers keep parsing mixed lines
  private val BloomPfx = "B:"
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
  // anti-joins the union, so overlap is harmless.
  private val DvCol = "@dv"
  private val DvPfx = "D:"
  // commit-time NDV statistics (r19 verdict task 6): per-file KMV
  // sketches ride the group grammar as ("<col>", "K:<base64 longs>",
  // "K:") — the bound decoders reject the K: prefix exactly as they
  // reject B:/D:, so old readers parse mixed lines untouched. Merged at
  // scan time (k-min union is associative) into a snapshot NDV the
  // planner reads through estimateStatistics — ANALYZE without a
  // second scan, because the commit already read the staged bytes.
  private val KmvPfx = "K:"
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
  private def encBound(s: String): String =
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
  private def withDvGroup(line: String, sidecarRel: String): String =
    line + "\t" + DvCol + "\t" + DvPfx +
      java.net.URLEncoder.encode(sidecarRel, "UTF-8") + "\t" + DvPfx

  // equality deletes (r19 verdict task 7): ("@eq",
  // "E:<url-enc sidecar rel>;<url-enc key col>", "E:") — the
  // merge-on-read currency for writers that CANNOT read matched
  // positions first (streaming CDC upserts): the sidecar is a one-
  // column parquet of dead KEY VALUES, and a masked read anti-joins on
  // the key instead of the ordinal. Scoping is per-line, like dvs: the
  // committing verb annotates the lines present at ITS head, so a file
  // appended later (including the upsert's own batch) is never masked —
  // exactly Iceberg's sequence-number rule, expressed in the line-copy
  // currency this manifest already has. Bound decoders reject the E:
  // prefix like B:/D:/K:, so mixed lines parse everywhere.
  private val EqCol = "@eq"
  private val EqPfx = "E:"

  /** `line` with an equality-delete group appended. `keyCols` (r20:
    * one or MORE — composite CDC keys like (tenant_id, id) are the
    * multi-tenant shape) ride the annotation comma-joined after
    * per-name URL-encoding (',' encodes to %2C, so the join is
    * unambiguous); a single column writes byte-identically to the r19
    * form. */
  private def withEqGroup(line: String, sidecarRel: String,
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

  /** Whether `v` carries any live equality delete. */
  private[graft] def versionHasEqs(fs: FileSystem, root: Path,
      v: Int): Boolean =
    v > 0 && manifestFiles(fs, root, v).exists(l => entryEqs(l).nonEmpty)

  /** Refuse a schema DDL touching a column that keys live equality
    * deletes — the annotations mask by NAME, so a rename orphans them
    * and a drop breaks every masked read. One definition, shared by
    * both DDL verbs so the guard can't diverge. */
  private def requireNoLiveEqKey(fs: FileSystem, root: Path, head: Int,
      verb: String, hits: String => Boolean): Unit =
    manifestFiles(fs, root, head).flatMap(entryEqs).flatMap(_._2)
      .distinct.foreach(c => require(!hits(c),
        s"$verb: column '$c' keys live equality deletes — materialize " +
          "them first (CALL system.compact(only_dv => true))"))

  /** (live dvs?, live eqs?) of `v` in ONE line pass — the SQL table
    * handle asks both on every scan, and two separate walks of a
    * million-line manifest are a million wasted line parses. */
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

  /** The (table-wide unique) position-delete group key of a data file:
    * its last two path segments — txn dir name + file name, both
    * uuid'd. Relocation-proof (no table root) and cheap to derive on
    * the scan side from `_metadata.file_path`. */
  private[graft] def grpOfRel(rel: String): String = {
    val parts = rel.split('/')
    if (parts.length >= 2) parts(parts.length - 2) + "/" + parts.last
    else rel
  }

  /** Whether `v`'s manifest carries any live deletion vector — the
    * streaming source refuses such versions (its per-batch file
    * relation reads raw paths and CANNOT anti-apply positions; emitting
    * dv-deleted rows would silently break the append-only contract the
    * same way an undetected REPLACE would). */
  private[graft] def versionHasDvs(fs: FileSystem, root: Path,
      v: Int): Boolean =
    v > 0 && manifestFiles(fs, root, v).exists(l => entryDvs(l).nonEmpty)

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
    * matched positions first. SQL `UPDATE`/`MERGE INTO`
    * arrive through Spark's group-based rewrite and stay copy-on-write
    * regardless of mode — they read dv-applied (position-deleted rows
    * never resurrect through a rewrite) and their swapped-in lines
    * carry no dv, which is correct under either mode. [[replaceWhere]]
    * and truncate stay copy-on-write by design in both modes too: a
    * backfill swaps whole value ranges, so the rewrite IS the payload,
    * not overhead. Concurrent MOR deletes compose: disjoint file sets
    * rebase past each other (each loser re-annotates ONLY its own
    * lines onto the winner's head); overlapping file sets hit the
    * standard REPLACE conflict and the caller re-runs against the new
    * head, where the dv-applied matched-set recompute makes the retry
    * a union, never a double-delete. */
  val RowLevelModeProp = "graft.rowlevel.mode"

  private def morEnabled(props: Map[String, String]): Boolean =
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

  private def idMapped(props: Map[String, String]): Boolean =
    props.get(ColumnMappingProp).exists(_.equalsIgnoreCase("id"))

  private[graft] def hasFieldIds(s: types.StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  private def withId(f: types.StructField, id: Long): types.StructField =
    f.copy(metadata = new types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** CREATE-time id assignment: 1..n in declaration order. */
  private def assignIds(s: types.StructType): types.StructType =
    types.StructType(s.fields.zipWithIndex.map { case (f, i) =>
      withId(f, i + 1L) })

  /** Carry `prior`'s ids onto `merged` by (case-insensitive) name;
    * fields new in `merged` get fresh ids past the prior maximum —
    * ids are never reused, so a rename can never collide with a
    * historical column. */
  private def restampIds(prior: types.StructType,
      merged: types.StructType): types.StructType = {
    val byName = prior.fields.iterator
      .filter(_.metadata.contains(FieldIdKey))
      .map(f => f.name.toLowerCase -> f.metadata.getLong(FieldIdKey))
      .toMap
    var next = (byName.valuesIterator ++ Iterator(0L)).max + 1
    types.StructType(merged.fields.map { f =>
      val id = byName.getOrElse(f.name.toLowerCase,
        { val v = next; next += 1; v })
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
  private def stampFieldIds(spark: SparkSession, fs: FileSystem,
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
        // minted HERE with the identical max+1-in-frame-order rule —
        // footer ids and the recorded schema agree by construction.
        // Appends keep the refusal: their schema evolves through DDL,
        // and an append minting ids would race a concurrent rename.
        var next = (idByName.valuesIterator ++ Iterator(0L)).max + 1
        df.schema.fields.map { f =>
          val id = idByName.getOrElse(f.name.toLowerCase,
            if (allowNewIds) { val v = next; next += 1; v }
            else throw new IllegalArgumentException(
              s"column-mapped table: column '${f.name}' is not in the " +
                "recorded schema. Id-mapped tables evolve through " +
                "ALTER TABLE ADD COLUMN (which assigns the field id " +
                "atomically), then append."))
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

  private val CommitHeader = "#commit\t"

  /** `#op\t<verb>` — the committing verb's name, recorded so history
    * answers "WHICH operation produced version N" (the DESCRIBE
    * HISTORY `operation` column) instead of just a UUID. Unknown to
    * pre-r17 readers (every header parser matches its own prefix) and
    * absent from pre-r17 manifests (history shows "" for those). */
  private val OpHeader = "#op\t"

  /** The verb recorded in `v`'s manifest, if the committing writer
    * recorded one. */
  private def opNameOf(fs: FileSystem, root: Path, v: Int,
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

  /** Publish `tmp` as `dst` atomically-failing-if-`dst`-exists — the
    * primitive the CAS needs, chosen per filesystem. Local (`file:`)
    * schemes get POSIX link(2) via NIO `createLink`: hard-link creation
    * fails with EEXIST ATOMICALLY, which POSIX rename does not (it
    * silently replaces), so link is the real arbiter the commit
    * protocol wants on overwriting filesystems. Everything else gets
    * `fs.rename` — atomic fail-if-exists on HDFS; on object stores
    * neither primitive exists and the caller's UUID verify is the
    * (window-narrowing, not window-closing) backstop. Returns false on
    * a lost race; `tmp` is consumed either way. */
  private[graft] def publishNoReplace(fs: FileSystem, tmp: Path,
      dst: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      val won =
        try { java.nio.file.Files.createLink(d, t); Some(true) }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => Some(false)
          // a `file:` mount without link(2) support (FUSE/overlay/
          // network mounts): fall back to the rename path below — the
          // caller's UUID verify then carries the race, exactly the
          // pre-link behavior on such filesystems
          case _: UnsupportedOperationException => None
          case e: java.nio.file.FileSystemException
              if e.getMessage != null &&
                e.getMessage.contains("not supported") => None
        }
      won match {
        case Some(w) =>
          fs.delete(tmp, false) // drops the checksum sidecar too
          w
        case None =>
          if (fs.rename(tmp, dst)) true
          else { fs.delete(tmp, false); false }
      }
    } else if (fs.rename(tmp, dst)) true
    else { fs.delete(tmp, false); false }

  // --- optional lockfile commit arbiter --------------------------------
  // The opt-in answer for filesystems whose rename OVERWRITES and that
  // offer no exclusive publish primitive (raw object stores: S3A rename
  // is a non-atomic copy+delete). With `graft.commit.lockfile=true` in
  // the Hadoop configuration, every CAS attempt acquires
  // `manifests/_commit.lock` via create-fail-if-exists BEFORE reading
  // the head, and releases it after the publish+verify — commits are
  // serialized, so the residual UUID-verify window (A publishes and
  // verifies, then B's copy replaces the object) cannot open. The
  // primitive this leans on is the store's conditional CREATE —
  // `create(path, overwrite = false)` maps to an If-None-Match PUT on
  // S3 with Hadoop's conditional-write support, and to plain exclusive
  // create on HDFS/local — which object stores DO offer even though
  // their rename is not exclusive. A crashed writer's lock is broken
  // once the SAME lock identity (the UUID in the file) has been
  // watched unchanged for `graft.commit.lockfile.stale.ms` on the
  // waiter's own monotonic clock (default 60 s). A LIVE holder renews
  // its identity every stale.ms/3 on a daemon thread ([[CommitLease]]),
  // so arbitrarily long in-lock work — the per-attempt CHECK-constraint
  // scan, the whole-table proof on ALTER ADD CONSTRAINT — never ages
  // out; only a holder actually STALLED for a full stale.ms (GC pause,
  // partition) can be broken, the standard lease caveat (own-clock
  // watching avoids trusting store mtime vs client clock);
  // acquisition gives up after `graft.commit.lockfile.timeout.ms`
  // (default 120 s). Lock breaking is identity-conditional (re-read,
  // delete only if the UUID still matches the one observed stale) and
  // acquisition re-verifies ownership after create — see
  // acquireCommitLock for why the old unconditional stat-then-delete
  // re-opened the two-holder window. CommitLockSpec
  // simulates the copy+delete overwrite race and pins that the lock
  // closes it — and found empirically that the conditional-create
  // precondition is REAL: Hadoop RawLocalFileSystem's no-overwrite
  // create is a java-level exists-check-then-open, and under it the
  // lock measurably lost commits until the spec's stand-in store made
  // its create atomic (O_EXCL), as S3 conditional PUT / HDFS create
  // are. Do not enable this option against a store whose conditional
  // create is advisory.

  private val LockName = "_commit.lock"

  private def lockfileEnabled(fs: FileSystem): Boolean =
    fs.getConf.getBoolean("graft.commit.lockfile", false)

  private def readLockUuid(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        // loop to EOF: a single read() may legally return short (object-
        // store streams do), and a truncated UUID would make the stale
        // watcher see a "new identity" on every poll of the SAME crashed
        // lock — the timer would never elapse and writers would block
        // until timeout forever (r16 review finding)
        val buf = new Array[Byte](64)
        var off = 0
        var n = in.read(buf, off, buf.length - off)
        while (n > 0 && off + n < buf.length) {
          off += n
          n = in.read(buf, off, buf.length - off)
        }
        if (n > 0) off += n
        Some(new String(buf, 0, off,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** A held commit lock with a background LEASE RENEWER (r16 advice):
    * the in-lock span of a constrained commit (the per-attempt CHECK
    * scan, or the whole-table proof on ALTER ADD CONSTRAINT) can far
    * exceed `stale.ms`, and a holder whose lock identity never changes
    * would be aged out and broken by a waiter WHILE STILL LIVE —
    * re-opening the two-holder window on exactly the overwrite-capable
    * stores the lock exists for. The renewer rewrites the lock file
    * with a fresh UUID every `stale.ms / 3` on a daemon thread: waiters
    * key staleness on watched-identity age, so every renewal restarts
    * their clock and a live holder is never broken no matter how long
    * the in-lock work runs. Only a holder STALLED for a full stale.ms
    * (GC pause, network partition) can still be broken — the standard
    * lease caveat, now scoped to actual stalls instead of any slow
    * commit. Each renewal read-verifies ownership first and overwrites
    * only its own identity; a failed verify (we WERE broken during a
    * stall) stops renewal rather than clobbering the new holder's lock.
    * Release is identity-conditional for the same reason: delete only
    * if the file still carries our current UUID. */
  private[graft] final class CommitLease(fs: FileSystem, val lock: Path,
      firstUuid: String, renewEveryMs: Long) extends AutoCloseable {
    private val uuid =
      new java.util.concurrent.atomic.AtomicReference(firstUuid)
    private[graft] def currentUuid: String = uuid.get
    private val renewer = new Thread(() => {
      try while (true) {
        Thread.sleep(renewEveryMs)
        // verify-then-overwrite: never clobber a lock that is no longer
        // ours (a read→write window remains on stores with no
        // compare-and-put; it is narrower by orders of magnitude than
        // the unrenewed-lease window this closes)
        if (!readLockUuid(fs, lock).contains(uuid.get)) throw Halt
        val next = java.util.UUID.randomUUID().toString
        val out = fs.create(lock, /* overwrite = */ true)
        try out.write(next.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        uuid.set(next)
      } catch {
        case _: InterruptedException => ()
        case Halt => ()
        case _: java.io.IOException => () // stop renewing; the
          // pre-lease behavior (identity ages toward stale.ms) resumes
      }
    }, s"graft-commit-lease-renewer")
    private object Halt extends RuntimeException {
      override def fillInStackTrace(): Throwable = this
    }
    renewer.setDaemon(true)
    if (renewEveryMs > 0) renewer.start()
    override def close(): Unit = {
      renewer.interrupt()
      try renewer.join(2000) catch { case _: InterruptedException => () }
      // identity-conditional release: if a stalled-and-broken lease was
      // replaced by a new holder, deleting THEIR live lock here would
      // re-open the two-holder window the breaker just closed
      try {
        if (readLockUuid(fs, lock).contains(uuid.get))
          fs.delete(lock, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Acquire `manifests/_commit.lock` by exclusive create, breaking a
    * crashed holder's lock only after watching the SAME lock identity
    * (the UUID written into the file) sit unchanged for `stale.ms` on
    * THIS process's monotonic clock. The r15 advice showed why the old
    * unconditional stat-then-delete was unsound: two waiters could both
    * observe holder X stale; waiter B deletes and create-acquires a
    * FRESH lock, then waiter A's delayed delete removes B's live lock —
    * two holders, the exact lost-update window the lockfile exists to
    * close. Conditioning the delete on identity (re-read, delete only if
    * the UUID still equals the one observed stale) means A's delete
    * no-ops once B's lock (new UUID) is in place; timing staleness on
    * our own clock instead of store mtime removes the client/store
    * clock-skew assumption. A residual read→delete window remains on
    * stores with no delete-if-match — post-acquisition ownership
    * re-verification below shrinks the harm to a retry. */
  private[graft] def acquireCommitLock(fs: FileSystem, mdir: Path)
      : CommitLease = {
    val conf = fs.getConf
    val staleMs = conf.getLong("graft.commit.lockfile.stale.ms", 60000L)
    val timeoutMs =
      conf.getLong("graft.commit.lockfile.timeout.ms", 120000L)
    val lock = new Path(mdir, LockName)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var watchedUuid: Option[String] = None
    var watchedSince = 0L // nanoTime when watchedUuid was first observed
    while (System.nanoTime() < deadline) {
      try {
        val myUuid = java.util.UUID.randomUUID().toString
        val out = fs.create(lock, /* overwrite = */ false)
        try out.write(myUuid.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // re-verify ownership: a racing breaker with a stale view could
        // have deleted OUR fresh lock between create and here (and a
        // third writer re-created it). If the file no longer carries our
        // UUID we do NOT hold the lock — clean up only our own and retry.
        // The verify read retries once: a transient read failure must
        // not abandon OUR OWN lock file on disk (we would then
        // stale-watch ourselves for stale.ms, stalling every writer).
        val seen = readLockUuid(fs, lock)
          .orElse { Thread.sleep(10); readLockUuid(fs, lock) }
        if (seen.contains(myUuid))
          return new CommitLease(fs, lock, myUuid,
            math.max(50L, staleMs / 3))
        // Not verifiably ours: NEVER delete here. An unconditional
        // delete on an unverifiable read would re-open the two-holder
        // window (the file might be a THIRD writer's live lock that
        // replaced our broken one while our reads transiently failed).
        // If the orphan really is ours, the identity watcher below ages
        // it out like any crashed holder's — a stale.ms liveness cost,
        // never a safety one.
      } catch {
        case _: java.io.IOException =>
          // held by another writer: watch its identity; break only after
          // the SAME identity has been stale-aged on our own clock
          readLockUuid(fs, lock) match {
            // vanished OR persistently unreadable: retry create, but
            // never hot — an existing-but-unreadable lock file (create
            // keeps failing, read keeps failing) would otherwise spin
            // create/read flat out until the 120 s timeout (r16 advice)
            case None => Thread.sleep(25)
            case cur @ Some(_) =>
              if (cur != watchedUuid) {
                watchedUuid = cur
                watchedSince = System.nanoTime()
                Thread.sleep(25)
              } else if (System.nanoTime() - watchedSince >
                  staleMs * 1000000L) {
                // delete-if-match (best effort): re-read immediately
                // before the delete so a just-acquired fresh lock (new
                // UUID) is never the victim
                if (readLockUuid(fs, lock) == cur) fs.delete(lock, false)
                watchedUuid = None
              } else Thread.sleep(25)
          }
      }
    }
    throw new java.io.IOException(
      s"commit-lock acquisition timed out after $timeoutMs ms on $lock — " +
        "a holder is live, or a crashed holder's lock is younger than " +
        "graft.commit.lockfile.stale.ms")
  }

  /** The one manifest CAS loop, shared by every commit verb (APPEND,
    * REPLACE/compact, DELETE, rollback): `listFor(head)` computes the
    * new version's file list against the head CURRENT AT EACH ATTEMPT —
    * so a loser of the publish race automatically rebases its intent
    * (append: head + added; replace: head − swapped + added) onto
    * whatever landed first. The commit point is [[publishNoReplace]]
    * (exclusive link(2) on local filesystems, fail-if-exists rename on
    * HDFS) PLUS a re-read of the destination verifying this attempt's
    * UUID — on those two filesystems the publish alone decides the
    * race and the verify is a free invariant check; on filesystems
    * with no exclusive primitive (object-store rename = copy+delete)
    * the verify is the only guard and leaves a residual window (see
    * the protocol comment above): such deployments set
    * `graft.commit.lockfile=true` and each attempt then runs under the
    * create-exclusive lock from [[acquireCommitLock]], head-read
    * through verify, which closes the window. */
  private def casCommit(fs: FileSystem, root: Path, op: String,
                        listFor: Int => Seq[String],
                        schemaFor: Int => Option[types.StructType] =
                          _ => None,
                        txnFor: Int => Map[String, Long] =
                          (h: Int) => Map.empty,
                        propsXform: Map[String, String] =>
                          Map[String, String] = identity,
                        attemptCheck: Int => Unit = _ => (),
                        chain: String = "",
                        gated: Boolean = true): Int = {
    val mdir = new Path(root, "manifests")
    fs.mkdirs(mdir)
    val locked = lockfileEnabled(fs)
    val gate = new AttemptConstraintGate(fs, root, op, chain)
    var attempts = 0
    while (attempts < 10) {
      // lock-enabled deployments read the head INSIDE the lock — a
      // commit that landed before our acquisition is visible to the
      // rebase, and none can land until we release
      val lease = if (locked) Some(acquireCommitLock(fs, mdir)) else None
      try {
        val head = currentVersion(fs, root, chain)
        attemptCheck(head)
        val all = listFor(head)
        // headers are computed per attempt too: a racing commit may have
        // evolved the schema or advanced a txn marker, and this commit
        // must rebase onto whatever actually landed, like the line rebase.
        // Txn markers and table props CARRY by default (every verb
        // preserves them); `txnFor` supplies this commit's updates on
        // top, `propsXform` rewrites the carried props (set AND unset —
        // ALTER TABLE needs removal, which a merge cannot express).
        val txns = txnsOf(fs, root, head, chain) ++ txnFor(head)
        val props = propsXform(propsOf(fs, root, head, chain))
        // CHECK constraints gate the files this attempt ADDS, against
        // the MERGED props this attempt will publish (head props AND
        // this commit's own additions) — see AttemptConstraintGate for
        // why the gate lives inside the CAS loop. `gated = false` is
        // for verbs whose adopted lines come from an ALREADY-COMMITTED
        // gated snapshot (clone): re-proving them would re-read the
        // whole source table and turn the O(manifest) verb into an
        // O(data) one (r18 ADVICE)
        if (gated) gate.check(head, all, constraintsOf(props))
        val attemptId = java.util.UUID.randomUUID().toString
        val header = Seq(CommitHeader + attemptId, OpHeader + enc(op)) ++
          (schemaFor(head).map(s => SchemaHeader + s.json).toSeq ++
            props.toSeq.sorted.map { case (k, v2) =>
              s"$PropHeader${enc(k)}\t${enc(v2)}" } ++
            txns.toSeq.sorted.map { case (app, b) => s"$TxnHeader$app\t$b" })
        // Physical form (see the delta/checkpoint comment above): a
        // DELTA when the change is incremental and the head's chain has
        // checkpoint budget left, else FULL (the checkpoint). Delta
        // arithmetic is set-based, so it only applies while the line
        // lists are duplicate-free (they always are — paths are
        // UUID-unique — but a malformed verb must degrade to FULL, not
        // corrupt reconstruction).
        val headLines =
          if (head == 0) Seq.empty[String]
          else manifestFiles(fs, root, head, chain)
        // read through the ACTIVE session's Hadoop conf: the cached
        // FileSystem instance may carry a Configuration snapshot from
        // whoever touched the scheme first in this JVM
        val interval = SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration).getOrElse(fs.getConf)
          .getInt(CheckpointIntervalConf, 20)
        // Diff fast path: append verbs pass the head's OWN cached line
        // objects through (`manifestFiles(head) ++ entries`), so a
        // pointer-compare prefix walk recognizes a pure append in O(n)
        // `eq` checks with no hash-set builds — the difference between
        // ~30 ms and ~150 ms per streaming commit at 200k files.
        val isPureAppend = head > 0 && all.size >= headLines.size && {
          val ai = all.iterator; val hi = headLines.iterator
          var ok = true
          while (ok && hi.hasNext)
            ok = ai.next().asInstanceOf[AnyRef] eq
              hi.next().asInstanceOf[AnyRef]
          ok
        }
        val (removedL, addedL, uniq) =
          if (isPureAppend) {
            val adds = all.drop(headLines.size)
            // head-disjointness is NOT re-hashed here (it would cost
            // the O(n) set build the fast path exists to avoid): every
            // commit verb stages into a fresh UUID txn dir, so an add
            // can never equal a head line; the one caller-formed-lines
            // entry point (appendEntriesUnchecked) states it as an
            // UNCHECKED caller contract — see its comment for why
            // runtime enforcement is wrong there
            (Seq.empty[String], adds, adds.toSet.size == adds.size)
          } else {
            val headSet = headLines.toSet
            val allSet = all.toSet
            (headLines.filterNot(allSet), all.filterNot(headSet),
              headLines.size == headSet.size && all.size == allSet.size)
          }
        // delta iff strictly fewer lines than the full form would
        // write: an append always qualifies; an annotate-every-line
        // upsert (removed ≈ added ≈ all) or a whole-table rewrite
        // degrades to FULL — ties go to the checkpoint
        val asDelta = interval > 1 && head > 0 && uniq &&
          depthOf(fs, root, head, chain) < interval - 1 &&
          removedL.size + addedL.size < all.size
        val body =
          if (asDelta)
            (s"$DeltaHeader$head\t" +
              s"${depthOf(fs, root, head, chain) + 1}") +:
              (header ++ removedL.map(RmHeader + _) ++ addedL)
          else header ++ all
        val tmp = new Path(mdir,
          s".${chain}v${head + 1}.tmp-" + attemptId)
        val out = fs.create(tmp, /* overwrite = */ false)
        try out.write(body.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        val dst = new Path(mdir, s"${chain}v${head + 1}.manifest")
        if (publishNoReplace(fs, tmp, dst)) {
          // won only if OUR bytes are what the destination now holds; a
          // mismatch means another writer's commit occupies (or
          // overwrote) this version — treat as a lost race and retry.
          // The destination is the other writer's live manifest: never
          // delete it. On local/HDFS the exclusive publish already
          // decided the race, so this read is an invariant check; on
          // overwrite-capable stores it is the (residual-window) guard.
          if (commitIdOf(fs, dst).contains(attemptId)) return head + 1
        }
      } finally lease.foreach(_.close())
      attempts += 1
    }
    throw new java.io.IOException(
      s"$op: lost the manifest race 10 times on $root")
  }

  /** The REPLACE-verb commit (compact / delete / merge): swap `inputSet`
    * lines for `added` against the head AT EACH CAS ATTEMPT — but only
    * while every input line is still present in that head. A racing
    * APPEND keeps our inputs in its head, so the rebase proceeds with
    * the appended files intact; a racing REPLACE that swapped any of our
    * inputs makes the rebase unsound (we would resurrect rows the other
    * commit rewrote, or drop its rewrites), so the commit ABORTS with
    * IllegalArgumentException — the standard optimistic-concurrency
    * conflict, and the caller re-runs the whole operation against the
    * new head. Factored out of the verbs so the conflict guard is
    * deterministically testable without thread interleaving. */
  private[graft] def replaceCommit(fs: FileSystem, root: Path, op: String,
      inputSet: Set[String], added: Seq[String]): Int =
    casCommit(fs, root, op, { head =>
      val headLines = manifestFiles(fs, root, head)
      require(inputSet.subsetOf(headLines.toSet),
        s"$op: concurrent REPLACE conflict — another commit swapped out " +
          "input files of this operation; re-run it against the new head")
      headLines.filterNot(inputSet) ++ added
    }, head => schemaOf(fs, root, head)) // a rewrite never changes schema

  /** Stage `df` into a fresh uuid'd data/txn-* dir and return its
    * root-relative file (path, bytes) pairs — invisible until a manifest
    * lists them. Sizes ride along from the one listStatus the staging
    * already does, so recording them in manifest lines is free. */
  private def stageTxn(spark: SparkSession, fs: FileSystem, root: Path,
                       df: DataFrame,
                       createProps: Map[String, String] = Map.empty,
                       stamp: Boolean = true,
                       chain: String = "",
                       allowNewIds: Boolean = false)
      : Seq[(String, Long)] = {
    val txn = new Path(root,
      "data/txn-" + java.util.UUID.randomUUID().toString)
    // id-mapped tables stamp field ids on EVERY staged DATA frame
    // (identity for everything else) — one chokepoint instead of
    // per-verb metadata plumbing, so a rewrite verb whose unionByName
    // dropped the metadata still stages correct footers. stamp = false
    // for internal sidecars (dv position files) that never read under
    // the table schema.
    val resolved = {
      val h = currentVersion(fs, root, chain)
      (h, if (h > 0) propsOf(fs, root, h, chain)
          else Map.empty[String, String])
    }
    val out =
      if (stamp) stampFieldIds(spark, fs, root, df, createProps, chain,
        allowNewIds, Some(resolved))
      else df
    // PARTITIONED BY tables stage SINGLE-PARTITION-VALUE files: Spark's
    // own dynamic-partition writer fans each task out one file per
    // value (scales to arbitrarily many values per task — it sorts and
    // spills, no per-value memory), on DUPLICATED columns so the data
    // files keep the real columns (the engine reads explicit file
    // lists, never directory names). The staged tree is then flattened
    // back into the txn root so every downstream path assumption (flat
    // txn dirs, grpOfRel's two-segment keys) holds unchanged. The
    // invariant this buys: per-file partition-column bounds record
    // min == max, which is what makes the snapshot storage-partitioned-
    // join eligible ([[spjFileKeys]]) — a co-partitioned graft⋈graft
    // join then plans with NO shuffle on either side. stamp = false
    // sidecars (dv position files) never fan out. Applied per commit,
    // so a table gains eligibility as multi-value files (pre-feature
    // history, MOR delta inserts) are compacted away.
    val stagedProps = resolved._2 ++ createProps
    val partCols = stagedProps.get(PartitionedByProp).map(splitCols)
      .getOrElse(Nil)
    val bucketSpec = stagedProps.get(BucketByProp)
      .zip(stagedProps.get(BucketCountProp))
      .map { case (c, n) => (c, n.toInt) }
    // a user column that collides with the fanout's duplicated-column
    // names would be silently dropped by the dynamic writer — fall back
    // to the plain write (the invariant is an optimization, data is not)
    val fanoutSafe = !out.columns.exists(_.startsWith("__gp_"))
    if (stamp && fanoutSafe &&
        bucketSpec.exists(b => out.columns.contains(b._1))) {
      // bucket layout: repartition INTO the buckets first (≈N tasks,
      // each holding whole buckets — without this, every task would
      // fan a file into every bucket: tasks × N files per commit),
      // then the same per-value fanout writer
      val (c, n) = bucketSpec.get
      val bexpr = bucketPlacementExpr(out.schema, c, n)
      val fan = out.repartition(n, bexpr).withColumn("__gp_bucket", bexpr)
      // r22 (guide §7 driver dwell): AQE cannot improve THIS write — the
      // shuffle width is an explicit repartition(n) that AQE never
      // coalesces, so adaptivity's only remaining levers (join demotion,
      // skew splits) live BELOW the repartition and only matter when the
      // staged frame is big. Below a plan-stats ceiling the write runs
      // AQE-off: the per-commit shuffle-materialization job + replan
      // disappear (the r22 StageProbe measured 3 scheduled jobs per
      // bucket commit, 2 of them AQE machinery), and the file layout is
      // bit-identical because the partitioning was never adaptive here
      // to begin with. Above SizeTier.LocalBytes (warehouse scale) AQE
      // stays on.
      val localWrite = SizeTier.small(out, SizeTier.LocalBytes)
      def bucketWrite(): Unit =
        fan.write.mode("overwrite").partitionBy("__gp_bucket")
          .parquet(txn.toString)
      if (localWrite) controlPlane(spark)(bucketWrite()) else bucketWrite()
      flattenStagedDirs(fs, txn)
    } else if (stamp && fanoutSafe && partCols.nonEmpty &&
        partCols.forall(out.columns.contains)) {
      val dups = partCols.map(c => s"__gp_$c")
      val fan = partCols.zip(dups).foldLeft(out) {
        case (d, (c, g)) => d.withColumn(g, col(c))
      }
      fan.write.mode("overwrite").partitionBy(dups: _*).parquet(txn.toString)
      flattenStagedDirs(fs, txn)
    } else out.write.mode("overwrite").parquet(txn.toString)
    fs.listStatus(txn).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (s"data/${txn.getName}/${st.getPath.getName}", st.getLen))
  }

  /** Guards the scoped AQE set/restore inside [[controlPlane]]. */
  private val aqeToggleLock = new Object

  /** Run a CONTROL-PLANE action — a verb-internal probe whose driver-side
    * result is bounded by file/commit counts, never by data volume (a
    * uniqueness aggregate, an affected-file-name collect, a limit(1)
    * violation fetch, a per-file stats row) — with AQE off for just that
    * action.
    *
    * Why (r22, guide §7 driver dwell): AQE materializes EVERY shuffle of
    * a query as its own scheduled job plus a re-optimization pass, and
    * the r22 StageProbe measured the lifecycle verbs spending most of
    * their wall in exactly those per-job driver floors — q_snapshot_merge
    * ran 26 jobs of which ~19 were AQE stage materializations of its
    * four control probes, each paying 30-330 ms of inter-job dwell.
    * These probes cannot benefit from adaptive replanning: their reduce
    * sides are bounded (≤ one row per file / per constraint / exactly
    * one row), so runtime re-optimization has nothing to improve, and
    * skew-splitting a probe whose OUTPUT is tiny only reshapes work the
    * probe barely does. The DATA-PLANE queries of every verb (staged
    * writes, snapshot reads, the declared readback) keep AQE — this
    * scoping is the r21 stats-collect trick generalized to every probe.
    *
    * Set/restore is serialized under a JVM-wide lock so two overlapping
    * commits cannot interleave set("false")/restore and strand the
    * session conf (r21 ADVICE).
    *
    * `shufflePartitions`: callers whose scoped plan is PROVABLY tiny (a
    * size-dispatched iteration over a materialized cache measured under
    * a byte ceiling — see Sketches.labelPropagation) may also pin the
    * static shuffle width for the scope; without AQE's coalescing the
    * session default (one partition per core) would otherwise fan each
    * scoped shuffle into near-empty tasks. Never set from a constant
    * belief about the data — only behind a measured size dispatch. */
  private[graft] def controlPlane[T](spark: SparkSession,
      shufflePartitions: Option[Int] = None)(body: => T): T =
    aqeToggleLock.synchronized {
      val aqeKey = "spark.sql.adaptive.enabled"
      val spKey = "spark.sql.shuffle.partitions"
      val prev = spark.conf.getOption(aqeKey)
      val prevSp = spark.conf.getOption(spKey)
      spark.conf.set(aqeKey, "false")
      shufflePartitions.foreach(n => spark.conf.set(spKey, n.toString))
      try body finally {
        prev match {
          case Some(v) => spark.conf.set(aqeKey, v)
          case None => spark.conf.unset(aqeKey)
        }
        if (shufflePartitions.isDefined) prevSp match {
          case Some(v) => spark.conf.set(spKey, v)
          case None => spark.conf.unset(spKey)
        }
      }
    }

  /** Move every parquet leaf of a dynamic-partition staging tree up
    * into the txn root (metadata renames — no data moves) and drop the
    * now-empty `__gp_*=value` directories. Part-file names REPEAT
    * across partition directories (same job uuid, same task numbering),
    * so each gets a unique `p<i>-` prefix. */
  private def flattenStagedDirs(fs: FileSystem, txn: Path): Unit = {
    def leaves(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) leaves(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
    val dirs = fs.listStatus(txn).toSeq.filter(_.isDirectory).map(_.getPath)
    dirs.flatMap(leaves).zipWithIndex.foreach { case (f, i) =>
      require(fs.rename(f, new Path(txn, s"p$i-${f.getName}")),
        s"flattenStagedDirs: rename failed for $f")
    }
    dirs.foreach(d => fs.delete(d, true))
  }

  /** Atomically commit `df` as an APPEND transaction; returns the new
    * version. Retries the manifest CAS a bounded number of times.
    *
    * `statsColumns`: record per-file min/max bounds for each named
    * column in the manifest entry (see the grammar at [[entryBounds]])
    * — manifest-level data skipping, the same idea as Iceberg's
    * manifest column bounds: [[readSnapshotWhere]] and friends then
    * prune whole files from the read set BEFORE any footer is opened,
    * one metadata pass instead of N file opens, and every recorded
    * column prunes independently (a z-ordered table records BOTH
    * clustering columns). Worth pairing with a clustered arrangement
    * (repartitionByRange + sortWithinPartitions, or [[zorderWrite]]'s
    * arrangement) so file bounds are tight and a selective predicate
    * keeps O(1) files. The stats pass reads back only the just-staged
    * files (one grouped aggregate over the txn dir, cost ∝ this commit,
    * not the table). */
  /** Rejects column names the tab-delimited manifest grammar cannot
    * carry. Called at the TOP of every verb accepting caller
    * statsColumns — before stageTxn writes anything — so a bad name
    * fails fast instead of orphaning a staged txn dir until vacuum. */
  private def validateStatsColumns(statsColumns: Seq[String]): Unit =
    require(statsColumns.forall(c =>
      !c.contains('\t') && !c.contains('\n') && !c.startsWith("@")),
      "stats column names must not contain tab/newline or start with @ " +
        "(manifest line currency)")

  def commitSnapshot(spark: SparkSession, table: String,
                     df: DataFrame,
                     statsColumns: Seq[String] = Nil,
                     props: Map[String, String] = Map.empty): Int = {
    validateStatsColumns(statsColumns)
    // props carried by a data commit get the SAME DDL-time validation
    // the SQL CREATE/ALTER paths run (r16 advice: the bare parameter
    // bypassed all three validators, so an unparseable constraint or a
    // bad bloom.bits set this way write-bricked every later commit
    // until UNSET; a commit-with-data carrying its own constraint also
    // never proved its own rows — the per-attempt gate now enforces
    // the MERGED props, so it does). Validated against df's schema —
    // for a create-with-data that IS the table schema; for an append
    // the names must resolve on the batch anyway.
    if (props.nonEmpty) {
      require(!props.keys.exists(_.isEmpty), "empty property key")
      validateClusterProps(props, Some(df.schema))
      validateBloomProps(props, Some(df.schema))
      validateConstraintProps(spark, props, Some(df.schema))
      validateRowLevelProps(props)
      validateColumnMappingProp(props)
      validateMergeEvolutionProp(props)
    }
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val added = stageTxn(spark, fs, root, df, createProps = props)
    // extraProps: a CREATE-with-data's partition/bucket props aren't
    // head props yet — withStats unions them so the very first commit
    // records the bounds the SPJ invariant needs
    val entries = withStats(spark, fs, root, added, statsColumns,
      extraProps = props)
    casCommit(fs, root, "commitSnapshot", head =>
      (if (head == 0) Seq.empty else manifestFiles(fs, root, head)) ++
        entries,
      appendSchemaFor(fs, root, df, newProps = props),
      propsXform = p => {
        val merged = p ++ props
        // mutual-exclusivity must hold on what actually COMMITS (head
        // props may already carry the sibling clustering property) —
        // schema-less check only: merged may legitimately name table
        // columns this batch lacks
        if (props.nonEmpty) validateClusterProps(merged, None)
        merged
      })
  }

  /** Dev-measurement hook ([[graft.ManifestScaleProbe]] and specs):
    * append pre-formed manifest LINES through the real commit protocol
    * — exactly [[commitSnapshot]]'s CAS minus the data staging, so the
    * metadata plane's per-commit cost can be measured in isolation at
    * manifest sizes (100k+ lines) that staging real parquet files
    * would make impractically slow to set up. Not user surface: the
    * lines' paths are never checked to exist. */
  private[graft] def appendEntriesUnchecked(spark: SparkSession,
      table: String, lines: Seq[String]): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // UNCHECKED CALLER CONTRACT (the delta fast path's line-uniqueness
    // invariant): `lines` must not repeat a line already listed — real
    // verbs get this for free from UUID txn-dir paths, and the sole
    // current caller (ManifestScaleProbe's strictly-increasing
    // synthetic paths) satisfies it by construction. The against-the-
    // head half is deliberately NOT enforced at runtime: the set build
    // would cost exactly the O(table) hashing per commit this hook
    // exists to measure the ABSENCE of (adding it inflated the probe
    // 3-5x). A new caller that cannot prove freshness must check
    // against versionFilePaths itself, OUTSIDE the timed region.
    require(lines.distinct.size == lines.size,
      "appendEntriesUnchecked: duplicate line within the batch: " +
        lines.diff(lines.distinct).headOption.getOrElse(""))
    casCommit(fs, root, "appendEntriesUnchecked", head =>
      (if (head == 0) Seq.empty else manifestFiles(fs, root, head)) ++
        lines,
      head => if (head == 0) None else schemaOf(fs, root, head))
  }

  /** Props-only commit — `ALTER TABLE ... SET/UNSET TBLPROPERTIES`:
    * the head's file list and schema carry unchanged, only the header
    * rewrites. Setting `graft.stats.columns` validates against the
    * recorded schema HERE (the DDL fails, not some later INSERT); note
    * that enabling stats affects FUTURE commits only — existing files
    * keep whatever bounds they have (none, if the property is new), so
    * pruning ramps in as data arrives or after one compaction
    * re-records bounds. */
  def setTableProps(spark: SparkSession, table: String,
      set: Map[String, String], unset: Seq[String]): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // empty VALUES are legal ('k'='' clears a setting) and now parse
    // round-trip (propsOf splits with limit -1); empty KEYS are never
    // meaningful and would be unaddressable by UNSET — refuse here, at
    // DDL time, not at some later read
    require(!set.keys.exists(_.isEmpty) && !unset.contains(""),
      "empty property key")
    // column mapping is a CREATE-time, immutable property: enabling it
    // later leaves id-less footers behind; disabling it strands renamed
    // columns whose files only match by id
    require(!set.contains(ColumnMappingProp) &&
        !unset.contains(ColumnMappingProp),
      s"$ColumnMappingProp is immutable — set it at CREATE TABLE " +
        "(rewrite into a new mapped table to change it)")
    // the layout properties are CREATE-time immutable too, and for a
    // sharper reason than column mapping: every committed manifest line
    // records the #p:<col>/#bucket group its file was PLACED under. A
    // later SET of graft.bucket.count reinterprets those recorded
    // bucket ids under a different modulus — bucket point-lookup
    // pruning then maps predicate values to ids the files were never
    // placed by (silently dropped files), and the scan reports a
    // KeyGroupedPartitioning the data doesn't satisfy, so Spark elides
    // a join shuffle unsoundly. Same failure flipping bucket.by to
    // another column; partitioned.by is refused for symmetry (its
    // mis-set is only safe by accident — missing groups disable
    // keying). UNSET is equally unsound: it erases the layout the
    // recorded groups still encode.
    locally {
      val layoutProps =
        Seq(PartitionedByProp, BucketByProp, BucketCountProp)
      val touched =
        layoutProps.filter(p => set.contains(p) || unset.contains(p))
      require(touched.isEmpty,
        s"${touched.mkString(", ")} is CREATE-time immutable — files " +
          "were placed under the recorded layout and re-keying them by " +
          "property edit would silently corrupt pruning and " +
          "storage-partitioned joins. To change the layout, CALL " +
          "system.evolve_layout (metadata-only, safe under ingest; " +
          "SPJ keying returns after compaction) or CALL " +
          "system.relayout (one-shot full rewrite)")
    }
    set.get(StatsColumnsProp).foreach { v =>
      val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      validateStatsColumns(cols)
      schemaOf(fs, root, currentVersion(fs, root)).foreach { sch =>
        cols.foreach(c => require(sch.fieldNames.contains(c),
          s"$StatsColumnsProp names unknown column '$c' " +
            s"(table columns: ${sch.fieldNames.mkString(", ")})"))
      }
    }
    val headSchema = schemaOf(fs, root, currentVersion(fs, root))
    validateClusterProps(set, headSchema)
    validateBloomProps(set, headSchema)
    validateConstraintProps(spark, set, headSchema)
    validateRowLevelProps(set)
    validateMergeEvolutionProp(set)
    val newConstraints = constraintsOf(set)
    // a constraint on a table with no recorded schema can't be resolved
    // at DDL time and would turn every later commit's gate into an
    // analysis error — refuse here with the way out named
    require(newConstraints.isEmpty || headSchema.nonEmpty,
      "CHECK constraints require a recorded schema (legacy " +
        "pre-schema-tracking table — rewrite it first)")
    casCommit(fs, root, "setTableProps",
      head => manifestFiles(fs, root, head),
      head => schemaOf(fs, root, head),
      propsXform = p => {
        val merged = p ++ set -- unset
        // validate the MERGED result, not just the delta: a table
        // CREATEd with sort_by and later ALTERed with zorder_by would
        // otherwise end up carrying both "mutually exclusive"
        // properties (r16 review finding) — the invariant must hold on
        // what actually commits, re-checked per CAS attempt against
        // whatever props landed concurrently
        validateClusterProps(merged, headSchema)
        merged
      },
      // adding a CHECK constraint to a non-empty table proves it
      // against the EXISTING data (Delta's ADD CONSTRAINT semantics) —
      // PER ATTEMPT, against the exact head this commit rebases onto,
      // so rows landed by a racing insert are inside the proof, not
      // past it. After this DDL the invariant holds for the whole
      // table, not just future writes.
      attemptCheck = head =>
        if (newConstraints.nonEmpty && head > 0 &&
            manifestFiles(fs, root, head).nonEmpty)
          enforceConstraints(readSnapshot(spark, table, Some(head)),
            newConstraints, "ALTER TABLE SET TBLPROPERTIES"))
  }

  /** `ALTER TABLE ... ADD COLUMN` as a schema-only commit (r15 verdict
    * task 3): the head's file list, props and txn markers carry; only
    * the recorded schema rewrites, appending the new fields NULLABLE so
    * every pre-evolution file null-fills on read — the exact semantics
    * the APPEND verb's add-column merge already proves
    * (q_snapshot_evolution), now reachable as DDL without having to
    * write a row. Duplicate names refuse (case-insensitively, matching
    * Spark's resolution default). */
  def addColumns(spark: SparkSession, table: String,
      cols: Seq[types.StructField]): Int = {
    require(cols.nonEmpty, "addColumns: no columns given")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    casCommit(fs, root, "addColumns",
      head => manifestFiles(fs, root, head),
      head => {
        val prior = schemaOf(fs, root, head).getOrElse(
          throw new IllegalStateException(
            s"addColumns: $table has no recorded schema to evolve " +
              "(legacy pre-schema-tracking table — rewrite it first)"))
        cols.foreach(c => require(
          !prior.fieldNames.exists(_.equalsIgnoreCase(c.name)),
          s"addColumns: column '${c.name}' already exists"))
        val s = types.StructType(
          prior.fields ++ cols.map(_.copy(nullable = true)))
        // id-mapped tables assign the new columns' field ids HERE —
        // the one atomic place (appends refuse unknown columns)
        Some(if (idMapped(propsOf(fs, root, head))) restampIds(prior, s)
             else s)
      })
  }

  /** `ALTER TABLE ... RENAME COLUMN` as a schema-only commit (r17
    * verdict task 4) — requires `graft.column.mapping = 'id'`: the
    * field id carries, so files written under the old name keep reading
    * correctly (parquet field-id matching), old versions time-travel
    * under the old name, and not a byte rewrites. Refused on non-mapped
    * tables (parquet matches by name — old files would silently
    * null-fill) with the documented add+backfill workaround named.
    * Props/constraints referencing the old name refuse first, like
    * [[dropColumns]]. Pre-rename manifest bounds keep the OLD name and
    * simply stop pruning new-name predicates on those files — stats are
    * an optimization, never a correctness input; the next rewrite of
    * each file re-records them. */
  def renameColumn(spark: SparkSession, table: String,
      from: String, to: String): Int = {
    require(!to.contains('\t') && !to.contains('\n') &&
        !to.startsWith("@"),
      "column names must not contain tab/newline or start with @ " +
        "(manifest line currency)")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    casCommit(fs, root, "renameColumn",
      head => manifestFiles(fs, root, head),
      head => {
        val props = propsOf(fs, root, head)
        require(idMapped(props),
          s"RENAME COLUMN requires $ColumnMappingProp='id' (a " +
            "CREATE-time property): without field ids, parquet matches " +
            "columns by name and every pre-rename file would silently " +
            "null-fill. On this table: ADD COLUMN + backfill instead.")
        val prior = schemaOf(fs, root, head).getOrElse(
          throw new IllegalStateException(
            s"renameColumn: $table has no recorded schema"))
        require(hasFieldIds(prior),
          s"renameColumn: recorded schema carries no field ids — " +
            "the table predates its mapping property (invariant broken)")
        require(prior.fieldNames.exists(_.equalsIgnoreCase(from)),
          s"renameColumn: no such column '$from' " +
            s"(table columns: ${prior.fieldNames.mkString(", ")})")
        require(!prior.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"renameColumn: column '$to' already exists")
        Seq(StatsColumnsProp, BloomColumnsProp, ClusterSortProp,
            ClusterZorderProp, PartitionedByProp, BucketByProp)
          .foreach { p =>
          props.get(p).map(splitCols).getOrElse(Nil).foreach { c =>
            require(!c.equalsIgnoreCase(from),
              s"renameColumn: column '$c' is referenced by $p — UNSET " +
                "the property first")
          }
        }
        // live equality deletes mask by NAME — a rename would orphan
        // every annotation's key and break masked reads (r19)
        requireNoLiveEqKey(fs, root, head, "renameColumn",
          _.equalsIgnoreCase(from))
        constraintsOf(props).foreach { case (cname, sqlText) =>
          val renamed = types.StructType(prior.fields.map(f =>
            if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f))
          try emptyFrame(spark, renamed)
            .where(expr(sqlText)).queryExecution.analyzed
          catch { case _: Exception =>
            throw new IllegalArgumentException(
              s"renameColumn: CHECK constraint '$cname' ($sqlText) " +
                "references the renamed column — UNSET it first")
          }
        }
        Some(types.StructType(prior.fields.map(f =>
          if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)))
      })
  }

  /** `ALTER TABLE ... DROP COLUMN` as a schema-only commit: the data
    * files keep their bytes (time travel to a pre-drop version still
    * reads the column), only the recorded schema loses the field — the
    * head read then projects it away, the same lazy-drop semantics
    * Delta/Iceberg use (physical removal happens at the next rewrite of
    * each file, e.g. compaction). Refuses when the column is referenced
    * by a skipping/clustering property: silently orphaning
    * `graft.stats.columns = 'gone_col'` would make every later commit's
    * validation throw. */
  def dropColumns(spark: SparkSession, table: String,
      names: Seq[String]): Int = {
    require(names.nonEmpty, "dropColumns: no columns given")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    casCommit(fs, root, "dropColumns",
      head => manifestFiles(fs, root, head),
      head => {
        val prior = schemaOf(fs, root, head).getOrElse(
          throw new IllegalStateException(
            s"dropColumns: $table has no recorded schema to evolve " +
              "(legacy pre-schema-tracking table — rewrite it first)"))
        names.foreach { n =>
          require(prior.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"dropColumns: no such column '$n' " +
              s"(table columns: ${prior.fieldNames.mkString(", ")})")
        }
        val props = propsOf(fs, root, head)
        Seq(StatsColumnsProp, BloomColumnsProp, ClusterSortProp,
            ClusterZorderProp, PartitionedByProp, BucketByProp)
          .foreach { p =>
          props.get(p).map(splitCols).getOrElse(Nil).foreach { c =>
            require(!names.exists(_.equalsIgnoreCase(c)),
              s"dropColumns: column '$c' is referenced by $p — UNSET " +
                "the property first")
          }
        }
        // live equality deletes mask by NAME — dropping the key column
        // would break every masked read (r19)
        requireNoLiveEqKey(fs, root, head, "dropColumns",
          c => names.exists(_.equalsIgnoreCase(c)))
        val remaining = prior.fields.filterNot(f =>
          names.exists(_.equalsIgnoreCase(f.name)))
        require(remaining.nonEmpty,
          "dropColumns: cannot drop every column of the table")
        // a CHECK constraint referencing a dropped column would turn
        // every later commit's enforcement into an analysis error —
        // prove each one still resolves against the post-drop schema
        constraintsOf(props).foreach { case (cname, sqlText) =>
          try emptyFrame(spark, types.StructType(remaining))
            .where(expr(sqlText)).queryExecution.analyzed
          catch { case _: Exception =>
            throw new IllegalArgumentException(
              s"dropColumns: CHECK constraint '$cname' ($sqlText) " +
                "references a dropped column — UNSET the property first")
          }
        }
        Some(types.StructType(remaining))
      })
  }

  /** The APPEND verb's schema record: new columns MERGE onto the prior
    * recorded schema via [[mergeWiden]] (add-column + numeric widening;
    * anything else refuses loudly), recorded all-nullable so
    * pre-evolution files null-fill under the evolved read schema. A
    * legacy head without a recorded schema stays unrecorded — inferring
    * one from this append's (possibly narrower) frame could silently
    * hide existing columns. */
  private def appendSchemaFor(fs: FileSystem, root: Path, df: DataFrame,
      newProps: Map[String, String] = Map.empty, chain: String = "")
      : Int => Option[types.StructType] =
    head =>
      if (head == 0) {
        val s = ColumnBridge.nullableSchema(df.schema)
        Some(if (idMapped(newProps)) assignIds(s) else s)
      } else {
        val headProps = propsOf(fs, root, head, chain)
        require(!idMapped(newProps) || idMapped(headProps),
          s"$ColumnMappingProp is a CREATE-time property — existing " +
            "data files carry no field ids, so enabling it later would " +
            "break id-matched reads. Rewrite into a new mapped table.")
        schemaOf(fs, root, head, chain).map { prior =>
          if (idMapped(headProps)) {
            // id-mapped: appends never mint ids (see stampFieldIds) —
            // a racing rename would otherwise desync staged footers
            // from the committed schema
            df.schema.fieldNames.foreach(n => require(
              prior.fieldNames.exists(_.equalsIgnoreCase(n)),
              s"column-mapped table: column '$n' is not in the " +
                "recorded schema — ALTER TABLE ADD COLUMN first"))
            restampIds(prior,
              mergeWiden(prior, ColumnBridge.nullableSchema(df.schema)))
          } else
            mergeWiden(prior, ColumnBridge.nullableSchema(df.schema))
        }
      }

  /** Schema-evolution merge for the APPEND verb: add-column (new fields
    * append, nullable, so pre-evolution files null-fill) PLUS lossless
    * numeric WIDENING — TINYINT/SMALLINT/INT → BIGINT and FLOAT →
    * DOUBLE, the next schema change every real pipeline makes after
    * add-column. The widened read works because Spark 4's vectorized
    * parquet reader performs widening type promotion at scan time
    * (SPARK-40876): pre-widening int32 files read cleanly under the
    * evolved BIGINT schema, no rewrite. A NARROWER append (int rows
    * into a long column) keeps the wider recorded type, also promoted
    * at read. Anything else — string → int, narrowing as a schema
    * change, decimal rescale — is REFUSED at commit time with a named
    * error: failing the append beats committing a schema the read path
    * cannot honor and failing some later merge instead. Nested structs
    * keep the parquet-merge add-field rules (no widening inside). */
  /** `ALTER TABLE … ALTER COLUMN x TYPE t` as a schema-only commit
    * (r16 verdict task 4): the file list, props and txn markers carry;
    * only the recorded schema rewrites with the column WIDENED. Old
    * files scan-promote on read (the vectorized parquet reader upcasts
    * INT32 under a BIGINT read schema — the exact mechanism the
    * append-time widening merge already proves via
    * q_snapshot_widening); no byte is rewritten. Narrowing refuses with
    * the named error — existing values could be unrepresentable — and
    * the way out (rewrite) is spelled out. */
  def updateColumnType(spark: SparkSession, table: String, name: String,
      to: types.DataType): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rank(t: types.DataType): Option[Int] = t match {
      case types.ByteType    => Some(1)
      case types.ShortType   => Some(2)
      case types.IntegerType => Some(3)
      case types.LongType    => Some(4)
      case _                 => None
    }
    casCommit(fs, root, "updateColumnType",
      head => manifestFiles(fs, root, head),
      head => {
        val prior = schemaOf(fs, root, head).getOrElse(
          throw new IllegalStateException(
            s"updateColumnType: $table has no recorded schema to evolve " +
              "(legacy pre-schema-tracking table — rewrite it first)"))
        val f = prior.fields.find(_.name.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(
            s"updateColumnType: no such column '$name' " +
              s"(table columns: ${prior.fieldNames.mkString(", ")})"))
        val widens = (f.dataType, to) match {
          case (a, b) if a == b => true
          case (types.FloatType, types.DoubleType) => true
          case (a, b) => (rank(a), rank(b)) match {
            case (Some(ra), Some(rb)) => rb >= ra
            case _ => false
          }
        }
        if (!widens) throw new IllegalArgumentException(
          s"updateColumnType: ${f.dataType.sql} -> ${to.sql} on column " +
            s"`$name` is not a widening (supported: integral -> wider " +
            "integral, FLOAT -> DOUBLE). Narrowing would make existing " +
            "values unrepresentable — rewrite the table " +
            "(replaceSnapshot) instead")
        Some(types.StructType(prior.fields.map(pf =>
          if (pf.name.equalsIgnoreCase(name)) pf.copy(dataType = to)
          else pf)))
      })
  }

  private[graft] def mergeWiden(prior: types.StructType,
      incoming: types.StructType): types.StructType = {
    def refuse(colName: String, a: types.DataType, b: types.DataType) =
      throw new IllegalArgumentException(
        "graft-manifest schema evolution: incompatible type change on " +
          s"column `$colName`: ${a.sql} -> ${b.sql}. Supported: " +
          "add-column, TINYINT/SMALLINT/INT -> BIGINT widening, " +
          "FLOAT -> DOUBLE widening. Rewrite the table " +
          "(replaceSnapshot) for anything else.")
    def integral(t: types.DataType): Boolean = t match {
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType => true
      case _ => false
    }
    def wider(a: types.DataType, b: types.DataType, colName: String)
        : types.DataType = (a, b) match {
      case (x, y) if x == y => x
      case (x, y) if integral(x) && integral(y) =>
        if (x.defaultSize >= y.defaultSize) x else y
      case (types.FloatType, types.DoubleType) |
           (types.DoubleType, types.FloatType) => types.DoubleType
      case (x: types.StructType, y: types.StructType) =>
        scala.util.Try(ColumnBridge.mergeSchemas(x, y))
          .getOrElse(refuse(colName, x, y))
      case _ => refuse(colName, a, b)
    }
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    val priorNames = prior.fieldNames.toSet
    val mergedPrior = prior.fields.map { pf =>
      inByName.get(pf.name).fold(pf)(inf =>
        pf.copy(dataType = wider(pf.dataType, inf.dataType, pf.name),
          nullable = true))
    }
    types.StructType(mergedPrior ++
      incoming.fields.filterNot(f => priorNames.contains(f.name)))
  }

  /** Thrown inside the CAS loop when an idempotent commit discovers its
    * batch already landed — control flow, not an error. */
  private object AlreadyCommitted extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Abandon a staged-but-uncommitted transaction's directory NOW
    * instead of waiting for vacuum (best effort — a failure here just
    * leaves a normal crashed-txn orphan). */
  private def dropStaged(fs: FileSystem, root: Path,
      staged: Seq[(String, Long)]): Unit =
    staged.headOption.foreach { case (rel, _) =>
      fs.delete(new Path(root, rel).getParent, true) }

  /** [[commitSnapshot]] carrying an exactly-once writer-transaction
    * marker: commits `df` AND records `appId → batchId` in the SAME
    * manifest rename — unless the head already carries a marker for
    * `appId` at or past `batchId`, in which case nothing commits and
    * None is returned (the staged files are dropped). Because the
    * marker check and the data commit are one atomic CAS, a replayed
    * streaming micro-batch (sink restart after a crash between sink
    * commit and checkpoint write) is a no-op instead of a double-write —
    * the same contract as Delta's txnAppId/txnVersion. Markers are
    * carried forward by every other verb, so an OPTIMIZE or rollback
    * between batches never forgets what was applied. */
  def commitSnapshotTxn(spark: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long,
      statsColumns: Seq[String] = Nil): Option[Int] = {
    validateStatsColumns(statsColumns)
    txnGuarded(spark, table, df, appId, batchId, "commitSnapshotTxn") {
      (fs, root, added) =>
        val entries = withStats(spark, fs, root, added, statsColumns)
        (head => (if (head == 0) Seq.empty
                  else manifestFiles(fs, root, head)) ++ entries,
         appendSchemaFor(fs, root, df))
    }
  }

  /** Full-table REPLACE (INSERT OVERWRITE): swap the ENTIRE line set
    * for `df`'s files in one commit; old files stay readable to pinned
    * versions until vacuum, like any REPLACE. */
  def replaceSnapshot(spark: SparkSession, table: String, df: DataFrame,
      statsColumns: Seq[String] = Nil): Int = {
    validateStatsColumns(statsColumns)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val added = withStats(spark, fs, root,
      stageTxn(spark, fs, root, df, allowNewIds = true), statsColumns)
    val recorded = replaceSchemaFor(fs, root, df)
    casCommit(fs, root, "replaceSnapshot", _ => added,
      _ => Some(recorded))
  }

  /** The schema a full REPLACE records: the frame's, nullable — plus,
    * on an id-mapped table, the head's field ids carried by name (the
    * staged footers were stamped from the same head, so footer and
    * record agree). */
  private def replaceSchemaFor(fs: FileSystem, root: Path,
      df: DataFrame): types.StructType = {
    val s = ColumnBridge.nullableSchema(df.schema)
    val head = currentVersion(fs, root)
    if (head > 0 && idMapped(propsOf(fs, root, head)))
      schemaOf(fs, root, head).filter(hasFieldIds)
        .map(prior => restampIds(prior, s)).getOrElse(s)
    else s
  }

  /** Full-table REPLACE with the same exactly-once marker — the
    * streaming sink's Complete-mode verb: each batch swaps the ENTIRE
    * line set for the new result (old files stay for pinned readers
    * until vacuum, like any REPLACE), idempotent on (appId, batchId). */
  def replaceSnapshotTxn(spark: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long): Option[Int] =
    txnGuarded(spark, table, df, appId, batchId, "replaceSnapshotTxn",
      allowNewIds = true) {
      (fs, root, added) =>
        val entries = withStats(spark, fs, root, added, Nil)
        val recorded = replaceSchemaFor(fs, root, df)
        (_ => entries, _ => Some(recorded))
    }

  /** The one exactly-once commit scaffold both txn verbs share: appId
    * validation, the cheap pre-check, staging, the per-attempt replay
    * re-check inside the CAS, and the abandon-on-replay cleanup. `body`
    * receives the staged file entries and returns the verb's (listFor,
    * schemaFor) pair — the only part that differs. */
  private def txnGuarded(spark: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long, op: String,
      allowNewIds: Boolean = false)(
      body: (FileSystem, Path, Seq[(String, Long)]) =>
        (Int => Seq[String], Int => Option[types.StructType]))
      : Option[Int] = {
    require(!appId.contains('\t') && !appId.contains('\n'),
      "appId must not contain tab/newline (manifest header currency)")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cheap pre-check: skip the staging write entirely on a known replay
    if (txnsOf(fs, root, currentVersion(fs, root)).get(appId)
        .exists(_ >= batchId)) return None
    val added = stageTxn(spark, fs, root, df, allowNewIds = allowNewIds)
    val (listFor, schemaFor) = body(fs, root, added)
    try Some(casCommit(fs, root, op,
      head => {
        // re-checked per CAS attempt: the replay might land between the
        // pre-check and the rename
        if (txnsOf(fs, root, head).get(appId).exists(_ >= batchId))
          throw AlreadyCommitted
        listFor(head)
      },
      schemaFor,
      _ => Map(appId -> batchId)))
    catch { case AlreadyCommitted =>
      dropStaged(fs, root, added); None
    }
  }

  /** Render staged (path, bytes) pairs as manifest lines: `path\t@bytes`
    * plus a `col\tmin\tmax` bounds group for every requested stats
    * column (ONE grouped aggregate over only the staged files computes
    * all columns' bounds at once; cost ∝ the transaction, not the
    * table). Shared by every commit verb that stages files so a
    * stats-skipping table keeps its pruning through compaction, delete
    * and merge rewrites too.
    *
    * Typing: STRING columns record lexicographic `S:` bounds
    * (categorical pruning — language, source, partition-ish keys);
    * INTEGRAL columns record lossless `L:` long bounds compared in long
    * (a double round trip on a |v| > 2^53 key could move a recorded max
    * below the true max and wrongly prune); everything else goes through
    * the double path. Columns absent from the staged frame's schema (an
    * append predating an evolved column) record no bounds — their files
    * always survive selection. */
  private def withStats(spark: SparkSession, fs: FileSystem, root: Path,
      staged: Seq[(String, Long)], statsColumns: Seq[String],
      extraProps: Map[String, String] = Map.empty)
      : Seq[String] = {
    validateStatsColumns(statsColumns) // backstop; verbs validate first
    def bare = staged.map { case (rel, len) => s"$rel\t@$len" }
    if (staged.isEmpty) return bare
    // bloom columns and CHECK constraints come from the TABLE's head
    // props, not a per-verb argument: once set, every commit verb
    // (append, replace, compact, delete-rewrite) honors them without
    // each call site having to know — the same carry discipline as the
    // props themselves. Cost on the no-stats hot path: one head-pointer
    // read + a manifest-line fetch that hits the rawManifestLines memo
    // (the committing verb reads the same head lines moments later
    // anyway) — no extra data IO.
    val headV = currentVersion(fs, root)
    val headProps = propsOf(fs, root, headV)
    val bloomBits = headProps.get(BloomBitsProp).map(_.toInt)
      .getOrElse(BloomBitsDefault)
    // (CHECK constraints are NOT enforced here: the per-attempt gate
    // inside casCommit validates the added lines against the props of
    // the exact head each attempt rebases onto — enforcement out here
    // would both double the scan and leave the TOCTOU a concurrently
    // added constraint opens. See AttemptConstraintGate.)
    val stagedPaths =
      staged.map { case (rel, _) => new Path(root, rel).toString }
    // declared partition columns ALWAYS get bounds, whatever the verb's
    // caller passed: the single-value-per-file invariant the fanout
    // stager maintains is only USEFUL (pruning + SPJ grouping) if every
    // commit records it, and a programmatic commitSnapshot(df) must not
    // silently break the table's join eligibility. extraProps = a
    // create-with-data verb's own props (not head props yet).
    val allProps = headProps ++ extraProps
    // the caller's columns UNION the declared graft.stats.columns (the
    // prop means "every commit records these" — a CREATE commit passes
    // it only through extraProps, and before r19 its staged empty file
    // silently carried no groups) UNION the partition columns
    val statsAll = (statsColumns ++
      allProps.get(StatsColumnsProp).map(splitCols).getOrElse(Nil) ++
      allProps.get(PartitionedByProp)
      .map(splitCols).getOrElse(Nil)).distinct
    // bucket layout: each staged file's bucket id, recorded as the
    // synthetic `#bucket` group — min==max per file is the invariant
    // the fanout stager maintains and the SPJ grouping reads back
    val bucketSpec = allProps.get(BucketByProp)
      .zip(allProps.get(BucketCountProp))
      .map { case (c, n) => (c, n.toInt) }
    if (statsAll.isEmpty && !allProps.contains(BloomColumnsProp) &&
        bucketSpec.isEmpty)
      return bare
    // footer-typed: schema inference would schedule a Spark job per
    // commit (~70-90 ms with scheduling, r21 StageProbe)
    val df = readSidecars(spark, stagedPaths)
    def isIntegral(dt: types.DataType) = dt match {
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType => true
      case _ => false
    }
    // blooms only for probe-able types; others were refused at DDL time
    val bloomCols = allProps.get(BloomColumnsProp).map(splitCols)
      .getOrElse(Nil)
      .filter(df.columns.contains)
      .filter(c => isIntegral(df.schema(c).dataType) ||
        df.schema(c).dataType == types.StringType)
    val present = statsAll.filter(df.columns.contains)
    val bucket = bucketSpec.filter { case (c, _) =>
      df.columns.contains(c) && (isIntegral(df.schema(c).dataType) ||
        df.schema(c).dataType == types.StringType)
    }
    if (present.isEmpty && bloomCols.isEmpty && bucket.isEmpty)
      return bare
    def keyed(c: String): Column = df.schema(c).dataType match {
      case types.StringType           => col(c)
      case dt if isIntegral(dt)       => col(c).cast("long")
      case _                          => col(c).cast("double")
    }
    // identity partition columns get a SECOND, null-PROVED group
    // (`#p:<col>`) alongside the plain bounds: min/max ignore NULLs, so
    // min==max alone cannot prove a file single-valued — a file mixing
    // one value with NULL rows keyed by its bounds would let the SPJ
    // grouping emit NULL-group rows under the wrong partition (wrong
    // GROUP BY results, silently). spjFileKeys therefore keys identity
    // layouts ONLY on #p groups, which are written exactly when
    // count(col) == count(*) for the file; the fanout stager routes
    // NULL rows to their own file, which then lacks the group and
    // soundly disables SPJ for the snapshot. Plain bounds (pruning)
    // are unchanged.
    val partNn = allProps.get(PartitionedByProp).map(splitCols)
      .getOrElse(Nil).filter(df.columns.contains)
    // NDV sketch columns (r19): every DECLARED stats column also
    // records a per-file KMV sketch — the commit already reads these
    // bytes, so planner statistics (scanStats → estimateStatistics)
    // come free of any later ANALYZE scan. Hashable types only, and
    // declared columns only: a partition column's NDV is its group
    // count, not worth a per-file sketch on every commit.
    val declared = (statsColumns ++
      allProps.get(StatsColumnsProp).map(splitCols).getOrElse(Nil))
      .distinct
    val ndvCols = present.filter(declared.contains).filter(c =>
      isIntegral(df.schema(c).dataType) ||
        df.schema(c).dataType == types.StringType)
    val aggs = present.flatMap(c =>
      Seq(min(keyed(c)).as(s"__mn_$c"), max(keyed(c)).as(s"__mx_$c"))) ++
      bloomCols.map(c => graft.functions.FileBloom
        .fileBloom(keyed(c), bloomBits).as(s"__bl_$c")) ++
      bucket.toSeq.flatMap { case (c, n) =>
        val e = bucketPlacementExpr(df.schema, c, n)
        // count(e) == count(*) is the bucket group's null-free proof
        Seq(min(e).as("__bk_mn"), max(e).as("__bk_mx"),
          count(e).as("__bk_nn"))
      } ++
      Seq(count(lit(1)).as("__rows")) ++
      partNn.map(c => count(col(c)).as(s"__nn_$c")) ++
      ndvCols.flatMap(c => Seq(
        graft.functions.KmvDistinct
          .kmvSketch(xxhash64(col(c)), NdvSketchK).as(s"__kv_$c"),
        // non-null count per file: the planner's ColumnStat needs
        // nullCount alongside NDV (hasCountStats) or the estimator
        // ignores the column entirely
        count(col(c)).as(s"__kn_$c")))
    // AQE off for THIS control-plane aggregate only: its reduce side is
    // ≤ one row per staged file at any scale (per-file min/max/sketch),
    // so adaptive replanning can never help, and AQE's per-shuffle stage
    // materialization turns the collect into TWO scheduled jobs — the
    // r21 StageProbe measured the extra job + replan at ~60-100 ms per
    // commit across every committing verb. Set/restore on the session:
    // the engine's verbs are driver-sequential per commit, and a
    // concurrently PLANNED user query would only momentarily lose AQE
    // (a plan property, never a result).
    val rows = controlPlane(spark) {
      df.groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.tail: _*).collect()
    }
    val rowsIdx = 1 + 2 * present.size + bloomCols.size +
      (if (bucket.isDefined) 3 else 0)
    val rendered: Map[String, String] = rows.map { r =>
      val groups = new StringBuilder
      val pairs = scala.collection.mutable.Map.empty[String, (String, String)]
      present.zipWithIndex.foreach { case (c, i) =>
        val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
        if (!r.isNullAt(mnI) && !r.isNullAt(mxI)) { // all-null → no bounds
          val pair: Option[(String, String)] =
            df.schema(c).dataType match {
              case types.StringType =>
                Some((encBound(r.getString(mnI)),
                  encBound(r.getString(mxI))))
              case dt if isIntegral(dt) =>
                Some((LongPfx + r.getLong(mnI), LongPfx + r.getLong(mxI)))
              case _ =>
                // NaN poisons range comparisons (every NaN compare is
                // false → a NaN bound would WRONGLY prune a file that
                // has in-range rows): record no bounds, file survives
                val (mn, mx) = (r.getDouble(mnI), r.getDouble(mxI))
                if (mn.isNaN || mx.isNaN) None
                else Some((mn.toString, mx.toString))
            }
          pair.foreach { case (mn, mx) =>
            pairs(c) = (mn, mx)
            groups ++= s"\t$c\t$mn\t$mx"
          }
        }
      }
      // null-proved partition groups: same bound pair, #p:-prefixed
      // name, written only when the file has ZERO nulls in the column
      partNn.zipWithIndex.foreach { case (c, k) =>
        if (pairs.contains(c) &&
            r.getLong(rowsIdx + 1 + k) == r.getLong(rowsIdx)) {
          val (mn, mx) = pairs(c)
          groups ++= s"\t$PartGroupPfx$c\t$mn\t$mx"
        }
      }
      // bloom groups ride the same triple grammar with the "B:" prefix
      // in the bound slots — bounds readers (entryBounds/decodePair)
      // skip them by construction, so old tables and mixed lines parse
      bloomCols.zipWithIndex.foreach { case (c, j) =>
        val idx = 1 + 2 * present.size + j
        if (!r.isNullAt(idx)) {
          val t =
            if (df.schema(c).dataType == types.StringType) "S" else "L"
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](idx))
          groups ++= s"\t$c\t$BloomPfx$t:$b64\t$BloomPfx"
        }
      }
      // the synthetic bucket-id group: long bounds under the `#bucket`
      // name (never collides with a column — '#' only means header at
      // LINE start); written only when the file is null-FREE on the
      // bucket expression — a null key row in a keyed file would ride
      // the wrong partition in the SPJ grouping
      bucket.foreach { case (c, n) =>
        val base = 1 + 2 * present.size + bloomCols.size
        if (!r.isNullAt(base) && !r.isNullAt(base + 1) &&
            r.getLong(base + 2) == r.getLong(rowsIdx))
          groups ++= s"\t${bucketGroup(c, n)}\t$LongPfx${r.getLong(base)}" +
            s"\t$LongPfx${r.getLong(base + 1)}"
      }
      // planner statistics (r19): exact per-file row count as a bounds
      // group, plus one KMV sketch group per hashable stats column
      groups ++= s"\t$RowsGroup\t$LongPfx${r.getLong(rowsIdx)}" +
        s"\t$LongPfx${r.getLong(rowsIdx)}"
      val ndvBase = rowsIdx + 1 + partNn.size
      ndvCols.zipWithIndex.foreach { case (c, j) =>
        val idx = ndvBase + 2 * j
        if (!r.isNullAt(idx)) {
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](idx))
          val nulls = r.getLong(rowsIdx) - r.getLong(idx + 1)
          groups ++= s"\t$c\t$KmvPfx$nulls:$b64\t$KmvPfx"
        }
      }
      fsPathOf(r.getString(0)) -> groups.result()
    }.toMap
    staged.map { case (rel, len) =>
      val k = fsPathOf(fs.makeQualified(new Path(root, rel)).toString)
      // a staged file with NO aggregate row holds zero rows (the
      // groupBy saw none of it — e.g. the CREATE commit's empty
      // stage): its exact row count is 0, and recording it keeps
      // scanStats' "every line counted" invariant instead of one
      // empty file degrading the snapshot to rows-unknown
      s"$rel\t@$len" + rendered.getOrElse(k,
        s"\t$RowsGroup\t${LongPfx}0\t${LongPfx}0")
    }
  }

  /** A version's concrete file paths + recorded schema — what a batch
    * relation provider needs to hand the file-source machinery
    * (pushdown, pruning, vectorized read) a snapshot without going
    * through a DataFrame first. */
  private[graft] def snapshotLayout(spark: SparkSession, table: String,
      version: Option[Int], dvFreeOnly: Boolean = false,
      chain: String = "")
      : (Seq[String], Option[types.StructType]) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, root, chain))
    require(v > 0, s"snapshotLayout: no committed version in $table" +
      (if (chain.isEmpty) "" else s" (chain $chain)"))
    val lines = manifestFiles(fs, root, v, chain)
    // "dv-free" means MASK-free: equality deletes (r19) disqualify a
    // file from the vectorized branch exactly as position dvs do
    ((if (dvFreeOnly) lines.filter(l =>
        entryDvs(l).isEmpty && entryEqs(l).isEmpty) else lines)
       .map(l => new Path(root, entryPath(l)).toString),
     schemaOf(fs, root, v, chain))
  }

  /** Storage-partitioned-join (SPJ) grouping of a snapshot (r18): when
    * EVERY data file of `version` is single-valued on every declared
    * partition column — manifest bounds with min == max, the invariant
    * the [[stageTxn]] fanout writer maintains — returns the partition
    * columns plus each file's (size, key values), keyed by the same
    * unqualified absolute path [[snapshotLayout]] renders. Key values
    * are Long for integral columns, String for string columns (the two
    * bound types whose min==max PROVES single-valuedness; double bounds
    * are excluded — NaN/-0.0 equality is not value identity).
    *
    * None whenever ANY file lacks the invariant: SPJ silently degrades
    * to the plain vectorized scan rather than ever risk a wrong
    * grouping — a wrong group here WOULD be a wrong answer downstream,
    * because Spark elides the join shuffle on the strength of this
    * report. Multi-value files enter a partitioned table only through
    * pre-feature history or MOR delta-inserts; one compaction restores
    * eligibility (its rewrite re-stages through the fanout writer). */
  /** Snapshot planner statistics from manifest lines alone — the
    * ANALYZE that never scans (r19 verdict task 6): exact row count
    * (the per-file `#rows` groups summed; None if ANY file predates
    * them — one legacy file degrades to "unknown" rather than lie) and
    * per-column NDV estimates (per-file KMV sketches merged — k-min
    * union is associative, so the merged estimate equals a direct
    * sketch of the union). Deletion vectors are ignored: a dv-masked
    * snapshot's counts are upper bounds until compaction — fine for
    * statistics, which are estimates by contract. O(manifest), zero
    * data IO; served to the planner through estimateStatistics. */
  private[graft] def scanStats(spark: SparkSession, table: String,
      version: Int): (Option[Long], Map[String, (Long, Long)]) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (version <= 0) return (None, Map.empty)
    val lines = manifestFiles(fs, root, version)
    if (lines.isEmpty) return (Some(0L), Map.empty)
    var rows = 0L
    var haveRows = true
    val sketches = scala.collection.mutable.Map
      .empty[String, java.util.TreeSet[java.lang.Long]]
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    lines.foreach { l =>
      if (haveRows) entryBounds(l).get(RowsGroup) match {
        case Some(LongBounds(n, _)) => rows += n
        case _                      => haveRows = false
      }
      entryKmvs(l).foreach { case (c, (nn, bytes)) =>
        val buf = sketches.getOrElseUpdate(c,
          new java.util.TreeSet[java.lang.Long](
            graft.functions.KmvDistinct.UnsignedOrd))
        graft.functions.KmvDistinct.mergeBytes(buf, bytes, NdvSketchK)
        nulls.updateWith(c)(p => Some(p.getOrElse(0L) + nn))
      }
    }
    (if (haveRows) Some(rows) else None,
      sketches.map { case (c, buf) =>
        c -> (graft.functions.KmvDistinct.estimate(buf, NdvSketchK),
          nulls.getOrElse(c, 0L))
      }.toMap)
  }

  private[graft] def spjFileKeys(spark: SparkSession, table: String,
      version: Int): Option[(SpjShape, Map[String, (Long, Seq[Any])])] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (version <= 0) return None
    val props = propsOf(fs, root, version)
    val bucketSpec = props.get(BucketByProp).zip(props.get(BucketCountProp))
      .map { case (c, n) => (c, n.toInt) }
    val partCols = props.get(PartitionedByProp).map(splitCols)
      .getOrElse(Nil)
    // a bucket layout keys on the recorded `#bucket` group; an identity
    // layout on the NULL-PROVED `#p:<col>` groups — never the plain
    // bounds, whose min/max ignore nulls and so cannot prove a file
    // single-valued (a value+NULL mix keyed by its bounds would emit
    // NULL-group rows under the wrong partition downstream)
    val keyCols = bucketSpec.fold(partCols.map(PartGroupPfx + _)) {
      case (c, n) => Seq(bucketGroup(c, n))
    }
    if (keyCols.isEmpty) return None
    val lines = manifestFiles(fs, root, version)
    if (lines.isEmpty) return None
    val keys = Map.newBuilder[String, (Long, Seq[Any])]
    val it = lines.iterator
    while (it.hasNext) {
      val l = it.next()
      val b = entryBounds(l)
      val vs = Array.ofDim[Any](keyCols.size)
      var i = 0
      var ok = true
      while (ok && i < keyCols.size) {
        b.get(keyCols(i)) match {
          case Some(LongBounds(mn, mx)) if mn == mx => vs(i) = mn
          case Some(StrBounds(mn, mx)) if mn == mx  => vs(i) = mn
          case _                                    => ok = false
        }
        i += 1
      }
      if (!ok) return None
      val rel = entryPath(l)
      val size = entrySize(l).getOrElse(
        fs.getFileStatus(new Path(root, rel)).getLen)
      keys += new Path(root, rel).toString -> ((size, vs.toSeq))
    }
    Some((bucketSpec.fold[SpjShape](SpjIdentity(partCols)) {
      case (c, n) => SpjBucket(c, n)
    }, keys.result()))
  }

  /** `version`'s live deletion vectors resolved to the SQL scan's
    * currency: qualified absolute data-file path → SORTED deleted row
    * ordinals. Empty for tables no MOR delete ever touched (the common
    * case — the SQL scan then takes the vectorized path untouched).
    * Driver-side materialization is deliberate: the positions must
    * reach every reader task anyway (Delta ships its deletion vectors
    * the same way), the volume is ∝ LIVE deleted rows — bounded by
    * compaction cadence, not table size — and one sidecar read here
    * spares a per-task sidecar fetch. */
  private[graft] def versionDvs(spark: SparkSession, table: String,
      version: Int): Map[String, Array[Long]] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = manifestFiles(fs, root, version)
    val dvLines = lines.filter(l => entryDvs(l).nonEmpty)
    if (dvLines.isEmpty) return Map.empty
    val absByGrp = dvLines.map { l =>
      val rel = entryPath(l)
      grpOfRel(rel) -> fs.makeQualified(new Path(root, rel)).toString
    }.toMap
    val dvPaths = dvLines.flatMap(entryDvs).distinct
      .map(r => new Path(root, r).toString)
    controlPlane(spark) {
      readSidecars(spark, dvPaths)
        .groupBy("grp")
        .agg(sort_array(collect_set(col("pos"))).as("ps"))
        .collect()
    }
      .flatMap { r =>
        // a sidecar may carry groups whose lines were since compacted
        // away in a later version — this version's map keys only what
        // its own lines reference
        absByGrp.get(r.getString(0)).map(abs =>
          abs -> r.getSeq[Long](1).toArray)
      }.toMap
  }

  /** Open manifest-listed files under `version`'s RECORDED schema when
    * present: files older than an added column null-fill it, files newer
    * than a rollback target project it away — either way the reader sees
    * the schema that was the table's contract AT that version, which is
    * what makes time travel honest under evolution. Pre-schema-tracking
    * manifests fall back to footer inference (the old behavior). */
  private def readVersionFiles(spark: SparkSession, fs: FileSystem,
      root: Path, v: Int, paths: Seq[String]): DataFrame = {
    val r = spark.read
    schemaOf(fs, root, v).fold(r)(s => {
      ensureFieldIdRead(spark, s) // id-mapped tables match by field id
      r.schema(s)
    }).parquet(paths: _*)
  }

  /** Read parquet files this engine wrote itself — position-delete
    * sidecars and just-staged txn files — under the schema of their
    * footer, read on the driver
    * ([[ColumnBridge.parquetFooterSchema]]: the same footer and the same
    * conversion inference uses). A schema-less `spark.read.parquet`
    * would infer it through a 1-task Spark job on every read, and in
    * `maskedDvRead` that job would run inside the optimizer. */
  private[graft] def readSidecars(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.schema(ColumnBridge.parquetFooterSchema(spark, paths))
      .parquet(paths: _*)

  /** Read a set of manifest LINES under `v`'s recorded schema with
    * merge-on-read deletion vectors ANTI-APPLIED — the one read core
    * every snapshot consumer (readSnapshot, the skipping reads, the
    * rewrite verbs, compaction) goes through, so a position-deleted row
    * is invisible everywhere at once. Mechanics: lines WITHOUT dv
    * groups read on the plain vectorized path, untouched; lines WITH
    * dv groups read with `_metadata` (file grp + row ordinal) and
    * anti-join the union of their position-delete sidecars on
    * (grp, pos) — cost ∝ live deleted rows, and Catalyst broadcasts
    * the delete side while it is small (the normal case between
    * compactions; `CALL system.compact` re-materializes to zero).
    * The ordinal currency is `_metadata.row_index`, which Spark keeps
    * correct under row-group skipping — the same contract Delta's
    * deletion vectors rely on. */
  private[graft] def readManifestLines(spark: SparkSession,
      fs: FileSystem, root: Path, v: Int,
      lines: Seq[String]): DataFrame = {
    def absOf(ls: Seq[String]) =
      ls.map(l => new Path(root, entryPath(l)).toString)
    /** Position-dv masking of `ls` (split inside: only its dv-carrying
      * lines pay the ordinal read). */
    def dvApplied(ls: Seq[String]): DataFrame = {
      val (dvLines, plain) = ls.partition(l => entryDvs(l).nonEmpty)
      if (dvLines.isEmpty)
        return readVersionFiles(spark, fs, root, v, absOf(plain))
      val dvPaths = dvLines.flatMap(entryDvs).distinct
        .map(r => new Path(root, r).toString)
      val del = readSidecars(spark, dvPaths)
        .select(col("grp").as("__grp"), col("pos").as("__pos"))
      val masked = readVersionFiles(spark, fs, root, v, absOf(dvLines))
        .withColumn("__grp",
          substring_index(col("_metadata.file_path"), "/", -2))
        .withColumn("__pos", col("_metadata.row_index"))
        .join(del, Seq("__grp", "__pos"), "left_anti")
        .drop("__grp", "__pos")
      if (plain.isEmpty) masked
      else masked.unionByName(
        readVersionFiles(spark, fs, root, v, absOf(plain)))
    }
    if (lines.isEmpty) {
      val sch = schemaOf(fs, root, v).getOrElse(types.StructType(Nil))
      return emptyFrame(spark, sch)
    }
    // equality deletes (r19): lines sharing an identical eq-sidecar
    // SET anti-join against the union of exactly those keys — sets are
    // per-line because each upsert annotates only the lines at ITS
    // head (sets nest as upserts accumulate; a file is masked by every
    // eq delete committed after it and by none committed before).
    // Position dvs compose underneath: dv masking first, then the key
    // anti-join. Sorted group order keeps the plan deterministic.
    // Cost: one plan branch per DISTINCT set — i.e. per upsert since
    // the last compaction — and nested sets re-read shared sidecars
    // once per branch; like dv sidecar volume, this is bounded by
    // maintenance cadence (compact/only_dv resets it to zero), the
    // same bargain every MOR design strikes.
    val eqGroups = lines.groupBy(l => entryEqs(l).toSet).toSeq
      .sortBy(_._1.toSeq
        .map { case (rel, cols) => rel + ";" + cols.mkString(",") }
        .sorted.mkString("|"))
    val keyFooters = // per path: the sets nest
      scala.collection.mutable.Map.empty[String, types.StructType]
    val parts = eqGroups.map { case (eqSet, ls) =>
      val base = dvApplied(ls)
      if (eqSet.isEmpty) base
      else {
        val keyLists = eqSet.map(_._2)
        require(keyLists.size == 1,
          s"equality deletes with mixed key columns on one file: " +
            s"${keyLists.map(_.mkString("+")).mkString(", ")} — compact " +
            "before changing keys")
        val cols = keyLists.head
        // each key file's own footer, the footers widened into one
        // schema: upserts may key one column int, then long, and no
        // single footer's type reads both files
        val paths = eqSet.map(e => new Path(root, e._1).toString).toSeq
        val keySchema = paths.map(p => keyFooters.getOrElseUpdate(p,
            ColumnBridge.parquetFooterSchema(spark, Seq(p))))
          .reduce(mergeWiden)
        // no .distinct(): an anti-join is idempotent in its build keys,
        // and this plan is INJECTED into an already-running optimizer
        // by MorPerFileDispatch — a Deduplicate node here would arrive
        // after the batch that rewrites it into an Aggregate and fail
        // planning (the sidecars are distinct-at-write anyway)
        val keys = spark.read.schema(keySchema).parquet(paths: _*)
          .select(cols.map(col): _*)
        base.join(keys, cols, "left_anti")
      }
    }
    parts.reduce(_ unionByName _)
  }

  /** The dv-applying read of ONLY `version`'s dv-CARRYING files — the
    * masked branch of the SQL scan's per-file MOR dispatch
    * ([[graft.sql.MorPerFileDispatch]]): the optimizer serves a
    * dv-carrying version as Union(vectorized BatchScan over dv-free
    * files, this plan), so one trickle-deleted file never costs a
    * table-wide vectorization loss (r17 verdict task 1). Empty frame
    * when the version carries no dvs. */
  private[graft] def maskedDvRead(spark: SparkSession, table: String,
      version: Int): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvLines = manifestFiles(fs, root, version)
      .filter(l => entryDvs(l).nonEmpty || entryEqs(l).nonEmpty)
    if (dvLines.isEmpty)
      emptyFrame(spark,
        schemaOf(fs, root, version).getOrElse(types.StructType(Nil)))
    else readManifestLines(spark, fs, root, version, dvLines)
  }

  /** Read `table` as of `version` (default: newest) — manifest-listed
    * files only, never a directory listing; schema = the version's
    * recorded schema (see [[versionSchema]]); merge-on-read deletion
    * vectors applied. */
  def readSnapshot(spark: SparkSession, table: String,
                   version: Option[Int] = None): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, root))
    require(v > 0, s"readSnapshot: no committed version in $table")
    readManifestLines(spark, fs, root, v, manifestFiles(fs, root, v))
  }

  /** File-skipping predicates evaluable against recorded per-file
    * bounds. A file survives a [[Skip]] unless its recorded bounds for
    * that column PROVE no row can match — no bounds, or bounds of a
    * different type, always survive: stats are an optimization, never a
    * correctness input. */
  sealed trait Skip { def column: String }
  /** column ∈ [lo, hi] (numeric bounds; long-typed legs compare in long) */
  final case class SkipRange(column: String, lo: Long, hi: Long)
      extends Skip
  /** column = value (lexicographic string bounds) */
  final case class SkipEquals(column: String, value: String) extends Skip
  /** column ∈ values — the IN-list shape (the flagship's three filters) */
  final case class SkipIn(column: String, values: Seq[Long]) extends Skip

  /** a ≤ b under UTF8String (binary UTF-8) order — the collation Spark's
    * min/max used when the bounds were recorded. */
  private def utf8Leq(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0

  private def survives(bounds: Map[String, ColBounds], s: Skip): Boolean =
    bounds.get(s.column) match {
      case None => true
      case Some(b) => (s, b) match {
        // integral bounds compare in LONG, never through double — see
        // the 2^53 note on the line grammar
        case (SkipRange(_, lo, hi), LongBounds(mn, mx)) =>
          mx >= lo && mn <= hi
        case (SkipRange(_, lo, hi), NumBounds(mn, mx)) =>
          mx >= lo && mn <= hi
        // string bounds were recorded by Spark min/max, i.e. UTF8String
        // order (binary UTF-8 bytes); membership must compare in the
        // SAME collation. Java String <= is UTF-16 code-unit order,
        // which disagrees above the BMP (supplementary characters sort
        // below U+E000..U+FFFF in UTF-16 but above them in UTF-8), so
        // a file whose rows DO match could be wrongly pruned (r15
        // advice). utf8Leq compares as Spark recorded.
        case (SkipEquals(_, v), StrBounds(mn, mx)) =>
          utf8Leq(mn, v) && utf8Leq(v, mx)
        case (SkipIn(_, vs), LongBounds(mn, mx)) =>
          vs.exists(v => mn <= v && v <= mx)
        case (SkipIn(_, vs), NumBounds(mn, mx)) =>
          vs.exists(v => mn <= v && v <= mx)
        case _ => true // bounds of another type can prove nothing
      }
    }

  /** Bloom-filter membership leg of file skipping: a file survives an
    * equality / IN probe unless its recorded bloom PROVES every probed
    * value absent. Range predicates only consult the bloom when they
    * are a point (lo == hi — the shape integral equality translates
    * to); a true range cannot be bloom-probed. Missing blooms, foreign
    * type tags, or non-point shapes always survive — optimization,
    * never correctness. */
  private def survivesBloom(
      blooms: Map[String, (Char, Array[Byte])], s: Skip): Boolean =
    blooms.get(s.column) match {
      case None => true
      case Some((t, bloom)) =>
        import graft.functions.FileBloom
        s match {
          case SkipEquals(_, v) if t == 'S' =>
            FileBloom.mightContainString(bloom, v)
          case SkipRange(_, lo, hi) if t == 'L' && lo == hi =>
            FileBloom.mightContainLong(bloom, lo)
          case SkipIn(_, vs) if t == 'L' =>
            vs.exists(FileBloom.mightContainLong(bloom, _))
          case _ => true
        }
    }

  /** The file-skipping decision over ANY conjunction of predicates,
    * factored out so SnapshotIsolationSpec can assert the pruned set
    * directly: (surviving lines, total lines). A file is dropped when
    * any ONE predicate's bounds rule it out — conjunctive semantics,
    * which is what makes multi-column stats pay: a z-ordered table
    * records bounds for both clustering columns and each prunes
    * independently. */
  private[graft] def fileSelection(spark: SparkSession, table: String,
      skips: Seq[Skip], version: Option[Int] = None,
      dvFreeOnly: Boolean = false)
      : (Seq[String], Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, root))
    require(v > 0, s"fileSelection: no committed version in $table")
    val all = manifestFiles(fs, root, v)
    // a dv-free branch scan (MOR per-file dispatch) prunes within ITS
    // file universe only — a kept dv-carrying file must never slip into
    // the vectorized branch (its deleted rows would resurrect)
    val lines =
      if (dvFreeOnly) all.filter(l =>
        entryDvs(l).isEmpty && entryEqs(l).isEmpty) else all
    // bucket pruning (r18): on a `PARTITIONED BY (bucket(N, col))`
    // table, an equality/IN conjunct on the bucket column maps to the
    // placement ids — keep only files whose recorded `#bucket` group
    // can hold one of them. The raw column's [min,max] bounds are
    // USELESS on a bucketed layout (hashing scatters ranges, every
    // file spans the domain); the bucket id is the index that works:
    // a point lookup on a 100 TB bucketed fact opens 1/N of the files.
    // Sound because pmod placement is total — every row with col = v
    // lives in bucket pmod(v, N); files without the group survive
    // (stats are advisory). Range conjuncts don't map (by design —
    // that's what sort/z-order layouts are for).
    // each entry pairs the SPEC-QUALIFIED group name with the matching
    // ids — a file placed under any OTHER spec lacks the group and
    // survives, so pruning can never act on stale placement (r19)
    val bucketIdSets: Seq[(String, Seq[Long])] = {
      val spec = propsOf(fs, root, v).get(BucketByProp)
        .zip(propsOf(fs, root, v).get(BucketCountProp))
        .map { case (c, n) => (c, n.toLong) }
      spec.toSeq.flatMap { case (c, n) =>
        val g = bucketGroup(c, n.toInt)
        skips.flatMap {
          case SkipRange(`c`, lo, hi) if lo == hi =>
            Some(g -> Seq(((lo % n) + n) % n))
          case SkipIn(`c`, vs) =>
            Some(g -> vs.map(x => ((x % n) + n) % n).distinct)
          // string bucket layout (r19): equality on the key maps
          // through the SAME hash the fanout writer placed by
          case SkipEquals(`c`, s) => Some(g -> Seq(strBucketId(s, n)))
          case _ => None
        }
      }
    }
    val kept = lines.filter { line =>
      val b = entryBounds(line)
      lazy val bl = entryBlooms(line)
      skips.forall(s =>
        survives(b, s) && (bl.isEmpty || survivesBloom(bl, s))) &&
        bucketIdSets.forall { case (g, ids) => b.get(g) match {
          case Some(LongBounds(mn, mx)) => ids.exists(i => i >= mn && i <= mx)
          case _                        => true
        } }
    }
    (kept, lines.size)
  }

  /** [[fileSelection]] resolved to absolute file paths — the SQL
    * catalog's manifest-pruning hook (SnapshotScanBuilder): SQL `WHERE`
    * conjuncts that translate to [[Skip]]s drop whole files from the
    * DSv2 scan before any parquet footer opens, the same decision
    * [[readSnapshotWhere]] makes for the Scala verbs. Returns (kept
    * absolute paths, total files in the version). */
  private[graft] def prunedFilePaths(spark: SparkSession, table: String,
      skips: Seq[Skip], version: Option[Int],
      dvFreeOnly: Boolean = false): (Seq[String], Int) = {
    val (kept, total) =
      fileSelection(spark, table, skips, version, dvFreeOnly)
    val root = new Path(table)
    (kept.map(l => new Path(root, entryPath(l)).toString), total)
  }

  private[graft] def rangeFileSelection(spark: SparkSession, table: String,
      column: String, lo: Long, hi: Long, version: Option[Int] = None)
      : (Seq[String], Int) =
    fileSelection(spark, table, Seq(SkipRange(column, lo, hi)), version)

  private[graft] def eqFileSelection(spark: SparkSession, table: String,
      column: String, value: String, version: Option[Int] = None)
      : (Seq[String], Int) =
    fileSelection(spark, table, Seq(SkipEquals(column, value)), version)

  /** The exact Column predicate a [[Skip]] stands for — re-applied on
    * the pruned scan, so results are identical whether bounds were
    * recorded or not. */
  private def predicateOf(s: Skip): Column = s match {
    case SkipRange(c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
    case SkipEquals(c, v)     => col(c) === lit(v)
    case SkipIn(c, vs)        => col(c).isin(vs: _*)
  }

  private def emptyFrame(spark: SparkSession, s: types.StructType) =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), s)

  /** Snapshot read with MANIFEST-level data skipping over any
    * conjunction of predicates: files whose recorded bounds rule out
    * ANY predicate are dropped from the read set before a single
    * parquet footer is opened — at 100 TB on an object store that is
    * the difference between one manifest read and N per-file round
    * trips, and it composes with (sits above) the parquet row-group
    * pruning that still applies inside surviving files. The exact
    * predicates are re-applied on the scan. When EVERY file is pruned,
    * the read returns an EMPTY frame under the version's recorded
    * schema — a legitimately selective query is not an error; only a
    * legacy table predating recorded schemas refuses, since zero files
    * leave its schema unknowable. */
  def readSnapshotWhere(spark: SparkSession, table: String,
      skips: Seq[Skip], version: Option[Int] = None): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.getOrElse(currentVersion(fs, root))
    val (kept, _) = fileSelection(spark, table, skips, Some(v))
    val base =
      if (kept.nonEmpty)
        readManifestLines(spark, fs, root, v, kept)
      else schemaOf(fs, root, v) match {
        case Some(s) => emptyFrame(spark, s)
        case None => throw new IllegalArgumentException(
          s"readSnapshotWhere: every file of $table pruned, and the " +
            "table predates recorded schemas (zero files leave its " +
            "schema unknowable) — read the snapshot and filter instead")
      }
    skips.foldLeft(base)((df, s) => df.where(predicateOf(s)))
  }

  /** Range read with manifest-level skipping — [[readSnapshotWhere]]
    * with one [[SkipRange]]. */
  def readSnapshotRange(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long, version: Option[Int] = None): DataFrame =
    readSnapshotWhere(spark, table, Seq(SkipRange(column, lo, hi)), version)

  /** Point read on a categorical column with manifest-level skipping —
    * the hive-partition-pruning shape without hive directories: land
    * the table range-clustered on the column (so files hold contiguous
    * value runs and bounds are tight), and an equality read opens only
    * the files whose recorded lexicographic [min, max] straddles the
    * value. At a 100 TB corpus keyed by language or source this is the
    * difference between scanning one language's files and opening every
    * footer. */
  def readSnapshotEquals(spark: SparkSession, table: String,
      column: String, value: String,
      version: Option[Int] = None): DataFrame =
    readSnapshotWhere(spark, table, Seq(SkipEquals(column, value)), version)

  /** CDC-style incremental read: the rows APPENDED after `fromVersion`
    * up to and including `toVersion` — the consumer loop that keeps a
    * downstream rollup O(delta) instead of O(history) reads exactly
    * this between checkpoints (same consumption contract as an Iceberg
    * incremental scan). Valid only across APPEND commits: data files
    * are immutable and appends only add lines, so the added rows ARE
    * the line-set difference. A REPLACE commit in the range (compact /
    * delete / merge) rewrites rows it did not logically change, so
    * row-level change semantics would need delete-file machinery —
    * detected (fromVersion's lines no longer a subset) and rejected
    * loudly rather than answered wrong. */
  def readChanges(spark: SparkSession, table: String,
                  fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from =
      if (fromVersion == 0) Set.empty[String]
      else manifestFiles(fs, root, fromVersion).toSet
    val to = manifestFiles(fs, root, toVersion)
    require(from.subsetOf(to.toSet),
      s"readChanges: a REPLACE commit landed in ($fromVersion, $toVersion] " +
        "— line-set diff is not a row-level change log across rewrites")
    val added = to.filterNot(from)
    // only open the files actually returned: reading the full snapshot
    // for schema when the delta is non-empty would cost a footer pass
    // over the whole table per incremental poll; both branches read
    // under toVersion's recorded schema (the consumer's contract)
    if (added.isEmpty)
      readVersionFiles(spark, fs, root, toVersion,
        to.map(l => new Path(root, entryPath(l)).toString))
        .where(lit(false)) // empty delta, stable schema
    else readVersionFiles(spark, fs, root, toVersion,
      added.map(l => new Path(root, entryPath(l)).toString))
  }

  /** [[readChanges]]' file-set core, for consumers that plan their own
    * scan (the SQL `CALL system.changes` procedure): (added absolute
    * paths, toVersion's schema — recorded, or inferred from the delta's
    * own footers for legacy tables). Same APPEND-only contract and loud
    * REPLACE rejection. */
  private[graft] def changedFilesWithSchema(spark: SparkSession,
      table: String, fromVersion: Int, toVersion: Int)
      : (Seq[String], types.StructType) = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from =
      if (fromVersion == 0) Set.empty[String]
      else manifestFiles(fs, root, fromVersion).toSet
    val to = manifestFiles(fs, root, toVersion)
    require(from.subsetOf(to.toSet),
      s"changes: a REPLACE commit landed in ($fromVersion, $toVersion] " +
        "— line-set diff is not a row-level change log across rewrites")
    def abs(ls: Seq[String]) =
      ls.map(l => new Path(root, entryPath(l)).toString)
    val added = abs(to.filterNot(from))
    val sch = schemaOf(fs, root, toVersion).getOrElse {
      val basis = if (added.nonEmpty) added else abs(to)
      require(basis.nonEmpty,
        s"changes: $table has no recorded schema and no files to infer " +
          "one from")
      ColumnBridge.parquetFooterSchema(spark, basis)
    }
    (added, sch)
  }

  /** Roll the table back to `version` by RE-COMMITTING its file list as
    * the new head — history is never rewritten (the bad snapshots stay
    * readable for forensics until expired), readers pinned to any
    * version are unaffected, and the operation is the same O(1)
    * manifest CAS as a normal commit. This is the production "undo the
    * bad backfill" lever: data files are immutable, so undo is just
    * pointing the head at yesterday's list. */
  def rollbackTo(spark: SparkSession, table: String, version: Int): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the target is re-read INSIDE the CAS loop (listFor runs per
    // attempt): a concurrent expireSnapshots may delete the target
    // manifest (and then its now-unreferenced files) between attempts —
    // reading it fresh at each attempt means a rollback can never
    // re-commit a file list the vacuum has already decided is garbage on
    // the basis of a stale pre-sweep read. (A sweep that lands BETWEEN
    // this read and the rename is still narrowed by expireSnapshots' own
    // head re-check — see the note there.)
    casCommit(fs, root, "rollbackTo", _ =>
      manifestFiles(fs, root, version), // throws if expired
      _ => schemaOf(fs, root, version)) // undo restores the schema too
  }

  /** Zero-copy SHALLOW CLONE (r18): commit `dst`'s v1 whose lines
    * reference `src`'s current files by ABSOLUTE (qualified) path —
    * the manifest grammar's path slot accepts either form, because
    * every consumer resolves `new Path(root, p)` and Hadoop resolves
    * an absolute child to itself. Schema, table props and per-file
    * stats/bloom groups carry verbatim (the clone prunes and SPJ-groups
    * exactly like the source); txn markers do NOT (a clone is a new
    * table — a replayed streaming batch must not be deduped against
    * the source's history). The clone then lives its own life: appends
    * stage locally, row-level rewrites swap absolute source lines for
    * local files (the source is never touched), and the clone's vacuum
    * only ever sweeps its OWN data dir — absolute lines aren't in the
    * relative `data/txn-&lt;uuid&gt;/...` key shape the sweep matches.
    *
    * The one shared-fate caveat every shallow-clone design has (Delta's
    * documents the same): `expireSnapshots` on the SOURCE doesn't know
    * about clones, so vacuuming source history a clone still references
    * breaks the clone. Clone for experiments and short-lived forks;
    * re-materialize (CTAS) anything that must outlive source GC.
    * Refuses a dv-carrying source head (compact first) — dv sidecar
    * refs are group-internal and the masked read would need
    * chain-of-custody across roots. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Int = {
    val sroot = new Path(src)
    val fs = sroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sHead = currentVersion(fs, sroot)
    require(sHead > 0, s"cloneTable: no committed version in $src")
    require(!versionHasDvs(fs, sroot, sHead) &&
        !versionHasEqs(fs, sroot, sHead),
      s"cloneTable: $src head carries live row masks (deletion " +
        "vectors / equality deletes) — compact them first " +
        "(CALL system.compact(only_dv => true))")
    val droot = new Path(dst)
    val dfs = droot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(currentVersion(dfs, droot) == 0,
      s"cloneTable: $dst already has committed versions")
    val absLines = manifestFiles(fs, sroot, sHead).map { l =>
      val f = l.split('\t')
      f(0) = fs.makeQualified(new Path(sroot, f(0))).toString
      f.mkString("\t")
    }
    val schema = schemaOf(fs, sroot, sHead)
    val props = propsOf(fs, sroot, sHead)
    // gated = false: every adopted line comes from the source's
    // committed, already-gated head — re-proving its CHECK constraints
    // here would re-read the ENTIRE source table and break the
    // zero-copy O(manifest) promise (and the gate's failure cleanup
    // deletes "new" files' txn dirs, which for a clone are the
    // source's own data — doubly wrong). The clone's own later appends
    // gate normally.
    casCommit(dfs, droot, s"clone(${sroot.getName})",
      { head =>
        require(head == 0,
          s"cloneTable: $dst gained a commit during the clone")
        absLines
      },
      _ => schema,
      propsXform = _ => props,
      gated = false)
  }

  // --- branches: write-audit-publish (r18) ----------------------------
  // A branch is a second manifest CHAIN in the same manifests/ dir
  // (`b.<name>.v<K>.manifest`), forked by copying the main head
  // manifest verbatim. Branch commits run the SAME CAS protocol with
  // the chain threaded through (same locks, same constraint gate, same
  // schema evolution), staging data into the shared data/ dir — staged
  // files are invisible to main readers until PUBLISH, which is one
  // ordinary main-chain CAS adopting the branch head's lines — so the
  // nightly WAP loop is: create_branch → write to the branch → audit
  // `VERSION AS OF 'branch'` → publish_branch. Publish fast-forwards
  // when main is still at the fork point; if main advanced, an
  // append-only branch history CHERRY-PICKS (r19: re-parent the added
  // lines onto the moved head — one unrelated main append must not
  // invalidate hours of staging), and anything else refuses (adopting
  // a diverged REPLACE would silently drop main's commits); recreate
  // the branch from the new head and re-stage. Divergence cost at
  // 100 TB: zero data movement either way — fork, branch commits, and
  // publish are all manifest-sized metadata operations.

  /** Newest version of branch `name`, 0 if the branch doesn't exist. */
  private[graft] def branchHead(fs: FileSystem, root: Path,
      name: String): Int = currentVersion(fs, root, chainOf(name))

  /** The main-chain version branch `name` forked from: its chain's
    * MINIMUM version — the fork copy keeps the head's version number,
    * branch commits count up from there, and nothing ever deletes the
    * fork copy while the branch lives. */
  private[graft] def branchBase(fs: FileSystem, root: Path,
      name: String): Int = {
    val vs = chainVersions(fs, root, chainOf(name))
    require(vs.nonEmpty, s"no such branch '$name' on $root")
    vs.min
  }

  /** Names of every live branch of `table`. */
  def listBranches(spark: SparkSession, table: String): Seq[String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new Path(root, "manifests")
    if (!fs.exists(mdir)) return Nil
    val re = """b\.([A-Za-z0-9_\-]+)\.v\d+\.manifest""".r
    fs.listStatus(mdir).flatMap(st => st.getPath.getName match {
      case re(n) => Some(n)
      case _     => None
    }).distinct.sorted.toSeq
  }

  /** Fork branch `name` at the current main head (a verbatim manifest
    * copy — zero data movement) and return the fork version. Refuses if
    * the branch exists, the table is empty, or the head carries live
    * deletion vectors (branch reads serve the plain vectorized path;
    * compact the dvs away first — `CALL system.compact(only_dv =>
    * true)` — rather than silently resurrecting deleted rows). */
  def createBranch(spark: SparkSession, table: String,
      name: String): Int = {
    val chain = chainOf(name)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = currentVersion(fs, root)
    require(head > 0, s"createBranch: no committed version in $table")
    require(currentVersion(fs, root, chain) == 0,
      s"branch '$name' already exists on $table")
    require(!versionHasDvs(fs, root, head) &&
        !versionHasEqs(fs, root, head),
      s"createBranch: head v$head carries live row masks (deletion " +
        "vectors / equality deletes) — compact them first " +
        "(CALL system.compact(only_dv => true))")
    val mdir = new Path(root, "manifests")
    val tmp = new Path(mdir,
      s".${chain}v$head.tmp-" + java.util.UUID.randomUUID().toString)
    val out = fs.create(tmp, /* overwrite = */ false)
    try out.write(rawManifestLines(fs, root, head).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(publishNoReplace(fs, tmp,
        new Path(mdir, s"${chain}v$head.manifest")),
      s"branch '$name' already exists on $table (lost the create race)")
    head
  }

  /** APPEND `df` to branch `name` — the WAP write. Same protocol as
    * [[commitSnapshot]] (CAS, constraint gate, schema evolution, the
    * partition/bucket fanout stager driven by the BRANCH head's props),
    * chain-addressed so main readers never see it. */
  def commitSnapshotToBranch(spark: SparkSession, table: String,
      name: String, df: DataFrame,
      statsColumns: Seq[String] = Nil): Int = {
    validateStatsColumns(statsColumns)
    val chain = chainOf(name)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bHead = currentVersion(fs, root, chain)
    require(bHead > 0,
      s"no such branch '$name' on $table — create_branch first")
    val bProps = propsOf(fs, root, bHead, chain)
    val added = stageTxn(spark, fs, root, df, chain = chain)
    val entries = withStats(spark, fs, root, added, statsColumns,
      extraProps = bProps)
    casCommit(fs, root, s"appendBranch($name)", head =>
      manifestFiles(fs, root, head, chain) ++ entries,
      appendSchemaFor(fs, root, df, chain = chain),
      chain = chain)
  }

  /** Publish branch `name`: one main-chain CAS adopting the branch
    * head's state (branch commits squash into one published version —
    * the audit gate passed on the branch HEAD state, so that state is
    * what lands). No-op (returns the main head) if the branch has no
    * commits. Two modes, decided PER CAS ATTEMPT against whatever main
    * head that attempt rebases onto:
    *
    *   - **fast-forward** (main still at the fork point): adopt the
    *     branch head's lines, schema, props and txn markers wholesale —
    *     anything the branch did (appends, REPLACEs, DDL) publishes.
    *   - **cherry-pick** (main advanced past the fork, r18 verdict
    *     task 2): if every branch commit since the fork is a pure
    *     append — verb `appendBranch(…)`, no line removed or rewritten,
    *     no deletion vectors — re-parent exactly the branch's ADDED
    *     lines onto the current main head (Iceberg's append cherry-pick
    *     semantics). Main's interleaved commits survive untouched; the
    *     only conflict class possible is a data-file path collision,
    *     checked per attempt. Sound because an appended file's manifest
    *     line (bounds, `#p:`/`#bucket` groups) describes the FILE, not
    *     the version it entered under, and the layout props it was
    *     staged by are CREATE-time immutable — the line means the same
    *     thing on the moved head. Branch-side schema evolution merges
    *     via the same add-column/widening rules an append uses;
    *     branch-side DDL (prop changes) refuses — a props edit is not
    *     an append, and silently dropping it would be worse.
    *
    * A branch whose history REPLACEd/deleted still refuses on a moved
    * main (adopting it would drop main's commits): recreate the branch
    * from the new head and re-stage. The branch stays for
    * [[dropBranch]] — publish-then-drop is the caller's pairing. */
  def publishBranch(spark: SparkSession, table: String,
      name: String): Int = {
    val chain = chainOf(name)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bHead = currentVersion(fs, root, chain)
    require(bHead > 0, s"no such branch '$name' on $table")
    val base = branchBase(fs, root, name)
    if (bHead == base) return currentVersion(fs, root) // nothing staged
    // the branch chain is frozen from the publisher's point of view
    // (concurrent branch writers race the CAS like anyone else — a
    // branch commit landing after these reads publishes next time), so
    // the append-only evidence is computed once, not per attempt
    val branchLines = manifestFiles(fs, root, bHead, chain)
    val baseLines = manifestFiles(fs, root, base, chain)
    val added = branchLines.filterNot(baseLines.toSet)
    val appendVerbs = ((base + 1) to bHead).forall(v =>
      opNameOf(fs, root, v, chain).exists(_.startsWith("appendBranch(")))
    // line evidence is PER CONSECUTIVE VERSION (r20): fork-vs-head
    // subset alone stopped seeing a mid-history retraction of a
    // branch-ADDED line once commits went delta-form — every version's
    // set must contain its predecessor's whole set, which also catches
    // any line REWRITE (dv/eq annotations change the line)
    val appendLines = ((base + 1) to bHead).forall { v =>
      manifestFiles(fs, root, v - 1, chain).toSet
        .subsetOf(manifestFiles(fs, root, v, chain).toSet)
    }
    val pureAppend = appendVerbs && appendLines &&
      added.forall(l => entryDvs(l).isEmpty)
    val branchDdl =
      propsOf(fs, root, bHead, chain) != propsOf(fs, root, base, chain)
    // mode is decided inside listFor (first hook each attempt runs)
    // so propsXform — which receives no head — follows the same call's
    // decision instead of re-reading a possibly-moved head
    var fastForward = true
    casCommit(fs, root, s"publishBranch($name)", { head =>
      fastForward = head == base
      if (fastForward) branchLines
      else {
        require(pureAppend,
          s"publishBranch($name): main advanced v$base → v$head since " +
            "the fork and the branch history is not append-only — " +
            "cherry-pick can only re-parent pure appends; recreate " +
            "the branch from the new head and re-stage")
        require(!branchDdl,
          s"publishBranch($name): main advanced v$base → v$head since " +
            "the fork and the branch changed table properties — " +
            "re-apply the DDL on main, then publish the data commits")
        // the branch's files were constraint-gated at branch-commit
        // time under the FORK's props; publishing ungated (below) is
        // sound as long as main's LIVE constraints are a subset of
        // what the staging was proven against — main DROPPING a
        // constraint since the fork is a pure relaxation and must not
        // force a re-stage; an added or changed one refuses
        require(constraintsOf(propsOf(fs, root, head)).toSet
            .subsetOf(constraintsOf(propsOf(fs, root, base)).toSet),
          s"publishBranch($name): main added or changed CHECK " +
            s"constraints since the fork (v$base → v$head) — the " +
            "staged files were never proven against them; recreate " +
            "the branch from the new head and re-stage")
        val mainLines = manifestFiles(fs, root, head)
        val clash = added.map(entryPath).toSet
          .intersect(mainLines.map(entryPath).toSet)
        require(clash.isEmpty,
          s"publishBranch($name): data-file conflict with main's " +
            s"commits since the fork: ${clash.take(3).mkString(", ")}")
        mainLines ++ added
      }
    },
      head =>
        if (fastForward) schemaOf(fs, root, bHead, chain)
        else {
          // branch appends may have add-column/widen-evolved from the
          // fork schema; main may have too — the same merge an append
          // would apply reconciles both, refusing loudly on conflicts.
          // Id-mapped tables restamp from main's ids so a main-side
          // RENAME since the fork keeps its identity.
          val mainS = schemaOf(fs, root, head)
          val brS = schemaOf(fs, root, bHead, chain)
          (mainS, brS) match {
            case (Some(m), Some(b)) =>
              val merged = mergeWiden(m, b)
              if (idMapped(propsOf(fs, root, head)))
                Some(restampIds(m, merged))
              else Some(merged)
            case _ => mainS.orElse(brS)
          }
        },
      head =>
        if (fastForward) txnsOf(fs, root, bHead, chain)
        else {
          // carry main's markers, overlay only the branch's NEW or
          // advanced ones (the fork copy's markers are main's own) —
          // and never move a marker BACKWARDS past one main advanced
          // concurrently: markers are replay fences, monotonic by
          // contract (today unreachable — no branch verb takes an
          // appId — but the merge must not rely on that)
          val baseTx = txnsOf(fs, root, base, chain)
          val headTx = txnsOf(fs, root, head)
          txnsOf(fs, root, bHead, chain).filter { case (app, v) =>
            !baseTx.get(app).contains(v) &&
              headTx.get(app).forall(_ < v)
          }
        },
      propsXform = p =>
        if (fastForward) propsOf(fs, root, bHead, chain) else p,
      // gated = false: every line this commit adds was ALREADY gated —
      // branch commits run the chain-threaded constraint gate at
      // commitSnapshotToBranch time, branch-side prop changes are
      // unreachable (fast-forward republishes the fork props verbatim;
      // cherry-pick refuses branchDdl AND main-side constraint drift
      // above) — so the publish re-proof would re-read the entire
      // staged batch for nothing. Publish is a pure metadata commit,
      // as a WAP gate must be at 100 TB (BranchWapSpec pins zero jobs).
      gated = false)
  }

  /** Delete branch `name`'s manifests. Unpublished branch data files
    * become orphans — the age-gated [[expireSnapshots]] sweep reclaims
    * them like any crashed transaction's. */
  def dropBranch(spark: SparkSession, table: String, name: String): Int = {
    val chain = chainOf(name)
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = chainVersions(fs, root, chain)
    require(vs.nonEmpty, s"no such branch '$name' on $table")
    // one directory listing names the chain's ACTUAL manifests — a
    // branch forked at a high main version holds a handful, and
    // probing 1..head would cost O(main head) filesystem RPCs (r18
    // ADVICE)
    var dropped = 0
    vs.foreach { v =>
      val p = new Path(root, s"manifests/${chain}v$v.manifest")
      if (fs.delete(p, false)) dropped += 1
    }
    dropped
  }

  /** OPTIMIZE as a REPLACE commit on a manifest table — the unification
    * of [[compact]]'s re-packing with the snapshot protocol (r11 verdict
    * task 1): the directory rename-swap [[compact]] publishes with would
    * yank files out from under any reader pinned to an existing version,
    * defeating the isolation guarantee the manifest layer exists for.
    * Here instead: (1) read the files of the CURRENT snapshot, (2)
    * re-pack them into ~`targetFileBytes` bins (optionally
    * range-sort-clustered) staged in a new data/txn-* dir, (3) CAS a
    * manifest whose list swaps the compacted inputs for the new files.
    * Old files are NEVER touched — pinned readers keep reading them
    * until [[expireSnapshots]] reclaims; an APPEND that lands
    * mid-compaction is rebased over (the CAS retry recomputes
    * head − inputs + outputs, so the interleaved append's files
    * survive). Cost model matches [[compact]]: one read-arrange-write
    * pass over the re-packed bytes plus one O(1) manifest rename,
    * regardless of table size. Returns (newVersion, stats). */
  def compactSnapshot(spark: SparkSession, table: String,
                      targetFileBytes: Long = 128L << 20,
                      sortBy: Seq[String] = Nil,
                      statsColumns: Seq[String] = Nil,
                      zorderBy: Seq[String] = Nil,
                      zBuckets: Int = 1024)
      : (Int, CompactStats) = {
    validateStatsColumns(statsColumns)
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "compactSnapshot: sortBy and zorderBy are mutually exclusive")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"compactSnapshot: no committed version in $table")
    val inputs = manifestFiles(fs, root, v0)
    // recorded @sizes spare one getFileStatus per file (legacy lines
    // without the token still stat)
    val bytesBefore = inputs.map(l => entrySize(l).getOrElse(
      fs.getFileStatus(new Path(root, entryPath(l))).getLen)).sum
    val nOut = math.max(1L,
      (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt
    // dv-aware read: compaction MATERIALIZES merge-on-read deletion
    // vectors — the rewritten files carry only live rows and the new
    // lines carry no dv groups, resetting scan-side anti-join cost to
    // zero (the OPTIMIZE half of the MOR bargain)
    val df = readManifestLines(spark, fs, root, v0, inputs)
    // zorderBy = re-cluster on BOTH columns (the OPTIMIZE a
    // two-column-skipping table needs: coalesce would merge disjoint
    // rectangles and a single-column sort would scatter the other
    // column's bounds); sortBy = one-column range clustering; default
    // = shuffle-free coalesce bin-packing, as in [[compact]].
    val arranged =
      if (zorderBy.nonEmpty) zArrangedN(df, zorderBy, nOut, zBuckets)
      else if (sortBy.nonEmpty)
        df.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(nOut)
    // re-record column bounds on the re-packed files (sortBy = the stats
    // column gives disjoint per-file ranges) — without this an OPTIMIZE
    // would silently strip a skipping table's pruning. The caller's
    // statsColumns win when given; otherwise the table's own recorded
    // columns carry, so a plain OPTIMIZE never strips pruning either.
    val added = withStats(spark, fs, root,
      stageTxn(spark, fs, root, arranged),
      if (statsColumns.nonEmpty) statsColumns
      else statsColumnsOf(fs, root, v0))
    val v = replaceCommit(fs, root, "compactSnapshot", inputs.toSet, added)
    val bytesAfter = added.map(l => entrySize(l).getOrElse(
      fs.getFileStatus(new Path(root, entryPath(l))).getLen)).sum
    (v, CompactStats(inputs.size, added.size,
      bytesBefore, bytesAfter, inputs.size))
  }

  /** Targeted merge-on-read maintenance: materialize deletion vectors
    * by rewriting ONLY the files that carry them — each dv'd file is
    * re-staged dv-applied and swapped for a clean line; every other
    * file carries by manifest line untouched. At 100 TB this, not a
    * full-table [[compactSnapshot]], is how dvs actually get retired:
    * cost ∝ the dv'd files' bytes (bounded by the delete rate between
    * maintenance runs), never the table. Surfaced as SQL via
    * `CALL system.compact(…, only_dv => true)`. Returns
    * (newVersion, filesRewritten, filesUntouched, bytesRewritten) —
    * bytesRewritten is the dv'd files' recorded byte total, so the
    * procedure output distinguishes a no-op from a rewrite (r17
    * ADVICE); a no-op (no live dvs) commits nothing and returns the
    * current version. */
  def compactDeletes(spark: SparkSession, table: String)
      : (Int, Int, Int, Long) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"compactDeletes: no committed version in $table")
    val lines = manifestFiles(fs, root, v0)
    // "only_dv" = materialize every row MASK: equality deletes (r19)
    // rewrite away through the same targeted pass as position dvs
    val (dvLines, plain) = lines.partition(l =>
      entryDvs(l).nonEmpty || entryEqs(l).nonEmpty)
    if (dvLines.isEmpty) return (v0, 0, plain.size, 0L)
    val bytesIn = dvLines.map(l => entrySize(l).getOrElse(
      fs.getFileStatus(new Path(root, entryPath(l))).getLen)).sum
    val staged = stageTxn(spark, fs, root,
      readManifestLines(spark, fs, root, v0, dvLines))
    val added = withStats(spark, fs, root, staged,
      statsColumnsOf(fs, root, v0))
    val v = try replaceCommit(fs, root, "compactDeletes",
      dvLines.toSet, added)
    catch { case e: Throwable => dropStaged(fs, root, staged); throw e }
    (v, dvLines.size, plain.size, bytesIn)
  }

  /** Guarded partition-spec evolution (r19 verdict task 4) — the
    * legitimate path [[setTableProps]]' layout refusal points at,
    * without the CREATE-new-table detour: ONE REPLACE commit re-fans
    * the whole table out under the TARGET layout (through the same
    * staging writer every insert uses, so the single-value-per-file /
    * one-bucket-per-file invariant and the spec-qualified stats groups
    * are re-recorded for the new spec) and swaps the three layout
    * properties atomically in the same manifest. Per-version props make
    * time travel sound for free: a reader pinned to a pre-relayout
    * version reads THAT version's props and keys its files under the
    * OLD spec; the new head keys under the new one — no version ever
    * mixes. Guards:
    *   - live WAP branches refuse (their staged files were placed
    *     under the current layout; publish or drop them first);
    *   - the REPLACE is strict: if ANY commit lands between the
    *     re-stage and the CAS, relayout refuses rather than adopt
    *     files placed under a layout this commit is about to retire
    *     (re-run it — the rewrite is idempotent, orphaned staging is
    *     vacuum-reclaimed like any crashed txn's);
    *   - a writer that raced the OTHER way (staged under the old
    *     layout, landed after) is handled by the spec-qualified
    *     `#bucket:<N>:<col>` / null-proved `#p:<col>` group names: its
    *     files lack the new spec's groups, so SPJ soundly degrades to
    *     the unkeyed scan until one compaction re-places them — never
    *     a wrong grouping.
    * Identity columns and bucket specs are mutually exclusive, as at
    * CREATE; empty arguments flatten the table to an unpartitioned
    * bin-packed layout. Returns (newVersion, filesBefore, filesAfter). */
  /** Validate a target layout against version `v`'s recorded schema
    * and props; returns the layout-prop map the target declares. ONE
    * definition shared by [[relayout]] and [[evolveLayout]] (the
    * bucket-type whitelist and column checks must never diverge
    * between the two doors), and cheap enough to run PER CAS ATTEMPT —
    * which both verbs do, so a rename/ALTER racing the layout commit
    * can never publish a layout naming a column the committed schema
    * no longer has or a clustering the committed props forbid. */
  private def validateLayoutTarget(verb: String, fs: FileSystem,
      root: Path, v: Int, partitionedBy: Seq[String],
      bucketBy: Option[String], bucketCount: Option[Int])
      : Map[String, String] = {
    require(bucketBy.isDefined == bucketCount.isDefined,
      s"$verb: bucket_by and bucket_count come together")
    require(partitionedBy.isEmpty || bucketBy.isEmpty,
      s"$verb: identity partition columns and a bucket spec are " +
        "mutually exclusive (as at CREATE)")
    bucketCount.foreach(n =>
      require(n > 0, s"$verb: bucket count must be positive, got $n"))
    val headProps = propsOf(fs, root, v)
    val sch = schemaOf(fs, root, v)
    (partitionedBy ++ bucketBy).foreach(c => sch.foreach(s =>
      require(s.fieldNames.contains(c),
        s"$verb: unknown column '$c' " +
          s"(table columns: ${s.fieldNames.mkString(", ")})")))
    bucketBy.foreach { c =>
      sch.foreach { s =>
        val dt = s(c).dataType
        require(Seq[types.DataType](types.ByteType, types.ShortType,
            types.IntegerType, types.LongType, types.StringType)
            .contains(dt),
          s"$verb: bucket column '$c' must be integral or string, " +
            s"got $dt")
      }
      require(!headProps.contains(ClusterSortProp) &&
          !headProps.contains(ClusterZorderProp),
        s"$verb: bucket layout and graft.cluster.* properties are " +
          "mutually exclusive — UNSET the clustering first")
    }
    (if (partitionedBy.nonEmpty)
      Map(PartitionedByProp -> partitionedBy.mkString(","))
    else Map.empty[String, String]) ++
      bucketBy.zip(bucketCount).map { case (c, n) =>
        Map(BucketByProp -> c, BucketCountProp -> n.toString)
      }.getOrElse(Map.empty[String, String])
  }

  private val LayoutPropKeys =
    Seq(PartitionedByProp, BucketByProp, BucketCountProp)

  def relayout(spark: SparkSession, table: String,
      partitionedBy: Seq[String] = Nil,
      bucketBy: Option[String] = None,
      bucketCount: Option[Int] = None,
      targetFileBytes: Long = 128L << 20): (Int, Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"relayout: no committed version in $table")
    val branches = listBranches(spark, table)
    require(branches.isEmpty,
      s"relayout: live branch(es) ${branches.mkString(", ")} hold " +
        "files staged under the current layout — publish or drop " +
        "them first, then relayout")
    val layoutKeys = LayoutPropKeys
    val newLayout = validateLayoutTarget("relayout", fs, root, v0,
      partitionedBy, bucketBy, bucketCount)
    // staging overrides: the fanout writer and the stats recorder merge
    // these OVER the head props, so the retiring layout can neither
    // place files nor record groups during the rewrite ("" / "0" are
    // the merge-map's only way to express removal; the COMMITTED props
    // drop the keys outright below)
    val stagingOverrides: Map[String, String] = Map(
      PartitionedByProp -> "", BucketByProp -> "",
      BucketCountProp -> "0") ++ newLayout
    val inputs = manifestFiles(fs, root, v0)
    // dv-aware read: like compactSnapshot, the rewrite materializes
    // deletion vectors — new lines carry live rows only
    val df = readManifestLines(spark, fs, root, v0, inputs)
    val arranged =
      if (bucketBy.isDefined || partitionedBy.nonEmpty) df // fanout writer splits
      else {
        val bytesBefore = inputs.map(l => entrySize(l).getOrElse(
          fs.getFileStatus(new Path(root, entryPath(l))).getLen)).sum
        df.coalesce(math.max(1L,
          (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt)
      }
    val staged = stageTxn(spark, fs, root, arranged,
      createProps = stagingOverrides)
    val added = withStats(spark, fs, root, staged,
      statsColumnsOf(fs, root, v0), extraProps = stagingOverrides)
    val inputSet = inputs.toSet
    val v = try casCommit(fs, root, "relayout",
      { head =>
        val headLines = manifestFiles(fs, root, head)
        require(headLines.toSet == inputSet,
          "relayout: a concurrent commit landed mid-relayout — its " +
            "files were placed under the layout this commit retires; " +
            "re-run relayout against the new head")
        added
      },
      head => schemaOf(fs, root, head),
      propsXform = p => p -- layoutKeys ++ newLayout,
      // re-validated per attempt: a rename landing between the pre-CAS
      // check and the win changes the schema WITHOUT touching lines
      // (field-id mapping), so the inputSet guard alone can't see it
      attemptCheck = h => { validateLayoutTarget("relayout", fs, root,
        h, partitionedBy, bucketBy, bucketCount); () })
    catch { case e: Throwable => dropStaged(fs, root, staged); throw e }
    (v, inputs.size, added.size)
  }

  /** METADATA-ONLY layout evolution (r20) — the answer to [[relayout]]'s
    * one operational limit: a full re-fanout of a 100 TB table takes
    * hours and aborts on ANY concurrent commit (strict replace), so on
    * a table with steady ingest it effectively never wins the race.
    * This verb instead changes only the DECLARED layout properties in
    * one props-only commit — zero data movement, no conflict window
    * beyond the ordinary CAS — and lets the r19 spec-qualified
    * placement machinery carry the mixed state soundly:
    *
    *   - files already committed keep their old spec's groups
    *     (`#bucket:<oldN>:<col>` / `#p:<col>`), which the new spec's
    *     pruning and SPJ keying simply don't match — a stale placement
    *     can never mis-key or mis-prune (it survives selection and
    *     degrades the snapshot to the unkeyed scan, exactly the r19
    *     invariant [[bucketGroup]] documents);
    *   - every write staged AFTER this commit fans out and records
    *     groups under the NEW spec ([[stageTxn]] resolves the head's
    *     props per commit);
    *   - SPJ keying returns once no old-spec file remains — one
    *     ordinary [[compactSnapshot]] (or natural rewrite churn)
    *     re-places the tail; nothing is ever forced.
    *
    * This is Iceberg's partition-spec-evolution semantics (spec-id per
    * file, old data keeps the old layout) re-expressed in the manifest
    * line grammar — cited as design prior art, not code. The
    * ALTER-immutability refusal on `graft.partitioned.by` /
    * `graft.bucket.*` ([[setTableProps]]) stays: a property FLIP with
    * no placement bookkeeping is exactly the r18 defect; this verb and
    * [[relayout]] are the two deliberate doors. Empty arguments
    * declare a flat layout (drop the props). Returns the new version. */
  def evolveLayout(spark: SparkSession, table: String,
      partitionedBy: Seq[String] = Nil,
      bucketBy: Option[String] = None,
      bucketCount: Option[Int] = None): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"evolveLayout: no committed version in $table")
    val newLayout = validateLayoutTarget("evolveLayout", fs, root, v0,
      partitionedBy, bucketBy, bucketCount)
    // lines carry UNCHANGED per attempt — a concurrent append rebases
    // cleanly on either side of this commit: its files were placed and
    // GROUP-STAMPED under whichever spec its staging read, so they can
    // only ever key under that spec. The target is RE-validated against
    // each attempt's head (attemptCheck): a rename or ALTER landing
    // between the check above and the CAS win must refuse, not publish
    // a layout naming a column the committed schema no longer has.
    casCommit(fs, root, "evolveLayout",
      head => manifestFiles(fs, root, head),
      head => schemaOf(fs, root, head),
      propsXform = p => p -- LayoutPropKeys ++ newLayout,
      attemptCheck = h => { validateLayoutTarget("evolveLayout", fs,
        root, h, partitionedBy, bucketBy, bucketCount); () })
  }

  /** URI-scheme/slash-insensitive normal form for matching
    * input_file_name() output against manifest-derived paths. The two
    * sides arrive differently encoded: input_file_name() reports a
    * URL-ENCODED uri (SparkPath — a space is `%20`), while a qualified
    * hadoop Path renders the raw characters. Parse as a URI first (which
    * DECODES escapes); fall back to hadoop-Path normalization for
    * strings a strict URI parser rejects (raw spaces etc.), whose
    * getPath decodes Path's own quoting. Both routes land on the
    * decoded filesystem path, so `/data/my table/x` staged by a writer
    * matches `file:///data/my%20table/x` reported by a scan. */
  private def fsPathOf(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getPath != null && u.getPath.nonEmpty) u.getPath
      else new Path(p).toUri.getPath
    } catch { case _: java.net.URISyntaxException =>
      new Path(p).toUri.getPath
    }

  /** Copy-on-write row-level DELETE — the next most-used lifecycle verb
    * after append/compact (GDPR erasure, late-fact correction): rewrite
    * ONLY the files that contain matching rows, REPLACE-commit the swap.
    * Mechanics: (1) one pruned scan over the head snapshot finds the
    * affected files via input_file_name() (the predicate pushes into the
    * parquet scan, so row-group stats skip most files before any row is
    * read); (2) only those files are re-read and rewritten with the
    * predicate negated into a new txn dir; (3) the CAS commits
    * head − affected + rewritten. Untouched files keep their manifest
    * entries and are never opened for write — at 100 TB a selective
    * delete costs the affected files, not the table. The delete applies
    * to rows visible in the snapshot read at entry; an append racing
    * past the CAS is rebased over with all its rows intact (standard
    * copy-on-write semantics — a format-level conflict check would
    * abort instead; documented trade-off). Returns
    * (newVersion, filesRewritten, filesUntouched). */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: Column): (Int, Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"deleteWhere: no committed version in $table")
    if (morEnabled(propsOf(fs, root, v0)))
      return deleteWhereMor(spark, fs, root, table, v0, predicate)
    val files = manifestFiles(fs, root, v0)
    val abs = files.map(l => l -> new Path(root, entryPath(l)).toString)
    // read under the recorded schema: a predicate on an evolved column
    // must see null (and keep the row) on pre-evolution files, not fail
    // to resolve. The detection scan is PLAIN (input_file_name() is
    // single-source-only, and a file whose only matching rows are
    // already position-deleted merely gets an unnecessary — dv-applied,
    // so harmless — rewrite)
    val affectedAbs = controlPlane(spark) {
      readVersionFiles(spark, fs, root, v0, abs.map(_._2))
        .where(predicate)
        .select(input_file_name().as("f")).distinct()
        .collect()
    }.map(r => fsPathOf(r.getString(0))).toSet
    // qualify through the FS before normalizing: a relative table root
    // ("target/…") would otherwise never string-match the absolute URIs
    // input_file_name() reports
    val (affected, untouched) = abs.partition { case (_, a) =>
      affectedAbs.contains(fsPathOf(fs.makeQualified(new Path(a)).toString))
    }
    if (affected.isEmpty) return (v0, 0, untouched.size)
    // SQL DELETE semantics: remove rows where the predicate is TRUE —
    // rows where it evaluates NULL are KEPT (a bare !predicate would
    // drop them, silently deleting every row with a null in a predicate
    // column). Dv-aware read: rows a prior MOR delete removed must not
    // resurrect through this rewrite (the new line carries no dv group).
    val kept = readManifestLines(spark, fs, root, v0, affected.map(_._1))
      .where(!coalesce(predicate, lit(false)))
    // rewritten files re-record the table's stats columns (if any):
    // without this, every delete would silently strip a skipping
    // table's pruning — the guard compactSnapshot already carries.
    // A rewrite that keeps ZERO rows stages nothing: the affected
    // files' entries simply leave the manifest (no empty placeholder
    // file enters it). r22: that zero-rows decision used to be a
    // separate isEmpty (limit-1) job on every delete; it now rides the
    // rewrite write as an observed row count — stage, and if the
    // rewrite proved empty, drop the txn dir and record nothing.
    val keptObs = org.apache.spark.sql.Observation()
    val keptStaged = stageTxn(spark, fs, root,
      kept.observe(keptObs, count(lit(1)).as("rows")))
    val added =
      if (keptObs.get("rows").asInstanceOf[Long] == 0L) {
        dropStaged(fs, root, keptStaged)
        Seq.empty[String]
      } else withStats(spark, fs, root, keptStaged,
        statsColumnsOf(fs, root, v0))
    val v = replaceCommit(fs, root, "deleteWhere",
      affected.map(_._1).toSet, added)
    (v, affected.size, untouched.size)
  }

  /** `lines` read dv-applied with the position currency retained:
    * data columns + `__grp` (the file's position-delete group key) +
    * `__pos` (its 0-based row ordinal) — what a MOR write needs to
    * record the matched positions. */
  private def readLinesPos(spark: SparkSession, fs: FileSystem,
      root: Path, v: Int, lines: Seq[String]): DataFrame = {
    val base = readVersionFiles(spark, fs, root, v,
        lines.map(l => new Path(root, entryPath(l)).toString))
      .withColumn("__grp",
        substring_index(col("_metadata.file_path"), "/", -2))
      .withColumn("__pos", col("_metadata.row_index"))
    val dvPaths = lines.flatMap(entryDvs).distinct
      .map(r => new Path(root, r).toString)
    if (dvPaths.isEmpty) base
    else base.join(readSidecars(spark, dvPaths)
        .select(col("grp").as("__grp"), col("pos").as("__pos")),
      Seq("__grp", "__pos"), "left_anti")
  }

  /** Stage a (grp, pos) frame as position-delete sidecar parquet and
    * resolve which sidecar file holds which group's deletes. Returns
    * (staged pairs, grp → sidecar rel paths); empty map = no matches
    * (the staged dir, if any empty files were written, is dropped by
    * the caller). The write is fully distributed — clustered by grp so
    * one data file's positions land in few sidecars — and costs
    * ∝ matched rows, never table size: THE merge-on-read bargain. */
  private def stageDv(spark: SparkSession, fs: FileSystem, root: Path,
      positions: DataFrame)
      : (Seq[(String, Long)], Map[String, Seq[String]]) = {
    val staged = stageTxn(spark, fs, root,
      positions.repartition(col("grp")), stamp = false)
    if (staged.isEmpty) return (staged, Map.empty)
    // one metadata-light pass over the just-staged sidecars maps each
    // group to the sidecar file(s) carrying its positions — the
    // manifest line needs the pointer, and reading back the staged
    // bytes (not re-evaluating `positions`) keeps check and commit on
    // the same evaluation
    val relByNorm = staged.map { case (rel, _) =>
      fsPathOf(fs.makeQualified(new Path(root, rel)).toString) -> rel
    }.toMap
    val mapping = controlPlane(spark) {
      readSidecars(spark,
          staged.map { case (rel, _) => new Path(root, rel).toString })
        .select(col("grp"), input_file_name().as("f")).distinct()
        .collect()
    }
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => relByNorm(fsPathOf(r.getString(1))))
          .toSeq.distinct.sorted
      }
    (staged, mapping)
  }

  /** Merge-on-read DELETE (`graft.rowlevel.mode = 'mor'`, r16 verdict
    * task 1): instead of rewriting every file group containing a
    * matched row (copy-on-write — at 100 TB a trickle of GDPR /
    * dedup-driven point deletes makes that the dominant write cost),
    * record the matched (file, ordinal) pairs in a position-delete
    * sidecar parquet and swap the affected manifest lines for the same
    * lines with a dv pointer group appended. Data files are NEVER
    * opened for write; delete cost ∝ matched rows. Every snapshot read
    * anti-applies the sidecars ([[readManifestLines]]);
    * [[compactSnapshot]] materializes them away; pinned readers of
    * pre-delete versions see pre-delete lines (no dv group) and are
    * untouched — the same isolation story as every REPLACE commit.
    * Returns (newVersion, filesAnnotated, filesUntouched). */
  private def deleteWhereMor(spark: SparkSession, fs: FileSystem,
      root: Path, table: String, v0: Int, predicate: Column)
      : (Int, Int, Int) = {
    val files = manifestFiles(fs, root, v0)
    // matched LIVE positions (dv-applied: re-deleting an already
    // position-deleted row is a no-op, not a double entry)
    val matched = readLinesPos(spark, fs, root, v0, files)
      .where(predicate)
      .select(col("__grp").as("grp"), col("__pos").as("pos"))
    val (staged, grpToSidecars) = stageDv(spark, fs, root, matched)
    if (grpToSidecars.isEmpty) {
      dropStaged(fs, root, staged)
      return (v0, 0, files.size)
    }
    val (affected, untouched) = files.partition(l =>
      grpToSidecars.contains(grpOfRel(entryPath(l))))
    val annotated = affected.map { l =>
      grpToSidecars(grpOfRel(entryPath(l))).foldLeft(l)(withDvGroup)
    }
    val v = try replaceCommit(fs, root, "deleteWhereMor",
      affected.toSet, annotated)
    catch { case e: Throwable => dropStaged(fs, root, staged); throw e }
    (v, affected.size, untouched.size)
  }

  /** Merge-on-read EQUALITY upsert (r19 verdict task 7) — the CDC-sink
    * verb for writers that CANNOT read matched positions first (a
    * streaming `foreachBatch` must not re-scan a 100 TB table per
    * micro-batch): one commit that (1) appends `batch`'s rows, (2)
    * stages a one-column parquet of `batch`'s key values, and (3)
    * annotates every line present at the commit's head with the
    * equality-delete pointer. A masked read then anti-joins those
    * files on the KEY ([[readManifestLines]]'s eq branch) — the
    * pre-existing row version dies, the appended one lives, and files
    * committed after this upsert (including its own) are never masked
    * (per-line scoping = Iceberg's sequence-number rule in the
    * line-copy currency). `deleteOnly = true` records a tombstone
    * batch (CDC deletes). [[compactSnapshot]] /
    * `CALL system.compact(only_dv => true)` materialize the masks.
    *
    * One OR MORE integral-or-string key columns (r20: composite CDC
    * keys — (tenant_id, id), (source, doc_id) — are the multi-tenant
    * shape; a row dies only when EVERY key column matches a sidecar
    * row, plain multi-column anti-join semantics). Rows with a NULL in
    * ANY key column never match (SQL join semantics) and are filtered
    * from the sidecar. Requires `graft.rowlevel.mode='mor'`. All live
    * eq annotations on a table must share one key-column list —
    * changing keys mid-stream refuses until a compaction.
    *
    * Annotation is STATS-PRUNED (r20): a head line whose recorded
    * per-file bounds on any key column PROVE the batch's whole key
    * range absent skips the `@eq` pointer — masked-read cost then
    * tracks delete LOCALITY instead of table size on a key-clustered
    * table. One-sided as ever: no stats, stats on other columns, or
    * any overlap → the line annotates (stats are an optimization,
    * never a correctness input). Write cost ∝ the batch, plus
    * O(files) manifest-line annotation — zero data-file reads or
    * rewrites, the property that makes it a streaming sink.
    * Returns (newVersion, linesAnnotated, dataFilesAppended). */
  def upsertByKeys(spark: SparkSession, table: String, batch: DataFrame,
      keyCol: String): (Int, Int, Int) =
    upsertByKeys(spark, table, batch, Seq(keyCol), deleteOnly = false)

  def upsertByKeys(spark: SparkSession, table: String, batch: DataFrame,
      keyCol: String, deleteOnly: Boolean): (Int, Int, Int) =
    upsertByKeys(spark, table, batch, Seq(keyCol), deleteOnly)

  def upsertByKeys(spark: SparkSession, table: String, batch: DataFrame,
      keyCols: Seq[String], deleteOnly: Boolean): (Int, Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"upsertByKeys: no committed version in $table")
    require(keyCols.nonEmpty, "upsertByKeys: at least one key column")
    require(keyCols.distinct == keyCols,
      s"upsertByKeys: duplicate key columns: ${keyCols.mkString(", ")}")
    // same WAP discipline as every other mutating verb: under an
    // active spark.graft.wap.branch the session's INSERTs route to the
    // branch, so an upsert quietly landing on MAIN would be exactly
    // the unaudited write WAP exists to prevent
    val wap = spark.conf.get("spark.graft.wap.branch", "")
    require(wap.isEmpty,
      s"upsertByKeys on $table would mutate MAIN while " +
        s"spark.graft.wap.branch='$wap' routes INSERTs to the branch " +
        "— unset the conf first (WAP stages appends only)")
    require(morEnabled(propsOf(fs, root, v0)),
      s"upsertByKeys requires $RowLevelModeProp='mor' on $table — " +
        "equality deletes are a merge-on-read currency")
    keyCols.foreach { keyCol =>
      require(batch.columns.contains(keyCol),
        s"upsertByKeys: batch has no column '$keyCol' " +
          s"(batch columns: ${batch.columns.mkString(", ")})")
      batch.schema(keyCol).dataType match {
        case types.ByteType | types.ShortType | types.IntegerType |
             types.LongType | types.StringType => ()
        case dt => throw new IllegalArgumentException(
          s"upsertByKeys: key column '$keyCol' must be integral or " +
            s"string, got $dt")
      }
    }
    val keys = batch.select(keyCols.map(col): _*)
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _)).distinct()
    // the batch's per-key-column value range, for the annotation skip —
    // observed ON the sidecar staging write below (r22, guide §6
    // one-pass I/O: the sidecar write already evaluates exactly these
    // keys, so a separate range-aggregate job re-bought the same rows
    // for two values per column); a null pair = zero non-null-keyed
    // rows, masking nothing
    val rngObs = org.apache.spark.sql.Observation()
    val rangeAggs = keyCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i")) }
    val keysObs = keys.observe(rngObs, rangeAggs.head, rangeAggs.tail: _*)
    // one sidecar file: keys are micro-batch-bounded by the caller's
    // trigger, not table-sized. The write's shuffle width is the
    // explicit repartition(1) — AQE cannot coalesce it, so running the
    // sidecar stage AQE-off drops the per-upsert shuffle-materialization
    // job + replan with a bit-identical single-file layout (r22, same
    // reasoning as stageTxn's bucket write; bounded content per the
    // micro-batch contract above).
    val sidecars = controlPlane(spark) {
      stageTxn(spark, fs, root, keysObs.repartition(1), stamp = false)
    }
    // the sidecar write materialized the observed ranges; read them now
    // (post-action, never blocks) — `refuted` above closes over these
    // and is first called inside the CAS, well after this point
    val rangeMap = rngObs.get
    val batchRanges: Seq[(String, Option[(Any, Any)])] =
      keyCols.zipWithIndex.map { case (c, i) =>
        c -> (if (rangeMap(s"mn$i") == null) None
              else Some((rangeMap(s"mn$i"), rangeMap(s"mx$i"))))
      }
    val emptyBatchKeys = batchRanges.forall(_._2.isEmpty)
    /** true iff `l`'s recorded bounds REFUTE every batch key for some
      * key column — the annotation is then provably a no-op for this
      * file. */
    def refuted(l: String): Boolean = emptyBatchKeys || {
      val bs = entryBounds(l)
      batchRanges.exists { case (c, rng) =>
        rng.exists { case (bMn, bMx) =>
          bs.get(c).exists {
            case LongBounds(mn, mx) => (bMn, bMx) match {
              case (a: Number, b: Number) =>
                b.longValue < mn || a.longValue > mx
              case _ => false // type drift: never skip
            }
            case StrBounds(mn, mx) => (bMn, bMx) match {
              case (a: String, b: String) =>
                !utf8Leq(mn, b) || !utf8Leq(a, mx)
              case _ => false
            }
            case _ => false // NumBounds etc.: never skip
          }
        }
      }
    }
    val dataStaged =
      if (deleteOnly) Seq.empty[(String, Long)]
      else stageTxn(spark, fs, root, batch)
    val dataEntries =
      if (dataStaged.isEmpty) Seq.empty[String]
      else withStats(spark, fs, root, dataStaged,
        statsColumnsOf(fs, root, v0))
    var annotated = 0
    val v = try casCommit(fs, root, "upsertByKeys",
      { head =>
        val headLines = manifestFiles(fs, root, head)
        // key-column consistency, re-checked against the exact head
        // this attempt rebases onto (a racing upsert with another key
        // column list must refuse, not mis-mask)
        val prior = headLines.flatMap(entryEqs).map(_._2).distinct
        require(prior.forall(_ == keyCols),
          s"upsertByKeys: table carries equality deletes keyed on " +
            s"${prior.filterNot(_ == keyCols).map(_.mkString("+"))
              .mkString(", ")} — compact " +
            "them away before upserting on a different key")
        annotated = 0
        headLines.map { l =>
          if (refuted(l)) l // bounds prove no batch key present
          else {
            annotated += 1
            sidecars.foldLeft(l) { case (acc, (rel, _)) =>
              withEqGroup(acc, rel, keyCols)
            }
          }
        } ++ dataEntries
      },
      if (deleteOnly) head => schemaOf(fs, root, head)
      else appendSchemaFor(fs, root, batch))
    catch { case e: Throwable =>
      dropStaged(fs, root, sidecars ++ dataStaged)
      throw e
    }
    (v, annotated, dataEntries.size)
  }

  /** `INSERT INTO t REPLACE WHERE pred SELECT ...` — Delta's
    * replaceWhere, the idempotent-backfill verb: ONE atomic commit that
    * drops the predicate's existing rows (copy-on-write, only files
    * that can hold matching rows are rewritten) and lands `data` in
    * their place. Re-running the same backfill converges instead of
    * duplicating — the property nightly partition rebuilds need.
    *
    * Contract (same as Delta's default): every incoming row must
    * satisfy the predicate — otherwise the statement would silently
    * write rows OUTSIDE the range it claimed to replace, and a re-run
    * would duplicate them. The predicate must RESOLVE before anything
    * stages; the row check then runs against the STAGED BYTES (the
    * exact rows that will land — a pre-staging check of `data` would
    * validate a different evaluation of a possibly non-deterministic
    * query). A refused backfill deletes its txn dir.
    *
    * Returns (newVersion, filesRewritten). */
  def replaceWhere(spark: SparkSession, table: String, data: DataFrame,
      predicate: Column, statsColumns: Seq[String] = Nil): (Int, Int) =
    replaceWhereImpl(spark, table, data, predicate, statsColumns,
      () => ())

  /** [[replaceWhere]] with a test seam: `beforeCommit` runs after the
    * affected set is computed against v0 and before the CAS — the
    * window a racing append lands in. Production calls the no-op. */
  private[graft] def replaceWhereImpl(spark: SparkSession, table: String,
      data: DataFrame, predicate: Column, statsColumns: Seq[String],
      beforeCommit: () => Unit): (Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"replaceWhere: no committed version in $table")
    // the predicate must RESOLVE before anything stages — an analysis
    // error after staging would orphan the txn dir until vacuum
    data.where(!coalesce(predicate, lit(false))).queryExecution.analyzed
    // Stage the incoming batch, then validate the STAGED BYTES: the
    // offender check and the commit must see the same evaluation of
    // `data` — checking one evaluation and committing another would let
    // a non-deterministic (or concurrently-changing) source sneak
    // out-of-predicate rows past the check. A refused (or failed)
    // backfill deletes its txn dir, leaving nothing for vacuum.
    // r22 (guide §6 one-pass I/O): the offender COUNT rides the staging
    // write as an observed metric — the write is the evaluation whose
    // bytes commit, so observing it checks exactly what lands (the same
    // check-what-you-commit guarantee the staged-bytes re-read gave,
    // minus one scheduled job per backfill). Only the FAILURE path still
    // reads the staged files back, to quote an offending row.
    val offObs = org.apache.spark.sql.Observation()
    val dataStaged = stageTxn(spark, fs, root, data.observe(offObs,
      count(when(!coalesce(predicate, lit(false)), 1)).as("off")))
    val stagedPaths = dataStaged.map { case (rel, _) =>
      new Path(root, rel).toString }
    try {
      if (offObs.get("off").asInstanceOf[Long] > 0L) {
        val offenders = controlPlane(spark) {
          readSidecars(spark, stagedPaths)
            .where(!coalesce(predicate, lit(false))).limit(1).collect()
        }
        throw new IllegalArgumentException(
          "replaceWhere: incoming data contains rows that do NOT " +
            s"satisfy the replace predicate (e.g. ${offenders.head}) — " +
            "widen the predicate or filter the source")
      }
    } catch {
      case e: Throwable => dropStaged(fs, root, dataStaged); throw e
    }
    val files = manifestFiles(fs, root, v0)
    val abs = files.map(l => l -> new Path(root, entryPath(l)).toString)
    val affectedAbs = controlPlane(spark) {
      readVersionFiles(spark, fs, root, v0, abs.map(_._2))
        .where(predicate)
        .select(input_file_name().as("f")).distinct()
        .collect()
    }.map(r => fsPathOf(r.getString(0))).toSet
    val (affected, untouched) = abs.partition { case (_, a) =>
      affectedAbs.contains(fsPathOf(fs.makeQualified(new Path(a)).toString))
    }
    // survivors of the affected files (predicate-false/null rows carry)
    // stage as a second txn in the SAME commit — the swap is one
    // REPLACE CAS, never an observable delete-then-insert gap
    val carriedStaged =
      if (affected.isEmpty) Seq.empty[(String, Long)]
      else stageTxn(spark, fs, root,
        readManifestLines(spark, fs, root, v0, affected.map(_._1))
          .where(!coalesce(predicate, lit(false))))
    val stats =
      if (statsColumns.nonEmpty) statsColumns
      else statsColumnsOf(fs, root, v0)
    val added = withStats(spark, fs, root,
      dataStaged ++ carriedStaged, stats)
    val inputSet = affected.map(_._1).toSet
    val v0Lines = files.toSet
    beforeCommit()
    // Serializable conflict check (r16 advice): replaceCommit's subset
    // guard only catches a racing REPLACE that swapped our inputs out —
    // a racing APPEND that landed predicate-MATCHING rows between v0 and
    // the publish would survive the rebase, leaving the committed state
    // with rows this statement claimed to replace (write skew). Per CAS
    // attempt, scan any head lines that are not in the v0 line set (the
    // racing commits' files — cost ∝ their volume, not the table;
    // recorded bounds could short-circuit this, but the racing-append
    // case is rare enough that one pruned limit(1) scan is the simpler
    // sound check) and abort on the first matching row, exactly like
    // Delta's Serializable conflict rule for replaceWhere. A failed or
    // conflicted commit drops both staged txns (nothing orphaned).
    val v = try casCommit(fs, root, "replaceWhere", { head =>
      val headLines = manifestFiles(fs, root, head)
      require(inputSet.subsetOf(headLines.toSet),
        "replaceWhere: concurrent REPLACE conflict — another commit " +
          "swapped out input files of this operation; re-run it " +
          "against the new head")
      val foreign = headLines.filterNot(v0Lines)
        .map(l => new Path(root, entryPath(l)).toString)
        .filterNot(stagedPaths.toSet) // never our own staged batch
      if (foreign.nonEmpty) {
        val clash = controlPlane(spark) {
          readVersionFiles(spark, fs, root, head, foreign)
            .where(predicate).limit(1).collect()
        }
        require(clash.isEmpty,
          "replaceWhere: concurrent conflict — another commit landed " +
            "rows matching the replace predicate after this statement " +
            "computed its affected set (e.g. " + clash.headOption
              .getOrElse("") + "); re-run it against the new head")
      }
      headLines.filterNot(inputSet) ++ added
    }, head => schemaOf(fs, root, head))
    catch { case e: Throwable =>
      dropStaged(fs, root, dataStaged ++ carriedStaged); throw e
    }
    (v, affected.size)
  }

  /** Copy-on-write MERGE (upsert) — SQL `MERGE INTO t USING s ON
    * t.key = s.key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`, the late-fact-correction verb that pairs with
    * [[deleteWhere]]. `source` must be unique on `key` (checked: a
    * two-source-rows-per-key merge is ambiguous) and share the table's
    * schema. Mechanics mirror the delete: (1) one scan of the head
    * snapshot left-semi-joined against the source keys finds the files
    * holding matched rows via input_file_name(); (2) ONLY those files
    * are rewritten — their non-matched rows carried as-is, matched rows
    * replaced by the source row — and every not-matched source row is
    * appended to the same staged transaction; (3) the CAS commits
    * head − affected + staged. Untouched files never open for write, so
    * merge cost tracks the matched-file footprint plus the insert
    * volume, not the table. Scale note: the key join shuffles
    * (source-key, file) pairs only; Catalyst broadcasts the source side
    * when the delta is small, which is the common nightly-correction
    * shape.
    *
    * `deleteWhen` adds the third MERGE clause — `WHEN MATCHED AND
    * <cond> THEN DELETE`, the late-fact retraction every warehouse
    * MERGE eventually needs. The condition is evaluated on the SOURCE
    * row (typically a retraction marker column): matched target rows
    * whose source row satisfies it are deleted instead of updated, and
    * delete-marked source rows never insert. Returns (newVersion,
    * filesRewritten, rowsInserted). */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
                key: String, deleteWhen: Option[Column] = None)
      : (Int, Int, Long) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = currentVersion(fs, root)
    require(v0 > 0, s"mergeInto: no committed version in $table")
    // equality deletes mask by key, but this verb's matched-row reads
    // key on positions — an eq-dead row would read back as "matched"
    // and resurrect through the rewrite. Refuse with the way out (r19).
    require(!versionHasEqs(fs, root, v0),
      s"mergeInto: $table carries live equality deletes — materialize " +
        "them first (CALL system.compact(only_dv => true)) or keep " +
        "mutating through upsertByKeys")
    // Materialize the source ONCE at entry: this verb evaluates it
    // several times (uniqueness aggregate, matched-file semi-join,
    // insert anti-join, update join), and a source that is expensive
    // or not perfectly deterministic across evaluations — a
    // concurrently-changing table, a nondeterministic expression —
    // could pass the uniqueness check yet yield duplicated or
    // inconsistent updates. Same reason Delta materializes its merge
    // source.
    val src = source
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val files = manifestFiles(fs, root, v0)
      val abs = files.map(l => l -> new Path(root, entryPath(l)).toString)
      val snap = readVersionFiles(spark, fs, root, v0, abs.map(_._2))
      // the source may carry EXTRA columns (e.g. the deleteWhen
      // marker); only the table's columns flow into updates/inserts —
      // but it must cover all of them
      val tcols = snap.columns.toSeq
      require(tcols.forall(src.columns.contains),
        "mergeInto: source must carry every table column; missing: " +
          tcols.filterNot(src.columns.contains).mkString(", "))
      // WHEN MATCHED [AND deleteWhen] THEN DELETE — the late-fact
      // retraction clause. The condition is evaluated on the SOURCE
      // row: delete-marked rows retract their matched target rows and
      // NEVER insert (a retraction of a row that no longer exists is a
      // no-op, not a resurrection); unmarked rows update-or-insert as
      // before.
      val upSrc = deleteWhen.fold(src)(c =>
        src.where(!coalesce(c, lit(false))))
      // One aggregate for the uniqueness check, not a count + a
      // distinct-count job (countDistinct skips NULLs, so unique ⇔
      // n == k + (1 if any null) — at most one NULL-keyed row is
      // allowed: it never matches the ON clause, so it is always a
      // plain insert, as in SQL MERGE). The affected-file scan captures
      // the provenance column BEFORE the key join — input_file_name()
      // is single-source-only and cannot be evaluated on join output;
      // files matched by EITHER clause (update or delete keys) are
      // affected.
      val uniq = src.agg(count(lit(1)).as("n"),
        countDistinct(col(key)).as("k"),
        count(when(col(key).isNull, 1)).as("nulls"))
      val affectedNames = snap
        .select(col(key), input_file_name().as("__f"))
        .join(src.select(col(key)), Seq(key), "left_semi")
        .select(col("__f")).distinct()
      // ONE control probe: the uniqueness aggregate and the
      // affected-file scan both read inputs already pinned for this
      // merge (the persisted source; the v0 snapshot), and neither
      // result depends on the other, so one unioned collect runs them as
      // a single scheduled job instead of two. The union rides a tagged
      // 4-column shape; the uniqueness row is the one with a NULL file
      // name (input_file_name() is never NULL on a file scan).
      // SnapshotIsolationSpec and the q_snapshot_merge oracle pin the
      // merge's results.
      val rows = controlPlane(spark) {
        uniq.select(lit(null).cast("string").as("__f"),
            col("n"), col("k"), col("nulls"))
          .unionByName(affectedNames.select(col("__f"),
            lit(null).cast("long").as("n"),
            lit(null).cast("long").as("k"),
            lit(null).cast("long").as("nulls")))
          .collect()
      }
      val (us, as) = rows.partition(_.isNullAt(0))
      val (nTotal, nDistinct, nNulls) =
        (us.head.getLong(1), us.head.getLong(2), us.head.getLong(3))
      val affNames = as.toSeq.map(_.getString(0))
      require(nTotal == nDistinct + math.min(nNulls, 1L),
        s"mergeInto: source is not unique on `$key`")
      val affectedAbs = affNames.map(fsPathOf).toSet
      val (affected, _) = abs.partition { case (_, a) =>
        affectedAbs.contains(
          fsPathOf(fs.makeQualified(new Path(a)).toString))
      }
      // not-matched non-delete source rows insert regardless of whether
      // any file matched; matched-file rows are rewritten with updates
      // applied. The anti-join runs against the LIVE key set
      // (dv-applied): a key whose only target rows were position-deleted
      // must INSERT, not silently vanish.
      //
      // r22 (guide §6 one-pass I/O): the insert set is consumed exactly
      // ONCE — the staged write's union — so the r21 persist and its
      // cache-materializing count job are gone; the inserted-row count
      // this verb returns rides the write itself as an observed metric
      // (the write already evaluates every insert row — a separate job
      // re-bought the same rows for one number). Single evaluation also
      // makes the r21 determinism concern moot, and the SOURCE stays
      // persisted above, pinning any nondeterminism where it can arise.
      val snapLive = readManifestLines(spark, fs, root, v0, files)
      val inserts = upSrc.select(tcols.map(col): _*)
        .join(snapLive.select(col(key)), Seq(key), "left_anti")
      val insObs = org.apache.spark.sql.Observation()
      // the observed handle is unioned into the staged write EXACTLY
      // once per branch below; any other plan use of the insert set
      // (the MOR empty-affected placeholder) takes the bare frame, so
      // the metric fires once, from the write that commits the rows
      val insertsObs = inserts.observe(insObs, count(lit(1)).as("n"))
      locally {
        val affLines = affected.map(_._1)
        if (morEnabled(propsOf(fs, root, v0))) {
          // merge-on-read MERGE: matched target rows (update AND delete
          // keys) are position-deleted via a dv sidecar; updated rows
          // and inserts append as new data files — ONE commit, write
          // cost ∝ matched + inserted rows, affected data files never
          // open for write (r16 verdict task 1)
          val (dvStaged, grpToSidecars) =
            if (affLines.isEmpty)
              (Seq.empty[(String, Long)], Map.empty[String, Seq[String]])
            else stageDv(spark, fs, root,
              readLinesPos(spark, fs, root, v0, affLines)
                .join(src.select(col(key)), Seq(key), "left_semi")
                .select(col("__grp").as("grp"), col("__pos").as("pos")))
          try {
            val annotated = affLines.map { l =>
              grpToSidecars.getOrElse(grpOfRel(entryPath(l)), Nil)
                .foldLeft(l)(withDvGroup)
            }
            val updated =
              if (affLines.isEmpty) inserts.where(lit(false))
              else readManifestLines(spark, fs, root, v0, affLines)
                .select(col(key))
                .join(upSrc, Seq(key), "inner")
                .select(tcols.map(col): _*)
            val newData = updated.unionByName(insertsObs)
            // track the data files too: a failed commit must drop BOTH
            // stage sets, not orphan the data half until vacuum (r17
            // ADVICE — deleteWhereMor/replaceWhere already do this)
            var dataStaged = Seq.empty[(String, Long)]
            try {
              dataStaged = stageTxn(spark, fs, root, newData)
              // the staged write evaluated the insert arm; its observed
              // count is THE inserted-row number (read after the action,
              // so it never blocks)
              val nInserted = insObs.get("n").asInstanceOf[Long]
              val added = annotated ++ withStats(spark, fs, root,
                dataStaged, statsColumnsOf(fs, root, v0))
              val v = replaceCommit(fs, root, "mergeIntoMor",
                affLines.toSet, added)
              (v, affected.size, nInserted)
            } catch { case e: Throwable =>
              dropStaged(fs, root, dataStaged); throw e
            }
          } catch { case e: Throwable =>
            dropStaged(fs, root, dvStaged); throw e
          }
        } else {
          val staged =
            if (affected.isEmpty) insertsObs
            else {
              // dv-aware: rows a prior MOR delete removed must not
              // resurrect through this rewrite
              val old = readManifestLines(spark, fs, root, v0, affLines)
              // ONE left-outer join, not a carried(anti) +
              // updated(inner) pair, which would read the affected files
              // TWICE and shuffle/join them twice for decisions
              // derivable from a single probe of the (unique-keyed,
              // checked above) source. Per old row:
              //   no source match        → carry the old row
              //   match, deleteWhen-true → drop (ALL matched rows leave
              //                            the rewrite; deleted ones
              //                            never re-enter)
              //   match, unmarked        → the source row's table
              //                            columns (SQL MERGE updates
              //                            EACH matched target row — a
              //                            target holding N rows for a
              //                            key yields N updated rows,
              //                            which the left-outer join
              //                            preserves; the source side
              //                            is unique, so no fan-out)
              // NULL-keyed old rows never match (SQL join semantics)
              // and carry, exactly as the anti-join carried them.
              // Source columns ride under an internal prefix, minted
              // longer until no target or source column starts with it
              // (case-insensitively, as Spark resolves names), so no
              // user column can collide with an internal alias; the
              // key and marker aliases sit outside the `c_` namespace
              // the table columns take. MergeFusionSpec pins the result
              // against the two-join form (carried = anti-join,
              // updated = inner join).
              val names = (tcols ++ src.columns)
                .map(_.toLowerCase(java.util.Locale.ROOT))
              val pfx = Iterator.iterate("__graft_ms_")(_ + "_")
                .find(p => !names.exists(_.startsWith(p))).get
              val (sk, sdel) = (s"${pfx}k", s"${pfx}del")
              val marker = deleteWhen.fold(lit(false))(c =>
                coalesce(c, lit(false)))
              val srcSide = src.select(
                col(key).as(sk) +:
                  (tcols.filterNot(_ == key)
                    .map(c => col(c).as(s"${pfx}c_$c")) :+
                    marker.as(sdel)): _*)
              old.join(srcSide, old(key) === srcSide(sk), "left_outer")
                .where(col(sk).isNull || !col(sdel))
                .select(tcols.map { c =>
                  if (c == key) col(key)
                  else when(col(sk).isNotNull, col(s"${pfx}c_$c"))
                    .otherwise(col(c)).as(c)
                }: _*)
                .unionByName(insertsObs)
            }
          // rewritten + inserted files keep the table's recorded
          // bounds, as in deleteWhere; a rewrite keeping ZERO rows
          // (every row of the affected files deleted) stages nothing
          // and the affected entries simply leave the manifest.
          // r22: the zero-rows decision used to be a separate isEmpty
          // (limit-1) job on every COW merge — and one that would have
          // fired the insert-count observation early, off a partial
          // evaluation. It now rides the SAME write as a second observed
          // metric: stage, and if the staged union proved empty, drop
          // the txn dir and record nothing (one extra empty-dir
          // write+delete on that rare path; one fewer scheduled job on
          // every other merge).
          val totObs = org.apache.spark.sql.Observation()
          val dataStaged = stageTxn(spark, fs, root,
            staged.observe(totObs, count(lit(1)).as("rows")))
          val nInserted = insObs.get("n").asInstanceOf[Long]
          val added =
            if (totObs.get("rows").asInstanceOf[Long] == 0L) {
              dropStaged(fs, root, dataStaged)
              Seq.empty[String]
            } else withStats(spark, fs, root, dataStaged,
              statsColumnsOf(fs, root, v0))
          val v = replaceCommit(fs, root, "mergeInto",
            affLines.toSet, added)
          (v, affected.size, nInserted)
        }
      }
    } finally src.unpersist()
  }

  // -- SQL row-level operation support (graft.sql.GraftRowLevel) -------
  // MERGE INTO / UPDATE / complex DELETE arrive through Spark's
  // group-based rewrite (SupportsRowLevelOperations): the planner reads
  // the affected file-groups through a COW scan and writes back their
  // surviving rows; these two verbs are the manifest-format half —
  // the group inventory the scan prunes, and the swap commit.

  /** A pinned version's manifest entries as (manifest line, qualified
    * absolute path, bytes) — the file-group inventory for a COW
    * row-level scan. The absolute path doubles as the `_file` metadata
    * value, so runtime group filtering compares exactly the strings
    * this list carries. */
  private[graft] def rowLevelEntries(spark: SparkSession, table: String,
      version: Int): Seq[(String, String, Long)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestFiles(fs, root, version).map { l =>
      val p = new Path(root, entryPath(l))
      (l, fs.makeQualified(p).toString,
        entrySize(l).getOrElse(fs.getFileStatus(p).getLen))
    }
  }

  /** Commit a row-level rewrite: swap `affectedLines` (the groups the
    * COW scan read) for `staged` root-relative files — one REPLACE CAS,
    * re-recording the table's stats columns on the rewritten files like
    * every other rewrite verb. An empty `affectedLines` (no group
    * matched, pure not-matched inserts) degenerates to an append. */
  private[graft] def commitRewrite(spark: SparkSession, table: String,
      version: Int, affectedLines: Set[String],
      staged: Seq[(String, Long)], op: String): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val added =
      if (staged.isEmpty) Seq.empty[String]
      else withStats(spark, fs, root, staged,
        statsColumnsOf(fs, root, version))
    replaceCommit(fs, root, op, affectedLines, added)
  }

  /** Commit a DELTA row-level write (the merge-on-read half of the SQL
    * row-level surface, [[graft.sql.GraftDeltaOperation]]): the tasks
    * staged `dataStaged` (insert/update-new rows) and position-delete
    * sidecars; `grpToSidecars` says which sidecar(s) carry each data
    * file's deleted ordinals. ONE REPLACE CAS swaps the affected lines
    * for the same lines with dv groups appended and adds the new data
    * files — no pre-existing data file is ever rewritten, so a SQL
    * UPDATE/MERGE costs the matched+inserted rows, not the matched-file
    * bytes. Grps whose file was concurrently compacted away surface as
    * the standard REPLACE conflict (the annotated line is no longer in
    * the head). */
  private[graft] def commitDelta(spark: SparkSession, table: String,
      version: Int, grpToSidecars: Map[String, Seq[String]],
      dataStaged: Seq[(String, Long)], op: String): Int = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val affected = manifestFiles(fs, root, version)
      .filter(l => grpToSidecars.contains(grpOfRel(entryPath(l))))
    require(affected.map(l => grpOfRel(entryPath(l))).toSet ==
      grpToSidecars.keySet,
      s"$op: delete positions reference files absent from the pinned " +
        s"version (${grpToSidecars.keySet -- affected.map(l =>
          grpOfRel(entryPath(l)))})")
    val annotated = affected.map { l =>
      grpToSidecars(grpOfRel(entryPath(l))).sorted.foldLeft(l)(withDvGroup)
    }
    val added = annotated ++ (
      if (dataStaged.isEmpty) Seq.empty[String]
      else withStats(spark, fs, root, dataStaged,
        statsColumnsOf(fs, root, version)))
    replaceCommit(fs, root, op, affected.toSet, added)
  }

  /** [[grpOfRel]] for the SQL layer (qualified-absolute or relative —
    * only the last two segments matter). */
  private[graft] def grpOfPath(p: String): String = grpOfRel(p)

  /** Snapshot GC (VACUUM): drop manifests older than the newest
    * `keepLast`, then delete every data file + empty txn directory no
    * retained manifest references — this is what finally reclaims
    * crashed-transaction orphans and files only historical snapshots
    * used. Deletion order is the safe one: manifests first (so a
    * concurrent reader can no longer pin a doomed version), files
    * second; unreferenced txn dirs younger than `orphanOlderThanMs` are
    * spared — they may be a live commit between staging and publish
    * (pass 0 to force, tests only). Returns (#manifests, #files)
    * removed. */
  /** Per-version commit summary — the DESCRIBE HISTORY analogue:
    * (version, committed-at epoch-ms from the manifest's mtime, file
    * count, recorded bytes, commit UUID), ascending by version. Expired
    * versions are absent by design. O(surviving versions) manifest
    * reads, zero data-file access — table size never enters. Surfaced
    * as SQL via `CALL <cat>.system.history('t')`
    * ([[graft.sql.GraftProcedures]]). */
  /** One-row table summary for `CALL system.detail` — head version,
    * live file count, recorded data bytes, schema DDL, and the table
    * properties: the DESCRIBE DETAIL analogue. O(manifest) metadata
    * reads, zero data-file IO at any table size. */
  /** (head version, live files, recorded bytes, schema DDL, props,
    * files carrying live deletion vectors, distinct dv sidecars) — the
    * last two are the MOR-health signal: a growing sidecar count says
    * "schedule a compaction", still from metadata alone. */
  def tableDetail(spark: SparkSession, table: String)
      : (Int, Int, Long, String, Map[String, String], Int, Int) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = currentVersion(fs, root)
    require(v > 0, s"tableDetail: no committed version in $table")
    val lines = manifestFiles(fs, root, v)
    val entries = versionFileEntries(fs, root, v)
    val dvs = lines.map(entryDvs).filter(_.nonEmpty)
    (v, entries.size, entries.flatMap(_._2).sum,
      schemaOf(fs, root, v).map(_.toDDL).getOrElse(""),
      propsOf(fs, root, v),
      dvs.size, dvs.flatten.distinct.size)
  }

  def history(spark: SparkSession, table: String)
      : Seq[(Int, Long, Int, Long, String, String)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new Path(root, "manifests")
    if (!fs.exists(mdir)) return Nil
    fs.listStatus(mdir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(n) =>
          val v = n.toInt
          val entries = versionFileEntries(fs, root, v)
          Some((v, st.getModificationTime, entries.size,
            entries.flatMap(_._2).sum,
            commitIdOf(fs, st.getPath).getOrElse(""),
            // the committing VERB (DESCRIBE HISTORY's operation
            // column); "" on pre-#op manifests
            opNameOf(fs, root, v).getOrElse("")))
        case _ => None
      }
    }.sortBy(_._1)
  }

  def expireSnapshots(spark: SparkSession, table: String,
                      keepLast: Int = 2,
                      orphanOlderThanMs: Long = 30L * 60 * 1000)
      : (Int, Int) = {
    require(keepLast >= 1, "must retain at least the head snapshot")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = currentVersion(fs, root)
    val cutoff = head - keepLast + 1
    val expired = (1 until cutoff)
      .filter(v => fs.exists(new Path(root, s"manifests/v$v.manifest")))
    // retained = every data file AND every dv sidecar a surviving
    // manifest references — a position-delete sidecar is as load-bearing
    // as the data file it masks. Live BRANCHES protect their files too:
    // an unpublished WAP batch is staged data a main-chain sweep must
    // never reclaim (r18) — every version of every branch chain counts,
    // since branch readers may be pinned mid-audit.
    val branchRetained = listBranches(spark, table).flatMap { b =>
      val chain = chainOf(b)
      // enumerate the chain's ACTUAL versions from one directory
      // listing — a branch forked at a high version holds only a few
      // manifests, and probing 1..head would cost O(main head)
      // filesystem RPCs per branch (r18 ADVICE)
      chainVersions(fs, root, chain)
        .flatMap(v => manifestFiles(fs, root, v, chain))
    }
    val retainedFiles = ((math.max(1, cutoff) to head)
      .filter(v => fs.exists(new Path(root, s"manifests/v$v.manifest")))
      .flatMap(v => manifestFiles(fs, root, v)) ++ branchRetained)
      .flatMap(l =>
        (entryPath(l) +: entryDvs(l)) ++ entryEqs(l).map(_._1)).toSet
    // Delta-dependency cut (r20): the oldest RETAINED version is the
    // only one whose delta base can fall below the cutoff (bases are
    // always same-chain v-1 and retained main versions are contiguous
    // up to head), so if it is a delta, materialize its full
    // reconstruction as a `.ckpt` sidecar BEFORE the bases go away.
    // Content is deterministic (same chain → same bytes), so a racing
    // sweep converges; publish-if-absent keeps it one writer anyway.
    if (expired.nonEmpty) {
      (math.max(1, cutoff) to head)
        .find(v => fs.exists(new Path(root, s"manifests/v$v.manifest")))
        .foreach { v0 =>
          val ck = ckptPath(root, v0, "")
          if (depthOf(fs, root, v0) > 0 && !fs.exists(ck)) {
            val full = rawManifestLines(fs, root, v0)
            val tmp = new Path(root, s"manifests/.v$v0.ckpt-tmp-" +
              java.util.UUID.randomUUID().toString)
            val out = fs.create(tmp, /* overwrite = */ false)
            try out.write(full.mkString("\n").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            publishNoReplace(fs, tmp, ck)
          }
        }
    }
    expired.foreach { v =>
      fs.delete(new Path(root, s"manifests/v$v.manifest"), false)
      // a sidecar for an expired version (it was the oldest retained
      // once) is dead weight now
      fs.delete(ckptPath(root, v, ""), false)
    }
    // Re-check the head before the DESTRUCTIVE half: retainedFiles was
    // computed against the head read above, and a concurrent rollbackTo
    // could re-commit an expired version's file list as a NEW head after
    // that read — sweeping on the stale set would then delete files the
    // new head references. If the head moved, abort the file sweep (the
    // manifests already dropped stay dropped — removing history metadata
    // is safe; removing data files referenced by an unseen head is not)
    // and let the next scheduled sweep recompute. rollbackTo's symmetric
    // guard (re-reading its target manifest inside the CAS loop) makes a
    // rollback to an already-expired version fail fast instead of
    // resurrecting a swept file list. The two guards NARROW the race to
    // the window between this check and the sweep finishing; a rollback
    // CAS landing inside that window can still reference doomed files,
    // so — as with every snapshot-expiring table format — rollback and
    // vacuum remain operations to schedule apart, not to race.
    if (currentVersion(fs, root) != head) return (expired.size, 0)
    // a transaction's files enter one manifest together, so a txn dir is
    // either fully retained or fully garbage — sweep whole directories
    // (this also clears _SUCCESS markers and crashed-txn leftovers)
    val dataDir = new Path(root, "data")
    var removed = 0
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { txn =>
      if (txn.isDirectory) {
        val parquets = fs.listStatus(txn.getPath).filter(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet"))
        val retained = parquets.exists(st => retainedFiles.contains(
          s"data/${txn.getPath.getName}/${st.getPath.getName}"))
        // age guard: an unreferenced dir younger than the threshold may
        // be a LIVE transaction between staging and manifest publish —
        // leave it for the next sweep (same mtime>0 object-store caveat
        // as Sketches.qSketchRollup's leaf sweep)
        val old = txn.getModificationTime > 0 &&
          txn.getModificationTime <
            System.currentTimeMillis() - orphanOlderThanMs
        if (!retained && (old || orphanOlderThanMs == 0)) {
          removed += parquets.length
          fs.delete(txn.getPath, true)
        }
      }
    }
    (expired.size, removed)
  }

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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
  def qSnapshotMerge(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_merge"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 0))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    val mx = controlPlane(s) {
      o.agg(max(col("o_orderkey"))).head.getLong(0)
    } // 1-row control decision: AQE off = one job, not agg-stage + result
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Merge-on-read MERGE, end to end: the same three-verb delta as
    * [[qSnapshotMerge]] (updates, inserts, retractions) against a
    * `graft.rowlevel.mode = 'mor'` table — matched rows position-delete
    * via a dv sidecar, updated+inserted rows append as new files, no
    * affected data file is rewritten. The shared oracle proves the MOR
    * merge's visible state ≡ the COW merge's. */
  def qSnapshotMergeMor(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    val table = s"${Sources.ioDir(s, d)}/orders_merge_mor"
    dropTable(s, table) // deterministic re-run: fresh table history
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      dec2(col("o_totalprice")).as("price"))
    commitSnapshot(s, table,
      o.where(pmod(col("o_orderkey"), lit(2)) === 0),
      props = Map(RowLevelModeProp -> "mor"))
    commitSnapshot(s, table, o.where(pmod(col("o_orderkey"), lit(2)) === 1))
    val mx = controlPlane(s) {
      o.agg(max(col("o_orderkey"))).head.getLong(0)
    } // 1-row control decision: AQE off = one job, not agg-stage + result
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
    readSnapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    val mx = controlPlane(s) {
      o.agg(max(col("o_orderkey"))).head.getLong(0)
    } // 1-row control decision: AQE off = one job, not agg-stage + result
    readSnapshotRange(s, table, "o_orderkey", mx / 4, mx / 2)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshotWhere(s, table, Seq(
        SkipRange("o_custkey", mc / 8, mc / 4),
        SkipRange("o_orderkey", mk / 8, mk / 4)))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readChanges(s, table, v1, v3)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    val res = s.table(name)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    readSnapshot(s, dst)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
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
    s.read.format("graft-manifest").load(table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

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
