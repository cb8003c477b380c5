package graft.ops
package layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.execution.datasources.parquet.SidecarReader
import graft.functions.MorMask
import org.apache.hadoop.fs.{FileSystem, Path}

/** Snapshot reads, manifest-level skipping and change feeds.
  * Mixed into [[graft.ops.Layout]]. */
private[ops] trait Reads { this: Layout.type =>
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
    ((if (dvFreeOnly) lines.filterNot(masked) else lines)
       .map(l => new Path(root, entryPath(l)).toString),
     schemaOf(fs, root, v, chain))
  }

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

  /** The merge-on-read mask of a read of data files under `dataSchema`:
    * keep a row unless its file's own sidecars delete it — `dvs` pairs
    * a data file (relative path) with its position-delete sidecars,
    * `eqs` with its equality-delete (key file, key columns) pointers.
    * Returns what a task needs ([[MorMask.Spec]]) and the key columns
    * as (name, data type, comparison type). Built from manifest lines on
    * the driver with no Spark job: one stat per sidecar, the key
    * files' footers (each file's own key columns, widened into one
    * schema — upserts may key one column int, then long), and Spark's
    * parquet read function; the rows load inside the task that reads
    * the file ([[MorMask]]). */
  private[graft] def maskSpec(spark: SparkSession, fs: FileSystem,
      root: Path, dataSchema: types.StructType,
      dvs: Seq[(String, Seq[String])],
      eqs: Seq[(String, Seq[(String, Seq[String])])])
      : (MorMask.Spec, Seq[(String, types.DataType, types.DataType)]) = {
    val keyLists = eqs.flatMap(_._2.map(_._2)).distinct
    require(keyLists.size <= 1,
      s"equality deletes with mixed key columns: " +
        s"${keyLists.map(_.mkString("+")).mkString(", ")} — compact " +
        "before changing keys")
    val keyCols = keyLists.headOption.getOrElse(Nil)
    val sizes = (dvs.flatMap(_._2) ++ eqs.flatMap(_._2.map(_._1))).distinct
      .map { rel =>
        val st = fs.getFileStatus(new Path(root, rel))
        rel -> (st.getPath.toString, st.getLen)
      }.toMap
    // keyed by the file's group as the scan derives it from its
    // url-encoded `_metadata.file_path`
    def pointers(ps: Seq[(String, Seq[String])]) = ps.map { case (rel, s) =>
      MorMask.grpOf(new Path(root, rel).toUri.toString) ->
        s.map(sizes(_)._1).distinct.toArray
    }.toMap
    def field(s: types.StructType, c: String, what: String) =
      s.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"$what lacks key column `$c`"))
    // each key file's footer projected to the key columns before the
    // widening merge: a key file may be a data file, whose other columns
    // can have changed type since; read by name, as a key-only
    // tombstone file carries no field ids
    val stored = eqs.flatMap(_._2.map(_._1)).distinct
      .map { p =>
        val footer = ColumnBridge.parquetFooterSchema(spark,
          Seq(new Path(root, p).toString))
        types.StructType(keyCols.map(c =>
          field(footer, c, s"equality-delete key file $p")
            .copy(metadata = types.Metadata.empty)))
      }
      .reduceOption(mergeWiden).toSeq.flatMap(_.fields)
    val dataTypes = keyCols.map(field(dataSchema, _, "data").dataType)
    // both sides widen to one type, as a join's equality coerces them
    val cmp = stored.zip(dataTypes).zip(keyCols).map { case ((f, d), c) =>
      TypeCoercion.findWiderTypeForTwo(d, f.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"equality-delete key `$c`: sidecar ${f.dataType.sql} cannot " +
            s"compare with data ${d.sql}"))
    }
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val spec = new MorMask.Spec(pointers(dvs),
      pointers(eqs.map { case (rel, e) => rel -> e.map(_._1) }),
      sizes.values.toMap,
      if (dvs.isEmpty) null else SidecarReader(spark, MorMask.DvSchema),
      if (eqs.isEmpty) null
      else SidecarReader(spark, types.StructType(stored)),
      stored.zip(cmp).zipWithIndex.map { case ((f, t), i) =>
        MorMask.keyCast(i, f.dataType, t, tz) }.toArray)
    (spec, keyCols.lazyZip(dataTypes).lazyZip(cmp).toSeq)
  }

  /** [[maskSpec]] of manifest `lines` (`withEqs = false`: position
    * deletes only). */
  private[graft] def linesMaskSpec(spark: SparkSession, fs: FileSystem,
      root: Path, dataSchema: types.StructType, lines: Seq[String],
      withEqs: Boolean = true)
      : (MorMask.Spec, Seq[(String, types.DataType, types.DataType)]) =
    maskSpec(spark, fs, root, dataSchema,
      lines.map(l => entryPath(l) -> entryDvs(l)).filter(_._2.nonEmpty),
      if (!withEqs) Nil
      else lines.map(l => entryPath(l) -> entryEqs(l)).filter(_._2.nonEmpty))

  /** [[maskSpec]] as a filter on `frame`, a read of data files: its
    * `_metadata` file path and row index, its key columns widened to the
    * comparison types. */
  private[graft] def morMask(spark: SparkSession, fs: FileSystem,
      root: Path, frame: DataFrame, dvs: Seq[(String, Seq[String])],
      eqs: Seq[(String, Seq[(String, Seq[String])])]): Column =
    maskColumn(maskSpec(spark, fs, root, frame.schema, dvs, eqs))

  /** [[morMask]] of manifest `lines` (`withEqs = false`: position
    * deletes only). */
  private[ops] def linesMask(spark: SparkSession, fs: FileSystem,
      root: Path, frame: DataFrame, lines: Seq[String],
      withEqs: Boolean = true): Column =
    maskColumn(linesMaskSpec(spark, fs, root, frame.schema, lines, withEqs))

  private def maskColumn(
      mask: (MorMask.Spec, Seq[(String, types.DataType, types.DataType)]))
      : Column =
    MorMask.keep(mask._1, col("_metadata.file_path"),
      col("_metadata.row_index"), mask._2.map { case (c, d, t) =>
        if (d == t) col(c) else col(c).cast(t) })

  /** Open manifest-listed files under `version`'s RECORDED schema when
    * present: files older than an added column null-fill it, files newer
    * than a rollback target project it away — either way the reader sees
    * the schema that was the table's contract AT that version, which is
    * what makes time travel honest under evolution. Pre-schema-tracking
    * manifests fall back to footer inference (the old behavior). */
  private[ops] def readVersionFiles(spark: SparkSession, fs: FileSystem,
      root: Path, v: Int, paths: Seq[String]): DataFrame = {
    val r = spark.read
    schemaOf(fs, root, v).fold(r)(s => {
      ensureFieldIdRead(spark, s) // id-mapped tables match by field id
      r.schema(s)
    }).parquet(paths: _*)
  }

  /** Read parquet files this engine wrote itself — just-staged txn
    * files and position-delete sidecars — under the schema of their
    * footer, read on the driver
    * ([[ColumnBridge.parquetFooterSchema]]: the same footer and the same
    * conversion inference uses). A schema-less `spark.read.parquet`
    * would infer it through a 1-task Spark job on every read. */
  private[graft] def readSidecars(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.schema(ColumnBridge.parquetFooterSchema(spark, paths))
      .parquet(paths: _*)

  /** Read a set of manifest LINES under `v`'s recorded schema with
    * merge-on-read deletes APPLIED — the one read core every snapshot
    * consumer (readSnapshot, the skipping reads, the rewrite verbs,
    * compaction) goes through, so a deleted row is invisible everywhere
    * at once. Lines WITHOUT masks read on the plain vectorized path,
    * untouched; lines WITH position-delete or equality-delete sidecars
    * read with one [[morMask]] filter, which loads each file's own
    * sidecars inside the task that reads the file. Either way the read
    * is one scan job at any sidecar count. Position deletes key on
    * `_metadata.row_index`, which Spark keeps correct under row-group
    * skipping — the same contract Delta's deletion vectors rely on.
    * Equality deletes (r19) are per-line: each upsert annotates only the
    * lines at ITS head, so a file is masked by every eq delete committed
    * after it and by none committed before. Cost ∝ live sidecar rows per
    * read file, bounded by maintenance cadence (compact/only_dv resets it
    * to zero), the same bargain every MOR design strikes. */
  private[graft] def readManifestLines(spark: SparkSession,
      fs: FileSystem, root: Path, v: Int,
      lines: Seq[String]): DataFrame = {
    if (lines.isEmpty) {
      val sch = schemaOf(fs, root, v).getOrElse(types.StructType(Nil))
      return emptyFrame(spark, sch)
    }
    def read(ls: Seq[String]) = readVersionFiles(spark, fs, root, v,
      ls.map(l => new Path(root, entryPath(l)).toString))
    val (maskedLines, plain) = lines.partition(masked)
    val maskedRead = if (maskedLines.isEmpty) Nil else {
      val f = read(maskedLines)
      Seq(f.where(linesMask(spark, fs, root, f, maskedLines)))
    }
    (maskedRead ++ (if (plain.isEmpty) Nil else Seq(read(plain))))
      .reduce(_ unionByName _)
  }

  /** The masked read of ONLY `version`'s mask-CARRYING files (position
    * or equality deletes) — the masked branch of the SQL scan's per-file
    * MOR dispatch ([[graft.sql.MorPerFileDispatch]]): the optimizer
    * serves a dv-carrying version as Union(vectorized BatchScan over
    * dv-free files, this plan), so one trickle-deleted file never costs
    * a table-wide vectorization loss (r17 verdict task 1). The plan is
    * a file scan under one [[morMask]] Filter, so the injected branch
    * adds no job. Empty frame when the version carries no masks. */
  private[graft] def maskedDvRead(spark: SparkSession, table: String,
      version: Int): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvLines = manifestFiles(fs, root, version)
      .filter(masked)
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
  private[ops] def utf8Leq(a: String, b: String): Boolean =
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
      if (dvFreeOnly) all.filterNot(masked) else all
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

  private[ops] def emptyFrame(spark: SparkSession, s: types.StructType) =
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
    val (added, sch) = changedFilesWithSchema(spark, table, fromVersion,
      toVersion, "readChanges")
    // only open the files actually returned; an empty delta is an empty
    // frame under toVersion's schema (the consumer's contract)
    if (added.isEmpty) emptyFrame(spark, sch)
    else {
      val root = new Path(table)
      readVersionFiles(spark,
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
        toVersion, added)
    }
  }

  /** [[readChanges]]' file-set core, for consumers that plan their own
    * scan (the SQL `CALL system.changes` procedure): (added absolute
    * paths, toVersion's schema — recorded, or inferred from the delta's
    * own footers for legacy tables). Same APPEND-only contract and loud
    * REPLACE rejection; `verb` prefixes the refusal messages. */
  private[graft] def changedFilesWithSchema(spark: SparkSession,
      table: String, fromVersion: Int, toVersion: Int,
      verb: String = "changes"): (Seq[String], types.StructType) = {
    require(fromVersion <= toVersion,
      s"$verb: fromVersion $fromVersion > toVersion $toVersion")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from =
      if (fromVersion == 0) Set.empty[String]
      else manifestFiles(fs, root, fromVersion).toSet
    val to = manifestFiles(fs, root, toVersion)
    require(from.subsetOf(to.toSet),
      s"$verb: a REPLACE commit landed in ($fromVersion, $toVersion] " +
        "— line-set diff is not a row-level change log across rewrites")
    def abs(ls: Seq[String]) =
      ls.map(l => new Path(root, entryPath(l)).toString)
    val added = abs(to.filterNot(from))
    val sch = schemaOf(fs, root, toVersion).getOrElse {
      val basis = if (added.nonEmpty) added else abs(to)
      require(basis.nonEmpty,
        s"$verb: $table has no recorded schema and no files to infer " +
          "one from")
      ColumnBridge.parquetFooterSchema(spark, basis)
    }
    (added, sch)
  }

}
