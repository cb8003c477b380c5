package graft.ops
package layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types
import graft.SizeTier
import org.apache.hadoop.fs.{FileSystem, Path}

/** Rollback, clone and branches.
  * Mixed into [[graft.ops.Layout]]. */
private[ops] trait Branches { this: Layout.type =>
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
    require(versionMasks(fs, sroot, sHead) == ((false, false)),
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
    require(versionMasks(fs, root, head) == ((false, false)),
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
    val entries = stageTxn(spark, fs, root, df, chain = chain,
      statsColumns = statsColumns).map(_.line)
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
              val props = propsOf(fs, root, head)
              if (idMapped(props)) Some(restampIds(m, merged, props))
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

}
