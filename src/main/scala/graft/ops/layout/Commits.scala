package graft.ops
package layout

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, FileAggregate}
import org.apache.spark.sql.types
import graft.{ControlPlane, SizeTier}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit protocol: publish, the commit lock, the manifest CAS,
  * transaction staging with its per-file statistics, the commit verbs,
  * the schema DDL verbs and the transaction verbs.
  * Mixed into [[graft.ops.Layout]]. */
private[ops] trait Commits { this: Layout.type =>
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
  private[ops] def casCommit(fs: FileSystem, root: Path, op: String,
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
        val schema = schemaFor(head)
        val header = Seq(CommitHeader + attemptId, OpHeader + enc(op)) ++
          (schema.map(s => SchemaHeader + s.json).toSeq ++
            withColumnIdMark(props, schema).toSeq.sorted.map {
              case (k, v2) => s"$PropHeader${enc(k)}\t${enc(v2)}" } ++
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

  /** The REPLACE-rewrite tail of the copy-on-write verbs and the
    * compactions: stage `frame` as one txn recording `statsColumns`, and
    * publish the staged files' lines through `commit` — a
    * [[replaceCommit]] of the verb's inputs, or [[deleteCommit]]. A
    * rewrite that keeps no row (every staged file holds 0 rows) drops
    * its txn and adds no line: its inputs simply leave the manifest. Any
    * failure, the CAS refusing included, drops the staged txn. Returns
    * (new version, lines added). */
  private[ops] def rewriteCommit(spark: SparkSession, fs: FileSystem,
      root: Path, frame: DataFrame, statsColumns: Seq[String])(
      commit: Seq[String] => Int): (Int, Seq[String]) = {
    val staged = stageTxn(spark, fs, root, frame,
      statsColumns = statsColumns)
    try {
      val added =
        if (staged.forall(_.rows == 0L)) {
          dropStaged(fs, root, staged)
          Seq.empty[String]
        } else staged.map(_.line)
      (commit(added), added)
    } catch { case e: Throwable => dropStaged(fs, root, staged); throw e }
  }

  /** The delete-commit tail of the merge-on-read verbs: one REPLACE CAS
    * swapping each of `lines` whose file group ([[grpOfRel]]) has
    * position-delete sidecars in `grpToSidecars` for the same line with
    * those sidecars appended as dv groups, plus `dataLines`. Every group
    * must name one of `lines`. Any failure, the CAS refusing included,
    * drops `staged` (the sidecars' txn). */
  private[ops] def deleteCommit(fs: FileSystem, root: Path, op: String,
      lines: Seq[String], grpToSidecars: Map[String, Seq[String]],
      dataLines: Seq[String], staged: Seq[Staged] = Nil): Int =
    try {
      val affected = byGrp(lines, grpToSidecars.keySet)._1
      val absent = grpToSidecars.keySet --
        affected.map(l => grpOfRel(entryPath(l)))
      require(absent.isEmpty, s"$op: delete positions reference files " +
        s"absent from the pinned version ($absent)")
      replaceCommit(fs, root, op, affected.toSet, affected.map(l =>
        grpToSidecars(grpOfRel(entryPath(l))).sorted.foldLeft(l)(
          withDvGroup)) ++ dataLines)
    } catch { case e: Throwable => dropStaged(fs, root, staged); throw e }

  /** Stage `df` into a fresh uuid'd data/txn-* dir — invisible until a
    * manifest lists its files — and return each committed file with its
    * manifest line. The line's statistics ([[commitStats]]: the union of
    * `statsColumns` and what the table's props declare) are computed by
    * the write task as the file is written, and its size comes from the
    * one listStatus the staging already does: no commit reads back the
    * files it staged. `fileAggs` are extra per-file aggregates whose
    * values each [[Staged]] carries. */
  private[ops] def stageTxn(spark: SparkSession, fs: FileSystem, root: Path,
                       df: DataFrame,
                       createProps: Map[String, String] = Map.empty,
                       stamp: Boolean = true,
                       chain: String = "",
                       allowNewIds: Boolean = false,
                       statsColumns: Seq[String] = Nil,
                       fileAggs: Seq[Column] = Nil)
      : Seq[Staged] = {
    val txn = new Path(root,
      "data/txn-" + java.util.UUID.randomUUID().toString)
    // id-mapped tables stamp field ids on EVERY staged DATA frame
    // (identity for everything else) — one chokepoint instead of
    // per-verb metadata plumbing, so a rewrite verb whose unionByName
    // dropped the metadata still stages correct footers. stamp = false
    // for internal sidecars (dv position files) that never read under
    // the table schema, and that record no statistics.
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
    // the statistics follow the MAIN head's props, a branch's own props
    // over them, and a CREATE's or layout rewrite's props over both
    val stats =
      if (!stamp) commitStats(spark, out.schema, Nil, Map.empty, fileAggs)
      else commitStats(spark, out.schema, statsColumns,
        (if (chain.isEmpty) Map.empty[String, String]
         else propsOf(fs, root, currentVersion(fs, root))) ++ stagedProps,
        fileAggs)
    def write(frame: DataFrame, partitionBy: Seq[String]) =
      FileAggregate.writeParquet(frame, txn.toString, partitionBy, stats.agg)
    // a user column that collides with the fanout's duplicated-column
    // names would be silently dropped by the dynamic writer — fall back
    // to the plain write (the invariant is an optimization, data is not)
    val fanoutSafe = !out.columns.exists(_.startsWith("__gp_"))
    val written =
      if (stamp && fanoutSafe &&
          bucketSpec.exists(b => out.columns.contains(b._1))) {
        // bucket layout: repartition INTO the buckets first (≈N tasks,
        // each holding whole buckets — without this, every task would
        // fan a file into every bucket: tasks × N files per commit),
        // then the same per-value fanout writer
        val (c, n) = bucketSpec.get
        val bexpr = bucketPlacementExpr(out.schema, c, n)
        val fan = out.repartition(n, bexpr).withColumn("__gp_bucket", bexpr)
        // r22 (guide §7 driver dwell): AQE cannot improve THIS write —
        // the shuffle width is an explicit repartition(n) that AQE never
        // coalesces, so adaptivity's only remaining levers (join
        // demotion, skew splits) live BELOW the repartition and only
        // matter when the staged frame is big. Below a plan-stats
        // ceiling the write runs AQE-off: the per-commit
        // shuffle-materialization job + replan disappear (the r22
        // StageProbe measured 3 scheduled jobs per bucket commit, 2 of
        // them AQE machinery), and the file layout is bit-identical
        // because the partitioning was never adaptive here to begin
        // with. Above SizeTier.LocalBytes (warehouse scale) AQE stays
        // on.
        val localWrite = SizeTier.small(out, SizeTier.LocalBytes)
        flattenStagedDirs(fs, txn,
          write(if (localWrite) ControlPlane(fan) else fan,
            Seq("__gp_bucket")))
      } else if (stamp && fanoutSafe && partCols.nonEmpty &&
          partCols.forall(out.columns.contains)) {
        val dups = partCols.map(c => s"__gp_$c")
        val fan = partCols.zip(dups).foldLeft(out) {
          case (d, (c, g)) => d.withColumn(g, col(c))
        }
        flattenStagedDirs(fs, txn, write(fan, dups))
      } else write(out, Nil)
    val byName = written.map(w => w.rel -> w).toMap
    val staged = fs.listStatus(txn).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val name = st.getPath.getName
        val w = byName.getOrElse(name, throw new IllegalStateException(
          s"stageTxn: the write reported no statistics for staged $name"))
        val rel = s"data/${txn.getName}/$name"
        Staged(rel, w.rows, stats.line(rel, st.getLen, w.rows, w.values),
          stats.extra(w.values))
      }
    // a fan-out write of no rows writes no file, but its committer still
    // leaves the directory (and `_SUCCESS`); no line will name it
    if (staged.isEmpty) fs.delete(txn, true)
    staged
  }

  /** Move every parquet leaf of a dynamic-partition staging tree up
    * into the txn root (metadata renames — no data moves) and drop the
    * now-empty `__gp_*=value` directories. Part-file names REPEAT
    * across partition directories (same job uuid, same task numbering),
    * so each gets a unique `p<i>-` prefix; `written` (keyed by the
    * path under the txn root) is returned keyed by the new names. */
  private def flattenStagedDirs(fs: FileSystem, txn: Path,
      written: Seq[FileAggregate.Written]): Seq[FileAggregate.Written] = {
    def leaves(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) leaves(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
    val base = fs.makeQualified(txn).toUri.getPath + "/"
    val dirs = fs.listStatus(txn).toSeq.filter(_.isDirectory).map(_.getPath)
    val renamed = dirs.flatMap(leaves).zipWithIndex.map { case (f, i) =>
      val name = s"p$i-${f.getName}"
      require(fs.rename(f, new Path(txn, name)),
        s"flattenStagedDirs: rename failed for $f")
      f.toUri.getPath.stripPrefix(base) -> name
    }.toMap
    dirs.foreach(d => fs.delete(d, true))
    written.map(w => w.copy(rel = renamed.getOrElse(w.rel, w.rel)))
  }

  /** Rejects column names the tab-delimited manifest grammar cannot
    * carry. Called at the TOP of every verb accepting caller
    * statsColumns — before stageTxn writes anything — so a bad name
    * fails fast instead of orphaning a staged txn dir until vacuum. */
  private[ops] def validateStatsColumns(statsColumns: Seq[String]): Unit =
    require(statsColumns.forall(c =>
      !c.contains('\t') && !c.contains('\n') && !c.startsWith("@")),
      "stats column names must not contain tab/newline or start with @ " +
        "(manifest line currency)")

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
    * keeps O(1) files. The bounds are computed by the staging write's
    * own tasks, per file as it is written ([[stageTxn]]): the commit
    * schedules no job beyond the write. */
  def commitSnapshot(spark: SparkSession, table: String,
                     df: DataFrame,
                     statsColumns: Seq[String] = Nil,
                     props: Map[String, String] = Map.empty): Int =
      graft.Phase("commitSnapshot", "stage") {
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
    // a CREATE-with-data's partition/bucket props aren't head props
    // yet — staging unions them so the very first commit records the
    // bounds the SPJ invariant needs
    val entries = stageTxn(spark, fs, root, df, createProps = props,
      statsColumns = statsColumns).map(_.line)
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

  /** Dev-measurement hook (`graft.Probe manifest-scale` and specs):
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
    // current caller (`Probe manifest-scale`'s strictly-increasing
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
    // the field-id high-water mark is the commit protocol's own record:
    // lowering or dropping it would let a re-added column reuse a
    // dropped column's id
    require(!set.contains(MaxColumnIdProp) &&
        !unset.contains(MaxColumnIdProp),
      s"$MaxColumnIdProp is maintained by every commit and cannot be " +
        "set or unset")
    // so are the names renames retired: dropping one would let a new
    // column read a renamed column's data from the pre-rename files
    require(!set.contains(RetiredColumnsProp) &&
        !unset.contains(RetiredColumnsProp),
      s"$RetiredColumnsProp is maintained by RENAME COLUMN and cannot " +
        "be set or unset")
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
      val cols = splitCols(v)
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
        val props = propsOf(fs, root, head)
        Some(if (idMapped(props)) restampIds(prior, s, props) else s)
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
    * [[dropColumns]]. The old name is retired from its field id
    * ([[RetiredColumnsProp]]): no other column may take it, while a
    * rename back to it keeps the id. Pre-rename manifest bounds keep the
    * OLD name and simply stop pruning new-name predicates on those files
    * — stats are an optimization, never a correctness input; the next
    * rewrite of each file re-records them. */
  def renameColumn(spark: SparkSession, table: String,
      from: String, to: String): Int = {
    require(!to.contains('\t') && !to.contains('\n') &&
        !to.startsWith("@"),
      "column names must not contain tab/newline or start with @ " +
        "(manifest line currency)")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the renamed field's id at the head this attempt rebases onto, read
    // in listFor (the first hook each attempt runs), so propsXform —
    // which receives no head — retires the old name from that id
    var fromId = 0L
    casCommit(fs, root, "renameColumn",
      head => {
        fromId = schemaOf(fs, root, head).toSeq.flatMap(_.fields)
          .find(_.name.equalsIgnoreCase(from))
          .filter(_.metadata.contains(FieldIdKey))
          .fold(0L)(_.metadata.getLong(FieldIdKey))
        manifestFiles(fs, root, head)
      },
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
        requireNotRetired(props, to, Some(fromId))
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
      },
      propsXform = withRetiredColumn(_, from, fromId))
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
  private[ops] def appendSchemaFor(fs: FileSystem, root: Path, df: DataFrame,
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
            df.schema.fieldNames
              .filterNot(n => prior.fieldNames.exists(_.equalsIgnoreCase(n)))
              .foreach { n =>
                requireNotRetired(headProps, n, None)
                throw new IllegalArgumentException(
                  s"column-mapped table: column '$n' is not in the " +
                    "recorded schema — ALTER TABLE ADD COLUMN first")
              }
            restampIds(prior,
              mergeWiden(prior, ColumnBridge.nullableSchema(df.schema)),
              headProps)
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

  /** Abandon staged-but-uncommitted transactions' directories NOW
    * instead of waiting for vacuum — every distinct txn directory among
    * `staged`, so a verb that staged two txns drops both (best effort —
    * a failure here just leaves a normal crashed-txn orphan). */
  private[ops] def dropStaged(fs: FileSystem, root: Path,
      staged: Seq[Staged]): Unit =
    staged.map(s => new Path(root, s.rel).getParent).distinct
      .foreach(fs.delete(_, true))

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
    txnGuarded(spark, table, df, appId, batchId, "commitSnapshotTxn",
        statsColumns = statsColumns) {
      (fs, root, entries) =>
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
    val added = stageTxn(spark, fs, root, df, allowNewIds = true,
      statsColumns = statsColumns).map(_.line)
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
    val props =
      if (head > 0) propsOf(fs, root, head) else Map.empty[String, String]
    if (idMapped(props))
      schemaOf(fs, root, head).filter(hasFieldIds)
        .map(prior => restampIds(prior, s, props)).getOrElse(s)
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
      (fs, root, entries) =>
        val recorded = replaceSchemaFor(fs, root, df)
        (_ => entries, _ => Some(recorded))
    }

  /** The one exactly-once commit scaffold both txn verbs share: appId
    * validation, the cheap pre-check, staging, the per-attempt replay
    * re-check inside the CAS, and the abandon-on-replay cleanup. `body`
    * receives the staged files' manifest lines and returns the verb's
    * (listFor, schemaFor) pair — the only part that differs. */
  private def txnGuarded(spark: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long, op: String,
      allowNewIds: Boolean = false, statsColumns: Seq[String] = Nil)(
      body: (FileSystem, Path, Seq[String]) =>
        (Int => Seq[String], Int => Option[types.StructType]))
      : Option[Int] = {
    require(!appId.contains('\t') && !appId.contains('\n'),
      "appId must not contain tab/newline (manifest header currency)")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cheap pre-check: skip the staging write entirely on a known replay
    if (txnsOf(fs, root, currentVersion(fs, root)).get(appId)
        .exists(_ >= batchId)) return None
    val added = stageTxn(spark, fs, root, df, allowNewIds = allowNewIds,
      statsColumns = statsColumns)
    val (listFor, schemaFor) = body(fs, root, added.map(_.line))
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

  /** What a commit records for each file it stages, planned on the
    * driver for files of `schema` under the table properties `props`
    * (the head's, merged with a CREATE's or a layout rewrite's own):
    * the per-file aggregates the staging write evaluates
    * ([[org.apache.spark.sql.graft.FileAggregate]]) and how
    * [[CommitStats.line]] renders their values. `extra` aggregates ride
    * the same write after the statistics' own (a sidecar's
    * `collect_set(grp)`). Shared by every commit verb that stages files,
    * so a stats-skipping table keeps its pruning through compaction,
    * delete and merge rewrites too.
    *
    * Recorded: the union of `statsColumns`, the declared
    * `graft.stats.columns` and the partition columns gets min/max
    * bounds; bloom columns, the bucket id and null-proved partition
    * groups follow the props; declared stats columns also get a KMV
    * sketch. Typing: STRING columns record lexicographic `S:` bounds
    * (categorical pruning — language, source, partition-ish keys);
    * INTEGRAL columns record lossless `L:` long bounds compared in long
    * (a double round trip on a |v| > 2^53 key could move a recorded max
    * below the true max and wrongly prune); everything else goes through
    * the double path. Columns absent from `schema` (an append predating
    * an evolved column) record no bounds — their files always survive
    * selection. (CHECK constraints are not enforced here: the per-attempt
    * gate inside casCommit validates the added lines against the props
    * of the exact head each attempt rebases onto. See
    * AttemptConstraintGate.) */
  private[graft] def commitStats(spark: SparkSession,
      schema: types.StructType, statsColumns: Seq[String],
      props: Map[String, String], extra: Seq[Column] = Nil): CommitStats = {
    validateStatsColumns(statsColumns) // backstop; verbs validate first
    def listed(p: String) = props.get(p).map(splitCols).getOrElse(Nil)
    val has = schema.fieldNames.toSet
    def kind(c: String): Char = schema(c).dataType match {
      case types.StringType => 'S'
      case types.ByteType | types.ShortType | types.IntegerType |
           types.LongType => 'L'
      case _ => 'D'
    }
    // declared partition columns ALWAYS get bounds, whatever the verb's
    // caller passed: the single-value-per-file invariant the fanout
    // stager maintains is only USEFUL (pruning + SPJ grouping) if every
    // commit records it, and a programmatic commitSnapshot(df) must not
    // silently break the table's join eligibility. The declared
    // graft.stats.columns join too (the prop means "every commit
    // records these" — a CREATE commit carries it only in its own
    // props)
    val declared = (statsColumns ++ listed(StatsColumnsProp)).distinct
    val bounds = (declared ++ listed(PartitionedByProp)).distinct
      .filter(has).map(c => c -> kind(c))
    // blooms and the bucket id only for probe-able types; others were
    // refused at DDL time
    val blooms = listed(BloomColumnsProp).filter(has)
      .map(c => c -> kind(c)).filter(_._2 != 'D')
    // bucket layout: each staged file's bucket id, recorded as the
    // synthetic `#bucket` group — min==max per file is the invariant
    // the fanout stager maintains and the SPJ grouping reads back
    val bucket = props.get(BucketByProp).zip(props.get(BucketCountProp))
      .map { case (c, n) => (c, n.toInt) }
      .filter { case (c, _) => has(c) && kind(c) != 'D' }
    // identity partition columns get a SECOND, null-PROVED group
    // (`#p:<col>`) alongside the plain bounds: min/max ignore NULLs, so
    // min==max alone cannot prove a file single-valued — a file mixing
    // one value with NULL rows keyed by its bounds would let the SPJ
    // grouping emit NULL-group rows under the wrong partition (wrong
    // GROUP BY results, silently). spjFileKeys therefore keys identity
    // layouts ONLY on #p groups, which are written exactly when
    // count(col) == count(*) for the file; the fanout stager routes
    // NULL rows to their own file, which then lacks the group and
    // soundly disables SPJ for the snapshot.
    val nullProved = listed(PartitionedByProp).filter(has)
    // NDV sketch columns (r19): every DECLARED stats column also
    // records a per-file KMV sketch — the staging write already sees
    // every row, so planner statistics (scanStats → estimateStatistics)
    // come free of any later ANALYZE scan. Hashable types only, and
    // declared columns only: a partition column's NDV is its group
    // count, not worth a per-file sketch on every commit.
    val ndv = bounds.collect { case (c, k) if k != 'D' &&
      declared.contains(c) => c }
    if (bounds.isEmpty && blooms.isEmpty && bucket.isEmpty)
      return CommitStats(Nil, Nil, None, Nil, Nil, 0,
        FileAggregate(spark, schema, extra))
    def keyed(c: String): Column = kind(c) match {
      case 'S' => col(c)
      case 'L' => col(c).cast("long")
      case _   => col(c).cast("double")
    }
    val bloomBits = props.get(BloomBitsProp).map(_.toInt)
      .getOrElse(BloomBitsDefault)
    val aggs =
      bounds.flatMap { case (c, _) =>
        Seq(min(keyed(c)).as(s"__mn_$c"), max(keyed(c)).as(s"__mx_$c")) } ++
      blooms.map { case (c, _) => graft.functions.FileBloom
        .fileBloom(keyed(c), bloomBits).as(s"__bl_$c") } ++
      bucket.toSeq.flatMap { case (c, n) =>
        val e = bucketPlacementExpr(schema, c, n)
        // count(e) == rows is the bucket group's null-free proof
        Seq(min(e).as("__bk_mn"), max(e).as("__bk_mx"),
          count(e).as("__bk_nn"))
      } ++
      nullProved.map(c => count(col(c)).as(s"__nn_$c")) ++
      ndv.flatMap(c => Seq(
        graft.functions.KmvDistinct
          .kmvSketch(xxhash64(col(c)), NdvSketchK).as(s"__kv_$c"),
        // non-null count per file: the planner's ColumnStat needs
        // nullCount alongside NDV (hasCountStats) or the estimator
        // ignores the column entirely
        count(col(c)).as(s"__kn_$c")))
    CommitStats(bounds, blooms, bucket, nullProved, ndv, aggs.size,
      FileAggregate(spark, schema, aggs ++ extra))
  }
}

/** One file a staging write committed: root-relative path, rows, its
  * manifest line (size and the statistics the write computed included)
  * and the values of the caller's extra per-file aggregates. */
private[ops] final case class Staged(rel: String, rows: Long, line: String,
    values: Row)

/** The rendering half of [[Commits.commitStats]]: the recorded groups, in
  * line order, and the aggregate that computes them — serializable, so
  * a SQL writer task renders its file's line itself. `agg`'s first
  * `nStats` values are the statistics, in the order commitStats lists
  * them; the rest are a caller's extras. */
private[graft] final case class CommitStats(bounds: Seq[(String, Char)],
    blooms: Seq[(String, Char)], bucket: Option[(String, Int)],
    nullProved: Seq[String], ndv: Seq[String], nStats: Int,
    agg: FileAggregate) {
  import Layout.{BloomPfx, KmvPfx, LongPfx, PartGroupPfx, RowsGroup}

  private def record = nStats > 0

  /** `rel`'s manifest line: `path\t@bytes` plus, when the table records
    * statistics, a `col\tmin\tmax` bounds group for every bounds column
    * and the other groups (see the grammar at [[Layout.entryBounds]]). */
  def line(rel: String, bytes: Long, rows: Long, values: Row): String = {
    val bare = s"$rel\t@$bytes"
    // a file with no rows (the CREATE commit's empty stage) records its
    // exact row count, 0, and nothing else — keeping scanStats' "every
    // line counted" invariant instead of one empty file degrading the
    // snapshot to rows-unknown
    if (!record) bare
    else if (rows == 0L) s"$bare\t$RowsGroup\t${LongPfx}0\t${LongPfx}0"
    else bare + groups(rows, values)
  }

  /** The caller's extra aggregates' values. */
  def extra(values: Row): Row = Row.fromSeq(values.toSeq.drop(nStats))

  private def groups(rows: Long, r: Row): String = {
    val bloomBase = 2 * bounds.size
    val bucketBase = bloomBase + blooms.size
    val nnBase = bucketBase + (if (bucket.isDefined) 3 else 0)
    val ndvBase = nnBase + nullProved.size
    def b64(i: Int) =
      java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](i))
    val groups = new StringBuilder
    val pairs = scala.collection.mutable.Map.empty[String, (String, String)]
    bounds.zipWithIndex.foreach { case ((c, k), i) =>
      val (mnI, mxI) = (2 * i, 2 * i + 1)
      if (!r.isNullAt(mnI) && !r.isNullAt(mxI)) { // all-null → no bounds
        val pair: Option[(String, String)] = k match {
          case 'S' => Some((Layout.encBound(r.getString(mnI)),
            Layout.encBound(r.getString(mxI))))
          case 'L' => Some((LongPfx + r.getLong(mnI), LongPfx + r.getLong(mxI)))
          case _ =>
            // NaN poisons range comparisons (every NaN compare is
            // false → a NaN bound would WRONGLY prune a file that has
            // in-range rows): record no bounds, file survives
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
    nullProved.zipWithIndex.foreach { case (c, k) =>
      if (pairs.contains(c) && r.getLong(nnBase + k) == rows) {
        val (mn, mx) = pairs(c)
        groups ++= s"\t$PartGroupPfx$c\t$mn\t$mx"
      }
    }
    // bloom groups ride the same triple grammar with the "B:" prefix
    // in the bound slots — bounds readers (entryBounds/decodePair)
    // skip them by construction, so old tables and mixed lines parse
    blooms.zipWithIndex.foreach { case ((c, t), j) =>
      if (!r.isNullAt(bloomBase + j))
        groups ++= s"\t$c\t$BloomPfx$t:${b64(bloomBase + j)}\t$BloomPfx"
    }
    // the synthetic bucket-id group: long bounds under the `#bucket`
    // name (never collides with a column — '#' only means header at
    // LINE start); written only when the file is null-FREE on the
    // bucket expression — a null key row in a keyed file would ride
    // the wrong partition in the SPJ grouping
    bucket.foreach { case (c, n) =>
      if (!r.isNullAt(bucketBase) && !r.isNullAt(bucketBase + 1) &&
          r.getLong(bucketBase + 2) == rows)
        groups ++= s"\t${Layout.bucketGroup(c, n)}" +
          s"\t$LongPfx${r.getLong(bucketBase)}" +
          s"\t$LongPfx${r.getLong(bucketBase + 1)}"
    }
    // planner statistics (r19): exact per-file row count as a bounds
    // group, plus one KMV sketch group per hashable stats column
    groups ++= s"\t$RowsGroup\t$LongPfx$rows\t$LongPfx$rows"
    ndv.zipWithIndex.foreach { case (c, j) =>
      val idx = ndvBase + 2 * j
      if (!r.isNullAt(idx)) {
        val nulls = rows - r.getLong(idx + 1)
        groups ++= s"\t$c\t$KmvPfx$nulls:${b64(idx)}\t$KmvPfx"
      }
    }
    groups.result()
  }
}

