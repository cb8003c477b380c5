package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Branches / write-audit-publish (r18): a branch is a second manifest
  * chain (`b.<name>.v<K>.manifest`) forked by copying the main head
  * manifest — zero data movement. Pins:
  *   - the WAP loop end to end as SQL: create_branch → INSERT under
  *     `spark.graft.wap.branch` → branch invisible to main readers,
  *     visible via `VERSION AS OF '<branch>'` → publish_branch →
  *     main sees it → drop_branch;
  *   - publish over a moved main: an append-only branch history
  *     cherry-picks its added lines onto the new head (r19); anything
  *     else — a REPLACE-shaped branch commit — still refuses;
  *   - branch isolation: main writes after the fork don't leak into
  *     the branch and vice versa;
  *   - GC safety: expireSnapshots never reclaims unpublished branch
  *     data files;
  *   - guards: overwrite under WAP refuses, branch handles refuse
  *     writes, createBranch refuses a dv-carrying head. */
class BranchWapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val wh = "target/graft_io/spec/wap_catalog"
  private def cat = sql.GraftSql.catalogFor(spark, wh)

  private def withWap[T](branch: String)(f: => T): T = {
    spark.conf.set("spark.graft.wap.branch", branch)
    try f finally spark.conf.unset("spark.graft.wap.branch")
  }

  private def count(t: String): Long =
    spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0)

  private def mkTable(name: String): (String, String) = {
    val c = cat
    val t = s"$c.default.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(0, 100)")
    (t, s"$wh/default/$name")
  }

  test("WAP loop: stage on branch, audit, publish, drop — all SQL") {
    val c = cat
    val (t, dir) = mkTable("wap_t")
    val fork = spark.sql(
      s"CALL $c.system.create_branch('default.wap_t', 'audit')")
      .head.getInt(0)
    assert(fork == 2, s"fork at head v2 (create+insert), got $fork")
    // the live branch is operator-visible in system.detail
    assert(spark.sql(s"CALL $c.system.detail('default.wap_t')")
      .head.getString(7) == "audit")
    withWap("audit") {
      spark.sql(s"INSERT INTO $t SELECT id, id * 2.0 FROM range(100, 150)")
    }
    // invisible on main, visible on the branch
    assert(count(t) == 100, "main must not see the unpublished batch")
    assert(count(s"$t VERSION AS OF 'audit'") == 150,
      "the branch read must see base + staged batch")
    // audit query on the branch: the staged half has v = 2k
    assert(spark.sql(
      s"""SELECT COUNT(*) FROM $t VERSION AS OF 'audit'
         |WHERE k >= 100 AND v <> k * 2.0""".stripMargin)
      .head.getLong(0) == 0)
    // publish fast-forwards main
    val pub = spark.sql(
      s"CALL $c.system.publish_branch('default.wap_t', 'audit')")
      .head.getInt(0)
    assert(pub == 3, s"published as main v3, got $pub")
    assert(count(t) == 150, "main must see the published batch")
    val dropped = spark.sql(
      s"CALL $c.system.drop_branch('default.wap_t', 'audit')")
      .head.getInt(0)
    assert(dropped == 2, s"fork copy + one branch commit, got $dropped")
    assert(ops.Layout.listBranches(spark, dir).isEmpty)
  }

  test("append-only branch cherry-picks onto a moved main") {
    // r18 verdict missing #1: fast-forward-only publish meant one
    // unrelated main append invalidated hours of WAP staging. An
    // append-only branch history now re-parents its added lines onto
    // the moved head — main's interleaved commits survive untouched.
    val c = cat
    val (t, _) = mkTable("wap_div")
    spark.sql(s"CALL $c.system.create_branch('default.wap_div', 'b1')")
    withWap("b1") {
      spark.sql(s"INSERT INTO $t SELECT id, 0.0 FROM range(100, 110)")
      spark.sql(s"INSERT INTO $t SELECT id, 0.0 FROM range(110, 115)")
    }
    // main advances independently: an unrelated append AND a cow
    // DELETE (a REPLACE on main — cherry-pick must rebase over both)
    spark.sql(s"INSERT INTO $t SELECT id, 1.0 FROM range(200, 210)")
    spark.sql(s"DELETE FROM $t WHERE k = 5")
    val pub = spark.sql(
      s"CALL $c.system.publish_branch('default.wap_div', 'b1')")
      .head.getInt(0)
    assert(pub > 0, s"cherry-pick publish must commit, got $pub")
    // 100 base − 1 deleted + 10 main append + 15 branch appends
    assert(count(t) == 124, s"got ${count(t)}")
    assert(count(s"$t WHERE k >= 100 AND k < 115") == 15,
      "both branch batches must land")
    assert(count(s"$t WHERE k >= 200") == 10,
      "main's interleaved append must survive the publish")
    assert(count(s"$t WHERE k = 5") == 0,
      "main's interleaved delete must survive the publish")
    spark.sql(s"CALL $c.system.drop_branch('default.wap_div', 'b1')")
  }

  test("cherry-pick refuses a branch history that is not pure appends") {
    val c = cat
    val (t, dir) = mkTable("wap_forge")
    spark.sql(s"CALL $c.system.create_branch('default.wap_forge', 'fx')")
    withWap("fx") {
      spark.sql(s"INSERT INTO $t SELECT id, 0.0 FROM range(100, 105)")
    }
    // forge a REPLACE-shaped branch commit: next branch version drops a
    // data line (what a compaction/delete on the branch would do). The
    // append-only evidence must come from the LINES, not trust verbs.
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(root, "manifests")
    val bHead = fs.listStatus(mdir).map(_.getPath.getName)
      .collect { case n if n.startsWith("b.fx.v") =>
        n.stripPrefix("b.fx.v").stripSuffix(".manifest").toInt }.max
    val src = new org.apache.hadoop.fs.Path(mdir, s"b.fx.v$bHead.manifest")
    val lines = scala.io.Source.fromInputStream(fs.open(src), "UTF-8")
      .getLines().toSeq
    val dataIdx = lines.indexWhere(!_.startsWith("#"))
    val forged = lines.patch(dataIdx, Nil, 1)
    val dst =
      new org.apache.hadoop.fs.Path(mdir, s"b.fx.v${bHead + 1}.manifest")
    val out = fs.create(dst, false)
    try out.write(forged.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // main advances → cherry-pick is the only publish path, and it
    // must refuse the non-append history with the way out named
    spark.sql(s"INSERT INTO $t SELECT id, 1.0 FROM range(300, 310)")
    val e = intercept[Exception] {
      spark.sql(s"CALL $c.system.publish_branch('default.wap_forge', 'fx')")
    }
    assert(e.getMessage.contains("not append-only") &&
        e.getMessage.contains("recreate the branch"), e.getMessage)
    assert(count(t) == 110, "the refusal must commit nothing")
    spark.sql(s"CALL $c.system.drop_branch('default.wap_forge', 'fx')")
  }

  test("publish is metadata-only: zero jobs, constraints gated at branch-commit time") {
    // the WAP gate at 100 TB: branch commits prove CHECK constraints
    // when they stage; publish must adopt lines without re-reading a
    // byte (r19 — the publish-time re-proof re-read the whole batch)
    val c = cat
    val t = s"$c.default.wap_gate"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"""CREATE TABLE $t (k BIGINT, v DOUBLE)
                |TBLPROPERTIES ('graft.constraint.pos' = 'v >= 0')"""
      .stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(100)")
    spark.sql(s"CALL $c.system.create_branch('default.wap_gate', 'g')")
    withWap("g") {
      // the gate runs HERE, on the branch commit — a violating batch
      // refuses and leaves nothing staged
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $t VALUES (999, -1.0)")
      }
      assert(e.getMessage.contains("pos"), e.getMessage)
      spark.sql(s"INSERT INTO $t SELECT id, id * 2.0 FROM range(100, 150)")
    }
    // main advances → the publish takes the cherry-pick path too
    spark.sql(s"INSERT INTO $t SELECT id, 1.0 FROM range(200, 210)")
    val sc = spark.sparkContext
    import java.util.concurrent.atomic.AtomicInteger
    val published = new AtomicInteger
    val drained = new AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == "wap-publish-gate") published.incrementAndGet()
        if (g == "wap-publish-drain") drained.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("wap-publish-gate", "publish must schedule no jobs")
      try spark.sql(
        s"CALL $c.system.publish_branch('default.wap_gate', 'g')")
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once the DRAIN job's event
      // is visible, any job the publish scheduled would be too — no
      // sleep-based race (the statusTracker is fed asynchronously)
      sc.setJobGroup("wap-publish-drain", "bus drain marker")
      try sc.parallelize(1 to 1, 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (drained.get == 0 && System.nanoTime < deadline)
        Thread.sleep(20)
      assert(drained.get > 0, "listener bus never delivered the drain")
      assert(published.get == 0,
        s"publish scheduled ${published.get} job(s) — it re-read the batch")
    } finally sc.removeSparkListener(l)
    assert(count(t) == 160)
    spark.sql(s"CALL $c.system.drop_branch('default.wap_gate', 'g')")
    // cherry-pick still refuses when main CHANGED constraints since
    // the fork — the staged files were never proven against them
    spark.sql(s"CALL $c.system.create_branch('default.wap_gate', 'g2')")
    withWap("g2") {
      spark.sql(s"INSERT INTO $t SELECT id, 3.0 FROM range(300, 310)")
    }
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('graft.constraint.cap' = 'k < 100000')")
    val eC = intercept[Exception] {
      spark.sql(s"CALL $c.system.publish_branch('default.wap_gate', 'g2')")
    }
    assert(eC.getMessage.contains("CHECK constraints"), eC.getMessage)
    spark.sql(s"CALL $c.system.drop_branch('default.wap_gate', 'g2')")
    // …but main DROPPING a constraint since the fork is a pure
    // relaxation: the staging was proven against a strictly stronger
    // set, so the publish must NOT force a re-stage
    spark.sql(s"CALL $c.system.create_branch('default.wap_gate', 'g3')")
    withWap("g3") {
      spark.sql(s"INSERT INTO $t SELECT id, 4.0 FROM range(400, 410)")
    }
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.constraint.cap')")
    spark.sql(s"CALL $c.system.publish_branch('default.wap_gate', 'g3')")
    assert(count(s"$t WHERE k >= 400") == 10)
    spark.sql(s"CALL $c.system.drop_branch('default.wap_gate', 'g3')")
  }

  test("expireSnapshots never reclaims unpublished branch data") {
    val c = cat
    val (t, dir) = mkTable("wap_gc")
    spark.sql(s"INSERT INTO $t SELECT id, 9.0 FROM range(300, 310)")
    spark.sql(s"CALL $c.system.create_branch('default.wap_gc', 'keep')")
    withWap("keep") {
      spark.sql(s"INSERT INTO $t SELECT id, 7.0 FROM range(400, 450)")
    }
    // aggressive sweep: 0ms orphan age would reclaim any unreferenced
    // txn dir — the branch's staged files must survive it
    val (_, removed) = ops.Layout.expireSnapshots(spark, dir,
      keepLast = 1, orphanOlderThanMs = 0)
    assert(count(s"$t VERSION AS OF 'keep'") == 160,
      s"branch data swept by vacuum (removed=$removed)")
    spark.sql(s"CALL $c.system.publish_branch('default.wap_gc', 'keep')")
    assert(count(t) == 160)
    spark.sql(s"CALL $c.system.drop_branch('default.wap_gc', 'keep')")
  }

  test("guards: overwrite under WAP, branch-handle writes, dv head") {
    val c = cat
    val (t, dir) = mkTable("wap_guard")
    spark.sql(s"CALL $c.system.create_branch('default.wap_guard', 'g')")
    val e1 = intercept[Exception] { withWap("g") {
      spark.sql(s"INSERT OVERWRITE $t SELECT id, 0.0 FROM range(5)")
    }}
    assert(e1.getMessage.contains("INSERT INTO (append) only"),
      e1.getMessage)
    // row-level mutations under WAP would land on MAIN — refuse loudly
    val eDel = intercept[Exception] { withWap("g") {
      spark.sql(s"DELETE FROM $t WHERE k = 1")
    }}
    assert(eDel.getMessage.contains("would mutate MAIN"), eDel.getMessage)
    val eUpd = intercept[Exception] { withWap("g") {
      spark.sql(s"UPDATE $t SET v = 0.0 WHERE k = 1")
    }}
    assert(eUpd.getMessage.contains("would mutate MAIN"), eUpd.getMessage)
    // equality upserts are main-chain mutations too (r19): under WAP
    // they must refuse like every other row-level verb
    val eUp = intercept[Exception] { withWap("g") {
      ops.Layout.upsertByKeys(spark, dir,
        spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        "k")
    }}
    assert(eUp.getMessage.contains("would mutate MAIN"), eUp.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VERSION AS OF 'g' SELECT 1L, 1.0")
    }
    // Spark rejects writes to time-travel relations at parse/analysis
    assert(e2 != null)
    // second create of the same name refuses
    val e3 = intercept[Exception] {
      spark.sql(s"CALL $c.system.create_branch('default.wap_guard', 'g')")
    }
    assert(e3.getMessage.contains("already exists"), e3.getMessage)
    // all-digit names refuse: VERSION AS OF '7' would parse as main
    // version 7 and the audit would silently read the wrong data
    val eNum = intercept[Exception] {
      spark.sql(s"CALL $c.system.create_branch('default.wap_guard', '7')")
    }
    assert(eNum.getMessage.contains("non-digit"), eNum.getMessage)
    spark.sql(s"CALL $c.system.drop_branch('default.wap_guard', 'g')")
    // dv-carrying head refuses the fork (compact first)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('graft.rowlevel.mode' = 'mor')")
    spark.sql(s"DELETE FROM $t WHERE k = 3")
    val e4 = intercept[Exception] {
      ops.Layout.createBranch(spark, dir, "g2")
    }
    assert(e4.getMessage.contains("deletion vectors"), e4.getMessage)
  }

  test("branch append takes schema evolution and the fanout stager") {
    val c = cat
    val t = s"$c.default.wap_part"
    val dir = s"$wh/default/wap_part"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"""CREATE TABLE $t (day BIGINT, v DOUBLE)
                |PARTITIONED BY (day)""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id % 3, id * 1.0 FROM range(30)")
    spark.sql(s"CALL $c.system.create_branch('default.wap_part', 'w')")
    withWap("w") {
      spark.sql(s"INSERT INTO $t SELECT id % 5, id * 2.0 FROM range(50)")
    }
    spark.sql(s"CALL $c.system.publish_branch('default.wap_part', 'w')")
    // published table keeps SPJ eligibility: every file single-valued
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ops.Layout.spjFileKeys(spark, dir,
      ops.Layout.currentVersion(fs, root)).isDefined,
      "branch-staged files must honor the partition fanout invariant")
    assert(count(t) == 80)
    spark.sql(s"CALL $c.system.drop_branch('default.wap_part', 'w')")
  }

  test("q_wap_publish keeps the caller's WAP branch setting") {
    val sf = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("q_wap_publish")(spark, sf).collect().toSeq
    val direct = run()
    // a caller's own branch neither leaks into the operator's main
    // writes nor is wiped by its scoped switch to 'audit'
    val viaCallerBranch = withWap("callers_branch") {
      val rows = run()
      assert(spark.conf.getOption("spark.graft.wap.branch")
        .contains("callers_branch"),
        "q_wap_publish unset the caller's spark.graft.wap.branch")
      rows
    }
    assert(viaCallerBranch == direct)
    assert(spark.conf.getOption("spark.graft.wap.branch").isEmpty)
  }
}
