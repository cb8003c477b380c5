package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SizeTier
import graft.Tables._
import graft.Events

/** Second-ring operator surface: grouping sets beyond rollup, outer joins,
  * sessionization, exact quantiles, skew-salted joins, sliding windows.
  *
  * Scale notes live per-operator; the salted join is the explicit
  * skew-mitigation pattern for 100 TB fact⋈fact joins (AQE's skew-join
  * split handles moderate skew automatically; salting is the manual
  * fallback for pathological hot keys and is demonstrated here with its
  * result proven identical to the unsalted plan by the oracle). */
object Advanced {

  /** X7b: CUBE grouping sets (rollup's 2^k sibling). */
  def qCube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  /** Left outer join + aggregation: every customer, with zero-filled
    * order stats (the reference has no outer joins at all — §2.3). */
  def qOuterJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(
        count(o("o_orderkey")).as("n_orders"),
        coalesce(sum(dec2(o("o_totalprice"))).cast("double"), lit(0.0d))
          .as("total_spend"))
      .orderBy("c_custkey")
  }

  /** Full outer join over two key sets, with membership flags. */
  def qFullOuter(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d).where(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("ka")).distinct()
    val b = customer(s, d).where(col("c_acctbal") > 0)
      .select(col("c_custkey").as("kb")).distinct()
    a.join(b, col("ka") === col("kb"), "full_outer")
      .select(
        coalesce(col("ka"), col("kb")).as("k"),
        col("ka").isNotNull.cast("long").as("in_high_orders"),
        col("kb").isNotNull.cast("long").as("in_positive_bal"))
      .orderBy("k")
  }

  /** Sessionization: per-user event sessions split at >30 min gaps —
    * lag + cumulative boundary count, ONE shuffle on user_id (the batch
    * twin of flatMapGroupsWithState sessionization). Timestamps are
    * epoch-micros (ns not oracle-visible; see SetOps.qAsofJoin). */
  def qSessionize(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val e = Events.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val sessions = e
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byTime))
      .withColumn("is_new",
        (col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > gapUs).cast("long"))
      .withColumn("session_id",
        sum(col("is_new")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .orderBy("user_id", "session_id")
  }

  /** Exact interpolated quantiles per group (rounded to 4 decimals — the
    * engines' interpolation arithmetic differs in the last ULP).
    *
    * Implemented as rank interpolation over a per-group window sort, NOT
    * the builtin `percentile` aggregate: the builtin buffers a value→count
    * hash map per group and pays a merge-and-sort on ONE reducer per group
    * (measured 6 s at sf0.1 once the bench stopped letting Catalyst prune
    * it). The window form is a single partition-and-sort — the thing
    * shuffle machinery is optimized for — then picks the two bracketing
    * ranks per percentile with conditional aggregation: identical math
    * (pos = 1 + p·(n−1), linear interpolation), ~5× faster here.
    * Per-group data still serializes through one partition either way; at
    * 100 TB with heavy groups the constant-memory answer is
    * approx_percentile (t-digest-like sketch) — this exact form is the
    * oracle contract. */
  def qQuantiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("rf").orderBy("v")
    val ranked = lineitem(s, d)
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("double").as("v"))
      .select(col("rf"), col("v"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("rf")).as("n"))
    def pct(p: Double, name: String): Seq[Column] = {
      val pos = lit(1.0) + lit(p) * (col("n") - 1).cast("double")
      Seq(
        max(when(col("rn") === floor(pos).cast("long"), col("v")))
          .as(s"${name}_lo"),
        max(when(col("rn") === ceil(pos).cast("long"), col("v")))
          .as(s"${name}_hi"),
        max(pos).as(s"${name}_pos"))
    }
    val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.9 -> "p90")
    val aggs = ps.flatMap { case (p, n) => pct(p, n) }
    ranked.groupBy("rf")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("rf").as("l_returnflag") +:
        ps.map { case (_, n) =>
          round(col(s"${n}_lo") +
            (col(s"${n}_pos") - floor(col(s"${n}_pos"))) *
            (col(s"${n}_hi") - col(s"${n}_lo")), 4).as(n)
        }: _*)
      .orderBy("l_returnflag")
  }

  /** The exact-quantile SCALE path: bit-for-bit the same interpolated
    * percentiles as [[qQuantiles]] (same oracle SQL), with NO per-group
    * total sort — [[qQuantiles]] funnels each group's every row through
    * one reducer, which with ~3 groups means the whole table serializes
    * through 3 tasks. Here the data makes two narrow passes instead:
    *
    *   1. fixed-width value histogram: groupBy (group, bin) with map-side
    *      partial aggregation, so the shuffle carries ≤ groups×bins
    *      pre-aggregated rows regardless of n; the cumulative-count /
    *      rank-location windows then run over the TINY histogram only.
    *   2. the global target ranks (floor/ceil of 1 + p·(n−1)) are located
    *      in their bins on the histogram, the handful of needed
    *      (group, bin) pairs is broadcast back against the scan, and only
    *      rows landing in a needed bin survive — a row_number over
    *      ~n/bins rows per needed bin replaces the per-group n·log n sort.
    *
    * Rank bookkeeping: global_rank(row) = cum_before(its bin) +
    * rank_within_bin, exact because equal values always share a bin.
    * At 100 TB both shuffles are O(groups × bins), independent of n; the
    * bin width is the one tunable (derive it from a min/max pre-pass or a
    * sampled range when the value domain isn't known a priori). */
  def qQuantilesDist(s: SparkSession, d: String): DataFrame = {
    val binW = 64.0d // l_extendedprice spans ~[900, 105k] → ~1.6k bins
    val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.9 -> "p90")
    val data = lineitem(s, d)
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("double").as("v"))
      .withColumn("bin", floor(col("v") / binW).cast("long"))
    val hist = data.groupBy("rf", "bin").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy("rf").orderBy("bin")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("rf")))
      .withColumn("cum_before", col("cum") - col("cnt"))
    // explode percentiles × {floor,ceil} ranks, keep the bin that holds
    // each target global rank — a few rows per group, broadcastable
    val targets = cum
      .select(col("rf"), col("bin"), col("cum_before"), col("cnt"),
        explode(array(ps.map { case (p, nm) =>
          struct(lit(nm).as("pname"),
            (lit(1.0d) + lit(p) * (col("n") - 1).cast("double")).as("pos"))
        }: _*)).as("t"))
      .select(col("rf"), col("bin"), col("cum_before"), col("cnt"),
        col("t.pname").as("pname"), col("t.pos").as("pos"))
      .select(col("rf"), col("bin"), col("cum_before"), col("cnt"),
        col("pname"), col("pos"),
        explode(array(
          struct(lit("lo").as("which"),
            floor(col("pos")).cast("long").as("r")),
          struct(lit("hi").as("which"),
            ceil(col("pos")).cast("long").as("r")))).as("w"))
      .select(col("rf"), col("bin"), col("cum_before"), col("pname"),
        col("pos"), col("w.which").as("which"), col("w.r").as("r"))
      .where(col("r") > col("cum_before") &&
        col("r") <= col("cum_before") + col("cnt"))
    val neededBins = targets.select("rf", "bin").distinct()
    val inBin = data.join(broadcast(neededBins), Seq("rf", "bin"))
      .withColumn("rwb", row_number().over(
        Window.partitionBy("rf", "bin").orderBy("v")))
    val picked = inBin.join(broadcast(targets), Seq("rf", "bin"))
      .where(col("rwb") + col("cum_before") === col("r"))
    val perP = picked.groupBy("rf", "pname", "pos")
      .agg(max(when(col("which") === "lo", col("v"))).as("v_lo"),
        max(when(col("which") === "hi", col("v"))).as("v_hi"))
      .withColumn("value", round(col("v_lo") +
        (col("pos") - floor(col("pos"))) * (col("v_hi") - col("v_lo")), 4))
    val aggs = ps.map { case (_, nm) =>
      max(when(col("pname") === nm, col("value"))).as(nm)
    }
    perP.groupBy(col("rf").as("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("l_returnflag")
  }

  /** Dispatch threshold for [[qQuantilesAuto]], compared against the
    * POST-column-pruning Catalyst estimate of the (group, value) pair —
    * i.e. the bytes the window sort would actually move, not the file
    * footprint. Calibrated by measurement, not guessed: the pruned
    * estimate is 323 KB at sf0.01 / 3.36 MB at sf0.1 / ~33 MB at the 10×
    * replica, and the measured crossover sits between sf0.01 (naive wins
    * on ~5 small jobs of fixed overhead) and sf0.1 (binned 0.58 s vs
    * naive 0.93 s). 1 MiB splits those estimates, so sf0.1-and-up data
    * always takes the scale path — the earlier 64 MiB value kept the
    * 7.6×-scaling naive sort alive to several-hundred-MB inputs because
    * pruning shrinks the estimate ~3× vs file bytes (2 narrow cols of
    * 16). `Probe scale` asserts the 10× replica dispatches binned. */
  private[graft] val QuantileDispatchBytes: Long = 1L * 1024 * 1024

  /** The one exact-quantile ENTRY POINT — auto-dispatch between the spec
    * twin and the scale path so a caller can't land on the per-group
    * window funnel ([[qQuantiles]]: every row of a group through one
    * reducer) at warehouse scale. The dispatch signal is Catalyst's
    * size-in-bytes estimate of the pruned input relation — pure plan
    * metadata (file sizes after partition pruning), no extra job, known
    * before execution. Both branches share one oracle contract and are
    * independently oracle-green, so the dispatch can never change the
    * answer, only the plan (PlanAuditSpec pins the branch choice under
    * both forced [[graft.SizeTier]] tiers and at the real estimates). */
  def qQuantilesAuto(s: SparkSession, d: String): DataFrame =
    if (quantilesAutoPicksBinned(s, d)) qQuantilesDist(s, d)
    else qQuantiles(s, d)

  /** Bytes per (group, value) pair the window sort would move — the row
    * width the catalog-stats path multiplies rowCount by (string flag +
    * double ≈ 16 B, matching the measured pruned-scan estimates the
    * threshold was calibrated against). */
  private[graft] val QuantilePairBytes = 16L

  /** rowCount from catalog statistics, when the querying session has a
    * table registered with statistics (cnpj.Warehouse.analyzeTable or
    * writeTableWithStats) at exactly this directory's lineitem path. A
    * measured cardinality beats the file-size proxy: parquet compression
    * makes size-in-bytes a ~3×-off row-count estimator depending on
    * encoding, while the statistics counted the actual rows — this is
    * the first dispatch decision consuming CBO stats (r11 verdict task
    * 7), paid once at load time and amortized over every query.
    * Catalog iteration is pure metadata (no job); qualified-path
    * comparison mirrors Warehouse.readTableWithStats. */
  private[graft] def catalogLineitemRowCount(s: SparkSession, d: String)
      : Option[BigInt] = {
    import org.apache.hadoop.fs.Path
    val cat = s.sessionState.catalog
    val hconf = s.sparkContext.hadoopConfiguration
    def qualified(p: Path) = p.getFileSystem(hconf).makeQualified(p)
    val want = qualified(new Path(s"$d/lineitem.parquet"))
    cat.listTables(cat.getCurrentDatabase).iterator
      .flatMap(id => scala.util.Try(cat.getTableMetadata(id)).toOption)
      .find(m => scala.util.Try(
        qualified(new Path(m.location)) == want).getOrElse(false))
      .flatMap(_.stats)
      .flatMap(_.rowCount)
  }

  /** The dispatch signal, shared by the operator and by the probes that
    * pin its behavior: catalog rowCount × pair width when ANALYZE'd
    * statistics exist for this lineitem (see
    * [[catalogLineitemRowCount]]), else Catalyst's size estimate of the
    * pruned (group, value) projection — either way pure plan/catalog
    * metadata, no job. */
  private[graft] def quantileInputEstimate(s: SparkSession, d: String): BigInt =
    catalogLineitemRowCount(s, d)
      .map(_ * QuantilePairBytes)
      .getOrElse(SizeTier.planBytes(lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))))

  /** True when [[qQuantilesAuto]] takes the binned scale path for this
    * input: the estimate is over [[QuantileDispatchBytes]], compared
    * through [[graft.SizeTier.small]] so a forced tier picks the branch.
    * Exposed so `Probe scale` and PlanAuditSpec assert the branch at real
    * data sizes instead of arguing from the threshold. */
  private[graft] def quantilesAutoPicksBinned(s: SparkSession, d: String): Boolean =
    !SizeTier.small(quantileInputEstimate(s, d), QuantileDispatchBytes)

  /** The quantile SCALE path: approx_percentile's mergeable sketch —
    * constant memory per group, one shuffle of sketches, no per-group
    * value collection — versus [[qQuantiles]]' exact window sort. At
    * accuracy 10000 the rank error is ≤ n/10000; non-oracle (sketch
    * internals engine-specific), OpsSpec bounds each estimate against
    * the exact percentiles. */
  def qQuantilesApprox(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.9), 10000)")
          .as("qs"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"),
        element_at(col("qs"), 4).as("p90"),
        col("n_rows"))
      .orderBy("l_returnflag")

  /** Skew-salted fact⋈fact join: the lineitem side salts its key into
    * `salts` buckets, the orders side explodes ×salts — hot keys spread
    * across `salts` reducers. Result provably identical to the unsalted
    * join (the oracle runs the plain join). */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame = {
    // salt count sizes to the hot-key fan-out you need and no more —
    // every salt replicates the entire build side, so 4 buys 4-way
    // hot-key parallelism at 4x orders volume (8 measured 2x the cost
    // for no extra benefit on this distribution)
    val salts = 4
    val li = lineitem(s, d)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey")), lit(salts)))
    val o = orders(s, d)
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    li.join(o,
        li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
      .groupBy(o("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(li("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Sliding event-time windows (1 h window, 30 min slide): every event
    * lands in exactly two epoch-aligned windows. */
  def qTimeWindowSlide(s: SparkSession, d: String): DataFrame =
    Events.events(s, d)
      .groupBy(window(col("ts_t"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))
      .orderBy("wstart", "event_type")

  /** Winsorized mean: per-group p05/p95 cutoffs computed EXACTLY from a
    * per-value histogram, then one clamp + exact aggregation pass.
    *
    * Scale posture: the histogram path works because l_quantity is
    * low-cardinality (per-group distinct values bounded); the hist is a
    * partial+final groupBy (tiny output), the rank→value resolution runs
    * over that tiny hist, and the 3-row cutoff table broadcasts back —
    * the raw data is scanned twice but never sorted per group and never
    * collected per group (contrast [[qQuantiles]]' window funnel). For
    * continuous columns, swap the exact-value hist for the fixed-width
    * bins of [[qQuantilesDist]]; the clamp pass is unchanged. */
  /** Exact interpolated percentiles (quantile_cont semantics) from a
    * per-value histogram: `data` must expose (rf, v); returns one row per
    * group with a column per requested percentile, round(4).
    *
    * Works when per-group distinct values are bounded (the histogram is a
    * partial+final groupBy whose output is tiny and whose windows run over
    * hist rows, never data rows); for continuous columns use
    * [[qQuantilesDist]]'s fixed-width bins. The value at global rank r is
    * the hist row whose cumulative range covers r — the histogram IS the
    * sorted value list, so no second pass over the data. */
  private def exactCutsFromHist(data: DataFrame,
      ps: Seq[(Double, String)]): DataFrame = {
    val hist = data.groupBy("rf", "v").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy("rf").orderBy("v")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("rf")))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val atRank = cum.select(col("rf"), col("v"), col("cum_before"),
        col("cnt"),
        explode(array(ps.map { case (p, nm) =>
          struct(lit(nm).as("pname"),
            (lit(1.0d) + lit(p) * (col("n") - 1).cast("double")).as("pos"))
        }: _*)).as("t"))
      .select(col("rf"), col("v"), col("cum_before"), col("cnt"),
        col("t.pname").as("pname"), col("t.pos").as("pos"))
      .select(col("rf"), col("v"), col("cum_before"), col("cnt"),
        col("pname"), col("pos"),
        explode(array(
          struct(lit("lo_r").as("which"),
            floor(col("pos")).cast("long").as("r")),
          struct(lit("hi_r").as("which"),
            ceil(col("pos")).cast("long").as("r")))).as("w"))
      .where(col("w.r") > col("cum_before") &&
        col("w.r") <= col("cum_before") + col("cnt"))
      .groupBy("rf", "pname", "pos")
      .agg(max(when(col("w.which") === "lo_r", col("v"))).as("v_lo"),
        max(when(col("w.which") === "hi_r", col("v"))).as("v_hi"))
      .withColumn("cut", round(col("v_lo") +
        (col("pos") - floor(col("pos"))) * (col("v_hi") - col("v_lo")), 4))
    val aggs = ps.map { case (_, nm) =>
      max(when(col("pname") === nm, col("cut"))).as(nm)
    }
    atRank.groupBy("rf").agg(aggs.head, aggs.tail: _*)
  }

  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val data = lineitem(s, d).select(col("l_returnflag").as("rf"),
      col("l_quantity").cast("double").as("v"))
    val cuts = exactCutsFromHist(data, Seq(0.05 -> "lo", 0.95 -> "hi"))
    data.join(broadcast(cuts), Seq("rf"))
      .select(col("rf"), col("v"), col("lo"), col("hi"),
        least(greatest(col("v"), col("lo")), col("hi"))
          .cast("decimal(18,6)").as("cv"))
      .groupBy("rf")
      .agg(count(lit(1)).as("n"),
        round(sum(col("cv")).cast("double") / count(lit(1)), 4)
          .as("mean_wins"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_hi"))
      .orderBy("rf")
  }

  /** Robust outlier profile: per-group exact median and MAD (median
    * absolute deviation) via two histogram passes, then one counting
    * pass with the 3·MAD fence. Same scale posture as [[qWinsorize]]:
    * only histograms are windowed, cutoff tables broadcast back, the
    * raw data is scanned but never sorted or collected per group —
    * median/MAD are the aggregates that tempt a per-group sort at
    * 100 TB, and this is the shape that avoids it. */
  def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val data = lineitem(s, d).select(col("l_returnflag").as("rf"),
      col("l_quantity").cast("double").as("v"))
    val med = exactCutsFromHist(data, Seq(0.5 -> "med"))
    val dev = data.join(broadcast(med), Seq("rf"))
      .select(col("rf"), abs(col("v") - col("med")).as("v"))
    val mad = exactCutsFromHist(dev, Seq(0.5 -> "mad"))
    data.join(broadcast(med), Seq("rf")).join(broadcast(mad), Seq("rf"))
      .groupBy("rf", "med", "mad")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("v") - col("med")) > lit(3.0d) * col("mad"), 1L)
          .otherwise(0L)).as("n_out"))
      .select("rf", "med", "mad", "n", "n_out")
      .orderBy("rf")
  }

  /** Equal-frequency binning (quantile discretizer): per-group quartile
    * cuts from the exact histogram path, broadcast back, bucket id by
    * codegen'd comparisons. The feature-engineering shape for 100 TB:
    * cut computation touches only the tiny histogram, the bucketing pass
    * is one narrow scan — never a per-row rank (the ntile window would
    * sort every group). */
  def qQuantileBucket(s: SparkSession, d: String): DataFrame = {
    val data = lineitem(s, d).select(col("l_returnflag").as("rf"),
      col("l_quantity").cast("double").as("v"))
    val cuts = exactCutsFromHist(data,
      Seq(0.25 -> "q1", 0.5 -> "q2", 0.75 -> "q3"))
    data.join(broadcast(cuts), Seq("rf"))
      .select(col("rf"), col("v"),
        (lit(1L) + (col("v") > col("q1")).cast("long") +
          (col("v") > col("q2")).cast("long") +
          (col("v") > col("q3")).cast("long")).as("bucket"))
      .groupBy("rf", "bucket")
      .agg(count(lit(1)).as("n"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy("rf", "bucket")
  }

  /** 2-D Pareto frontier (skyline): parts not dominated on (price ↓,
    * size ↑) — the "best tradeoff" selection (in a curation pipeline the
    * same shape picks quality-vs-length frontiers). A point is dominated
    * iff some part is ≤ on price AND ≥ on size with one strict.
    *
    * Scale posture: the naive skyline is an O(n²) self-join. This is the
    * same two-level distributed prefix aggregation as
    * [[Behavior.qMaxConcurrency]], applied to a prefix-MAX: dominance
    * only needs "max size among strictly-cheaper points" and "max size
    * among ≤-price points" — each a prefix max along the price order.
    * Windows run WITHIN price buckets (RANGE frames give the strict/
    * inclusive split exactly), bucket maxima roll up through a tiny
    * per-bucket table, and the exclusive bucket offset is broadcast back.
    * One narrow pass + one bounded metadata window — no self-join, no
    * global sort funnel. Prices are integer cents (exact on both
    * engines). */
  def qPareto(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = part(s, d).select(col("p_partkey"),
        (graft.Tables.dec2(col("p_retailprice")) * 100).cast("long")
          .as("price_c"),
        col("p_size").cast("long").as("sz"))
      .withColumn("bucket", expr("price_c div 1000")) // $10 buckets
    val wLt = Window.partitionBy("bucket").orderBy("price_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wLe = Window.partitionBy("bucket").orderBy("price_c")
      .rangeBetween(Window.unboundedPreceding, 0)
    val local = pts.select(col("p_partkey"), col("price_c"), col("sz"),
      col("bucket"),
      max(col("sz")).over(wLt).as("m_lt"),
      max(col("sz")).over(wLe).as("m_le"))
    val wPrev = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-bucket maxima: rows = #price buckets (data-independent, tiny),
    // so the single-ordered window over it is metadata work, and the
    // result broadcasts back into the equi-join on bucket
    val offsets = pts.groupBy("bucket").agg(max(col("sz")).as("bmax"))
      .select(col("bucket"),
        coalesce(max(col("bmax")).over(wPrev), lit(-1L)).as("pmax"))
    local.join(broadcast(offsets), "bucket")
      .where(!(greatest(coalesce(col("m_lt"), lit(-1L)), col("pmax"))
          >= col("sz") ||
        greatest(col("m_le"), col("pmax")) > col("sz")))
      .select(col("p_partkey"), col("price_c"), col("sz"))
      .orderBy("p_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pareto"            -> qPareto _,
    "q_cube"              -> qCube _,
    "q_outer_join"        -> qOuterJoin _,
    "q_full_outer"        -> qFullOuter _,
    "q_sessionize"        -> qSessionize _,
    "q_quantiles"         -> qQuantiles _,
    "q_quantiles_dist"    -> qQuantilesDist _,
    "q_quantiles_auto"    -> qQuantilesAuto _,
    "q_quantiles_approx"  -> qQuantilesApprox _,
    "q_salted_join"       -> qSaltedJoin _,
    "q_time_window_slide" -> qTimeWindowSlide _,
    "q_winsorize"         -> qWinsorize _,
    "q_mad_outliers"      -> qMadOutliers _,
    "q_quantile_bucket"   -> qQuantileBucket _,
  )

  val oracleSql: Map[String, String] = Map(
    "q_pareto" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_c,
        |    CAST(p_size AS BIGINT) AS sz
        |  FROM part)
        |SELECT a.p_partkey, a.price_c, a.sz
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c <= a.price_c AND b.sz >= a.sz
        |    AND (b.price_c < a.price_c OR b.sz > a.sz))
        |ORDER BY a.p_partkey""".stripMargin,
    "q_quantile_bucket" ->
      """WITH cuts AS (
        |  SELECT l_returnflag AS rf,
        |    round(quantile_cont(l_quantity, 0.25), 4) AS q1,
        |    round(quantile_cont(l_quantity, 0.5), 4) AS q2,
        |    round(quantile_cont(l_quantity, 0.75), 4) AS q3
        |  FROM lineitem GROUP BY 1)
        |SELECT rf,
        |  1 + CAST(l_quantity > q1 AS BIGINT)
        |    + CAST(l_quantity > q2 AS BIGINT)
        |    + CAST(l_quantity > q3 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(l_quantity) AS min_v,
        |  MAX(l_quantity) AS max_v
        |FROM lineitem JOIN cuts ON l_returnflag = rf
        |GROUP BY 1, 2
        |ORDER BY rf, bucket""".stripMargin,
    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT l_returnflag AS rf,
        |    round(quantile_cont(l_quantity, 0.5), 4) AS med
        |  FROM lineitem GROUP BY 1),
        |m2 AS (
        |  SELECT rf, med,
        |    round(quantile_cont(abs(l_quantity - med), 0.5), 4) AS mad
        |  FROM lineitem JOIN med ON l_returnflag = rf
        |  GROUP BY rf, med)
        |SELECT rf, med, mad,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN abs(l_quantity - med) > 3.0 * mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |FROM lineitem JOIN m2 ON l_returnflag = rf
        |GROUP BY rf, med, mad
        |ORDER BY rf""".stripMargin,
    "q_winsorize" ->
      """WITH cuts AS (
        |  SELECT l_returnflag AS rf,
        |    round(quantile_cont(l_quantity, 0.05), 4) AS lo,
        |    round(quantile_cont(l_quantity, 0.95), 4) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT rf,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(least(greatest(l_quantity, lo), hi)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS mean_wins,
        |  CAST(SUM(CASE WHEN l_quantity < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo,
        |  CAST(SUM(CASE WHEN l_quantity > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi
        |FROM lineitem JOIN cuts ON l_returnflag = rf
        |GROUP BY rf ORDER BY rf""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_outer_join" ->
      """SELECT c.c_custkey,
        |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
        |           AS DOUBLE), 0.0) AS total_spend
        |FROM customer c
        |LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "q_full_outer" ->
      """WITH a AS (SELECT DISTINCT o_custkey AS ka FROM orders
        |           WHERE o_totalprice > 100000),
        |     b AS (SELECT DISTINCT c_custkey AS kb FROM customer
        |           WHERE c_acctbal > 0)
        |SELECT COALESCE(ka, kb) AS k,
        |  CAST(ka IS NOT NULL AS BIGINT) AS in_high_orders,
        |  CAST(kb IS NOT NULL AS BIGINT) AS in_positive_bal
        |FROM a FULL OUTER JOIN b ON ka = kb
        |ORDER BY k""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, ts_us,
        |    LAG(ts_us) OVER (PARTITION BY user_id
        |                     ORDER BY ts_us, event_id) AS prev_ts
        |  FROM e),
        |m AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(prev_ts IS NULL OR ts_us - prev_ts > 1800000000
        |         AS BIGINT) AS is_new
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(is_new) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) AS session_end_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // same exact-quantile contract as q_quantiles — the operators differ
    // only in plan shape (binned two-pass vs per-group total sort), and
    // the auto entry point merely dispatches between the two
    "q_quantiles_dist" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_quantiles_auto" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_salted_join" ->
      """SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    "q_time_window_slide" ->
      """WITH w AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |      - k * INTERVAL '30 minutes' AS wstart
        |  FROM events, unnest([0, 1]) AS u(k))
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
  )
}
