package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SizeTier
import graft.Tables._

/** Graph analytics over relationship tables — PageRank-style entity
  * importance, complementing the label-propagation connected components
  * in [[Sketches.qDedupCluster]].
  *
  * The supply graph: suppliers and parts as nodes (namespaced into one
  * id space: supplier 2k, part 2k+1), an undirected edge per DISTINCT
  * (supplier, part) pair observed in lineitem.
  *
  * Scale posture: each PageRank iteration is ONE equi-join of the rank
  * vector against the edge list plus one partial+final sum keyed by
  * destination — the Pregel shape, linear per iteration, parallelism =
  * node count. The iteration count is static (3), so the whole thing is
  * one plan; the derived edge list and degree table are lineage-
  * truncated with localCheckpoint (lazy) so every iteration reads the
  * SAME materialized edge RDD instead of re-expanding the distinct
  * subtree — without it the static plan re-plans the lineitem scan 40+
  * times. At warehouse scale the edge list would be a bucketed table
  * making every iteration's join shuffle-free —
  * [[graft.PageRankBucketedSpec]] proves that claim at plan level
  * (bucketed edges + derived contribution vector ⇒ zero exchanges below
  * the join; only the dst re-key remains).
  *
  * Determinism: all arithmetic is scaled-integer (rank mass of 10^9,
  * floor division) — no floating point anywhere, so ranks are
  * bit-identical in any engine / any partitioning, and the DuckDB oracle
  * replays the same three iterations with `//`. */
object Graph {

  private val Scale = 1000000000L
  private val Iters = 3

  /** Planning-time size signal for the adjacency attachment — the same
    * pure-plan-metadata style as Advanced.quantileInputEstimate (no job).
    * The adjacency table's payload is one 8-byte neighbor entry per
    * ORIENTED edge; with this schema's bounded baskets (≤ 7 lineitems
    * per order → ≤ 21 pairs) distinct edges are at most ~3× lineitem
    * rows, so 2× the pruned 16 B/row (orderkey, partkey) scan estimate
    * upper-bounds the adjacency bytes. Deliberately an over-estimate:
    * the cost of wrongly NOT broadcasting is one extra shuffle; the cost
    * of wrongly broadcasting a data-proportional table at warehouse
    * scale is a driver OOM. */
  private[graft] def triangleAdjEstimate(s: SparkSession, d: String): BigInt =
    SizeTier.planBytes(
      lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))) * 2

  /** True when [[qTriangleCount]] broadcasts the adjacency table for
    * this input: the estimate is at or under
    * [[graft.SizeTier.BroadcastBytes]] (well under Spark's 8 GB
    * broadcast hard limit). Exposed so PlanAuditSpec asserts BOTH
    * dispatch branches instead of trusting the threshold. */
  private[graft] def triangleBroadcastsAdj(s: SparkSession, d: String)
      : Boolean =
    SizeTier.small(triangleAdjEstimate(s, d), SizeTier.BroadcastBytes)

  def qPagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = lineitem(s, d)
      .select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = pairs
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = false)
    val outdeg = edges.groupBy("src")
      .agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val nn = outdeg.agg(count(lit(1)).as("nn"))
    val base = outdeg.crossJoin(broadcast(nn)) // node, deg, nn
      .localCheckpoint(eager = false)
    // SIZE-DISPATCHED rank-vector attachment (same adaptive pattern as
    // the triangle census' adjacency): the contribution vector is two
    // longs per NODE while the edge list is per-EDGE — the small side
    // by a factor of avg-degree. The lazily-checkpointed lineage hides
    // that from the planner (unknown stats ⇒ sort-merge), so every
    // iteration was shuffling + sorting the 1.2M-row edge list
    // (StageProbe r21: the three iteration joins re-read ~100 MB of
    // checkpointed edges each and carried the sort). Broadcasting the
    // rank vector leaves only the dst-keyed partial-aggregated
    // contribution shuffle per iteration. The vector grows with node
    // count, though, so an unconditional broadcast is a driver OOM at
    // warehouse scale — above the ceiling the joins stay shuffled (and
    // the further step is the bucketed edge layout the scaladoc
    // describes; PageRankBucketedSpec proves that plan).
    val attach: DataFrame => DataFrame =
      if (pagerankBroadcastsRanks(s, d)) broadcast else identity
    var ranks = base.select(col("node"), col("deg"), col("nn"),
      expr(s"$Scale div nn").as("pr"))
    for (_ <- 1 to Iters) {
      val contribs = ranks
        .select(col("node").as("cnode"), expr("pr div deg").as("c"))
      val incoming = edges
        .join(attach(contribs), edges("src") === col("cnode"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = base
        .join(attach(incoming), base("node") === incoming("dst"), "left")
        .select(base("node"), base("deg"), base("nn"),
          expr(s"((15 * ($Scale div nn)) div 100) + " +
            "((85 * coalesce(s, 0L)) div 100)").as("pr"))
    }
    ranks.select(col("node"), col("pr")).orderBy("node")
  }

  /** Planning-time size signal for [[qPagerank]]'s rank-vector
    * broadcast — distinct node count is bounded by 2 × lineitem rows
    * (each row names one supplier and one part), so the pruned
    * (suppkey, partkey) scan estimate at 16 B/row upper-bounds the
    * 16 B/node vector, compared against the same
    * [[graft.SizeTier.BroadcastBytes]] as [[triangleBroadcastsAdj]]. Same
    * conservative pure-plan-metadata style as [[triangleAdjEstimate]] (no
    * job, and only the table the operator already reads): over-estimating
    * only costs a shuffle; under-estimating at warehouse scale would OOM
    * the driver. */
  private[graft] def pagerankBroadcastsRanks(s: SparkSession, d: String)
      : Boolean =
    SizeTier.small(SizeTier.planBytes(
      lineitem(s, d).select(col("l_suppkey"), col("l_partkey"))) * 2,
      SizeTier.BroadcastBytes)

  /** Triangle census of the part co-purchase graph: nodes are parts,
    * with an edge between two parts iff some order contains both.
    * Reports edge/wedge/triangle counts and the global clustering
    * coefficient 3·T/W — the standard graph-cohesion statistic
    * (community structure, recommendation quality, spam detection).
    *
    * Edge construction is MAP-SIDE pair generation from each order's
    * sorted part list (same idiom as [[Ranking.qCooccurrence]]): no
    * self-join of lineitem against itself keyed on l_orderkey, and
    * per-order pair volume is bounded by basket size (≤ 7 lineitems per
    * order in this schema; unbounded-basket datasets would cap or
    * revert to the keyed self-join).
    *
    * The triangle count is degree-ordered (compact-forward) in its
    * ADJACENCY-INTERSECTION form — both choices are load-bearing at
    * scale. (1) Every edge is oriented from its lower endpoint under
    * the total order (degree, id), so max out-degree is O(√m) and no
    * hub node can melt the computation (a part in 10⁶ orders would
    * put 10¹² pairs through an un-oriented per-node enumeration;
    * degree-ordering caps its out-degree at ~√m). (2) Triangles are
    * counted WITHOUT materializing wedge rows: per-node sorted
    * out-neighbor arrays join onto both endpoints of each oriented
    * edge and the codegen'd two-pointer
    * [[graft.functions.SortedIntersectCount]] counts |out(u) ∩ out(v)|
    * per edge — each triangle a≺b≺c is found exactly once, at its
    * base edge (a,b), as the shared out-neighbor c. The first cut of
    * this operator enumerated wedges as ROWS (out-edge self-join, then
    * a closing-edge join): on this graph (1.2M edges, avg degree ~120
    * at sf0.1) that shuffled ~70M wedge rows and ran 15.5 s; the
    * intersection form does the same Σ min-outdeg comparisons as
    * per-edge kernel evals — 4.4 s, of which the majority is the edge
    * LIST build itself (DuckDB spends ~3 of its 5 s census there too),
    * and the shuffled volume is O(m) for the adjacency build plus
    * O(m) for the broadcast attachments, period.
    * Everything is integer counting; the three 1-row stat frames
    * compose via the broadcast-crossJoin idiom. */
  def qTriangleCount(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    // Pair generation is the KEYED SELF-JOIN (the q_triangle_count
    // oracle pins its result): distinct (order, part) joined against
    // itself on l_orderkey with pa < pb. The earlier per-order array
    // form (collect_set + higher-order transform/slice explode) avoided
    // the join's shuffle, but HOFs evaluate OUTSIDE whole-stage codegen
    // and allocate a slice array + struct per emitted pair — measured
    // 2.6× the CPU of the join form on this stage (StageProbe r21:
    // 3.5 s → ~1.3 s).
    // The join stays bounded at scale for the same reason the array
    // form did: per-order pair volume is capped by basket size (≤ 7
    // lineitems per order here → ≤ 21 pairs), and the shuffle it adds
    // carries (orderkey, partkey) pairs only — 16 B/row, the same rows
    // the collect_set shuffle moved anyway.
    val dp = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // SHUFFLE_HASH: both sides are the same 16 B/row key-pair set — a
    // hash build beats sort-merge's two sorts (A/B r21: wall 3.0 →
    // 2.4 s, CPU 14.2 → 13.8 s), and the per-partition build side is
    // bounded by the same basket cap that bounds the join output
    val rawPairs = dp.as("x").hint("SHUFFLE_HASH").join(dp.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("pa"), col("y.l_partkey").as("pb"))
    val e = rawPairs
      .distinct()
      // the degree join and both adjacency sides read this; without the
      // cut each consumer re-expands the per-order pair generation
      .localCheckpoint(eager = false)
    // one read of the checkpointed edge list instead of two: unionAll
    // scanned e once per side (2 × ~100 MB of materialized pair rows);
    // the codegen'd explode emits both endpoints in a single pass
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), "pb")
    // orient each edge from its smaller endpoint under (degree, id) —
    // struct comparison is lexicographic, exactly the total order needed
    val lower = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
    val oriented = ed.select(
      when(lower, col("pa")).otherwise(col("pb")).as("src"),
      when(lower, col("pb")).otherwise(col("pa")).as("dst"))
      .localCheckpoint(eager = false)
    // sorted out-adjacency per node: one keyed shuffle; array length is
    // the oriented out-degree, bounded O(√m) by the orientation.
    // localCheckpoint: BOTH attachment sides below read adj, and the
    // src/dst renames above the aggregate defeated exchange reuse — the
    // r21 StageProbe showed the groupBy+sort re-executed twice (200 MB
    // re-read of the oriented checkpoint). The cut materializes adj once.
    val adj = oriented.groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint(eager = false)
    // per-edge |out(u) ∩ out(v)| through the codegen'd kernel; edges
    // whose dst has no out-list close no triangle and drop at the join.
    // SIZE-DISPATCHED adjacency attachment (same adaptive pattern as
    // Text.nearDupPairs' broadcast/prefix-join crossover): below the
    // estimate ceiling adj is broadcast — one row per NODE (not per
    // edge), the small side by a factor of avg-degree; without the hint
    // both joins shuffle every edge's ~√m-long neighbor array (measured
    // 3× slower here). adj grows WITH the graph, though, so an
    // unconditional broadcast is a driver OOM at warehouse scale —
    // above the ceiling both attachments fall back to plain shuffled
    // joins (and the further step is the bucketed layout the PageRank
    // note describes: adj and edges bucketed by node id make both
    // attachments shuffle-free).
    // repartition pins the kernel stage to cluster parallelism: the
    // edge list is tiny in BYTES (16 B/row), so AQE would coalesce it
    // to ~1 partition — right for data volume, wrong for this
    // compute-bound stage (all Σ min-outdeg comparisons on one core;
    // same reasoning as Text.dedupNearBroadcast)
    val attach: DataFrame => DataFrame =
      if (triangleBroadcastsAdj(s, d)) broadcast else identity
    val par = s.sparkContext.defaultParallelism
    val tri = oriented.repartition(par)
      .join(attach(adj.select(col("node").as("src"),
        col("nbrs").as("na"))), "src")
      .join(attach(adj.select(col("node").as("dst"),
        col("nbrs").as("nb"))), "dst")
      .agg(coalesce(sum(sortedIntersectCount(col("na"), col("nb"))
        .cast("long")), lit(0L)).as("n_triangles"))
    // W = Σ deg·(deg−1)/2 — all (ordered) wedges, integer-exact.
    // n_edges = Σ deg / 2 exactly (every edge contributes one to each
    // endpoint's degree) — derived in the SAME aggregate instead of a
    // separate full count scan of the edge checkpoint; coalesce keeps
    // the empty-graph value at 0, matching the count it replaced.
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
      coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0d))
          .otherwise(round(lit(3.0d) * col("n_triangles") /
            col("n_wedges"), 6)).as("clustering"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> qPagerank _,
    "q_triangle_count" -> qTriangleCount _,
  )

  val oracleSql: Map[String, String] = Map(
    // the oracle counts triangles by the id-ordered 3-way join
    // (pa < pb < pc): the count is orientation-independent, so it equals
    // the Spark side's degree-ordered enumeration exactly
    "q_triangle_count" ->
      """WITH pp AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |dg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT pa AS node FROM pp UNION ALL SELECT pb FROM pp)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM pp e1
        |  JOIN pp e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
        |  JOIN pp e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM dg),
        |ed AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pp)
        |SELECT st.n_nodes, ed.n_edges, st.n_wedges, tri.n_triangles,
        |  CASE WHEN st.n_wedges = 0 THEN 0.0
        |       ELSE round(3.0 * tri.n_triangles / st.n_wedges, 6)
        |  END AS clustering
        |FROM st, ed, tri""".stripMargin,
    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM pairs
        |      UNION ALL SELECT dst, src FROM pairs),
        |dg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |       FROM e GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM dg),
        |r0 AS (SELECT node, deg, 1000000000 // nn AS pr FROM dg, nn),
        |i1 AS (SELECT e.dst AS node,
        |         CAST(SUM(r0.pr // r0.deg) AS BIGINT) AS s
        |       FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
        |r1 AS (SELECT dg.node, dg.deg,
        |         ((15 * (1000000000 // nn)) // 100)
        |           + ((85 * COALESCE(i1.s, 0)) // 100) AS pr
        |       FROM dg LEFT JOIN i1 ON dg.node = i1.node, nn),
        |i2 AS (SELECT e.dst AS node,
        |         CAST(SUM(r1.pr // r1.deg) AS BIGINT) AS s
        |       FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
        |r2 AS (SELECT dg.node, dg.deg,
        |         ((15 * (1000000000 // nn)) // 100)
        |           + ((85 * COALESCE(i2.s, 0)) // 100) AS pr
        |       FROM dg LEFT JOIN i2 ON dg.node = i2.node, nn),
        |i3 AS (SELECT e.dst AS node,
        |         CAST(SUM(r2.pr // r2.deg) AS BIGINT) AS s
        |       FROM e JOIN r2 ON e.src = r2.node GROUP BY 1),
        |r3 AS (SELECT dg.node, dg.deg,
        |         ((15 * (1000000000 // nn)) // 100)
        |           + ((85 * COALESCE(i3.s, 0)) // 100) AS pr
        |       FROM dg LEFT JOIN i3 ON dg.node = i3.node, nn)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM r3
        |ORDER BY node""".stripMargin,
  )
}
