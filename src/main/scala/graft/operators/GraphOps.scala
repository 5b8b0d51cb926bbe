package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relation-derived edge lists. The repo's
  * other graph ops (connected components in [[DedupOps]], triangle counts)
  * converge by propagation; PageRank adds the weighted-contribution
  * iteration shape: each round is one shuffle join of ranks onto the edge
  * list plus one aggregate — the standard distributed PageRank plan
  * (GraphX-free, pure DataFrame).
  *
  * Determinism contract: floating-point PageRank is NOT oracle-checkable —
  * per-node contribution sums are doubles added in engine- and
  * partition-order-dependent sequence. Here rank mass is an integer in
  * units of 1e-12 (rank₀ = 10¹²), contributions are integer division
  * `rank div out_degree`, and the damping step is `(85·Σ) div 100 +
  * 0.15·unit` — all exact int64 arithmetic. The worst-case intermediate is
  * a hub absorbing the whole graph's mass: 85·#nodes·unit must stay under
  * 2⁶³, so the unit is SIZED TO THE GRAPH — [[sizedRankUnit]] picks the
  * largest power of ten with 85·n·unit ≤ 2⁶² (10¹² up to ~5×10⁴ nodes,
  * shrinking one decade per decade of nodes), and [[pageRankInt]] computes
  * it from the node count unless the caller pins one. Every engine
  * computes the identical lattice point, so the hash gate applies to an
  * ITERATIVE algorithm — the same fixed-point trick q88 uses for mixture
  * weights.
  */
object GraphOps {

  private[graft] val RankUnit = 1000000000000L // 10^12

  /** Largest power-of-ten rank unit that keeps the damping step's worst
    * case — `85 · Σ(contributions)` with Σ bounded by the total mass
    * n·unit — under 2⁶² (one bit of headroom below int64). Capped at the
    * 10¹² default so small graphs keep maximum resolution; refuses graphs
    * so large that fewer than 2 decimal digits of rank resolution remain
    * (~5×10¹⁴ nodes — far past any real corpus). */
  def sizedRankUnit(nodes: Long): Long = {
    require(nodes > 0, "pageRankInt: empty node set")
    // divide twice instead of multiplying 85·nodes: the product itself
    // wraps int64 past ~1.08e17 nodes, and a wrap landing on a small
    // positive value would defeat the very bound being computed (r8,
    // ADVICE). Double flooring is conservative by at most one ulp of
    // the quotient — irrelevant to a power-of-ten search.
    val cap = (1L << 62) / 85L / nodes
    var u = 1L
    while (u * 10 <= cap && u < RankUnit) u *= 10
    require(u >= 100L,
      s"pageRankInt: $nodes nodes leaves rank unit $u < 100 — too little integer resolution")
    u
  }

  /** Fixed-iteration integer PageRank over a directed edge list
    * `(src, dst)`. Every node must have out-degree ≥ 1 (callers build
    * symmetric edge lists, so no dangling-mass handling is needed).
    *
    * `rankUnit` is the integer mass each node starts with. Pass 0 (the
    * default) to size it from the graph — one `count()` over the already-
    * checkpointed node frame, then [[sizedRankUnit]] — so a 10⁶-node graph
    * gets 10¹⁰ and a hub absorbing all mass still multiplies by 85 without
    * wrapping int64. Pin an explicit power-of-ten ≥ 100 only when the
    * lattice must be stable across differently-sized graphs (the declared
    * q101 pins 10¹² to keep its oracle hash independent of this sizing).
    *
    * The edge⋈degree frame is consumed once per iteration — it is
    * localCheckpoint'ed so iteration n never re-runs the upstream edge
    * derivation, and released once the final ranks are materialized
    * (the [[DedupOps.connectedComponents]] storage-lifecycle pattern).
    * Each iteration's plan chains off the previous one lazily; with a
    * small fixed iteration count no per-round checkpoint is needed. */
  def pageRankInt(edges: DataFrame, iters: Int, rankUnit: Long = 0L): DataFrame = {
    val ed = rankEdges(edges)
    val nodes = ed.select(col("src").as("node")).distinct()
    // the node count is needed either way: to SIZE the unit (auto path)
    // or to VALIDATE a pinned one — a pin that passes the multiple-of-100
    // check but breaks 85·n·unit ≤ 2⁶² would wrap int64 SILENTLY in the
    // damping multiply (the round-5 bug, reachable through the pin until
    // r7), so a too-large pin now fails loudly instead. One count() over
    // the already-checkpointed frame.
    val n = nodes.count()
    val unit =
      if (rankUnit == 0L) sizedRankUnit(n)
      else {
        require(rankUnit >= 100L && rankUnit % 100L == 0L,
          s"pageRankInt: rank unit $rankUnit must be a multiple of 100 (0.15·unit must be exact)")
        // overflow-safe form of n ≤ 2⁶²/(85·unit): the guard's own
        // 85·unit product wraps for unit > ~1.08e17, and a wrap landing
        // on a small positive value would PASS the check and reintroduce
        // the silent damping-multiply overflow it exists to prevent (r8,
        // ADVICE). unit ≤ 2⁶²/85/n never multiplies data-derived values.
        require(rankUnit <= (1L << 62) / 85L / math.max(n, 1L),
          s"pageRankInt: pinned rank unit $rankUnit overflows on $n nodes " +
            s"(needs 85*n*unit <= 2^62; max unit ${(1L << 62) / 85L / math.max(n, 1L)} " +
            "at this node count) — pass rankUnit = 0 to size it to the graph")
        rankUnit
      }
    var ranks = nodes.withColumn("r", lit(unit))
    for (_ <- 1 to iters) ranks = rankRound(ed, ranks, unit)
    val out = ranks.localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(ed)
    out
  }

  /** [[pageRankInt]]'s edge frame: `(src, dst, d)` with `d` the source's
    * out-degree, checkpointed. PRE-PARTITIONED on the per-iteration join
    * key (r12, guide §2.4): when `deg` broadcasts, the edge⋈degree output
    * inherits the SCAN's layout — at bench scale one partition held ~all
    * 220k edge rows, so every iteration's join+aggregate ran effectively
    * single-task (StageProfile: 4.0 s max-task on an 8-task stage). One
    * explicit hash(src) shuffle at checkpoint build gives every iteration
    * a full-width, join-aligned edge frame; the rank side comes out of
    * each groupBy already hashed on the same key, so iterations add only
    * their own aggregate exchange. */
  private def rankEdges(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    Tables.spread(edges.join(deg, Seq("src")), col("src")).localCheckpoint(true)
  }

  /** One [[pageRankInt]] round: each node's `(node, r)` mass split over
    * its out-edges, damped, summed at the destinations. */
  private def rankRound(ed: DataFrame, ranks: DataFrame, unit: Long): DataFrame = {
    val baseMass = unit / 100L * 15L // exact: unit is a multiple of 100
    ed.join(ranks.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(expr(s"${baseMass}L + (85 * sum(r div d)) div 100").as("r"))
  }

  /** PageRank over the customer–supplier trade graph: an edge per distinct
    * (customer, supplier) pair that traded (orders ⋈ lineitem), both
    * directions, nodes namespaced even/odd so the two key spaces cannot
    * collide. 3 iterations — high-degree suppliers accumulate rank from
    * their customer neighborhoods. */
  def q101PageRank(s: SparkSession, dir: String): DataFrame =
    q101PageRankWithUnit(s, dir, RankUnit)

  /** Distinct customer–supplier trade pairs, BOTH directions, in one
    * pass (r13, §2.4): the old two-branch union re-ran the
    * orders⋈lineitem + distinct subtree once per direction — the two
    * branches project different column orders, so ReuseExchange could
    * not dedupe them (StageProfile q101: two ~600 k-row map stages,
    * ~0.6 s each, on 3 tasks). The reversed direction is now an explode
    * of a 2-struct array over ONE evaluation of the pair set: identical
    * row multiset, one subtree, one exchange. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** The declared q101 pins 10¹² so the oracle lattice is independent of
    * graph size (valid to ~5×10⁴ nodes — the r7 guard enforces it); an
    * at-scale caller passes `rankUnit = 0` for the graph-sized unit.
    * PerfAB's `q101_pagerank_sized` row is that form, which
    * ScaleRegression's chain times at 10× data, where the pin correctly
    * refuses. */
  private[graft] def q101PageRankWithUnit(s: SparkSession, dir: String,
      rankUnit: Long): DataFrame = {
    val edges = tradeEdges(s, dir)
    pageRankInt(edges, iters = 3, rankUnit = rankUnit)
      .select(col("node"),
        when(col("node") % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        col("r").as("rank_i"))
  }

  /** ONE un-checkpointed PageRank round over the trade graph — the lazy
    * plan that shows the rank⋈edges join strategy at a given scale
    * (broadcast while the rank frame fits under the threshold,
    * sort-merge once it outgrows it — the self-correcting flip
    * SCALING.md records). Built from [[pageRankInt]]'s own edge frame
    * and round, with q101's pinned unit; never declared as a query.
    * PerfAB's `q101_round` row, so PlanAudit prints its plan and PerfAB
    * times it by that name at any fixture dir. */
  private[graft] def q101RoundPlan(s: SparkSession, dir: String): DataFrame = {
    val ed = rankEdges(tradeEdges(s, dir))
    val ranks = ed.select(col("src").as("node")).distinct()
      .withColumn("r", lit(RankUnit))
    rankRound(ed, ranks, RankUnit)
  }

  val q101Sql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT e.dst AS node,
         |    150000000000 + (85 * CAST(sum(r.r // g.d) AS BIGINT)) // 100 AS r
         |  FROM edges e JOIN $prev r ON r.node = e.src
         |  JOIN deg g ON g.src = e.src
         |  GROUP BY e.dst)"""
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s, c FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
       |r0 AS (
       |  SELECT DISTINCT src AS node, CAST(1000000000000 AS BIGINT) AS r
       |  FROM edges),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  r AS rank_i
       |FROM r3""".stripMargin
  }

  /** The lazy (un-checkpointed) k-core plan plus the checkpointed edge
    * frame it hangs off — split out so [[q169KCore]] can release the edge
    * checkpoint after materializing, while PlanShapeSpec inspects the
    * REAL peel plan (the public entry returns a Scan-ExistingRDD stub
    * once checkpointed). */
  private[graft] def kCoreLazy(s: SparkSession, dir: String,
      eager: Boolean = false): (DataFrame, DataFrame) = {
    // hash(src) layout for the peel loop (r12, guide §2.4): each round's
    // degree aggregate groups by src and each round's semi-joins key on
    // src/dst with broadcast keep-sets, so a src-partitioned edge frame
    // makes every round's aggregate exchange-free and the layout
    // survives the (broadcast) semi-joins into the next round's
    // checkpoint.
    val e0 = Tables.spread(tradeEdges(s, dir), col("src"))
      .localCheckpoint(true)
    val out = kCorePeel(e0, k = 3, rounds = 3, eager = eager)
      .select(col("node"),
        when(col("node") % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        col("deg"))
    (e0, out)
  }

  /** Fixed-round degree peel over a SYMMETRIC `(src, dst)` edge list:
    * `rounds` synchronous removals of nodes with degree < k, then the
    * survivors with their residual degree. Callers checkpoint the input
    * edge list if it is expensive to derive; `eager` (default) pins each
    * round's shrinking edge list and releases the previous one. */
  def kCorePeel(e0: DataFrame, k: Int, rounds: Int,
      eager: Boolean = true): DataFrame = {
    // Eager mode materializes each round: the next round's plan references
    // the current edge list three times (degree count + two semi-joins),
    // so a lazy chain re-executes round r-1 multiple times inside round r
    // (exponential in principle; ReuseExchange recovers some of it, and the
    // measured gain at sf0.1/3 rounds is a modest ~15% — the real payoff is
    // bounded lineage depth at higher round counts). localCheckpoint pins
    // each round's
    // (monotonically shrinking) edge list; the previous round's pin is
    // released immediately — O(1) rounds of storage, the q64 CC pattern.
    // Lazy mode (PlanShapeSpec) keeps the full composed plan inspectable.
    var edges = e0
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("node"))
      // dst-semi first, src-semi last (r12): in the broadcast regime the
      // order is irrelevant (both map-side), but once the keep-set
      // outgrows the broadcast bar each semi-join is a shuffle on its
      // key — ending on src leaves the surviving edge list hash(src),
      // exactly the layout the next round's degree aggregate and
      // src-semi reuse (guide §2.4)
      val next0 = edges
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .select(col("src"), col("dst"))
      val next = if (eager) next0.localCheckpoint(true) else next0
      if (prev != null) org.apache.spark.sql.GraftShims.unpersistCheckpoint(prev)
      if (eager) prev = next
      edges = next
    }
    val out0 = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val out = if (eager) out0.localCheckpoint(true) else out0
    if (prev != null) org.apache.spark.sql.GraftShims.unpersistCheckpoint(prev)
    out
  }

  /** Fixed-round k-core peel (k = 3, 3 rounds) over the same
    * customer–supplier trade graph as [[q101PageRank]] — the
    * degeneracy-ordering primitive under community detection and
    * influence pruning. Each round drops every node whose CURRENT degree
    * is below k, then discards edges touching a dropped endpoint; after
    * three rounds the surviving nodes are reported with their residual
    * degree. Three synchronous rounds are deterministic by construction
    * (the true k-core is the fixpoint; fixed rounds keep the oracle an
    * unrolled CTE chain, the q101/q161 pattern — peeling is monotone, so
    * every reported node is a superset member of the true 3-core and the
    * round count is part of the declared contract).
    *
    * Scale shape: each round is one degree aggregate (map-side combine)
    * plus two broadcast-or-shuffle semi-joins of the edge list against
    * the kept-node set — never a window, never a collect. The edge list
    * is derived once and localCheckpoint'ed so round n doesn't re-run
    * the orders⋈lineitem derivation; released before return
    * ([[graft.operators.DedupOps]] CC storage-lifecycle pattern). */
  def q169KCore(s: SparkSession, dir: String): DataFrame = {
    val (e0, out) = kCoreLazy(s, dir, eager = true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(e0)
    out
  }

  val q169Sql: String = {
    def round(prev: String, cur: String): String =
      s"""k$cur AS MATERIALIZED (
         |  SELECT src AS node FROM $prev GROUP BY src
         |  HAVING count(*) >= 3),
         |$cur AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM $prev e
         |  JOIN k$cur a ON a.node = e.src
         |  JOIN k$cur b ON b.node = e.dst)"""
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s, c FROM pairs),
       |${round("e0", "e1")},
       |${round("e1", "e2")},
       |${round("e2", "e3")}
       |SELECT src AS node,
       |  CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  CAST(count(*) AS BIGINT) AS deg
       |FROM e3 GROUP BY src""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q169_kcore", q169KCore, Some(q169Sql)),
    QueryDef("q101_pagerank", q101PageRank, Some(q101Sql)))
}
