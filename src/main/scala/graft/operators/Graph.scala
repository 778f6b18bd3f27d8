package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Damped PageRank over an edge list, in integer fixed-point — the
  * authority-ranking companion to [[ConnectedComponents]] for graphs
  * materialized by the engine (e.g. the user→content engagement graph
  * the reference pipeline produces, or near-dup candidate graphs).
  *
  * Arithmetic doctrine: ranks are micro-units (1,000,000 = rank 1.0) and
  * every step is `floor` of a single IEEE op on exact integers — so the
  * result is deterministic across partitionings AND reproducible by the
  * DuckDB oracle bit-for-bit (float summation order never matters; the
  * sums are integer sums).
  *
  * Scale shape per iteration: one shuffle to join ranks onto edges (both
  * sides hash-partitioned by `src` — the degree join reuses the same
  * partitioning) and one hash aggregation by `dst` with map-side
  * partials. State per round is one (node, rank) row per node.
  *
  * Every iterated algorithm here (PageRank, LPA, BFS / weighted
  * shortest paths, personalized PageRank, k-core) is a seed frame plus
  * a step, driven by the one round loop [[rounds]] — the Pregel shape.
  * The caller's [[Cut]] materializes each round before the next step
  * reads it, which caps the logical-plan growth that OOMs Catalyst on
  * iterative DataFrame algorithms (same doctrine as
  * [[ConnectedComponents.run]]). The loop reads the edge frame it is
  * given every round; callers pass an already-materialized one (the
  * registry's memoized edge frames).
  */
object Graph {

  val RankOne = 1000000L // fixed-point scale: micro-rank units
  val Damping = 0.85
  val BaseFp: Long = math.round((1 - Damping) * RankOne) // 150,000

  /** How one round of an iteration is materialized: the round index and
    * its still-unbuilt frame in, the lineage-cut frame out. The registry
    * memoizes round `i` under a per-algorithm kind (`FrameCache.memo`),
    * so every row reading the run shares its rounds; a direct caller
    * passes [[checkpoint]]. */
  type Cut = (Int, => DataFrame) => DataFrame

  /** The eager cut: `localCheckpoint` each round as it is built. */
  val checkpoint: Cut = (_, df) => df.localCheckpoint(true)

  /** The one round loop of every iterated graph algorithm: round 0 is
    * `seed`, round i is `step` of round i − 1, each materialized by `cut`
    * before the next step reads it. Returns the whole trace r0..r`n`, so
    * the final frame and the per-round audits of a run read the SAME
    * materialized rounds instead of re-running the iteration. */
  def rounds(seed: => DataFrame, n: Int, cut: Cut)(
      step: DataFrame => DataFrame): IndexedSeq[DataFrame] =
    (1 to n).scanLeft(cut(0, seed))((prev, i) => cut(i, step(prev)))

  /** The node set of a directed (src, dst) edge list. */
  private def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()

  /** PageRank's round 0: every node at [[RankOne]]. */
  def pagerankSeed(edges: DataFrame): DataFrame =
    nodesOf(edges).withColumn("rank_fp", lit(RankOne))

  /** One power-iteration step: every node's next rank from the current
    * `ranks` (node, rank_fp). Nodes with no in-edges keep the base term.
    * Dangling-source mass is dropped (not redistributed) — pinned,
    * documented semantics, identical in the oracle. */
  def pagerankStep(edges: DataFrame, ranks: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    dampedRanks(edges, edges
      .join(deg, "src")
      .join(ranks.withColumnRenamed("node", "src"), "src"))
  }

  /** The rank tail of a PageRank step, after its (dst, deg, rank_fp)
    * edge join: each edge's share of its source's rank, the per-node
    * in-mass, and the damped next rank of every node. */
  private def dampedRanks(edges: DataFrame, joined: DataFrame): DataFrame = {
    // exact operands, one IEEE division, floor: portable bit-for-bit
    val share = joined.select(col("dst"),
      floor(col("rank_fp").cast("double") / col("deg")).cast("long").as("c"))
    val sums = share.groupBy(col("dst").as("node"))
      .agg(sum(col("c")).as("in_mass"))
    nodesOf(edges).join(sums, Seq("node"), "left")
      .select(col("node"),
        (lit(BaseFp) + floor(lit(Damping) * coalesce(col("in_mass"), lit(0L))))
          .cast("long").as("rank_fp"))
  }

  /** Hub-split inner equi-join — the MITIGATION for the hazard
    * `graph_skew_audit` measures. An iterative graph round joins a
    * per-node dimension (ranks, labels, distances) onto the edge list
    * keyed by the source node; on a power-law graph the hub nodes
    * concentrate the shuffle — one hot key lands on one reducer, and at
    * 1000× that reducer IS the round's wall clock. AQE's skew-join
    * split cannot help here: it re-plans one shuffle's runtime stats,
    * while an iterative self-join re-materializes per round under
    * `localCheckpoint`, so the split must be part of the LOGICAL plan.
    *
    * The split: `hotKeys` (the audit's flagged hubs — a metadata-sized
    * key list) broadcasts; fact rows of hot keys take a broadcast-hash
    * branch against the hot slice of the dimension (per-node dimension
    * ⇒ the hot slice is ≤ |hotKeys| rows — broadcastable by
    * construction), so they NEVER enter the key-hashed shuffle; the
    * cold tail takes the normal shuffle join with the hubs removed.
    * Union of the two branches is row-identical (as a multiset) to the
    * plain inner join: hot/cold partition the fact side, and a cold
    * fact row can only match a cold dimension row. Inner join only —
    * an outer join's unmatched-row channels would need dedup across
    * branches (see [[SkewJoin.salted]] for the same restriction).
    *
    * Cost model: the fact side is read twice (one broadcast-semi pass
    * per branch — map-side, no shuffle), the dimension once plus one
    * ≤|hotKeys|-row broadcast. What it buys: the per-partition maximum
    * of the shuffled join input drops from the top hub's share to the
    * cold tail's — `graph_skew_mitigated` reports exactly that number
    * before/after on a fixture where the audit genuinely fires. */
  def skewSplitJoin(facts: DataFrame, dim: DataFrame, key: String,
      hotKeys: DataFrame): DataFrame = {
    val hot = broadcast(hotKeys.select(col(key)).distinct())
    val hotFacts = facts.join(hot, Seq(key), "left_semi")
    val coldFacts = facts.join(hot, Seq(key), "left_anti")
    val hotDim = broadcast(dim.join(hot, Seq(key), "left_semi"))
    hotFacts.join(hotDim, Seq(key))
      .unionAll(coldFacts.join(dim, Seq(key)))
  }

  /** [[pagerankStep]] with the rank-onto-edges join routed through
    * [[skewSplitJoin]]: the per-node (deg, rank) dimension joins the
    * edge list with the `hotKeys` hubs on the broadcast branch and the
    * cold tail on the normal shuffle. Bit-identical to [[pagerankStep]]
    * by construction — the share arithmetic is unchanged and the
    * in-mass sum is an order-free integer aggregation over the same
    * multiset of rows (GraphSpec pins row identity on both a benign
    * fixture, where `hotKeys` is empty and the hot branch carries
    * nothing, and a power-law fixture where the audit's flagged hubs
    * carry ~3/4 of the edges). Callers gate `hotKeys` on
    * `graph_skew_audit`'s exact 5×-even-share threshold, so the benign
    * graph pays only the two metadata-sized broadcast probes. */
  def pagerankStepSkewSplit(edges: DataFrame, ranks: DataFrame,
      hotKeys: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val dim = deg.join(ranks.withColumnRenamed("node", "src"), "src")
    dampedRanks(edges, skewSplitJoin(edges, dim, "src", hotKeys))
  }

  /** A PageRank training run: [[pagerankSeed]] then `iters` power-
    * iteration rounds, r0..r`iters`. */
  def pagerankTrace(edges: DataFrame, iters: Int,
      cut: Cut): IndexedSeq[DataFrame] =
    rounds(pagerankSeed(edges), iters, cut)(pagerankStep(edges, _))

  /** The consecutive-round audit of a trace: one row per round pair
    * (i − 1, i), joined on node, with `n_nodes` and the `aggs` over the
    * pair's `value` columns, named `${p}0` (round i − 1) and `${p}1`
    * (round i). Each row is one node-keyed equi-join of two materialized
    * frames plus a map-side-combined global aggregate, so a caller
    * holding the trace pays no iteration compute here. */
  def roundPairs(trace: Seq[DataFrame], value: String, p: String)(
      aggs: Column*): DataFrame = {
    require(trace.size >= 2, "a round-pair audit needs at least rounds 0 and 1")
    (1 until trace.size).map { i =>
      trace(i - 1).select(col("node"), col(value).as(s"${p}0"))
        .join(trace(i).select(col("node"), col(value).as(s"${p}1")),
          Seq("node"))
        .agg(count(lit(1)).as("n_nodes"), aggs: _*)
        .select(lit(i.toLong).as("iter"), col("*"))
    }.reduce(_.union(_))
  }

  /** The per-round audit of a trace: one row per round with its row
    * count `n` and the sum of its `value` column as `total`. All-integer,
    * order-free. */
  def roundTotals(trace: Seq[DataFrame], n: String, value: String,
      total: String): DataFrame =
    trace.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as(n), sum(col(value)).as(total))
        .select(lit(i.toLong).as("iter"), col(n),
          col(total).cast("long").as(total))
    }.reduce(_.union(_))

  /** One synchronous round of weighted label propagation: every node
    * adopts the label carrying the largest total edge weight among its
    * neighbors' CURRENT labels, ties broken by the SMALLEST label — a
    * deterministic total order, so the round is reproducible across
    * partitionings and replays exactly in the oracle (classic async
    * LPA is order-dependent; the synchronous min-tie variant is not).
    *
    * `edges` must be the SYMMETRIZED (u, v, w) adjacency (both
    * directions present); `labels` is (node, label). Nodes only ever
    * appear as `u` of some edge (guaranteed by symmetrization), so no
    * keep-old-label channel is needed.
    *
    * Scale shape: one shuffle to join labels onto edges keyed by the
    * neighbor `v`, one (node, label) hash aggregation with map-side
    * partials, then a per-node argmax folded into ONE more aggregation
    * via the order-isomorphic `max(struct(wsum, -label))` trick (struct
    * comparison is lexicographic: max weight first, then max(-label) =
    * min label) — no window sort, no per-node row_number. State is one
    * (node, label) row per node; weights stay integer so the vote sums
    * are exact at any scale. */
  def lpaStep(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.withColumnRenamed("node", "v"), "v")
      .groupBy(col("u"), col("label"))
      .agg(sum(col("w")).as("wsum"))
      .groupBy(col("u").as("node"))
      .agg(max(struct(col("wsum"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))

  /** The node set of a symmetrized (u, v, w) adjacency — k-core's
    * round 0. */
  private def adjacencyNodes(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node")).distinct()

  /** LPA's round 0: every node labelled with its own id. */
  def lpaSeed(edges: DataFrame): DataFrame =
    adjacencyNodes(edges).withColumn("label", col("node"))

  /** A synchronous LPA run: [[lpaSeed]] then `iters` vote rounds. */
  def lpaTrace(edges: DataFrame, iters: Int, cut: Cut): IndexedSeq[DataFrame] =
    rounds(lpaSeed(edges), iters, cut)(lpaStep(edges, _))

  /** The hop cost of BFS: every edge is one hop. */
  val UnitHop: Column = lit(1L)

  /** The hop cost of weighted shortest paths: an edge costs its `w`. */
  val EdgeWeight: Column = col("w")

  /** One round of multi-source distance relaxation: every node's
    * tentative (dist, src) is the minimum of its current value and
    * every neighbor's (dist + `hop`, src) — lexicographic `min(struct(
    * dist, src))`, so a node equidistant from two sources
    * deterministically takes the SMALLEST source id (the same
    * order-isomorphic argmin fold as [[lpaStep]]'s vote; no window
    * sort). Synchronous rounds over the full distance table make the
    * iteration order-free and replayable as unrolled oracle CTEs.
    *
    * With [[UnitHop]] this is BFS: after K rounds the table holds exact
    * shortest hop-distances for every node within K hops of a source
    * (unreached nodes are absent — honest K-hop neighborhoods, not
    * infinities). With [[EdgeWeight]] it is the min-plus generalization,
    * synchronous Bellman–Ford: after K rounds the table holds exact
    * shortest WEIGHTED distances over all paths of ≤ K edges, so with
    * positive weights the iteration reaches its fixed point once K
    * covers the longest minimal-path hop count — two equal consecutive
    * rounds certify it.
    *
    * `edges` must be the SYMMETRIZED (u, v, w) adjacency; `dists` is
    * (node, dist, src). Scale shape per round: ONE shuffle joining the
    * frontier table onto edges keyed by the neighbor, one union with
    * the carried table, one map-side-combined argmin aggregation —
    * state is one row per reached node. A frontier-delta variant sends
    * only newly-improved rows; the full-table relaxation keeps the
    * oracle replay exact and is the same asymptotic shuffle volume on
    * the small-diameter graphs co-purchase networks are. */
  def relaxStep(edges: DataFrame, dists: DataFrame, hop: Column): DataFrame =
    dists.withColumnRenamed("node", "v")
      .join(edges, "v")
      .select(col("u").as("node"), (col("dist") + hop).as("dist"),
        col("src"))
      .unionAll(dists.select(col("node"), col("dist"), col("src")))
      .groupBy(col("node"))
      .agg(min(struct(col("dist"), col("src"))).as("m"))
      .select(col("node"), col("m.dist").as("dist"), col("m.src").as("src"))

  /** A multi-source shortest-path run: round 0 puts every source at
    * distance 0 (its own `src`), then `iters` [[relaxStep]] rounds. */
  def relaxTrace(edges: DataFrame, sources: DataFrame, hop: Column,
      iters: Int, cut: Cut): IndexedSeq[DataFrame] =
    rounds(sources.select(col("node"), lit(0L).as("dist"),
      col("node").as("src")), iters, cut)(relaxStep(edges, _, hop))

  /** One round of WEIGHTED personalized PageRank (random walk with
    * restart) over the symmetric (u, v, w) adjacency: the teleport
    * mass goes to the SEED set only — rank_next(v) = [v ∈ seeds]·
    * [[BaseFp]] + floor([[Damping]] · Σ_u floor(rank(u)·w(u,v) /
    * wdeg(u))) — so ranks measure random-walk proximity to the seeds
    * (the classic recommendation/expansion score beside
    * [[relaxStep]]'s hop and weighted-path metrics). Shares are
    * weight-proportional; every op is floor of one IEEE division /
    * multiplication on exact integers (rank·w ≤ 2^53 by the mass
    * bound), so rounds replay bit-for-bit in the oracle. The rank
    * frame is SPARSE — only nodes with rank > 0 carry rows (unreached
    * mass is honestly absent, the BFS doctrine), so state grows with
    * the walk frontier, not the graph. Scale shape per round: one
    * shuffle joining ranks onto edges, one map-side-combined in-mass
    * sum, one full-outer join against the seed-sized base frame. */
  def pprStep(edges: DataFrame, ranks: DataFrame,
      seeds: DataFrame): DataFrame = {
    val wdeg = edges.groupBy("u").agg(sum(col("w")).as("wdeg"))
    val share = edges
      .join(wdeg, "u")
      .join(ranks.withColumnRenamed("node", "u"), "u")
      .select(col("v"),
        floor((col("rank_fp") * col("w")).cast("double") / col("wdeg"))
          .cast("long").as("c"))
    val sums = share.groupBy(col("v").as("node"))
      .agg(sum(col("c")).as("in_mass"))
    seeds.select(col("node"), lit(BaseFp).as("base"))
      .join(sums, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("base"), lit(0L)) +
          floor(lit(Damping) * coalesce(col("in_mass"), lit(0L)))
            .cast("long")).as("rank_fp"))
      .filter(col("rank_fp") > 0)
  }

  /** A personalized-PageRank run: round 0 puts every seed at
    * [[RankOne]], then `iters` [[pprStep]] rounds. */
  def pprTrace(edges: DataFrame, seeds: DataFrame, iters: Int,
      cut: Cut): IndexedSeq[DataFrame] =
    rounds(seeds.select(col("node"), lit(RankOne).as("rank_fp")), iters,
      cut)(pprStep(edges, _, seeds))

  /** One synchronous k-core peel round: keep every node whose degree
    * WITHIN the current induced subgraph is still ≥ k. Iterated to its
    * fixed point this computes the k-core — the classic degeneracy
    * peel (Seidman 1983), the graph-quality filter a curation pipeline
    * uses to keep densely-connected entities (products that co-sell
    * with other co-selling products) and drop tendrils. Synchronous
    * full-set peeling (not one-node-at-a-time) is order-free, so the
    * rounds replay exactly as unrolled oracle CTEs — and it reaches
    * the same fixed point as sequential peeling, since the k-core is
    * the unique maximal subgraph of min-degree ≥ k.
    *
    * `edges` must be the SYMMETRIZED (u, v, w) adjacency; `surviving`
    * is the (node) set still in play. Scale shape per round: two
    * node-keyed semi-join-shaped equi-joins restricting the edge list
    * to the induced subgraph, then ONE map-side-combined degree
    * aggregation — state is one row per surviving node, shrinking
    * monotonically. */
  def kcoreStep(edges: DataFrame, surviving: DataFrame, k: Long): DataFrame =
    kcoreDegrees(edges, surviving).filter(col("deg") >= k).select("node")

  /** A synchronous k-core peel: round 0 is every node
    * ([[adjacencyNodes]]), then `iters` [[kcoreStep]] rounds. */
  def kcoreTrace(edges: DataFrame, k: Long, iters: Int,
      cut: Cut): IndexedSeq[DataFrame] =
    rounds(adjacencyNodes(edges), iters, cut)(kcoreStep(edges, _, k))

  /** The edges of the subgraph induced by the node set `s`. */
  private def induced(edges: DataFrame, s: DataFrame): DataFrame =
    edges
      .join(s.select(col("node").as("u")), "u")
      .join(s.select(col("node").as("v")), "v")

  /** The surviving core with each member's induced-subgraph degree —
    * the payload frame a consumer reads (deg ≥ k for every row once
    * the peel has reached its fixed point). A peel round minus its
    * filter. */
  def kcoreDegrees(edges: DataFrame, core: DataFrame): DataFrame =
    induced(edges, core)
      .groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))

  /** The peel audit of a k-core run: one row per round with the
    * survivor count and the induced (directed) edge count — both must
    * fall monotonically to a plateau, and the plateau IS the fixed
    * point: two equal consecutive rounds prove the peel has converged
    * (a survivor set that removes nobody never will). A broken
    * restriction join or dropped HAVING bends round 1. All-integer,
    * order-free. */
  def kcorePeelOf(edges: DataFrame, trace: Seq[DataFrame]): DataFrame =
    trace.zipWithIndex.map { case (s, i) =>
      val nn = s.agg(count(lit(1)).as("n_nodes"))
        .select(lit(i.toLong).as("iter"), col("n_nodes"))
      val ne = induced(edges, s).agg(count(lit(1)).as("n_edges"))
      // 1-row × 1-row scalar cross (the wh_dq_checks shape): a literal-
      // key equi-join here constant-folds into an unregistered nested-
      // loop join and trips the registry-wide cartesian-absence guard
      nn.crossJoin(broadcast(ne))
    }.reduce(_.union(_))

}
