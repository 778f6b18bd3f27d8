package graft.operators

import org.apache.spark.sql.DataFrame
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
  * partials. State per round is one (node, rank) row per node; the edge
  * list is computed once, persisted, and reused every round.
  * `localCheckpoint` per round caps the logical-plan growth that OOMs
  * Catalyst on iterative DataFrame algorithms (same doctrine as
  * [[ConnectedComponents.run]]).
  */
object Graph {

  val RankOne = 1000000L // fixed-point scale: micro-rank units
  val Damping = 0.85
  val BaseFp: Long = math.round((1 - Damping) * RankOne) // 150,000

  /** One power-iteration step: every node's next rank from the current
    * `ranks` (node, rank_fp). Nodes with no in-edges keep the base term.
    * Dangling-source mass is dropped (not redistributed) — pinned,
    * documented semantics, identical in the oracle. */
  def pagerankStep(edges: DataFrame, ranks: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val share = edges
      .join(deg, "src")
      .join(ranks.withColumnRenamed("node", "src"), "src")
      // exact operands, one IEEE division, floor: portable bit-for-bit
      .select(col("dst"),
        floor(col("rank_fp").cast("double") / col("deg")).cast("long").as("c"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val sums = share.groupBy(col("dst").as("node"))
      .agg(sum(col("c")).as("in_mass"))
    nodes.join(sums, Seq("node"), "left")
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
    val share = skewSplitJoin(edges, dim, "src", hotKeys)
      .select(col("dst"),
        floor(col("rank_fp").cast("double") / col("deg")).cast("long").as("c"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val sums = share.groupBy(col("dst").as("node"))
      .agg(sum(col("c")).as("in_mass"))
    nodes.join(sums, Seq("node"), "left")
      .select(col("node"),
        (lit(BaseFp) + floor(lit(Damping) * coalesce(col("in_mass"), lit(0L))))
          .cast("long").as("rank_fp"))
  }

  /** The full per-round trace of a training run — r0 (uniform start)
    * through r`iters`, each eagerly `localCheckpoint`ed. Exposing the
    * trace (not just the final frame) lets every consumer of the run —
    * final ranks, the convergence audit, per-round diagnostics — read
    * the SAME materialized rounds instead of re-running the power
    * iteration (the duplication the r9 bench paid: train + converge
    * each re-trained). */
  def pagerankTrace(edges: DataFrame, iters: Int): IndexedSeq[DataFrame] = {
    val e = edges.persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val r0 = nodes.withColumn("rank_fp", lit(RankOne)).localCheckpoint(true)
    val trace = (1 to iters).foldLeft(IndexedSeq(r0)) { (acc, _) =>
      acc :+ pagerankStep(e, acc.last).localCheckpoint(true)
    }
    e.unpersist()
    trace
  }

  /** `iters` full power-iteration rounds from a uniform start. */
  def pagerank(edges: DataFrame, iters: Int): DataFrame =
    pagerankTrace(edges, iters).last

  /** The L1-delta audit derived from an already-materialized
    * [[pagerankTrace]] — each row one node-keyed equi-join of two
    * checkpointed (node, rank) frames plus a map-side-combined global
    * sum. Callers holding a trace (e.g. one shared with the final-ranks
    * consumer) pay NO training compute here. */
  def convergenceOf(trace: Seq[DataFrame]): DataFrame = {
    require(trace.size >= 2, "convergence needs at least rounds r0 and r1")
    (1 until trace.size).map { i =>
      trace(i - 1).select(col("node"), col("rank_fp").as("r0"))
        .join(trace(i).select(col("node"), col("rank_fp").as("r1")), Seq("node"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(abs(col("r1") - col("r0"))).as("total_delta"))
        .select(lit(i.toLong).as("iter"), col("n_nodes"), col("total_delta"))
    }.reduce(_.union(_))
  }

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

  /** Per-round label frames l0 (label = own node id) through l`iters`
    * of one synchronous LPA run, each eagerly `localCheckpoint`ed —
    * the same shared-trace doctrine as [[pagerankTrace]]: the final
    * communities and the convergence audit read the SAME materialized
    * rounds. */
  def lpaTrace(edges: DataFrame, iters: Int): IndexedSeq[DataFrame] = {
    val e = edges.persist()
    val l0 = e.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    val trace = (1 to iters).foldLeft(IndexedSeq(l0)) { (acc, _) =>
      acc :+ lpaStep(e, acc.last).localCheckpoint(true)
    }
    e.unpersist()
    trace
  }

  /** One round of multi-source BFS distance relaxation: every node's
    * tentative (dist, src) is the minimum of its current value and
    * every neighbor's value + 1 hop — lexicographic `min(struct(dist,
    * src))`, so a node equidistant from two sources deterministically
    * takes the SMALLEST source id (the same order-isomorphic argmin
    * fold as [[lpaStep]]'s vote; no window sort). Synchronous rounds
    * over the full distance table make the iteration order-free and
    * replayable as unrolled oracle CTEs; after K rounds the table
    * holds exact shortest hop-distances for every node within K hops
    * of a source (unreached nodes are absent — honest K-hop
    * neighborhoods, not infinities).
    *
    * `edges` must be the SYMMETRIZED (u, v, w) adjacency; `dists` is
    * (node, dist, src). Scale shape per round: ONE shuffle joining the
    * frontier table onto edges keyed by the neighbor, one union with
    * the carried table, one map-side-combined argmin aggregation —
    * state is one row per reached node. A frontier-delta variant sends
    * only newly-improved rows; the full-table relaxation keeps the
    * oracle replay exact and is the same asymptotic shuffle volume on
    * the small-diameter graphs co-purchase networks are. */
  def bfsStep(edges: DataFrame, dists: DataFrame): DataFrame =
    dists.withColumnRenamed("node", "v")
      .join(edges, "v")
      .select(col("u").as("node"), (col("dist") + lit(1L)).as("dist"),
        col("src"))
      .unionAll(dists.select(col("node"), col("dist"), col("src")))
      .groupBy(col("node"))
      .agg(min(struct(col("dist"), col("src"))).as("m"))
      .select(col("node"), col("m.dist").as("dist"), col("m.src").as("src"))

  /** Per-round distance frames d0 (sources at distance 0) through
    * d`iters` of one multi-source BFS, each eagerly checkpointed —
    * the [[pagerankTrace]] shared-trace doctrine: the final distances
    * and the reach audit read the SAME materialized rounds. */
  def bfsTrace(edges: DataFrame, sources: DataFrame,
      iters: Int): IndexedSeq[DataFrame] = {
    val e = edges.persist()
    val d0 = sources.select(col("node"), lit(0L).as("dist"),
      col("node").as("src")).localCheckpoint(true)
    val trace = (1 to iters).foldLeft(IndexedSeq(d0)) { (acc, _) =>
      acc :+ bfsStep(e, acc.last).localCheckpoint(true)
    }
    e.unpersist()
    trace
  }

  /** One round of WEIGHTED personalized PageRank (random walk with
    * restart) over the symmetric (u, v, w) adjacency: the teleport
    * mass goes to the SEED set only — rank_next(v) = [v ∈ seeds]·
    * [[BaseFp]] + floor([[Damping]] · Σ_u floor(rank(u)·w(u,v) /
    * wdeg(u))) — so ranks measure random-walk proximity to the seeds
    * (the classic recommendation/expansion score beside [[bfsStep]]'s
    * hop metric and [[wspStep]]'s weighted-path metric). Shares are
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

  /** Per-round rank frames p0 (seeds at [[RankOne]]) through p`iters`
    * of one personalized-PageRank run, each eagerly checkpointed —
    * the [[pagerankTrace]] shared-trace doctrine. */
  def pprTrace(edges: DataFrame, seeds: DataFrame,
      iters: Int): IndexedSeq[DataFrame] = {
    val e = edges.persist()
    val p0 = seeds.select(col("node"), lit(RankOne).as("rank_fp"))
      .localCheckpoint(true)
    val trace = (1 to iters).foldLeft(IndexedSeq(p0)) { (acc, _) =>
      acc :+ pprStep(e, acc.last, seeds).localCheckpoint(true)
    }
    e.unpersist()
    trace
  }

  /** One round of multi-source WEIGHTED shortest-path relaxation —
    * [[bfsStep]]'s min-plus generalization: a neighbor's candidate is
    * (dist + w, src) along the carried integer edge weight instead of
    * (dist + 1, src), folded by the same order-isomorphic
    * `min(struct(dist, src))` argmin (smallest source id on ties).
    * These are synchronous Bellman–Ford rounds: after K of them the
    * table holds exact shortest WEIGHTED distances over all paths of
    * ≤ K edges, so with positive weights the iteration reaches its
    * fixed point once K covers the longest minimal-path hop count —
    * two equal consecutive rounds certify it. Same scale shape as
    * [[bfsStep]]: ONE shuffle per round, map-side-combined argmin,
    * state one row per reached node. */
  def wspStep(edges: DataFrame, dists: DataFrame): DataFrame =
    dists.withColumnRenamed("node", "v")
      .join(edges, "v")
      .select(col("u").as("node"), (col("dist") + col("w")).as("dist"),
        col("src"))
      .unionAll(dists.select(col("node"), col("dist"), col("src")))
      .groupBy(col("node"))
      .agg(min(struct(col("dist"), col("src"))).as("m"))
      .select(col("node"), col("m.dist").as("dist"), col("m.src").as("src"))

  /** Per-round distance frames of one multi-source weighted-shortest-
    * path run, each eagerly checkpointed — [[bfsTrace]] with the
    * min-plus relaxation. */
  def wspTrace(edges: DataFrame, sources: DataFrame,
      iters: Int): IndexedSeq[DataFrame] = {
    val e = edges.persist()
    val d0 = sources.select(col("node"), lit(0L).as("dist"),
      col("node").as("src")).localCheckpoint(true)
    val trace = (1 to iters).foldLeft(IndexedSeq(d0)) { (acc, _) =>
      acc :+ wspStep(e, acc.last).localCheckpoint(true)
    }
    e.unpersist()
    trace
  }

  /** The reach audit of a BFS run: one row per round with the reached-
    * node count and the total hop distance — reach must grow
    * monotonically (a relaxation can only add nodes) and a broken
    * join key, lost union branch, or unstable tie-break bends the
    * counters in round 1. All-integer, order-free. */
  def bfsReachedOf(trace: Seq[DataFrame]): DataFrame =
    trace.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
        .select(lit(i.toLong).as("iter"), col("n_reached"),
          col("sum_dist").cast("long").as("sum_dist"))
    }.reduce(_.union(_))

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
    * monotonically, and the edge frame is computed once and persisted
    * by the trace driver. */
  def kcoreStep(edges: DataFrame, surviving: DataFrame, k: Long): DataFrame =
    edges
      .join(surviving.select(col("node").as("u")), "u")
      .join(surviving.select(col("node").as("v")), "v")
      .groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select("node")

  /** Per-round survivor frames s0 (all nodes) through s`iters` of one
    * synchronous k-core peel, each eagerly checkpointed — the
    * [[pagerankTrace]] shared-trace doctrine: the final core and the
    * peel audit read the SAME materialized rounds. */
  def kcoreTrace(edges: DataFrame, k: Long, iters: Int): IndexedSeq[DataFrame] = {
    val e = edges.persist()
    val s0 = e.select(col("u").as("node")).distinct().localCheckpoint(true)
    val trace = (1 to iters).foldLeft(IndexedSeq(s0)) { (acc, _) =>
      acc :+ kcoreStep(e, acc.last, k).localCheckpoint(true)
    }
    e.unpersist()
    trace
  }

  /** The surviving core with each member's induced-subgraph degree —
    * the payload frame a consumer reads (deg ≥ k for every row once
    * the peel has reached its fixed point). Same two-join + one-agg
    * shape as a peel round, minus the filter. */
  def kcoreDegrees(edges: DataFrame, core: DataFrame): DataFrame =
    edges
      .join(core.select(col("node").as("u")), "u")
      .join(core.select(col("node").as("v")), "v")
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
      val ne = edges
        .join(s.select(col("node").as("u")), "u")
        .join(s.select(col("node").as("v")), "v")
        .agg(count(lit(1)).as("n_edges"))
      // 1-row × 1-row scalar cross (the wh_dq_checks shape): a literal-
      // key equi-join here constant-folds into an unregistered nested-
      // loop join and trips the registry-wide cartesian-absence guard
      nn.crossJoin(broadcast(ne))
    }.reduce(_.union(_))

  /** The convergence audit of an LPA run: one row per round with the
    * number of nodes that switched label and the surviving community
    * count — synchronous LPA on a finite graph coarsens fast, and a
    * broken vote join (wrong key, dropped weight, unstable tie-break)
    * bends both counters immediately. All-integer, order-free. */
  def lpaConvergenceOf(trace: Seq[DataFrame]): DataFrame = {
    require(trace.size >= 2, "convergence needs at least rounds l0 and l1")
    (1 until trace.size).map { i =>
      trace(i - 1).select(col("node"), col("label").as("l0"))
        .join(trace(i).select(col("node"), col("label").as("l1")), Seq("node"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("l1") =!= col("l0"), 1L).otherwise(0L)).as("n_changed"),
          countDistinct(col("l1")).as("n_labels"))
        .select(lit(i.toLong).as("iter"), col("n_nodes"),
          col("n_changed"), col("n_labels"))
    }.reduce(_.union(_))
  }
}
