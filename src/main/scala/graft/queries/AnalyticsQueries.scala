package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.operators.{BloomJoin, Graph, TextAnalysis}

/** Product-analytics and corpus-index operators layered on the engine
  * (SURVEY.md §2 extensions, round 3): graph authority ranking, dense
  * time-series resampling, cohort retention, exact z-score outliers,
  * an inverted index over the document corpus, and bloom-filter
  * semi-join reduction.
  *
  * Portability doctrine as everywhere: shared SQL where the dialect
  * overlaps; otherwise exact integer arithmetic and single IEEE ops so
  * both engines produce bit-identical values.
  */
object AnalyticsQueries {

  import QueryDef.sqlBoth

  // Cohort retention: users bucketed by first-active week, counted in
  // each later week. `ua` is already (user, week)-distinct, so the final
  // COUNT(*) is a distinct-user count without a distinct aggregate.
  // Week offset = day-difference / 7 of week-truncated dates — exact
  // (both operands are Monday-truncated), no interval arithmetic.
  private def retentionSql(weekDiffDays: String) =
    s"""WITH ua AS (
       |  SELECT user_id, DATE_TRUNC('week', ts) AS wk
       |  FROM events GROUP BY user_id, DATE_TRUNC('week', ts)),
       |cohort AS (
       |  SELECT user_id, MIN(wk) AS cohort_wk FROM ua GROUP BY user_id)
       |SELECT c.cohort_wk AS cohort_week,
       |  CAST($weekDiffDays / 7 AS BIGINT) AS week_no,
       |  COUNT(*) AS n_users
       |FROM ua u JOIN cohort c ON u.user_id = c.user_id
       |GROUP BY c.cohort_wk, 2""".stripMargin

  // Dense minute grid per event type between its first and last event,
  // zero-filled counts and exact integer measure sums. The grid comes
  // from a per-group sequence explode — bounded by the time span, never
  // by row count, so a 100 TB fact table still generates the same small
  // grid. Only the generator function differs between dialects.
  private def gapfillSql(genSeries: String) =
    s"""WITH bounds AS (
       |  SELECT event_type,
       |    DATE_TRUNC('minute', MIN(ts)) AS t0,
       |    DATE_TRUNC('minute', MAX(ts)) AS t1
       |  FROM events GROUP BY event_type),
       |grid AS (
       |  SELECT event_type, $genSeries AS minute FROM bounds),
       |c AS (
       |  SELECT event_type, DATE_TRUNC('minute', ts) AS minute,
       |    COUNT(*) AS n,
       |    SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS sum_m
       |  FROM events GROUP BY 1, 2)
       |SELECT g.event_type, g.minute,
       |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       |  CAST(COALESCE(c.sum_m, 0) AS BIGINT) AS sum_m
       |FROM grid g LEFT JOIN c
       |  ON g.event_type = c.event_type AND g.minute = c.minute""".stripMargin

  // Exact z-score outlier detection: variance from integer sum/sum-sq
  // (exact at any SF and partitioning), then a 5-row stats broadcast
  // back onto the measures. Every double op is a fixed expression tree
  // over exact operands — bit-identical across engines.
  private val zscoreSql =
    """WITH mm AS (
      |  SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS m
      |  FROM events),
      |st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(m) AS DOUBLE) AS s, CAST(SUM(m * m) AS DOUBLE) AS ss
      |  FROM mm GROUP BY event_type),
      |stats AS (
      |  SELECT event_type, n, s / n AS mean,
      |    SQRT(ss / n - (s / n) * (s / n)) AS sd
      |  FROM st)
      |SELECT mm.event_type, MIN(stats.n) AS n,
      |  MIN(stats.mean) AS mean, MIN(stats.sd) AS sd,
      |  CAST(SUM(CASE WHEN ABS(CAST(mm.m AS DOUBLE) - stats.mean) > 3 * stats.sd
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM mm JOIN stats ON mm.event_type = stats.event_type
      |GROUP BY mm.event_type""".stripMargin

  /** Distinct (order, part) incidence list — shared by the basket-pair
    * and triangle queries ([[FrameCache]] memo; also feeds the
    * frequency/denominator sides of the lift computation). */
  private def basketItems(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "basket_items") {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
    }

  /** The co-purchase pair frame (p1 < p2, support) — the expensive
    * basket self-join, computed once and read by `analytics_basket_pairs`
    * (support ≥ 3 + lift) and `graph_triangles` (support ≥ 2 edges).
    * Same share-the-subtree doctrine as the near-dup pair frame in
    * [[DedupQueries]]. */
  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // resolve the items frame BEFORE entering the memo (FrameCache
    // nesting note)
    val items = basketItems(s, d)
    FrameCache.memo(s, d, "copurchase_pairs") {
      items.as("a")
        .join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("support"))
    }
  }

  /** Eager build of this family's shared frames (see
    * [[DedupQueries.prewarmShared]] for the bench-attribution doctrine). */
  private[graft] def prewarmShared(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    basketItems(s, d)
    coPurchasePairs(s, d)
    prRankTrace(s, d)
    lpaLabelTrace(s, d)
    bfsDistTrace(s, d)
    wspDistTrace(s, d)
    pprRankTrace(s, d)
    kcoreSurvTrace(s, d)
    ()
  }

  /** Power-iteration rounds for the trained PageRank — enough for the
    * convergence audit to show genuine contraction (the per-round L1
    * movement drops by ~the damping factor); each extra round adds one
    * edges-join to the build and one unrolled CTE block to the oracle. */
  private val PrIters = 3

  /** The engagement graph the PageRank queries run on: distinct
    * user→content edges from the CDC fact. Built with the fact
    * mapping's edge expressions applied DIRECTLY to the events scan —
    * [[CdcMapping.fact]]'s `repartition` exists to spread the
    * full 8-column row set across cores for the parse/enrich chain,
    * but an edge build projects two small columns and the distinct's
    * own shuffle already provides the parallelism, so going through
    * fact paid one extra full exchange for nothing (measured 2.3×
    * warm: 0.78 → 0.33 s at sf0.1 for the step query — the r11
    * verdict's `graph_pagerank_step` drift watch item). Values are
    * identical by construction: src = fact.user_id =
    * pmod(event_id, 97), dst = fact.content_id = events.user_id. */
  private def engagementEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .select(pmod(col("event_id"), lit(97)).as("src"),
        col("user_id").as("dst"))
      .distinct()

  /** The round cut of every graph run in the registry: round `i` is
    * memoized as `$kind$i`, so a run's train and converge rows (and the
    * prewarm) read rounds built once per bench pass instead of once per
    * consumer (the `sim_kmeans_inertia` doctrine; the r9 bench's top-2
    * entries were train and converge each re-running the same rounds),
    * and Bench itemizes each round on the shared-frame line. */
  private def memoRounds(s: org.apache.spark.sql.SparkSession, d: String,
      kind: String): Graph.Cut =
    (i, df) => FrameCache.memo(s, d, s"$kind$i")(df)

  /** The rank frames r0..r[[PrIters]] of ONE PageRank training run —
    * `graph_pagerank_train` reads the last frame and
    * `graph_pagerank_converge` derives its L1 deltas from consecutive
    * pairs. */
  private def prRankTrace(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[org.apache.spark.sql.DataFrame] =
    Graph.pagerankTrace(
      FrameCache.memo(s, d, "pagerank_edges")(engagementEdges(s, d)),
      PrIters, memoRounds(s, d, "pagerank_r"))

  /** One CTE chain of an iterated oracle: `base` (ending in round 0),
    * then `round(i)` for i in 1..`n`, comma-joined — the SQL twin of
    * [[Graph.rounds]]. */
  private def unroll(base: String, n: Int)(round: Int => String): String =
    (base +: (1 to n).map(round)).mkString(",\n")

  /** One audit row per round, `UNION ALL`ed — the SQL twin of a
    * per-round Spark audit. */
  private def perRound(rounds: Range)(row: Int => String): String =
    rounds.map(row).mkString("\nUNION ALL\n")

  /** SQL twin of [[Graph.roundTotals]] over the CTEs
    * `$prefix`0..`$prefix$rounds`. */
  private def roundTotalsSql(prefix: String, rounds: Int, n: String,
      value: String, total: String): String =
    perRound(0 to rounds)(i =>
      s"""SELECT CAST($i AS BIGINT) AS iter,
         |  CAST(COUNT(*) AS BIGINT) AS $n,
         |  CAST(SUM($value) AS BIGINT) AS $total FROM $prefix$i""".stripMargin)

  /** Unrolled damped power-iteration CTEs: requires a preceding
    * `edges(src, dst)` CTE, defines `deg`/`nodes`/`r0`..`r$PrIters` —
    * each round exactly [[Graph.pagerankStep]]'s arithmetic (one IEEE
    * division + floor for the share, one `0.85 ×` + floor for the
    * damped sum, all other ops integer-exact). */
  private def prCtes: String =
    unroll(
      s"""deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |r0 AS (SELECT node, CAST(${Graph.RankOne} AS BIGINT) AS rank_fp
         |       FROM nodes)""".stripMargin, PrIters) { i =>
      s"""sh$i AS (
         |  SELECT e.dst,
         |    CAST(FLOOR(CAST(r.rank_fp AS DOUBLE) / g.d) AS BIGINT) AS c
         |  FROM edges e
         |  JOIN deg g ON e.src = g.src
         |  JOIN r${i - 1} r ON r.node = e.src),
         |sm$i AS (SELECT dst AS node, SUM(c) AS in_mass
         |         FROM sh$i GROUP BY dst),
         |r$i AS (
         |  SELECT n.node,
         |    CAST(${Graph.BaseFp} +
         |         FLOOR(${Graph.Damping} * COALESCE(s.in_mass, 0))
         |         AS BIGINT) AS rank_fp
         |  FROM nodes n LEFT JOIN sm$i s ON n.node = s.node)""".stripMargin
    }

  /** Synchronous LPA rounds — enough for the co-purchase graph to
    * coarsen visibly while keeping the unrolled oracle readable; each
    * extra round adds one vote join to the build and one CTE block to
    * the oracle. */
  private val LpaIters = 3

  /** Multi-source BFS rounds and source count: distances are exact
    * within BfsIters hops of the BfsSources highest-weighted-degree
    * hubs (deterministic pick: weighted degree DESC, node ASC). */
  private val BfsIters = 3
  private val BfsSources = 4

  /** k-core peel threshold and synchronous peel rounds. k = 2 with 6
    * rounds reaches the fixed point at every fixture SF (sf0.01
    * plateaus at round 3 after peeling 1,880 → 1,535 nodes; sf0.1 at
    * round 5 after 5,922 → 3) — so the committed audit itself shows
    * the plateau that proves convergence, and the spec's
    * one-more-round check holds everywhere. */
  private val KcoreK = 2L
  private val KcoreIters = 6

  /** Weighted-shortest-path Bellman–Ford rounds (same source hubs as
    * the BFS): weighted minimal paths can use more hops than the
    * hop-metric diameter, so the weighted run iterates deeper than
    * [[BfsIters]]. GraphSpec pins the fixed point at the fixture SFs. */
  private val WspIters = 10

  /** Personalized-PageRank rounds from the same hubs — enough for the
    * walk to spread past the hubs' 2-hop neighborhood while keeping
    * the unrolled oracle readable. */
  private val PprIters = 3

  /** The symmetrized weighted co-purchase adjacency both LPA queries
    * run on — the SAME support ≥ 2 frame `graph_triangles` thresholds,
    * doubled into (u, v, w) both directions off the shared memoized
    * pair frame. */
  private[graft] def lpaEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pairs = coPurchasePairs(s, d)
    FrameCache.memo(s, d, "lpa_edges") {
      val e = pairs.filter(col("support") >= 2)
        .select(col("p1").as("u"), col("p2").as("v"),
          col("support").cast("long").as("w"))
      e.unionAll(e.select(col("v").as("u"), col("u").as("v"), col("w")))
    }
  }

  /** The label frames l0..l[[LpaIters]] of ONE synchronous LPA run —
    * `graph_lpa_train` reads the last frame and `graph_lpa_converge`
    * derives its changed/community counters from consecutive pairs. */
  private def lpaLabelTrace(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[org.apache.spark.sql.DataFrame] =
    Graph.lpaTrace(lpaEdges(s, d), LpaIters, memoRounds(s, d, "lpa_l"))

  /** The [[BfsSources]] BFS source hubs: highest weighted degree on
    * the symmetrized co-purchase adjacency, node-ascending tie-break —
    * a deterministic total order, planned as TakeOrderedAndProject. */
  private def bfsSourceFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val edges = lpaEdges(s, d)
    FrameCache.memo(s, d, "bfs_src") {
      edges.groupBy(col("u").as("node"))
        .agg(sum(col("w")).as("wdeg"))
        .orderBy(col("wdeg").desc, col("node").asc)
        .limit(BfsSources)
        .select(col("node"))
    }
  }

  /** The distance frames d0..d[[BfsIters]] of ONE multi-source BFS
    * from the hubs — `graph_bfs_dists` reads the last frame and
    * `graph_bfs_reach` derives its per-round counters from all of
    * them. */
  private def bfsDistTrace(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[org.apache.spark.sql.DataFrame] =
    Graph.relaxTrace(lpaEdges(s, d), bfsSourceFrame(s, d), Graph.UnitHop,
      BfsIters, memoRounds(s, d, "bfs_d"))

  /** The distance frames wd0..wd[[WspIters]] of ONE multi-source
    * WEIGHTED shortest-path run (min-plus Bellman–Ford rounds over the
    * carried co-purchase edge weights) from the same hubs as the
    * hop-BFS — `graph_wsp_dists` reads the last frame and
    * `graph_wsp_converge` derives its per-round counters from all of
    * them. Weighted minimal paths may use more hops than the hop-metric
    * diameter, so the weighted run iterates deeper; GraphSpec pins the
    * fixed point (one extra round changes nothing) on the fixture
    * graph. */
  private def wspDistTrace(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[org.apache.spark.sql.DataFrame] =
    Graph.relaxTrace(lpaEdges(s, d), bfsSourceFrame(s, d), Graph.EdgeWeight,
      WspIters, memoRounds(s, d, "wsp_d"))

  /** The rank frames p0..p[[PprIters]] of ONE weighted personalized-
    * PageRank run from the same hubs as the BFS/WSP — random-walk
    * proximity to the bestseller cluster, the third hub-proximity
    * measure of the family. `graph_ppr_train` reads the last frame,
    * `graph_ppr_converge` the per-round reach/mass counters, and the
    * streaming recommendation twin checkpoints the last frame as its
    * static rank table (beside [[lpaEdges]]), exactly what the batch
    * `corpus_graph_rrf` reads. */
  private[graft] def pprRankTrace(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[org.apache.spark.sql.DataFrame] =
    Graph.pprTrace(lpaEdges(s, d), bfsSourceFrame(s, d), PprIters,
      memoRounds(s, d, "ppr_p"))

  /** The graph branch of recommendation fusion — the ONE
    * implementation shared by the batch `corpus_graph_rrf` and the
    * streaming serving writer so the two can never drift (the
    * [[TextQueries.rrfFuse]]/[[TextQueries.bm25Serve]] doctrine):
    * candidates for each query item are its 1-hop co-purchase
    * neighbors ("bought together"), ranked by behavioral strength ×
    * hub authority — gscore = w · (rank_fp + 1), the edge's support
    * weight times the neighbor's converged personalized-PageRank mass
    * from the bestseller hubs, +1 so neighbors the walk never reached
    * still order by co-purchase support. All-int64 (w ≤ basket
    * support counts, rank_fp ≤ the damped mass bound ≈ 4·10⁶ μ-units
    * — the product stays far under 2⁶³), row_number top-5 with
    * doc-ascending tie-break. Scale shape: the query batch broadcasts
    * onto the edge list (one equi-join — the corpus-sized adjacency
    * never reshuffles), the PPR frame is a sparse rank table joined by
    * node, and the output is ≤ 5·|batch| rows. */
  private[graft] def graphAuthorityServe(qs: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame,
      ppr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val gw = Window.partitionBy(col("query_doc"))
      .orderBy(col("gscore").desc, col("doc_id").asc)
    edges.select(col("u"), col("v").as("doc_id"), col("w"))
      .join(broadcast(qs.select(col("query_doc"))),
        col("u") === col("query_doc"))
      .join(ppr.select(col("node"), col("rank_fp")),
        col("doc_id") === col("node"), "left")
      .select(col("query_doc"), col("doc_id"),
        (col("w") * (coalesce(col("rank_fp"), lit(0L)) + 1L)).as("gscore"))
      .withColumn("rk", row_number().over(gw).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("query_doc"), col("doc_id"), col("rk").as("lex_rk"))
  }

  /** The survivor frames s0..s[[KcoreIters]] of ONE synchronous k-core
    * peel over the co-purchase adjacency — `graph_kcore` reads the last
    * frame (with induced degrees) and `graph_kcore_peel` derives its
    * per-round counters from all of them. */
  private def kcoreSurvTrace(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[org.apache.spark.sql.DataFrame] =
    Graph.kcoreTrace(lpaEdges(s, d), KcoreK, KcoreIters,
      memoRounds(s, d, "kcore_s"))

  /** Unrolled k-core peel CTEs: requires a preceding `edges(u, v, w)`
    * CTE (symmetric), defines `s0`..`s$KcoreIters` — each round
    * exactly [[Graph.kcoreStep]]'s semantics (restrict the edge list
    * to the surviving induced subgraph, keep nodes of degree ≥ k).
    * MATERIALIZED because each s_t is referenced twice by s_{t+1} and
    * by the peel audit. */
  private def kcoreCtes: String =
    unroll("""s0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges)""",
        KcoreIters) { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT e.u AS node FROM edges e
         |  JOIN s${t - 1} a ON e.u = a.node
         |  JOIN s${t - 1} b ON e.v = b.node
         |  GROUP BY e.u HAVING COUNT(*) >= $KcoreK)""".stripMargin
    }

  /** The [[BfsSources]] hub pick as the `srcs` CTE (requires a preceding
    * symmetric `edges(u, v, w)` CTE) — [[bfsSourceFrame]]'s order. */
  private val hubsSql =
    s"""srcs AS MATERIALIZED (
       |  SELECT u AS node FROM edges GROUP BY u
       |  ORDER BY SUM(w) DESC, u ASC LIMIT $BfsSources)""".stripMargin

  /** Unrolled multi-source relaxation CTEs: requires a preceding
    * `edges(u, v, w)` CTE (symmetric), defines `srcs` and
    * `$prefix`0..`$prefix$n` — each round exactly [[Graph.relaxStep]]'s
    * semantics (neighbor distance + `hop` unioned with the carried
    * table, per-node argmin with min-source tie-break), expressed as a
    * row_number pick instead of Spark's order-isomorphic
    * `min(struct(dist, src))`: identical argmin semantics. `hop` is `1`
    * for BFS and `e.w` for weighted shortest paths. MATERIALIZED because
    * each round is referenced by the next (twice) and by the audit — the
    * MMR-CTE inlining lesson. */
  private def relaxCtes(prefix: String, hop: String, n: Int): String =
    unroll(
      s"""$hubsSql,
         |${prefix}0 AS MATERIALIZED (
         |  SELECT node, CAST(0 AS BIGINT) AS dist, node AS src
         |  FROM srcs)""".stripMargin, n) { t =>
      s"""$prefix$t AS MATERIALIZED (
         |  SELECT node, dist, src FROM (
         |    SELECT node, dist, src, row_number() OVER (
         |      PARTITION BY node ORDER BY dist ASC, src ASC) AS rn
         |    FROM (
         |      SELECT e.u AS node, p.dist + $hop AS dist, p.src
         |      FROM $prefix${t - 1} p JOIN edges e ON e.v = p.node
         |      UNION ALL
         |      SELECT node, dist, src FROM $prefix${t - 1}))
         |  WHERE rn = 1)""".stripMargin
    }

  /** Unrolled weighted-PPR CTEs: requires a preceding `edges(u, v, w)`
    * CTE (symmetric); defines `srcs` ([[hubsSql]]), `pwdeg`, and
    * `p0`..`p$PprIters` — each round exactly [[Graph.pprStep]]'s
    * arithmetic: weight-proportional integer shares (floor of one IEEE
    * division on exact operands), damped in-mass (floor of one IEEE
    * multiply), teleport to seeds only, zero-rank rows absent. */
  private def pprCtes: String =
    unroll(
      s"""$hubsSql,
         |pwdeg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wd
         |          FROM edges GROUP BY u),
         |p0 AS (SELECT node, CAST(${Graph.RankOne} AS BIGINT) AS rank_fp
         |       FROM srcs)""".stripMargin, PprIters) { i =>
      s"""psh$i AS (
         |  SELECT e.v,
         |    CAST(FLOOR(CAST(r.rank_fp * e.w AS DOUBLE) / g.wd) AS BIGINT) AS c
         |  FROM edges e
         |  JOIN pwdeg g ON e.u = g.u
         |  JOIN p${i - 1} r ON r.node = e.u),
         |psm$i AS (SELECT v AS node, CAST(SUM(c) AS BIGINT) AS im
         |          FROM psh$i GROUP BY v),
         |p$i AS (
         |  SELECT node, rank_fp FROM (
         |    SELECT COALESCE(s.node, m.node) AS node,
         |      CAST(COALESCE(s.base, 0) +
         |           FLOOR(${Graph.Damping} * COALESCE(m.im, 0)) AS BIGINT)
         |        AS rank_fp
         |    FROM (SELECT node, CAST(${Graph.BaseFp} AS BIGINT) AS base
         |          FROM srcs) s
         |    FULL OUTER JOIN psm$i m ON m.node = s.node)
         |  WHERE rank_fp > 0)""".stripMargin
    }

  /** Unrolled synchronous-LPA CTEs: requires a preceding
    * `edges(u, v, w)` CTE (symmetric), defines `l0`..`l$LpaIters` —
    * each round exactly [[Graph.lpaStep]]'s semantics (weighted
    * neighbor vote, max total weight, min-label tie-break), expressed
    * as a max-join + MIN instead of Spark's order-isomorphic
    * `max(struct(wsum, -label))` fold: identical argmax semantics,
    * all-integer, so the rounds replay bit-for-bit. */
  private def lpaCtes: String =
    unroll("""l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges)""",
        LpaIters) { i =>
      s"""v$i AS (
         |  SELECT e.u AS node, l.label, SUM(e.w) AS wsum
         |  FROM edges e JOIN l${i - 1} l ON l.node = e.v
         |  GROUP BY 1, 2),
         |m$i AS (SELECT node, MAX(wsum) AS mw FROM v$i GROUP BY node),
         |l$i AS (
         |  SELECT v.node, MIN(v.label) AS label
         |  FROM v$i v JOIN m$i m ON v.node = m.node AND v.wsum = m.mw
         |  GROUP BY v.node)""".stripMargin
    }

  /** The shared items/pairs/edges preamble of both LPA oracles. */
  private def lpaEdgesSql: String =
    """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT p1 AS u, p2 AS v, CAST(support AS BIGINT) AS w
      |  FROM pairs WHERE support >= 2
      |  UNION ALL
      |  SELECT p2, p1, CAST(support AS BIGINT) FROM pairs
      |  WHERE support >= 2)""".stripMargin

  lazy val defs: Map[String, QueryDef] = Map(

    // The pagerank STEP kernel iterated into an actual training run
    // (PrIters damped power-iteration rounds from the uniform start) —
    // the same "step exists, so iterate it" capstone k-means got in
    // round 8 (sim_kmeans_train) and BPE in rounds 7-8: the oracle
    // replays every round as unrolled CTE blocks, so a green row
    // proves the iteration composes — share division, damped sum, and
    // the no-in-edges base case all bit-match across engines, K deep.
    "graph_pagerank_train" -> QueryDef(
      (s, d) => prRankTrace(s, d).last,
      s"""WITH ${CdcMapping.factSql},
         |edges AS (
         |  SELECT DISTINCT user_id AS src, content_id AS dst FROM fact),
         |$prCtes
         |SELECT node, rank_fp FROM r$PrIters""".stripMargin),

    // The PageRank convergence audit: per-round L1 rank movement
    // (Σ|Δrank_fp|) across the training run — the sim_kmeans_inertia
    // doctrine applied to the graph family. Damped power iteration
    // contracts by ~0.85 per round, so the three deltas must fall
    // sharply (spec-pinned monotone with a ±1-per-node floor-noise
    // allowance); a broken degree join or dropped node bends the
    // sequence immediately. All-integer deltas — exact, order-free,
    // bit-identical in the unrolled oracle replay.
    "graph_pagerank_converge" -> QueryDef(
      // L1 movement between consecutive frames of the SAME training run
      // graph_pagerank_train serves — not a second run.
      (s, d) => Graph.roundPairs(prRankTrace(s, d), "rank_fp", "r")(
        sum(abs(col("r1") - col("r0"))).as("total_delta")),
      s"""WITH ${CdcMapping.factSql},
         |edges AS (
         |  SELECT DISTINCT user_id AS src, content_id AS dst FROM fact),
         |$prCtes
         |${perRound(1 to PrIters)(i =>
             s"""SELECT CAST($i AS BIGINT) AS iter, COUNT(*) AS n_nodes,
                |  CAST(SUM(ABS(a.rank_fp - b.rank_fp)) AS BIGINT) AS total_delta
                |FROM r$i a JOIN r${i - 1} b ON a.node = b.node""".stripMargin)
           }""".stripMargin),

    // One damped PageRank power-iteration step over the user→content
    // engagement graph the reference pipeline materializes — content
    // authority from engagement edges. Integer fixed-point (1e6 = rank
    // 1.0); see graft.operators.Graph for the arithmetic doctrine.
    "graph_pagerank_step" -> QueryDef(
      (s, d) => {
        val edges = engagementEdges(s, d)
        Graph.pagerankStep(edges, Graph.pagerankSeed(edges))
      },
      s"""WITH ${CdcMapping.factSql},
         |edges AS (
         |  SELECT DISTINCT user_id AS src, content_id AS dst FROM fact),
         |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
         |share AS (
         |  SELECT e.dst, CAST(FLOOR(${Graph.RankOne}.0 / g.d) AS BIGINT) AS c
         |  FROM edges e JOIN deg g ON e.src = g.src),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |sums AS (SELECT dst AS node, SUM(c) AS in_mass FROM share GROUP BY dst)
         |SELECT n.node,
         |  CAST(${Graph.BaseFp} + FLOOR(${Graph.Damping} * COALESCE(s.in_mass, 0))
         |       AS BIGINT) AS rank_fp
         |FROM nodes n LEFT JOIN sums s ON n.node = s.node""".stripMargin),

    // Time-series gap fill / resampling to a dense minute grid.
    "ts_gapfill" -> QueryDef.sql(
      gapfillSql("EXPLODE(SEQUENCE(t0, t1, INTERVAL 1 MINUTE))"),
      gapfillSql("UNNEST(GENERATE_SERIES(t0, t1, INTERVAL 1 MINUTE))")),

    // Weekly cohort retention matrix.
    "analytics_retention" -> QueryDef.sql(
      retentionSql("DATEDIFF(CAST(u.wk AS DATE), CAST(c.cohort_wk AS DATE))"),
      retentionSql("DATE_DIFF('day', CAST(c.cohort_wk AS DATE), CAST(u.wk AS DATE))")),

    // Exact z-score outliers per event type (shared SQL text).
    "analytics_zscore" -> sqlBoth(zscoreSql),

    // Rolling (windowed) z-score anomaly detection: each event scored
    // against the moments of its own trailing 24-row frame per type —
    // the streaming-shaped counterpart of the global z-score above.
    // The 2-sigma test runs on exact BIGINT moments, cross-multiplied
    // to avoid any division: |x − S/n| > 2σ with σ² = (nQ − S²)/n²
    // ⟺ (nx − S)² > 4(nQ − S²). Frame-bounded integers (x ≤ ~500,
    // n ≤ 24) keep every product far inside int64 at ANY scale factor —
    // the values depend on the frame, not the table. One shuffle on
    // event_type; ROWS frames evaluate incrementally (no per-row
    // re-scan); deterministic (ts, event_id) total order.
    "analytics_rolling_zscore" -> sqlBoth(
      """WITH m AS (
        |  SELECT event_id, event_type, ts,
        |    CAST(FLOOR(value) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_id, event_type, x,
        |    COUNT(*) OVER win AS n,
        |    CAST(SUM(x) OVER win AS BIGINT) AS s,
        |    CAST(SUM(x * x) OVER win AS BIGINT) AS q
        |  FROM m
        |  WINDOW win AS (
        |    PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, x, n, s, q
        |FROM w
        |WHERE n >= 12
        |  AND (n * x - s) * (n * x - s) > 4 * (n * q - s * s)""".stripMargin),

    // Event-transition matrix (first-order Markov step): per-user
    // consecutive event-type bigrams via LEAD over ONE shuffle on
    // user_id, counts + row-normalized transition probability. The
    // probability is one IEEE division of two exact BIGINTs at the
    // query edge — engine-portable. At 100 TB the window shuffles the
    // fact table once on user_id (the same partitioning sessionization
    // and funnel use), and the transition matrix itself is |types|² —
    // driver-tiny regardless of SF.
    "analytics_transitions" -> sqlBoth(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |t AS (
        |  SELECT event_type AS src_type, next_type AS dst_type,
        |    COUNT(*) AS n
        |  FROM seq WHERE next_type IS NOT NULL
        |  GROUP BY event_type, next_type)
        |SELECT src_type, dst_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
        |FROM t""".stripMargin),

    // Pearson correlation (value vs hour-of-day, per event type) from
    // exact integer moments: one aggregation collects BIGINT
    // sums/cross-sums (x ≤ 500, y ≤ 23 keep every product far inside
    // int64 at any SF), then the r formula runs at the single-row edge
    // — 2 sqrt + 1 mul + 1 div, each a correctly-rounded IEEE op, so
    // both engines emit the identical double. The same map-side-partial
    // one-shuffle shape as every moments aggregate here; built-in
    // corr() would stream doubles and be merge-order-dependent.
    // Market-basket co-occurrence with lift: item pairs sharing an
    // order, support-thresholded, lift from exact integer counts with
    // ONE IEEE division at the edge. Scale shape: the self-join keys on
    // l_orderkey (baskets are small, so the per-key pair fan-out is
    // bounded by basket size squared — no global quadratic), and the
    // per-item frequency side is dimension-sized (broadcast-able). The
    // Spark side MATERIALIZES the distinct item set once
    // (localCheckpoint) — the three consumers (frequency, pairs, order
    // count) would each re-run the 2-column distinct under CTE inlining;
    // measured 1.5x at sf0.1, and at 100 TB it is the difference between
    // one distinct shuffle and three.
    "analytics_basket_pairs" -> QueryDef(
      (s, d) => {
        val items = basketItems(s, d)
        val nOrders = items.select(countDistinct(col("l_orderkey")))
          .head().getLong(0)
        val freq = items.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        val pairs = coPurchasePairs(s, d).filter(col("support") >= 3)
        pairs
          .join(freq.select(col("l_partkey").as("p1"), col("cnt").as("c1")), "p1")
          .join(freq.select(col("l_partkey").as("p2"), col("cnt").as("c2")), "p2")
          .select(col("p1"), col("p2"), col("support").cast("long").as("support"),
            ((col("support") * lit(nOrders)).cast("double") /
              (col("c1") * col("c2")).cast("double")).as("lift"))
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (
        |  SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT p.p1, p.p2, CAST(p.support AS BIGINT) AS support,
        |  CAST(p.support *
        |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS DOUBLE) /
        |    CAST(f1.cnt * f2.cnt AS DOUBLE) AS lift
        |FROM pairs p
        |JOIN freq f1 ON f1.l_partkey = p.p1
        |JOIN freq f2 ON f2.l_partkey = p.p2
        |WHERE p.support >= 3""".stripMargin),

    "analytics_corr" -> sqlBoth(
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(FLOOR(value) AS BIGINT) AS x,
        |    CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS y
        |  FROM events),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM m GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_xy
        |FROM st""".stripMargin),

    // Inverted index over the corpus: token → document frequency +
    // capped sorted posting list. Shape: one shuffle on the token key —
    // the row_number window and the aggregation share partitioning, so
    // Catalyst reuses the exchange. The deterministic 32-doc posting cap
    // bounds per-token state against stopword-grade hot tokens (the
    // full document frequency is still exact); posting rendered as a
    // CSV string because raw array columns are not portable through the
    // comparison harness.
    "corpus_inverted_index" -> QueryDef(
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
          .filter(col("token") =!= "")
        val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
        tok.withColumn("rn", row_number().over(w))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("df"),
            array_join(
              transform(sort_array(collect_list(when(col("rn") <= 32, col("doc_id")))),
                _.cast("string")), ",").as("posting"))
      },
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, UNNEST(${OracleSql.tokens("text")}) AS token
         |  FROM documents),
         |ranked AS (
         |  SELECT doc_id, token,
         |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
         |  FROM tok WHERE token <> '')
         |SELECT token, COUNT(*) AS df,
         |  ARRAY_TO_STRING(LIST_SORT(LIST(doc_id) FILTER (rn <= 32)), ',') AS posting
         |FROM ranked GROUP BY token""".stripMargin),

    // Distributed triangle counting over the co-purchase graph (parts
    // appearing together in ≥2 orders): the clustering-coefficient /
    // community-density primitive. The Spark side uses the standard
    // scale algorithm — orient every edge from its lower-(degree, id)
    // endpoint to the higher one, so each node's OUT-degree is O(√m)
    // even for hubs; wedges are then a self-join of the oriented list
    // on the source node (bounded per-node work), closed against the
    // canonical edge set. Every triangle has exactly one vertex that
    // precedes the other two in the (degree, id) total order, so each
    // is found once — no ÷3/÷6 correction, and the per-node membership
    // counts come from exploding the three corners. The oracle counts
    // the same triangles by direct a<b<c three-way join — equality
    // proves the orientation trick loses/duplicates nothing. At 100 TB
    // the edge list shuffles on node keys only (ids + counts, no
    // payload), and orientation bounds the wedge blow-up that makes the
    // naive self-join quadratic on hubs.
    "graph_triangles" -> QueryDef(
      (s, d) => {
        // consumed 3× (degree, wedges, closure) off the shared
        // checkpointed co-purchase frame
        val edges = coPurchasePairs(s, d)
          .filter(col("support") >= 2)
          .select(col("p1").as("u"), col("p2").as("v"))
        val deg = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val du = deg.select(col("node").as("u"), col("deg").as("du"))
        val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
        val uFirst = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        // checkpointed too: the wedge self-join consumes it twice, and
        // without the cut each side would re-run the degree aggregation
        // and both orientation joins (4× deg, 2× join in the plan)
        val oriented = edges.join(du, "u").join(dv, "v")
          .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
            when(uFirst, col("v")).otherwise(col("u")).as("t"))
          .localCheckpoint(true)
        val wedges = oriented.as("x")
          .join(oriented.as("y"),
            col("x.s") === col("y.s") && col("x.t") < col("y.t"))
          .select(col("x.s").as("apex"), col("x.t").as("t1"),
            col("y.t").as("t2"))
        val tri = wedges.join(edges,
          wedges("t1") === edges("u") && wedges("t2") === edges("v"))
        tri.select(explode(array(col("apex"), col("t1"), col("t2"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      },
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT u, v FROM pairs WHERE support >= 2),
        |tris AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM edges e1
        |  JOIN edges e2 ON e2.u = e1.v
        |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT x AS node FROM tris
        |  UNION ALL SELECT y FROM tris
        |  UNION ALL SELECT z FROM tris)
        |GROUP BY node""".stripMargin),

    // Weighted label-propagation community detection over the
    // co-purchase graph (synchronous, min-label tie-break — the
    // deterministic LPA variant; see graft.operators.Graph.lpaStep).
    // Communities of products that sell together, from the same shared
    // support >= 2 edge frame graph_triangles thresholds. The oracle
    // replays every vote round as unrolled CTE blocks — a green row
    // proves the weighted argmax + tie-break composes identically
    // K rounds deep across engines.
    "graph_lpa_train" -> QueryDef(
      (s, d) => lpaLabelTrace(s, d).last
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("label")),
      s"""WITH $lpaEdgesSql,
         |$lpaCtes
         |SELECT CAST(node AS BIGINT) AS node,
         |  CAST(label AS BIGINT) AS label FROM l$LpaIters""".stripMargin),

    // The LPA convergence audit: per-round switched-node and surviving-
    // community counts off the SAME materialized trace graph_lpa_train
    // serves (the pagerank-trace doctrine — training is paid once).
    // Synchronous LPA coarsens the label space fast; a broken vote
    // join, dropped weight, or unstable tie-break bends both counters
    // in round 1. All-integer, order-free.
    "graph_lpa_converge" -> QueryDef(
      (s, d) => Graph.roundPairs(lpaLabelTrace(s, d), "label", "l")(
        sum(when(col("l1") =!= col("l0"), 1L).otherwise(0L)).as("n_changed"),
        countDistinct(col("l1")).as("n_labels")),
      s"""WITH $lpaEdgesSql,
         |$lpaCtes
         |${perRound(1 to LpaIters)(i =>
             s"""SELECT CAST($i AS BIGINT) AS iter, COUNT(*) AS n_nodes,
                |  CAST(SUM(CASE WHEN a.label <> b.label THEN 1 ELSE 0 END)
                |       AS BIGINT) AS n_changed,
                |  CAST(COUNT(DISTINCT a.label) AS BIGINT) AS n_labels
                |FROM l$i a JOIN l${i - 1} b ON a.node = b.node""".stripMargin)
           }""".stripMargin),

    // Multi-source BFS shortest hop-distances from the top-4 weighted-
    // degree hubs of the co-purchase graph — "how far is every product
    // from a bestseller cluster", the nearest-hub assignment a
    // catalog/navigation feature reads. Synchronous min-relaxation
    // rounds (dist, then min-source tie-break) are order-free and
    // integer, so the K-deep iteration replays as unrolled CTE blocks;
    // nodes beyond K hops are absent (honest K-hop neighborhoods).
    "graph_bfs_dists" -> QueryDef(
      (s, d) => bfsDistTrace(s, d).last
        .select(col("node").cast("long").as("node"),
          col("dist").cast("long").as("dist"),
          col("src").cast("long").as("src")),
      s"""WITH $lpaEdgesSql,
         |${relaxCtes("d", "1", BfsIters)}
         |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist,
         |  CAST(src AS BIGINT) AS src FROM d$BfsIters""".stripMargin),

    // The BFS reach audit off the SAME memoized trace: per-round
    // reached-node count and total hop distance. Reach must grow
    // monotonically (a relaxation only adds nodes); a broken join key,
    // lost union branch, or unstable tie-break bends round 1.
    "graph_bfs_reach" -> QueryDef(
      (s, d) => Graph.roundTotals(bfsDistTrace(s, d), "n_reached", "dist",
        "sum_dist"),
      s"""WITH $lpaEdgesSql,
         |${relaxCtes("d", "1", BfsIters)}
         |${roundTotalsSql("d", BfsIters,
             "n_reached", "dist", "sum_dist")}""".stripMargin),

    // Multi-source WEIGHTED shortest paths from the same bestseller
    // hubs — bfs's min-plus generalization (Bellman–Ford rounds over
    // the carried integer co-purchase weights): exact minimal total
    // edge weight and the argmin hub per reached node, min-source
    // tie-break. Weighted minimal paths may route around heavy edges
    // through more hops, so the run iterates deeper than the hop-BFS
    // and GraphSpec pins its fixed point (one more round changes
    // nothing) plus a constructed weighted-beats-hops case.
    "graph_wsp_dists" -> QueryDef(
      (s, d) => wspDistTrace(s, d).last
        .select(col("node").cast("long").as("node"),
          col("dist").cast("long").as("dist"),
          col("src").cast("long").as("src")),
      s"""WITH $lpaEdgesSql,
         |${relaxCtes("wd", "e.w", WspIters)}
         |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist,
         |  CAST(src AS BIGINT) AS src FROM wd$WspIters""".stripMargin),

    // The WSP convergence audit off the SAME memoized trace: per-round
    // reached-node count and total weighted distance. Reach grows
    // monotonically and total distance per node only ever falls; the
    // final rounds repeating IS the Bellman–Ford convergence proof.
    "graph_wsp_converge" -> QueryDef(
      (s, d) => Graph.roundTotals(wspDistTrace(s, d), "n_reached", "dist",
        "sum_dist"),
      s"""WITH $lpaEdgesSql,
         |${relaxCtes("wd", "e.w", WspIters)}
         |${roundTotalsSql("wd", WspIters,
             "n_reached", "dist", "sum_dist")}""".stripMargin),

    // Weighted personalized PageRank from the same bestseller hubs —
    // the random-walk proximity measure beside the hop metric (BFS)
    // and the weighted-path metric (WSP): "which products does a walk
    // starting at the bestseller cluster keep landing on", the classic
    // recommendation-expansion score. Teleport mass goes to the seeds
    // only; shares are weight-proportional integer fixed-point (floor
    // of single IEEE ops on exact operands), zero-rank nodes honestly
    // absent — so K rounds replay bit-for-bit as unrolled CTE blocks.
    "graph_ppr_train" -> QueryDef(
      (s, d) => pprRankTrace(s, d).last
        .select(col("node").cast("long").as("node"),
          col("rank_fp").cast("long").as("rank_fp")),
      s"""WITH $lpaEdgesSql,
         |$pprCtes
         |SELECT CAST(node AS BIGINT) AS node,
         |  CAST(rank_fp AS BIGINT) AS rank_fp FROM p$PprIters""".stripMargin),

    // The PPR audit off the SAME memoized trace: per-round ranked-node
    // count and total fixed-point mass. The walk's reach spreads from
    // the seed set while total mass stays bounded by the damping
    // geometric series — GraphSpec pins seeds ranked ≥ the teleport
    // floor every round and the documented mass bound.
    "graph_ppr_converge" -> QueryDef(
      (s, d) => Graph.roundTotals(pprRankTrace(s, d), "n_ranked", "rank_fp",
        "mass_fp"),
      s"""WITH $lpaEdgesSql,
         |$pprCtes
         |${roundTotalsSql("p", PprIters,
             "n_ranked", "rank_fp", "mass_fp")}""".stripMargin),

    // Graph-augmented retrieval — the "recommendations = content
    // similarity × graph proximity" capstone every production
    // recommender runs, composed ENTIRELY from already-oracle-green
    // kernels: the dense branch is the hybrid row's exact
    // content-similarity top-5 (quantized cosine kNN over the item
    // embeddings), the graph branch is graphAuthorityServe (1-hop
    // co-purchase neighbors ranked by support × converged PPR hub
    // authority), and the fusion is the ONE shared rrfFuse kernel —
    // rank-capped LCM arithmetic, full outer join, so a co-purchased
    // item with no embedding still wins on behavior alone and a
    // content-similar item never bought together still wins on
    // content (both single-branch shapes occur in the fixture:
    // graph_rk = 0 or dense_rk = 0 rows in the output). Item id
    // space: embeddings vec_id ⊂ part ids — the one-catalog contract
    // a production store has. Scale shape: both branches broadcast
    // only the query batch; the adjacency, the PPR table, and the
    // vector corpus never reshuffle; fusion outer-joins two
    // ≤ 5·|Q|-row frames.
    "corpus_graph_rrf" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000)).as("qv"))
        val den = TextQueries.denseRanks(
          e.filter(pmod(col("vec_id"), lit(100)) === 0), e, "vec_id", "qv", 5)
        val qs = Tables.embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(100)) === 0)
          .select(col("vec_id").as("query_doc"))
        val graph = graphAuthorityServe(qs, lpaEdges(s, d),
          pprRankTrace(s, d).last)
        TextQueries.rrfFuse(graph, den)
          .withColumnRenamed("lex_rk", "graph_rk")
      },
      s"""WITH $lpaEdgesSql,
         |$pprCtes,
         |e AS (SELECT vec_id, ${OracleSql.quantVec("embedding")} AS v
         |      FROM embeddings),
         |denr AS (
         |  SELECT query_doc, doc_id, rank FROM (
         |    SELECT eq.vec_id AS query_doc, ec.vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY eq.vec_id
         |        ORDER BY round(${OracleSql.cosine("eq.v", "ec.v", 64)}, 9) DESC,
         |          ec.vec_id ASC) AS rank
         |    FROM e eq, e ec
         |    WHERE eq.vec_id % 100 = 0 AND ec.vec_id <> eq.vec_id)
         |  WHERE rank <= 5),
         |gcand AS (
         |  SELECT eg.u AS query_doc, eg.v AS doc_id,
         |    CAST(eg.w * (COALESCE(p.rank_fp, 0) + 1) AS BIGINT) AS gscore
         |  FROM edges eg
         |  JOIN (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0) q
         |    ON eg.u = q.vec_id
         |  LEFT JOIN p$PprIters p ON p.node = eg.v),
         |gr AS (
         |  SELECT query_doc, doc_id, CAST(rk AS BIGINT) AS rk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_doc
         |      ORDER BY gscore DESC, doc_id ASC) AS rk FROM gcand)
         |  WHERE rk <= 5),
         |fused AS (
         |  SELECT COALESCE(l.query_doc, r.query_doc) AS query_doc,
         |    COALESCE(l.doc_id, r.doc_id) AS doc_id,
         |    CAST(COALESCE(l.rk, 0) AS BIGINT) AS graph_rk,
         |    CAST(COALESCE(r.rank, 0) AS BIGINT) AS dense_rk
         |  FROM gr l
         |  FULL OUTER JOIN denr r
         |    ON r.query_doc = l.query_doc AND r.doc_id = l.doc_id),
         |sc AS (
         |  SELECT query_doc, doc_id, graph_rk, dense_rk,
         |    CAST((CASE WHEN graph_rk > 0
         |            THEN ${TextQueries.RrfLcm} // (60 + graph_rk) ELSE 0 END)
         |       + (CASE WHEN dense_rk > 0
         |            THEN ${TextQueries.RrfLcm} // (60 + dense_rk) ELSE 0 END)
         |      AS BIGINT) AS rrf
         |  FROM fused)
         |SELECT query_doc, CAST(rk AS BIGINT) AS rk, doc_id,
         |  graph_rk, dense_rk, rrf
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_doc
         |    ORDER BY rrf DESC, doc_id ASC) AS rk FROM sc)
         |WHERE rk <= 5""".stripMargin),

    // The graph-family skew audit as a MEASURED artifact: every
    // PPR/WSP/pagerank round shuffles the edge list on `u`, and on a
    // power-law co-purchase graph the hub nodes are the skew hazard —
    // at 1000× one hub key can dominate a shuffle partition the way
    // the Skew family handles for aggregates (adv_skew_salted). This
    // row computes the number AQE's skew-join detection acts on: each
    // top-10 hub's share of the shuffled join input in basis points,
    // flagged when it exceeds 5× the even per-partition share at the
    // bench's 32 shuffle partitions (the skewedPartitionFactor
    // analog — a flagged hub is one AQE would split, and one a salting
    // strategy would target first). All-int64 (counts, one integer
    // division), top-10 with node-ascending tie-break. Scale shape:
    // one map-side-combined degree aggregation + a 1-row total
    // broadcast + TakeOrderedAndProject — the audit itself never
    // shuffles more than the degree table.
    "graph_skew_audit" -> QueryDef(
      (s, d) => {
        val deg = lpaEdges(s, d).groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("key_rows"))
        val tot = deg.agg(sum(col("key_rows")).cast("long").as("total_rows"))
        deg.crossJoin(broadcast(tot))
          .select(col("node"), col("key_rows"), col("total_rows"),
            expr("key_rows * 10000 DIV total_rows").as("share_bp"))
          // flag iff key share > 5× the even per-partition share, i.e.
          // key_rows/total > 5/32 ⟺ key_rows·32 > 5·total — exact
          // integer cross-multiplication, no intermediate truncation
          // (5·(10000 DIV 32) would floor the 1562.5 bp line to 1560)
          .withColumn("aqe_flag",
            (col("key_rows") * 32 > col("total_rows") * 5).cast("long"))
          .orderBy(col("key_rows").desc, col("node").asc)
          .limit(10)
      },
      s"""WITH $lpaEdgesSql,
         |deg AS (
         |  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS key_rows
         |  FROM edges GROUP BY u),
         |tot AS (SELECT CAST(SUM(key_rows) AS BIGINT) AS total_rows FROM deg)
         |SELECT node, key_rows, total_rows,
         |  CAST(key_rows * 10000 // total_rows AS BIGINT) AS share_bp,
         |  CAST(CASE WHEN key_rows * 32 > total_rows * 5
         |       THEN 1 ELSE 0 END AS BIGINT) AS aqe_flag
         |FROM deg, tot
         |ORDER BY key_rows DESC, node ASC LIMIT 10""".stripMargin),

    // The skew MITIGATION, measured — the audit's answer made
    // operational. On the synthetic power-law fixture (src = bit-length
    // of the event id — DataGen.powerLawEdges; the top key carries
    // ~41 % of the edges at sf0.01, so the audit's exact 5×-even-share
    // flag genuinely fires, unlike on the benign co-purchase graph) the
    // flagged hubs route through Graph.skewSplitJoin's broadcast branch
    // while the cold tail shuffles. This row reports the number that
    // mitigation exists to move: the MAXIMUM per-partition share of the
    // shuffled join input, under the same deterministic partition model
    // both engines can replay (portable hash of the key mod 32 — the
    // bench's shuffle width), BEFORE (every key shuffles) and AFTER
    // (flagged hubs broadcast). All-int64; the 'after' row also carries
    // how many keys/rows left the shuffle for the broadcast branch.
    // max_share_bp's denominator is the WHOLE edge set (bcast_rows +
    // shuffle_rows, identical both stages) — the straggler wall-clock
    // is the absolute max-partition row count, so the ratio must not
    // flatter itself by shrinking its denominator along with the
    // shuffle (committed sf0.01: 4096 bp before → 1024 bp after, a 4×
    // drop in the worst reducer's load; sf0.1: 3446 → 820).
    "graph_skew_mitigated" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        val e = graft.operators.DataGen.powerLawEdges(Tables.events(s, d))
        val deg = e.groupBy("src").agg(count(lit(1)).as("key_rows"))
        val tot = deg.agg(sum(col("key_rows")).cast("long").as("total_rows"))
        // ≤ ~20-row key table: per-key rows, the audit's exact hub flag,
        // and the modeled shuffle partition of the key
        val keyed = deg.crossJoin(broadcast(tot))
          .select(col("src"), col("key_rows"),
            (col("key_rows") * 32 > col("total_rows") * 5).as("hot"),
            pmod(PortableHash.hash60(concat(col("src").cast("string"),
              lit("|part"))), lit(32)).as("part"))
        def partMax(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("part")).agg(sum(col("key_rows")).as("p_rows"))
            .agg(max(col("p_rows")).as("max_part_rows"),
              sum(col("p_rows")).cast("long").as("shuffle_rows"))
        val before = partMax(keyed)
          .select(lit("before").as("stage"), lit(0L).as("n_hot_keys"),
            lit(0L).as("bcast_rows"), col("shuffle_rows"),
            col("max_part_rows"),
            // before's whole-set denominator IS shuffle_rows (bcast = 0)
            expr("max_part_rows * 10000 DIV shuffle_rows")
              .as("max_share_bp"))
        val hotAgg = keyed.filter(col("hot"))
          .agg(count(lit(1)).as("n_hot_keys"),
            sum(col("key_rows")).cast("long").as("bcast_rows"))
        // 1-row × 1-row scalar pair — the registered wh_dq_checks shape
        val after = partMax(keyed.filter(!col("hot")))
          .crossJoin(broadcast(hotAgg))
          .select(lit("after").as("stage"), col("n_hot_keys"),
            col("bcast_rows"), col("shuffle_rows"), col("max_part_rows"),
            expr("max_part_rows * 10000 DIV (bcast_rows + shuffle_rows)")
              .as("max_share_bp"))
        before.unionAll(after)
      }, {
        import graft.functions.PortableHash
        s"""WITH pl AS (
           |  SELECT CAST(length(bin(event_id)) AS BIGINT) AS src,
           |    CAST(event_id % 997 AS BIGINT) AS dst FROM events),
           |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS key_rows
           |        FROM pl GROUP BY src),
           |tot AS (SELECT CAST(SUM(key_rows) AS BIGINT) AS total_rows FROM deg),
           |keyed AS (
           |  SELECT src, key_rows, key_rows * 32 > total_rows * 5 AS hot,
           |    (${PortableHash.hash60Sql("CAST(src AS VARCHAR) || '|part'")} % 32)
           |      AS part
           |  FROM deg, tot),
           |agg_all AS (
           |  SELECT CAST(MAX(p_rows) AS BIGINT) AS max_part_rows,
           |    CAST(SUM(p_rows) AS BIGINT) AS shuffle_rows
           |  FROM (SELECT part, SUM(key_rows) AS p_rows FROM keyed
           |        GROUP BY part)),
           |agg_cold AS (
           |  SELECT CAST(MAX(p_rows) AS BIGINT) AS max_part_rows,
           |    CAST(SUM(p_rows) AS BIGINT) AS shuffle_rows
           |  FROM (SELECT part, SUM(key_rows) AS p_rows FROM keyed
           |        WHERE NOT hot GROUP BY part)),
           |hotagg AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hot_keys,
           |    CAST(COALESCE(SUM(key_rows), 0) AS BIGINT) AS bcast_rows
           |  FROM keyed WHERE hot)
           |SELECT 'before' AS stage, CAST(0 AS BIGINT) AS n_hot_keys,
           |  CAST(0 AS BIGINT) AS bcast_rows, shuffle_rows, max_part_rows,
           |  CAST(max_part_rows * 10000 // shuffle_rows AS BIGINT)
           |    AS max_share_bp
           |FROM agg_all
           |UNION ALL
           |SELECT 'after', n_hot_keys, bcast_rows, shuffle_rows,
           |  max_part_rows,
           |  CAST(max_part_rows * 10000 // (bcast_rows + shuffle_rows)
           |    AS BIGINT)
           |FROM agg_cold, hotagg""".stripMargin
      }),

    // One pagerank power-iteration round RUNNING THROUGH the skew-split
    // kernel, gated on the audit's exact threshold: the flagged hubs of
    // the power-law fixture take Graph.skewSplitJoin's broadcast branch,
    // the cold tail the normal shuffle. The oracle replays the PLAIN
    // step arithmetic — row-identical output IS the kernel's
    // correctness statement at the query level (GraphSpec additionally
    // pins step-vs-step identity on both fixtures and the branch plan
    // shape under a disabled auto-broadcast threshold).
    "graph_skew_step" -> QueryDef(
      (s, d) => {
        val e = graft.operators.DataGen.powerLawEdges(Tables.events(s, d))
        val deg = e.groupBy("src").agg(count(lit(1)).as("key_rows"))
        val tot = deg.agg(sum(col("key_rows")).cast("long").as("total_rows"))
        val hubs = deg.crossJoin(broadcast(tot))
          .filter(col("key_rows") * 32 > col("total_rows") * 5)
          .select(col("src"))
        Graph.pagerankStepSkewSplit(e, Graph.pagerankSeed(e), hubs)
          .select(col("node").cast("long").as("node"),
            col("rank_fp").cast("long").as("rank_fp"))
      },
      s"""WITH pl AS (
         |  SELECT CAST(length(bin(event_id)) AS BIGINT) AS src,
         |    CAST(event_id % 997 AS BIGINT) AS dst FROM events),
         |deg AS (SELECT src, COUNT(*) AS d FROM pl GROUP BY src),
         |nodes AS (SELECT src AS node FROM pl UNION SELECT dst FROM pl),
         |sh AS (
         |  SELECT e.dst,
         |    CAST(FLOOR(CAST(${Graph.RankOne} AS DOUBLE) / g.d) AS BIGINT) AS c
         |  FROM pl e JOIN deg g ON e.src = g.src),
         |sm AS (SELECT dst AS node, SUM(c) AS in_mass FROM sh GROUP BY dst)
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  CAST(${Graph.BaseFp} +
         |       FLOOR(${Graph.Damping} * COALESCE(s.in_mass, 0))
         |       AS BIGINT) AS rank_fp
         |FROM nodes n LEFT JOIN sm s ON n.node = s.node""".stripMargin),

    // The 2-core of the co-purchase graph — iterative degeneracy
    // peeling to its fixed point (see graft.operators.Graph.kcoreStep):
    // keep products that co-sell with other co-selling products, drop
    // tendrils — the graph-quality filter of the analytics family.
    // Synchronous full-set peel rounds are order-free and integer, so
    // the K-deep iteration replays as unrolled CTE blocks; the payload
    // carries each survivor's induced-subgraph degree (≥ k for every
    // row once converged — spec-pinned).
    "graph_kcore" -> QueryDef(
      (s, d) => Graph.kcoreDegrees(lpaEdges(s, d), kcoreSurvTrace(s, d).last)
        .select(col("node").cast("long").as("node"),
          col("deg").cast("long").as("deg")),
      s"""WITH $lpaEdgesSql,
         |$kcoreCtes
         |SELECT CAST(e.u AS BIGINT) AS node,
         |  CAST(COUNT(*) AS BIGINT) AS deg
         |FROM edges e
         |JOIN s$KcoreIters a ON e.u = a.node
         |JOIN s$KcoreIters b ON e.v = b.node
         |GROUP BY e.u""".stripMargin),

    // The k-core peel audit off the SAME memoized trace: per-round
    // survivor and induced-edge counts. Both fall monotonically to a
    // plateau, and two equal consecutive rounds ARE the convergence
    // proof (a survivor set that removes nobody never will) — the
    // committed sf0.01 artifact shows the plateau from round 3.
    "graph_kcore_peel" -> QueryDef(
      (s, d) => Graph.kcorePeelOf(lpaEdges(s, d), kcoreSurvTrace(s, d)),
      s"""WITH $lpaEdgesSql,
         |$kcoreCtes
         |${perRound(0 to KcoreIters)(i =>
             s"""SELECT CAST($i AS BIGINT) AS iter,
                |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s$i) AS n_nodes,
                |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges e
                |   JOIN s$i a ON e.u = a.node
                |   JOIN s$i b ON e.v = b.node) AS n_edges""".stripMargin)
           }""".stripMargin),

    // Bloom-prefiltered fact→dim join: the sketch of the filtered
    // orders keys drops non-matching lineitem rows before the shuffle;
    // the exact join then removes false positives, so the result equals
    // the plain join (which is the oracle). See graft.operators.BloomJoin.
    "op_bloom_join" -> QueryDef(
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderdate"))
        val sketch = BloomJoin.keySketch(ord, col("o_orderkey"),
          expectedItems = 1L << 17, numBits = 1L << 21)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"))
          .filter(BloomJoin.mightContain(sketch, col("l_orderkey")))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(year(col("o_orderdate")).as("y"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(12,2)"))
              .cast("decimal(38,2)").cast("double").as("sum_price"))
      },
      """SELECT YEAR(o_orderdate) AS y, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin))
}
