package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Similarity search over an embedding column (`Array[Float]` cast to
  * `Array[Double]` at the boundary for portable arithmetic).
  *
  * Two paths:
  *   - [[knnBruteForce]]: exact top-k by cosine — the correctness
  *     baseline. Cross join pruned to a query subset; per-pair cost is
  *     one fused `aggregate(zip_with(...))` (stays in codegen, no UDF).
  *   - [[withHyperplaneBuckets]] + [[knnLsh]]: random-hyperplane LSH.
  *     Buckets are sign-bit strings of dot products against
  *     deterministic pseudo-random hyperplanes (derived from
  *     [[PortableHash.seedLong]], no RNG — reproducible across engines
  *     and runs). Multiple tables boost recall. At 100 TB scale this is
  *     the only shape that works: bucketing is map-only, candidate
  *     generation is an equi-join on (table, bucket), and the exact
  *     re-rank touches only candidates.
  *
  * The indexed ANN path has one kernel per stage: assign
  * ([[ivfAssignCentroids]], [[hierAssignCentroids]]), shortlist
  * ([[ivfPqSearch]], [[ivfPqResidualSearch]]), rerank ([[rerankExact]]),
  * rank ([[nnGraphRank]]) and traverse ([[graphBeamSearch]]). Each takes
  * `keys`, a sweep's branch columns: empty is the single-configuration
  * call and adds no column and no partition key; otherwise every window,
  * aggregation and join is keyed by them too, so each branch's rows are
  * a one-branch call's while the stage runs once for the whole sweep.
  * Width knobs branch through [[rankPrefix]].
  */
object Similarity {

  /** Σ aᵢ·bᵢ — left-to-right double accumulation (engine-portable).
    * Runs as the native codegen'd [[graft.functions.VectorFunctions.DotProduct]]
    * expression; [[dotComposable]] is the built-ins-only equivalent,
    * pinned bit-identical by VectorFunctionsSpec. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** The same dot product from composable built-ins (zip_with +
    * aggregate): allocates the product array and dispatches a lambda per
    * element — kept as the semantic reference for the native expression. */
  def dotComposable(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, t) => acc + t)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 by the dot identity, |a|² − 2a·b + |b|² — exact over
    * integer-quantized coordinates, so the double is an exact integer.
    * Deliberately the composable dot tree and not `vec_l2sq_long`,
    * whose wrap-on-overflow behaviour is a separately pinned
    * divergence. */
  def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** The rank-prefix cut every ANN stage shares: keep the rows of a
    * `ranked` frame whose `rank` is within a width.
    *
    * With no `keys` this is the single-configuration cut
    * `rank ≤ widths.head`. With one key it is a width SWEEP: row_number
    * ranks with a deterministic tie-break, so each width's rows are a
    * prefix of the widest width's, and the frame is cut once at the
    * widest width, tagged with every width as the branch column
    * `keys.head`, and cut per branch — per-branch rows identical to a
    * single-width call, ranking paid once for the whole sweep.
    *
    * Widths are checked here, at plan construction, for every kernel:
    * an empty sweep or a zero width fails with IllegalArgumentException
    * instead of building a plan that returns no rows. */
  def rankPrefix(ranked: DataFrame, rank: Column, widths: Seq[Int],
      keys: Seq[String] = Nil): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 1),
      s"rank-prefix widths must be non-empty and each >= 1, got $widths")
    require(if (keys.isEmpty) widths.length == 1 else keys.length == 1,
      "a single-configuration call takes one width and a sweep one " +
        s"branch key, got widths $widths and keys $keys")
    if (keys.isEmpty) ranked.filter(rank <= widths.head)
    else ranked.filter(rank <= widths.max)
      .withColumn(keys.head,
        explode(array(widths.map(w => lit(w.toLong)): _*)))
      .filter(rank <= col(keys.head))
  }

  /** Deterministic hyperplane `p` of table `t`: 64 integer coordinates in
    * [-1000, 1000] derived from MD5 seeds. */
  def hyperplane(t: Int, p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(j =>
      (PortableHash.seedLong(s"hp-$t-$p-$j") % 2001L - 1000L).toDouble)

  /** Adds `bucket_t0..bucket_t{tables-1}`: the sign-bit bucket of `vecCol`
    * in each LSH table. Map-only — safe to run scan-side at any scale. */
  def withHyperplaneBuckets(df: DataFrame, vecCol: String,
      tables: Int, planes: Int, dims: Int): DataFrame =
    (0 until tables).foldLeft(df) { (d, t) =>
      val bits = (0 until planes).map { p =>
        val hp = array(hyperplane(t, p, dims).map(lit): _*)
        when(dot(col(vecCol), hp) > 0, lit(1L << p)).otherwise(lit(0L))
      }
      d.withColumn(s"bucket_t$t", bits.reduce(_ + _))
    }

  /** Exact brute-force top-k cosine neighbors for each query row.
    * `queries` and `corpus` both need (`idCol`, `vecCol`); ties and
    * float-noise are broken by rounding the score to 9 decimals and then
    * by neighbor id, so ranks are engine-stable.
    *
    * `excludeSelfId` (default true) drops corpus rows whose id equals
    * the query's — correct ONLY when queries are corpus members (the
    * registry's self-query evaluations). A request stream with its own
    * id space must pass false: an external request id that numerically
    * collides with a corpus vec_id would otherwise silently lose that
    * corpus vector from its candidates. */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelfId: Boolean = true): DataFrame = {
    // norms are per-vector, not per-pair: compute them once on each side
    // of the O(|Q|·|C|) join (3× fewer fused dot products in the hot loop;
    // values are bit-identical — same expression over the same vector).
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    // both arms are all-pairs by design (this IS brute force); BOTH hint
    // the QUERY side broadcast — queries are a sample / request batch,
    // small by construction, while the corpus side is the one that
    // scales, so the corpus must stream through its own partitioning
    // (the r17 flip: the self-query arm previously left the choice to
    // the planner, which broadcast the CORPUS under unknown
    // checkpoint-frame stats — the build side that grows to 100 TB)
    val scored = (if (excludeSelfId) broadcast(q).join(c,
        col("query_id") =!= col("neighbor_id"))
      else broadcast(q).join(c, lit(true)))
      .withColumn("cos9",
        round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 9))
    // top-k per query via the bounded native aggregate instead of
    // row_number + rank<=k: the window form's WindowGroupLimit already
    // kept the exchange at ≤ k rows per query per task, but it SORTED
    // the full |Q|·|C| scored stream in the map task to do it — the
    // aggregate keeps the k best (cos9 DESC, id ASC) in its buffer
    // (O(1) reject once full), bit-identical ranks (spec-pinned), no
    // full sort anywhere (§2.3 aggregate before you shuffle).
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregates.topKScoreId(
        col("cos9"), col("neighbor_id"), k).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("col.score").as("cos9"))
  }

  /** LSH-bucketed ANN: candidates share a bucket in ≥1 table; exact
    * cosine re-rank of candidates only. Same output shape as
    * [[knnBruteForce]] (may return < k rows per query — ANN recall). */
  def knnLsh(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 2, planes: Int = 8, dims: Int = 64,
      queryFilter: Column = lit(true)): DataFrame = {
    val vecs = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"))
    val b = withHyperplaneBuckets(vecs, "__v", tables, planes, dims)
    // candidate generation carries ids only — the distinct/dedup shuffle
    // must never haul the vectors themselves (at scale the id-pair set
    // is bytes per row; the vectors re-attach afterwards by id join)
    val exploded = b.select(col("__id"),
      explode(array((0 until tables).map(t =>
        concat_ws(":", lit(t), col(s"bucket_t$t"))): _*)).as("__bucket"))
    val q = exploded.filter(queryFilter)
      .select(col("__id").as("query_id"), col("__bucket"))
    val cand = q.join(
        exploded.select(col("__id").as("neighbor_id"), col("__bucket")),
        Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos9").desc, col("neighbor_id").asc)
    cand
      .join(vecs.select(col("__id").as("query_id"), col("__v").as("__qv"),
        col("__n").as("__qn")), Seq("query_id"))
      .join(vecs.select(col("__id").as("neighbor_id"), col("__v").as("__cv"),
        col("__n").as("__cn")), Seq("neighbor_id"))
      .withColumn("cos9",
        round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 9))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos9"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path next to LSH.
    *
    * Centroids come as an explicit frame (`cent_id`, `cent_v`) — out of
    * [[kmeansTrain]], or any deterministic id-sample of the corpus (no
    * RNG — reproducible in the oracle); they broadcast identically
    * either way. Assignment = argmin of exact squared L2 distance to
    * the broadcast centroid set: map-only over the corpus, ties broken
    * by centroid id. Queries probe the `nprobe` nearest centroid cells
    * and re-rank only those cells' members by exact cosine. Shuffle
    * happens once, on the small (cell_id) key — never an all-pairs
    * join. Returns (assigned (__id, __v, cell_id), probes (query_id,
    * cell_id)). */
  def ivfAssignCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nprobe: Int): (DataFrame, DataFrame) = {
    val ranked = ivfAssignRanked(corpus, idCol, vecCol, cents)
    val assigned = ranked.filter(col("__cr") === 1)
      .select(col("__id"), col("__v"), col("cent_id").as("cell_id"))
    val probes = rankPrefix(ranked, col("__cr"), Seq(nprobe))
      .select(col("__id").as("query_id"), col("cent_id").as("cell_id"))
    (assigned, probes)
  }

  /** The full centroid ranking behind [[ivfAssignCentroids]] —
    * (__id, __v, cent_id, __cr) with `__cr` the 1-based closeness rank
    * of each centroid for each vector. Exposed so a probe-width SWEEP
    * can rank once and take every width as a [[rankPrefix]] branch
    * instead of re-scoring the corpus against the broadcast centroids
    * per width (the r16 entry-sweep fusion). */
  def ivfAssignRanked(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__d2").asc, col("cent_id").asc)
    corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("__d2", l2sq(col("__v"), col("cent_v")))
      .withColumn("__cr", row_number().over(w))
      .select(col("__id"), col("__v"), col("cent_id"), col("__cr"))
  }

  /** HIERARCHICAL (coarse→fine) assignment — the measured-quadratic
    * mitigation of [[ivfAssignCentroids]]: the flat assignment scores
    * every vector against every fine centroid, and with cell SIZE held
    * (k ∝ n) that is n·k ≈ n²/cell work — the r16 scaling ladder
    * measured the exponent at 2.18 (`docs/SCALE.md`). Here each vector
    * scores only the `nprobeC` nearest COARSE cells' fine centroids:
    *
    *   1. each fine centroid maps to its nearest coarse centroid
    *      (argmin over the broadcast coarse frame — k·k_c work, index
    *      metadata);
    *   2. each vector picks its `nprobeC` nearest coarse cells
    *      (n·k_c);
    *   3. each vector argmins over ONLY those cells' fine centroids
    *      (n·nprobeC·k/k_c expected) — candidate fine sets are
    *      disjoint across coarse cells (step 1 is a function), so no
    *      dedup is needed.
    *
    * Total n·(k_c + nprobeC·k/k_c): with k_c ≈ √k this is n·√k — at
    * held cell size n^1.5 instead of n². The price is approximation:
    * a vector whose true nearest fine centroid lives in an un-probed
    * coarse cell assigns elsewhere (`sim_hier_assign` grades the
    * agreement rate against the flat assignment; the probe-width
    * sweep prices it per `nprobeC`). Both centroid frames broadcast;
    * every join is equi-keyed on broadcast-sized frames; ties break
    * by centroid id like the flat kernel. Returns (id, cell_id) —
    * the flat assignment's columns, so consumers swap freely.
    *
    * `nprobeCs` is one width, or with a branch key in `keys` the swept
    * widths: the coarse probe sets nest (prefixes of ONE vector→coarse
    * ranking, [[rankPrefix]]), so one fine argmin keyed by (branch,
    * id) serves every width. Returns (keys…, id, cell_id). */
  def hierAssignCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, coarse: DataFrame, nprobeCs: Seq[Int],
      keys: Seq[String] = Nil): DataFrame = {
    val b = keys.map(col)
    // 1. fine centroid -> its coarse cell (metadata-sized cross)
    val cw = Window.partitionBy(col("cent_id"))
      .orderBy(col("__cd2").asc, col("co_id").asc)
    val centAss = cents.crossJoin(broadcast(coarse))
      .withColumn("__cd2", l2sq(col("cent_v"), col("co_v")))
      .withColumn("__cr", row_number().over(cw))
      .filter(col("__cr") === 1)
      .select(col("cent_id"), col("cent_v"), col("co_id"))
    // 2. vector -> top-nprobeC coarse cells
    val vw = Window.partitionBy(col("__id"))
      .orderBy(col("__vd2").asc, col("co_id").asc)
    val vecCoarse = rankPrefix(corpus
        .select(col(idCol).as("__id"), col(vecCol).as("__v"))
        .crossJoin(broadcast(coarse))
        .withColumn("__vd2", l2sq(col("__v"), col("co_v")))
        .withColumn("__vr", row_number().over(vw)),
        col("__vr"), nprobeCs, keys)
      .select((b ++ Seq(col("__id"), col("__v"), col("co_id"))): _*)
    // 3. argmin over the probed cells' fine centroids only
    val fw = Window.partitionBy((b :+ col("__id")): _*)
      .orderBy(col("__fd2").asc, col("cent_id").asc)
    vecCoarse
      .join(broadcast(centAss), Seq("co_id"))
      .withColumn("__fd2", l2sq(col("__v"), col("cent_v")))
      .withColumn("__fr", row_number().over(fw))
      .filter(col("__fr") === 1)
      .select((b ++ Seq(col("__id").as("id"),
        col("cent_id").as("cell_id"))): _*)
  }

  /** IVF top-k against an explicit (typically trained) centroid frame:
    * probe `nprobe` cells per query, exact cosine re-rank of cell
    * members only. Same output shape as [[knnBruteForce]].
    *
    * `allowed` makes it METADATA-FILTERED search — vector search
    * restricted by a relational predicate (the "WHERE lang = 'en'" of
    * vector search, the join every production vector store has to
    * serve). The one-column id frame produced by the predicate
    * left-semi-joins the assigned corpus BEFORE candidate generation,
    * so each probed cell contributes only predicate-passing members and
    * the k-shortlist never wastes slots on candidates a post-filter
    * would discard (the recall difference between pre- and
    * post-filtering is exactly the slots a post-pass drops). Queries
    * are NOT filtered — asking from outside the predicate is legal. At
    * 100 TB the predicate pushes down to the metadata table's scan and
    * the semi-join is id-keyed (ids move, vectors don't); everything
    * downstream is the unfiltered shape. */
  def knnIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, cents: DataFrame, nprobe: Int = 3,
      queryFilter: Column = lit(true),
      allowed: Option[DataFrame] = None): DataFrame = {
    val (assigned, probes) =
      ivfAssignCentroids(corpus, idCol, vecCol, cents, nprobe)
    val queries = assigned.filter(queryFilter)
      .select(col("__id").as("query_id"), col("__v").as("__qv"),
        norm(col("__v")).as("__qn"))
    val nbrs = allowed.fold(assigned)(a => assigned.join(
      a.select(col(a.columns.head).as("__id")), Seq("__id"), "left_semi"))
    val cand = queries
      .join(probes, Seq("query_id"))
      .join(nbrs.select(col("__id").as("neighbor_id"), col("__v").as("__cv"),
        norm(col("__v")).as("__cn"), col("cell_id")), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos9").desc, col("neighbor_id").asc)
    rankPrefix(cand
      .withColumn("cos9",
        round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 9))
      .withColumn("rank", row_number().over(w)), col("rank"), Seq(k))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos9"))
  }

  /** Query-driven filtered IVF top-k — the SERVING form of
    * [[knnIvfCentroids]] with `allowed`: the queries arrive as their own
    * frame (a micro-batch of a request stream), while the searchable
    * side is a PRE-BUILT `(__id, __v, cell_id)` frame (the assigned
    * corpus already restricted to the predicate — built once offline,
    * checkpointed, never re-derived per batch). Each query ranks the
    * broadcast trained centroids for its `nprobe` nearest cells;
    * candidates are the probed cells' members of the pre-filtered
    * frame; exact cosine re-rank decides top-k. Per batch: one
    * broadcast of k centroids + one cell-keyed equi-join — the corpus
    * side never reshuffles.
    *
    * `excludeSelfId` (default true) is correct only when queries ARE
    * corpus members (the registry's self-query recall rows). External
    * request streams with their own id space must pass false, or a
    * request id that numerically collides with a corpus vec_id
    * silently removes that corpus vector from its candidates. */
  def knnIvfFilteredQueries(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, assignedNbrs: DataFrame, cents: DataFrame,
      nprobe: Int, excludeSelfId: Boolean = true): DataFrame = {
    val probes = probeCells(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
        "__qv", cents, Seq(nprobe), Nil)
      .select(col("query_id"), col("__qv"), col("cent_id").as("cell_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos9").desc, col("neighbor_id").asc)
    rankPrefix(probes
      .join(assignedNbrs.select(col("__id").as("neighbor_id"),
        col("__v").as("__cv"), col("cell_id")), Seq("cell_id"))
      .filter(if (excludeSelfId) col("query_id") =!= col("neighbor_id")
        else lit(true))
      .select("query_id", "neighbor_id", "__qv", "__cv")
      .distinct()
      .withColumn("cos9", round(
        dot(col("__qv"), col("__cv")) /
          (norm(col("__qv")) * norm(col("__cv"))), 9))
      .withColumn("rank", row_number().over(w)), col("rank"), Seq(k))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos9"))
  }

  /** Probe stage shared by the IVF serving kernels: each query ranks
    * the broadcast centroids by exact squared L2 to its vector column
    * `vec` (ties by centroid id) and keeps its `nprobes` prefix — one
    * width, or a branch per swept width under `keys` ([[rankPrefix]]).
    * Keeps the query columns plus (cent_id, cent_v, __qd2, __pr). */
  private def probeCells(queries: DataFrame, vec: String, cents: DataFrame,
      nprobes: Seq[Int], keys: Seq[String]): DataFrame = {
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("__qd2").asc, col("cent_id").asc)
    rankPrefix(queries.crossJoin(broadcast(cents))
      .withColumn("__qd2", l2sq(col(vec), col("cent_v")))
      .withColumn("__pr", row_number().over(wp)), col("__pr"), nprobes, keys)
  }

  /** One distributed Lloyd (k-means) iteration — the training seam that
    * produces [[ivfAssignCentroids]]'s centroids, here from the
    * `centroidFilter` id-pick of the corpus. Assignment reuses the IVF
    * argmin (broadcast centroids, map-only distance); the update step
    * emits per-(cluster, dim) member counts, sums and means.
    *
    * At 100 TB: broadcast k centroids, one map-only pass, one shuffle
    * of (cluster, dim) partial sums — map-side combine makes the
    * shuffle k × dims rows per partition regardless of corpus size.
    * With integer-quantized vectors the sums are exact (order-free) and
    * the mean is a single IEEE division, so the whole step is
    * bit-reproducible and oracle-checkable. `outDims` bounds the
    * reported dims (the full update is the same plan over all dims). */
  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, outDims: Int): DataFrame = {
    val (assigned, _) = ivfAssignCentroids(corpus, idCol, vecCol,
      corpus.filter(centroidFilter)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v")), 1)
    assigned
      .select(col("cell_id").as("cluster_id"),
        posexplode(slice(col("__v"), 1, outDims)))
      .groupBy(col("cluster_id"), col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"), sum(col("col")).as("sum_q"))
      .withColumn("mean_q", col("sum_q") / col("n_members"))
  }

  /** Per-query ADC distance table: one row per (`carry`…, sub,
    * codeword) with the exact int64 sub-distance of the `vec` column's
    * 16-dim slice `sub` — |queries| × 64 rows (× nprobe for the
    * residual search's per-probed-cell table), tiny by construction,
    * the frame every ADC search BROADCASTS. */
  private def adcDistTable(rows: DataFrame, vec: String, carry: Seq[String],
      cb: DataFrame): DataFrame = {
    val c = carry.map(col)
    rows
      .select((c :+ explode(sequence(lit(0), lit(3))).as("sub") :+
        col(vec)): _*)
      .withColumn("sv", slice(col(vec), col("sub") * 16 + 1, lit(16)))
      .join(broadcast(cb), Seq("sub"))
      .select((c ++ Seq(col("sub").cast("long").as("sub"), col("code"),
        l2sq(col("sv"), col("cv")).cast("long").as("dt"))): _*)
  }

  /** The ADC top-k tail every PQ search shares: sum the looked-up
    * sub-distances per (keys…, query, vec) — one map-side-combined
    * aggregation — and keep each (keys…, query)'s `k` smallest by
    * (adist, vec_id), planned as a WindowGroupLimit. `scan` carries
    * (keys…, query_id, vec_id, dt). Returns (keys…, query_id, rank,
    * vec_id, adist). */
  private def adcTopK(scan: DataFrame, k: Int, keys: Seq[String]): DataFrame = {
    val q = keys.map(col) :+ col("query_id")
    val w = Window.partitionBy(q: _*)
      .orderBy(col("adist").asc, col("vec_id").asc)
    rankPrefix(scan
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy((q :+ col("vec_id")): _*)
      .agg(sum(col("dt")).as("adist"))
      .withColumn("rank", row_number().over(w)), col("rank"), Seq(k))
      .select((q ++ Seq(col("rank").cast("long").as("rank"), col("vec_id"),
        col("adist"))): _*)
  }

  /** PQ asymmetric-distance (ADC) search kernel — how a PQ index is
    * queried: each query precomputes its distance table to the 64
    * codewords (|queries| × 64 rows — tiny, BROADCAST), every coded
    * corpus vector's approximate distance is four table lookups summed
    * (a broadcast equi-join on (sub, code) + one (query, vec)
    * aggregation), and per-query top-k plans as a WindowGroupLimit.
    * The coded corpus never reshuffles and no float op touches its
    * scan. Shared verbatim by the batch `sim_pq_adc` query and the
    * per-micro-batch streaming server
    * ([[graft.streaming.StreamingSearch]]).
    *
    * `queries`: (query_id, qv) with 64-dim integer-quantized vectors;
    * `codes`: (vec_id, sub: long, code) — the PQ-coded corpus;
    * `cb`: (sub, code, cv) — the trained 16-dim per-subspace codebook. */
  def pqAdcSearch(queries: DataFrame, codes: DataFrame, cb: DataFrame,
      k: Int): DataFrame =
    adcTopK(codes.join(
      broadcast(adcDistTable(queries, "qv", Seq("query_id"), cb)),
      Seq("sub", "code")), k, Nil)

  /** The COMPOSED IVF-PQ search — the serving shape a production vector
    * index actually runs, and the scale fix for [[pqAdcSearch]]'s one
    * honest flaw (it scores the FULL coded corpus per query; at 100 TB
    * nobody full-scans codes):
    *
    *   1. each query ranks the broadcast trained centroids by exact
    *      squared L2 and keeps its `nprobe` nearest cells (a window
    *      over |queries| × k rows — query-frame-sized, never corpus);
    *   2. the ADC scan is RESTRICTED to the probed cells' codes: the
    *      (query_id, cell_id) probe frame — |queries| × nprobe rows —
    *      broadcasts onto the cell-tagged code rows, so each query
    *      scores only ~corpus·nprobe/k of the codes and the pruning
    *      join is map-only (no shuffle of the corpus);
    *   3. the per-(query, vec) ADC sum and top-k are [[pqAdcSearch]]'s
    *      kernel unchanged — same distance table, same int64 ranking.
    *
    * `cellCodes`: (vec_id, cell_id, sub, code) — the `sim_index_build`
    * row shape with codes unpacked, i.e. THE stored index. Recall is
    * NOT simply bounded by full-scan ADC: the cell restriction uses
    * exact query-to-centroid geometry, so it can evict quantization
    * false positives and RAISE recall while cutting work (measured
    * 0.29 vs 0.22 at sf0.01 — the `sim_ivfpq_recall` gate pins it).
    *
    * `nprobes` is one width, or with a branch key in `keys` the swept
    * widths (r16 sweep fusion): every width's probe set is a
    * [[rankPrefix]] of ONE centroid ranking, so one cell-pruned ADC
    * scan + top-k keyed by (branch, query_id) serves the whole sweep,
    * rows per branch identical to a one-width call. Returns (keys…,
    * query_id, rank, vec_id, adist). */
  def ivfPqSearch(queries: DataFrame, cellCodes: DataFrame, cb: DataFrame,
      cents: DataFrame, nprobes: Seq[Int], k: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val probes = probeCells(queries, "qv", cents, nprobes, keys)
      .select((keys.map(col) ++
        Seq(col("query_id"), col("cent_id").as("cell_id"))): _*)
    val dt = adcDistTable(queries, "qv", Seq("query_id"), cb)
    adcTopK(cellCodes
      .join(broadcast(probes), Seq("cell_id"))
      .join(broadcast(dt), Seq("query_id", "sub", "code")), k, keys)
  }

  /** The single-width [[ivfPqSearch]] — the scalar serving call of the
    * streaming servers. */
  def ivfPqSearch(queries: DataFrame, cellCodes: DataFrame, cb: DataFrame,
      cents: DataFrame, nprobe: Int, k: Int): DataFrame =
    ivfPqSearch(queries, cellCodes, cb, cents, Seq(nprobe), k)

  /** Residual IVF-PQ serving — [[ivfPqSearch]] with the PQ half coding
    * RESIDUALS (v − assigned centroid), the layout production IVF-PQ
    * indexes actually store (the IVFADC scheme): residual norms are far
    * smaller than vector norms, so the same 4×4-bit code budget
    * quantizes much finer and recall rises at identical serving cost.
    *
    * The distance table becomes PER (query, probed cell) — the query's
    * residual against each probed centroid, |queries| × nprobe × 64
    * rows, still broadcast-sized by construction. Joining the
    * cell-tagged residual codes on (cell_id, sub, code) restricts the
    * scan to probed cells AND resolves the table lookup in the same
    * broadcast join — pruning and ADC in one map-only stage, one
    * exchange for the per-(query, vec) sum.
    *
    * `cellCodes`: (vec_id, cell_id, sub, code) with codes from the
    * RESIDUAL codebook `cb`; `cents` must be the same trained centroids
    * the codes were built against (the residual is centroid-relative).
    * `nprobes`/`keys` sweep the probe width exactly as in
    * [[ivfPqSearch]] (one ranking, one per-(branch, query, probed-cell)
    * table, one ADC + top-k). Returns (keys…, query_id, rank, vec_id,
    * adist). */
  def ivfPqResidualSearch(queries: DataFrame, cellCodes: DataFrame,
      cb: DataFrame, cents: DataFrame, nprobes: Seq[Int], k: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val probes = probeCells(queries, "qv", cents, nprobes, keys)
      .select((keys.map(col) ++ Seq(col("query_id"),
        col("cent_id").as("cell_id"),
        zip_with(col("qv"), col("cent_v"), (a, b) => a - b).as("qres"))): _*)
    val dt =
      adcDistTable(probes, "qres", keys ++ Seq("query_id", "cell_id"), cb)
    adcTopK(cellCodes.join(broadcast(dt), Seq("cell_id", "sub", "code")),
      k, keys)
  }

  /** Exact re-rank refinement (the "+R" of IVFADC+R): re-score an ADC
    * shortlist with exact squared-L2 on the raw vectors and keep the
    * top-k. `shortlist` carries (keys…, query_id, vec_id) candidate
    * pairs — |queries|×R rows, broadcast-small by construction — and
    * `corpus` (vec_id, qv) / `queries` (query_id, qv) the raw vectors.
    * Both the shortlist and the query frame broadcast onto the corpus
    * scan, so the gather is a per-query point-lookup: R vector reads
    * per query, vectors never shuffle. Shared by the batch
    * `sim_ivfpq_rerank` query and the streaming serving twin. With
    * branch columns in `keys` (a swept shortlist), one gather + one
    * (branch, query) window re-ranks every branch at once. Returns
    * (keys…, query_id, rank, vec_id, d2). */
  def rerankExact(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, keys: Seq[String] = Nil): DataFrame = {
    val q = keys.map(col) :+ col("query_id")
    val w = Window.partitionBy(q: _*)
      .orderBy(col("d2").asc, col("vec_id").asc)
    rankPrefix(corpus.select(col("vec_id"), col("qv").as("cv2"))
      .join(broadcast(shortlist.select((q :+ col("vec_id")): _*)),
        Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv").as("xv"))),
        Seq("query_id"))
      .withColumn("d2", l2sq(col("xv"), col("cv2")).cast("long"))
      .withColumn("rank", row_number().over(w)), col("rank"), Seq(k))
      .select((q ++ Seq(col("rank").cast("long").as("rank"), col("vec_id"),
        col("d2"))): _*)
  }

  /** Iterated integer-Lloyd k-means — the training loop that turns the
    * deterministic id-pick init into DATA-ADAPTED centroids for the IVF
    * cells and the PQ codebook, with zero RNG anywhere.
    *
    * `points` carries (`groupCols`…, `__id`, `__v`); `init` carries
    * (`groupCols`…, `cent_id`, `cent_v`) — with `groupCols = Seq("sub")`
    * the same loop trains all four PQ subspace codebooks at once (each
    * subspace is an independent k-means; the group key just rides the
    * keys). Per iteration:
    *
    *   1. assignment — broadcast centroids, exact squared-L2 by the dot
    *      identity, argmin as `min(struct(d2, cent_id))`: ONE
    *      map-side-combined aggregation, no per-vector window, and the
    *      broadcast cross is linear in the corpus;
    *   2. update — `posexplode` the assigned vectors, per-(cluster, dim)
    *      count/sum (map-side combine → k×dims rows per partition
    *      regardless of corpus size), then the mean RE-QUANTIZED with
    *      `round(sum/n)`. Integer-valued centroids in, integer-valued
    *      centroids out — every distance in every iteration stays an
    *      exact int64, sums are order-free, the one IEEE division and
    *      the half-away-from-zero round are bit-identical in DuckDB, so
    *      K iterations replay exactly as K unrolled CTE blocks;
    *   3. clusters that lose all members keep their previous centroid
    *      (left join + coalesce), so `cent_id`s are stable and K never
    *      silently shrinks.
    *
    * At 100 TB: per iteration one broadcast of k·dims doubles, one
    * map-only pass, two map-side-combined shuffles (corpus-width id
    * rows; k×dims partials) — the canonical distributed Lloyd shape. */
  def kmeansTrain(points: DataFrame, init: DataFrame, iters: Int,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    val g = groupCols.map(col)
    val d2 = l2sq(col("__v"), col("cent_v"))
    (1 to iters).foldLeft(init) { (cents, it) =>
      val joined =
        if (groupCols.isEmpty) points.crossJoin(broadcast(cents))
        else points.join(broadcast(cents), groupCols)
      val assigned = joined
        .groupBy((g :+ col("__id") :+ col("__v")): _*)
        .agg(min(struct(d2.as("d2"), col("cent_id"))).as("__m"))
        .select((g :+ col("__m.cent_id").as("cluster_id") :+ col("__v")): _*)
      val sums = assigned
        .select((g :+ col("cluster_id") :+ posexplode(col("__v"))): _*)
        .groupBy((g :+ col("cluster_id") :+ col("pos")): _*)
        .agg(count(lit(1)).as("__n"), sum(col("col")).as("__s"))
        .withColumn("__mean", round(col("__s") / col("__n"), 0))
      val next = sums
        .groupBy((g :+ col("cluster_id")): _*)
        .agg(array_sort(collect_list(struct(col("pos"), col("__mean"))))
          .as("__ps"))
        .select((g :+ col("cluster_id").as("cent_id") :+
          transform(col("__ps"), p => p.getField("__mean")).as("cent_v")): _*)
      val keys = groupCols :+ "cent_id"
      // eager checkpoint of the k×dims RESULT per NON-FINAL iteration:
      // each iteration's centroid frame is consumed twice by the next
      // (the broadcast assignment AND the empty-cluster left join), so
      // un-checkpointed lineage re-executes every earlier iteration's
      // corpus aggregation per consumer — at 100 TB that is a duplicate
      // full corpus pass per iteration (r16). The FINAL iteration's
      // frame goes back un-checkpointed: the caller consumes it once
      // (typically into a FrameCache checkpoint anyway) and PlanSpec
      // pins the trainer's plan shape off it.
      val out = cents.as("o").join(next.as("n"), keys, "left")
        .select((keys.map(col) :+
          coalesce(col("n.cent_v"), col("o.cent_v")).as("cent_v")): _*)
      if (it < iters) out.localCheckpoint(true) else out
    }
  }

  /** Maximal-marginal-relevance diversification of a scored candidate
    * pool — the greedy diversity pass a retrieval server runs AFTER the
    * exact re-rank, when the top of the list is near-duplicates of one
    * answer. Entirely integer: relevance is the pool's exact squared-L2
    * `d2` (smaller = more relevant) and redundancy is the exact
    * pairwise squared-L2 among pool members, so the λ=0.5 MMR argmax
    * `max(min_{j∈S} d2(i,j) − d2(q,i))` is an int64 comparison with a
    * min-id tie-break — deterministic across partitionings and
    * replayable round-by-round as unrolled oracle CTEs (float MMR
    * would be none of those).
    *
    * `pool` carries (query_id, vec_id, d2) — |Q|×R rows from e.g.
    * [[rerankExact]]; `corpus` (vec_id, qv) supplies raw vectors.
    * Pick 1 is pure relevance (min d2, min id); picks 2..k maximize
    * the margin over the min distance to the already-selected set.
    *
    * Scale shape: the pairwise frame is |Q|·R² rows computed ONCE
    * (query-keyed self-join; vectors attach by id before the join,
    * never reshuffling the corpus), then each greedy round is one
    * anti-join + one pair-join + two map-side-combined aggregations,
    * all keyed by query_id. State per round is ≤ k rows per query;
    * `localCheckpoint` caps plan growth (the iterative-DataFrame
    * doctrine of [[kmeansTrain]] / ConnectedComponents). */
  def mmrDiversify(pool: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val p = pool.select(col("query_id"), col("vec_id"), col("d2"))
      .localCheckpoint(true)
    val withV = p.join(corpus.select(col("vec_id"), col("qv")), Seq("vec_id"))
    val dij = l2sq(col("iv"), col("jv")).cast("long")
    val pairs = withV
      .select(col("query_id"), col("vec_id").as("i"), col("qv").as("iv"))
      .join(withV.select(col("query_id"), col("vec_id").as("j"),
        col("qv").as("jv")), Seq("query_id"))
      .filter(col("i") =!= col("j"))
      .select(col("query_id"), col("i"), col("j"), dij.as("dij"))
      .localCheckpoint(true)
    // pick 1: pure relevance — min d2, ties to the smallest id
    val first = p.groupBy(col("query_id"))
      .agg(min(struct(col("d2"), col("vec_id"))).as("m"))
      .select(col("query_id"), col("m.vec_id").as("vec_id"),
        col("m.d2").as("d2"), lit(1L).as("mmr_rank"))
    var sel = first.localCheckpoint(true)
    for (t <- 2 to k) {
      val cand = p.join(sel.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_anti")
      val pick = pairs
        .join(sel.select(col("query_id"), col("vec_id").as("j")),
          Seq("query_id", "j"))
        .groupBy(col("query_id"), col("i"))
        .agg(min(col("dij")).as("ms"))
        .join(cand.select(col("query_id"), col("vec_id").as("i"),
          col("d2")), Seq("query_id", "i"))
        // argmax of the integer margin, ties to the smallest id; d2
        // rides along (unique per (margin, id) by construction)
        .groupBy(col("query_id"))
        .agg(max(struct((col("ms") - col("d2")).as("score"),
          (-col("i")).as("ni"), col("d2").as("dd"))).as("m"))
        .select(col("query_id"), (-col("m.ni")).as("vec_id"),
          col("m.dd").as("d2"), lit(t.toLong).as("mmr_rank"))
      // checkpoint per NON-FINAL round (the selected set feeds the next
      // round three ways: anti-join, pair join, union); the final
      // round's set is consumed once by the output select, so its
      // materialization job buys nothing (r16 elision, same as
      // graphBeamSearch's last hop)
      val u = sel.unionByName(pick)
      sel = if (t < k) u.localCheckpoint(true) else u
    }
    sel.select(col("query_id"), col("mmr_rank"), col("vec_id"), col("d2"))
  }

  /** Near-duplicate vector pairs: LSH candidates verified at an exact
    * cosine `threshold`. Returns (a, b) with a < b. */
  def nearDuplicateVectors(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 2, planes: Int = 8, dims: Int = 64): DataFrame = {
    val vecs = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"))
    val b = withHyperplaneBuckets(vecs, "__v", tables, planes, dims)
    val exploded = b.select(col("__id"),
      explode(array((0 until tables).map(t =>
        concat_ws(":", lit(t), col(s"bucket_t$t"))): _*)).as("__bucket"))
    // ids-only candidate dedup (see knnLsh), vectors re-attached by id
    exploded.as("x")
      .join(exploded.as("y"), col("x.__bucket") === col("y.__bucket"))
      .filter(col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"))
      .distinct()
      .join(vecs.select(col("__id").as("a"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("a"))
      .join(vecs.select(col("__id").as("b"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("b"))
      .filter(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) >= threshold)
      .select(col("a"), col("b"))
  }

  /** Bounded-degree nearest-neighbor GRAPH over IVF-probed cells — the
    * index structure of graph-traversal ANN (DiskANN / HNSW base
    * layer), built relationally: candidate pairs are vectors sharing
    * ANY of their top-`nprobe` cells (the 2nd-closest cell supplies
    * the cross-cell "bridge" edges pure Voronoi membership lacks),
    * exact-scored, and capped at `degree` out-edges per node by
    * (d2 asc, dst asc). At 100 TB each piece stays bounded: the probe
    * is a broadcast-centroid argmin (map-only), the pair join is
    * equi-keyed on cell_id with per-cell candidate counts capped by
    * cell size, and the degree cap makes the edge list O(n·degree) —
    * the serving structure a traversal touches is rows-per-hop, never
    * the corpus.
    *
    * `probes`: (id, cell_id) — one row per (vector, probed cell).
    * `vecs`: (vec_id, v). Returns (src, dst, erank, d2). */
  def nnGraph(probes: DataFrame, vecs: DataFrame, degree: Int): DataFrame =
    nnGraphPatch(probes, probes, vecs, degree)

  /** [[nnGraph]] restricted to a SOURCE cohort — the incremental edge
    * PATCH between rebuilds: build out-edges for just-admitted delta
    * vectors against the FULL probe space, leaving the base edge list
    * untouched. A rebuild's out-edges for a given src depend only on
    * that src's own probed cells (the pair join is probes ⋈ probes on
    * cell_id), so the patched rows are EXACTLY the full rebuild's
    * rows for those srcs — at |delta-cohort pair| cost instead of a
    * corpus-wide re-pair (SimilaritySpec pins the set-equality).
    * `srcProbes` ⊆ `allProbes`, both (id, cell_id). [[nnGraph]] IS the
    * `srcProbes = allProbes` case — one scoring/ranking body serves
    * both, so the full build and the patch cannot drift apart. */
  def nnGraphPatch(srcProbes: DataFrame, allProbes: DataFrame,
      vecs: DataFrame, degree: Int): DataFrame = {
    val pairs = srcProbes.select(col("id").as("src"), col("cell_id"))
      .join(allProbes.select(col("id").as("dst"), col("cell_id")),
        Seq("cell_id"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    nnGraphRank(scorePairs(pairs, vecs), degree)
  }

  /** Exact-score a (src, dst) candidate-pair frame against `vecs` —
    * the shared scoring tail of every [[nnGraph]] variant. Returns
    * (src, dst, d2). */
  private def scorePairs(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("vec_id").as("src"), col("v").as("__sv")), Seq("src"))
      .join(vecs.select(col("vec_id").as("dst"), col("v").as("__dv")), Seq("dst"))
      .withColumn("d2", l2sq(col("__sv"), col("__dv")).cast("long"))
      .select(col("src"), col("dst"), col("d2"))

  /** The UNCAPPED scored pair frame of [[nnGraph]]: every (src, dst)
    * pair sharing any probed cell, exact-scored, no degree cap — the
    * one pair-construction/scoring pass from which every cohort and
    * degree variant of the edge list derives by a filter plus
    * [[nnGraphRank]]. Per-vector probe assignment is independent of
    * the rest of the cohort, so filtering THIS frame by a cohort id
    * predicate on src/dst yields exactly the pairs the standalone
    * kernel builds from the filtered cohort's probes ([[nnGraph]] on
    * cohort probes ≡ src∧dst-in-cohort rows here; [[nnGraphPatch]]'s
    * delta-src pairs ≡ the src-in-delta rows). `probes`: (id,
    * cell_id); `vecs`: (vec_id, v). Returns (src, dst, d2). */
  def nnGraphPairsScored(probes: DataFrame, vecs: DataFrame): DataFrame = {
    val pairs = probes.select(col("id").as("src"), col("cell_id"))
      .join(probes.select(col("id").as("dst"), col("cell_id")),
        Seq("cell_id"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    scorePairs(pairs, vecs)
  }

  /** The degree-rank cap over a scored pair frame — the tail of every
    * [[nnGraph]] variant: erank = row_number per src by (d2 asc, dst
    * asc), capped at `degree`. `scored`: (keys…, src, dst, d2) — with
    * branch columns in `keys`, one window pass ranks every branch's
    * cohort-filtered slice of a shared scored pair frame. Returns
    * (keys…, src, dst, erank, d2). */
  def nnGraphRank(scored: DataFrame, degree: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val s = keys.map(col) :+ col("src")
    val w = Window.partitionBy(s: _*)
      .orderBy(col("d2").asc, col("dst").asc)
    rankPrefix(scored.withColumn("erank", row_number().over(w).cast("long")),
        col("erank"), Seq(degree))
      .select((s ++ Seq(col("dst"), col("erank"), col("d2"))): _*)
  }

  /** [[graphBeamSearch]] for an ARRIVING query frame — the serving
    * form: each query finds its entry cell by the same broadcast
    * centroid argmin every IVF consumer uses (nprobe = 1), scans that
    * cell's members off the checkpointed `assigned` corpus as the
    * seed beam, then traverses the checkpointed edge list. Per query
    * batch nothing but the batch-sized probe frame moves — the
    * corpus, the assignment, and the O(n·degree) edge list are the
    * static sides. Because cell assignment is per-vector under fixed
    * centroids, a corpus-member query gets exactly the cell the batch
    * search derived from its own assignment row — which is what makes
    * the streaming twin row-identical to `sim_graph_search`
    * (StreamingSpec pins it).
    *
    * `excludeSelfId` mirrors [[knnIvfFilteredQueries]]: `true` (the
    * default) drops any corpus candidate whose id equals the query's
    * id — correct when queries ARE corpus members (the batch twin,
    * recall grading). EXTERNAL serving whose query-id space may
    * collide with corpus vec_ids must pass `false`, else a colliding
    * id silently drops that corpus vector — possibly the true nearest
    * neighbor — from its results (the codebase's external-serving
    * contract, see [[graft.streaming.StreamingSearch
    * .serveAssignedSwappableWriter]]).
    *
    * `queries`: (query_id, qv). `cents`: (cent_id, cent_v).
    * `assigned`: (__id, __v, cell_id) — the cr = 1 corpus assignment.
    * `edges`: (src, dst, …). Returns (query_id, neighbor_id, rank, d2). */
  def graphSearchQueries(queries: DataFrame, cents: DataFrame,
      assigned: DataFrame, edges: DataFrame,
      hops: Int, beam: Int, k: Int,
      excludeSelfId: Boolean = true,
      entryCells: Int = 1): DataFrame = {
    // entryCells > 1 widens the SEED to the query's nearest cells (the
    // serving-time knob sim_graph_entry_sweep grades; a member belongs
    // to exactly one cell, so the probed-cell join cannot duplicate a
    // candidate); the traversal frame stays one row per query
    val probes = probeCells(queries.select(col("query_id"), col("qv")), "qv",
        cents, Seq(entryCells), Nil)
      .select(col("query_id"), col("qv"), col("cent_id").as("cell_id"))
    val entry0 = probes
      .join(assigned.select(col("__id").as("cand"),
        col("__v").as("__cv"), col("cell_id")), Seq("cell_id"))
    val entry = (if (excludeSelfId)
        entry0.filter(col("cand") =!= col("query_id")) else entry0)
      .withColumn("d2", l2sq(col("qv"), col("__cv")).cast("long"))
      .select("query_id", "cand", "d2")
    // the traversal's query side is the CALLER's frame, not the
    // centroid-ranked derivation (row-equivalent — the rank-1 filter
    // was just a roundabout copy of (query_id, qv); any duplicate ids
    // collapse in the per-hop distinct either way). This keeps the
    // served plan free of the probe stage's broadcast cross now that
    // the final hop executes in the output job (r16 checkpoint
    // elision) instead of behind a checkpoint.
    graphBeamSearch(queries.select(col("query_id"), col("qv")), entry,
      edges, assigned.select(col("__id").as("vec_id"), col("__v").as("v")),
      hops = hops, beam = lit(beam), k = k, excludeSelfId = excludeSelfId)
  }

  /** Beam search over a bounded-degree neighbor graph, unrolled to a
    * FIXED hop count — the relational form of DiskANN's greedy search.
    * Each hop expands the current beam's out-edges (an equi-join on
    * `src` against the O(n·degree) edge list), exact-scores the new
    * candidates against the query, and keeps the `beam` best of
    * everything visited; the final cut is top-`k` of the full visited
    * set. Per-query work is ≤ |entry| + hops·beam·degree scored rows —
    * independent of corpus size, which is what lets a traversal index
    * serve where a cell scan can't. Bounded rounds (not
    * convergence-looped) keep the plan static and oracle-replayable.
    *
    * Branch columns in `keys` run several traversal configurations
    * (the beam/degree/entry/drift sweep points) in ONE set of jobs
    * (r16 fusion): every window partitions by (keys…, query_id), the
    * visited dedup is per (keys…, query_id, cand), and the expansion
    * joins on whichever of `keys` the edge list carries — so each
    * branch's rows evolve exactly as a keyless run at its
    * configuration (SimilaritySpec pins the per-branch equality), while
    * one window + one expansion join + one distinct + one checkpoint
    * per hop serve the whole sweep.
    *
    * `queries`: (query_id, qv) — shared across branches. `entry`:
    * (keys…, query_id, cand, d2) — the seed candidates, typically the
    * query's nearest cell's members. `edges`: (src, dst, …), with any
    * branch-specific edge list tagged by its key. `vecs`: (vec_id, v).
    * `beam`: the per-hop beam width — a literal, or an expression of a
    * branch column for a beam sweep. Returns (keys…, query_id,
    * neighbor_id, rank, d2). */
  def graphBeamSearch(queries: DataFrame, entry: DataFrame, edges: DataFrame,
      vecs: DataFrame, hops: Int, beam: Column, k: Int,
      excludeSelfId: Boolean = true, keys: Seq[String] = Nil): DataFrame = {
    val start = entry.select(visitedCols(keys): _*)
    visitedTopK((1 to hops).foldLeft(start) { (visited, h) =>
      val u = beamHop(visited, queries, edges, vecs, beam, excludeSelfId, keys)
      // eager checkpoint per NON-FINAL hop (the mmrDiversify pattern): the
      // visited set feeds the NEXT hop twice (beam cut + union), and
      // materializing it keeps that hop's plan a checkpoint scan instead
      // of a re-planned copy of every prior hop's subtree. The FINAL
      // hop's visited set is consumed exactly once (the top-K cut), so
      // checkpointing it would pay a materialization job + cache
      // write/read that buys nothing — r16 measured the elision, one
      // fewer job per search at identical rows.
      if (h < hops) u.localCheckpoint(true) else u
    }, k, keys)
  }

  /** Hop-depth TRACE of one keyless [[graphBeamSearch]] traversal: the
    * top-K cut of the visited set AFTER EVERY hop 0..`hops`, tagged by
    * hop depth — (hops, query_id, neighbor_id, rank, d2). A depth-h
    * run's state is a prefix of a deeper run's evolution (same
    * deterministic per-hop step), so the hop-h slice is ROW-IDENTICAL
    * to a standalone `hops = h` search (SimilaritySpec pins it) — but
    * the trace pays ONE traversal where the hop sweep previously paid
    * one full traversal (entry scan included) per depth. Intermediate
    * visited sets get the usual eager checkpoint (each now has two
    * consumers: its snapshot cut and the next hop); the deepest set is
    * consumed once and stays un-checkpointed. */
  def graphBeamSearchTrace(queries: DataFrame, entry: DataFrame,
      edges: DataFrame, vecs: DataFrame, hops: Int, beam: Column, k: Int,
      excludeSelfId: Boolean = true): DataFrame = {
    def cut(v: DataFrame, h: Int): DataFrame =
      visitedTopK(v, k, Nil).select(lit(h.toLong).as("hops"), col("*"))
    val v0 = entry.select(visitedCols(Nil): _*)
    val start = if (hops > 0) v0.localCheckpoint(true) else v0
    (1 to hops).foldLeft((start, cut(start, 0))) { case ((visited, out), h) =>
      val u = beamHop(visited, queries, edges, vecs, beam, excludeSelfId, Nil)
      val next = if (h < hops) u.localCheckpoint(true) else u
      (next, out.unionByName(cut(next, h)))
    }._2
  }

  private def visitedCols(keys: Seq[String]): Seq[Column] =
    (keys :+ "query_id" :+ "cand" :+ "d2").map(col)

  /** Per-(keys…, query) order of a visited set: d2, then candidate id. */
  private def beamOrder(keys: Seq[String]) =
    Window.partitionBy((keys.map(col) :+ col("query_id")): _*)
      .orderBy(col("d2").asc, col("cand").asc)

  /** One traversal hop: expand the `beam` best of `visited` along
    * `edges`, exact-score the new candidates, and return the visited
    * set ∪ them, deduplicated. */
  private def beamHop(visited: DataFrame, queries: DataFrame,
      edges: DataFrame, vecs: DataFrame, beam: Column,
      excludeSelfId: Boolean, keys: Seq[String]): DataFrame = {
    val b = keys.map(col)
    val edgeKeys = keys.filter(edges.columns.contains)
    val beamF = visited.withColumn("__r", row_number().over(beamOrder(keys)))
      .filter(col("__r") <= beam)
      .select((b ++ Seq(col("query_id"), col("cand"))): _*)
    val expanded0 = beamF.join(edges.select((edgeKeys.map(col) ++
      Seq(col("src").as("cand"), col("dst"))): _*), edgeKeys :+ "cand")
    val expanded = (if (excludeSelfId)
        expanded0.filter(col("dst") =!= col("query_id")) else expanded0)
      .select((b ++ Seq(col("query_id"), col("dst").as("cand"))): _*)
      .distinct()
    val scored = expanded
      .join(queries, Seq("query_id"))
      .join(vecs.select(col("vec_id").as("cand"), col("v").as("__cv")),
        Seq("cand"))
      .withColumn("d2", l2sq(col("qv"), col("__cv")).cast("long"))
      .select(visitedCols(keys): _*)
    visited.unionByName(scored).select(visitedCols(keys): _*).distinct()
  }

  /** The final top-`k` cut of a visited set. */
  private def visitedTopK(visited: DataFrame, k: Int,
      keys: Seq[String]): DataFrame =
    rankPrefix(visited.withColumn("rank",
        row_number().over(beamOrder(keys)).cast("long")), col("rank"), Seq(k))
      .select((keys.map(col) ++ Seq(col("query_id"),
        col("cand").as("neighbor_id"), col("rank"), col("d2"))): _*)
}
