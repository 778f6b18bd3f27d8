package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ShardExport, Similarity}

/** Measured scaling curves for the two newest kernels — the r16 rung
  * that turns two 100 TB design ARGUMENTS into measured exponents:
  * every scale claim on the board is verified at two SFs (sf0.01 /
  * sf0.1, a 10× step on ONE point pair); this harness synthesizes a
  * 1×/3×/10× size ladder per kernel and fits the log-log slope, so
  * SCALE.md can state "measured ~n^a" instead of "linear by
  * construction".
  *
  * Kernels (each timed as its own stage so the exponents decompose):
  *   - `shard_export`: [[ShardExport.shardPlan]] forced end-to-end
  *     (interleave hash + two-level prefix sum + bin arithmetic) —
  *     expected ~linear (one corpus shuffle + map-only arithmetic).
  *   - `graph_assign`: the IVF probe assignment
  *     ([[Similarity.ivfAssignCentroids]], nprobe 2) at the fixture
  *     recipe's cell geometry (k = n/50 centroids, ~50-member cells) —
  *     expected ~n·k = n²/50 at this recipe (the broadcast-argmin is
  *     per-vector map-only, but k grows with the corpus when cell
  *     SIZE is held; a 100 TB deployment caps k at index-metadata
  *     size or goes hierarchical — the measured exponent is the
  *     evidence for why).
  *   - `graph_assign_hier`: [[Similarity.hierAssignCentroids]] on the
  *     same ladder with k_c ≈ √k coarse cells, nprobeC 2 — the
  *     mitigation's measured exponent (~n^1.5 expected where the flat
  *     kernel measures ~n²).
  *   - `graph_pairs`: [[Similarity.nnGraph]] (the equi-keyed pair
  *     join + degree cap) over pre-built, checkpointed probes —
  *     expected ~linear at held cell size (pairs ≈ n · cell ·
  *     nprobe²: the pair-bounded argument, measured).
  *
  * Inputs are hash-synthesized (xxhash64 — deterministic, seed-free,
  * no rand(); uniform geometry matches the embeddings fixture's
  * unclustered vectors) and localCheckpointed BEFORE the clock, so
  * each timing covers exactly the kernel. Two passes per point, min
  * (the bench doctrine); one untimed smallest-size warm-up pays JIT.
  *
  * `runMain graft.ScaleLadder` — prints one `LADDER` line per
  * (kernel, point) and one `LADDER_FIT` line per kernel; the SCALE.md
  * table quotes these verbatim.
  */
object ScaleLadder {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** (source, doc_id, n_tokens) units for the shard kernel: 10
    * sources, token counts hash-uniform in [1, 100]. */
  private[graft] def syntheticUnits(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      concat(lit("s"), pmod(col("id"), lit(10))).as("source"),
      col("id").as("doc_id"),
      (pmod(xxhash64(col("id"), lit("tok")), lit(100)) + 1L).as("n_tokens"))

  /** (idCol, vecCol) integer-valued 64-dim vectors on the quantized
    * grid the graph kernels consume (components hash-uniform in
    * [-1000, 1000] — the embeddings fixture's unclustered geometry). */
  private[graft] def syntheticVecs(spark: SparkSession, n: Long,
      idCol: String, vecCol: String, salt: String): DataFrame =
    spark.range(n).select(col("id").as(idCol),
      array((0 until 64).map(dim =>
        (pmod(xxhash64(col("id"), lit(salt), lit(dim)), lit(2001)) - 1000L)
          .cast("double")): _*).as(vecCol))

  /** Least-squares slope of ln(sec) on ln(n) — the fitted exponent. */
  private[graft] def fitExponent(points: Seq[(Long, Double)]): Double = {
    val xs = points.map(p => math.log(p._1.toDouble))
    val ys = points.map(p => math.log(p._2))
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val num = xs.lazyZip(ys).map((x, y) => (x - mx) * (y - my)).sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) 0.0 else num / den
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val passes = math.max(1,
      scala.util.Try(sys.env("SPARK_GRAFT_LADDER_PASSES").toInt).getOrElse(2))

    // ---- shard export: 2M / 6M / 20M units (a first 200k–2M ladder
    //      fit 0.44 — fixed job overhead ~0.8 s dominated every point,
    //      so the fit measured the overhead, not the kernel; a decade
    //      up the marginal cost shows) ----
    val shardNs = Seq(2000000L, 6000000L, 20000000L)
    def shardPoint(n: Long): Double = {
      val units = syntheticUnits(spark, n).localCheckpoint(true)
      val secs = (1 to passes).map(_ => time(Bench.force(
        ShardExport.shardPlan(units, "doc_id", "n_tokens", nShards = 8))))
      units.unpersist()
      secs.min
    }
    shardPoint(shardNs.head / 10) // untimed warm-up (JIT + noop sink init)
    val shardPts = shardNs.map(n => n -> shardPoint(n))
    shardPts.foreach { case (n, s) =>
      println(f"LADDER shard_export n=$n sec=$s%.3f") }
    println(f"LADDER_FIT shard_export exponent=${fitExponent(shardPts)}%.2f")

    // ---- graph kernels, cells held at ~50 members (k = n/50 — the
    //      fixture recipe's geometry). Separate ladders per kernel:
    //      the assignment's n·k work term is tiny per pair (native
    //      codegen dot), so it needs a decade more corpus than the
    //      pair join before the term clears the fixed job overhead
    //      (a joint 2k–20k ladder fit assign at 0.38 — pure
    //      overhead), while the pair join at 200k would swamp the
    //      run. ----
    def vecsAt(n: Long): (DataFrame, DataFrame) = {
      val vecs = syntheticVecs(spark, n, "vec_id", "qv", "v")
        .localCheckpoint(true)
      val cents = syntheticVecs(spark, math.max(1L, n / 50),
        "cent_id", "cent_v", "c").localCheckpoint(true)
      (vecs, cents)
    }
    val assignNs = Seq(20000L, 60000L, 200000L)
    def assignPoint(n: Long): Double = {
      val (vecs, cents) = vecsAt(n)
      val sec = (1 to passes).map(_ => time(Bench.force(
        Similarity.ivfAssignCentroids(vecs, "vec_id", "qv", cents,
          nprobe = 2)._2))).min
      Seq(vecs, cents).foreach(_.unpersist())
      sec
    }
    assignPoint(assignNs.head / 4) // untimed warm-up
    val assignPts = assignNs.map(n => n -> assignPoint(n))
    assignPts.foreach { case (n, s) =>
      println(f"LADDER graph_assign n=$n sec=$s%.3f") }
    println(f"LADDER_FIT graph_assign exponent=${
      fitExponent(assignPts)}%.2f")

    // the hierarchical mitigation on the SAME ladder: coarse level
    // k_c ≈ √k (the harness can pick √k per point — the fixed-modulus
    // query surface cannot), nprobeC 2 ⇒ expected ~n^1.5 at held cell
    // size instead of the flat kernel's measured ~n²
    def hierPoint(n: Long): Double = {
      val (vecs, cents) = vecsAt(n)
      val k = math.max(1L, n / 50)
      val step = math.max(1L, math.round(math.sqrt(k.toDouble)))
      val coarse = cents.filter(pmod(col("cent_id"), lit(step)) === 0)
        .select(col("cent_id").as("co_id"), col("cent_v").as("co_v"))
        .localCheckpoint(true)
      val sec = (1 to passes).map(_ => time(Bench.force(
        Similarity.hierAssignCentroids(vecs, "vec_id", "qv", cents,
          coarse, nprobeCs = Seq(2))))).min
      Seq(vecs, cents, coarse).foreach(_.unpersist())
      sec
    }
    hierPoint(assignNs.head / 4) // untimed warm-up
    val hierPts = assignNs.map(n => n -> hierPoint(n))
    hierPts.foreach { case (n, s) =>
      println(f"LADDER graph_assign_hier n=$n sec=$s%.3f") }
    println(f"LADDER_FIT graph_assign_hier exponent=${
      fitExponent(hierPts)}%.2f")

    val pairNs = Seq(2000L, 6000L, 20000L)
    def pairPoint(n: Long): Double = {
      val (vecs, cents) = vecsAt(n)
      val probes = Similarity.ivfAssignCentroids(vecs, "vec_id", "qv",
          cents, nprobe = 2)._2
        .select(col("query_id").as("id"), col("cell_id"))
        .localCheckpoint(true)
      val sec = (1 to passes).map(_ => time(Bench.force(
        Similarity.nnGraph(probes,
          vecs.select(col("vec_id"), col("qv").as("v")), degree = 6)))).min
      Seq(vecs, cents, probes).foreach(_.unpersist())
      sec
    }
    pairPoint(pairNs.head / 4) // untimed warm-up
    val pairPts = pairNs.map(n => n -> pairPoint(n))
    pairPts.foreach { case (n, s) =>
      println(f"LADDER graph_pairs n=$n sec=$s%.3f") }
    println(f"LADDER_FIT graph_pairs exponent=${
      fitExponent(pairPts)}%.2f")
    spark.stop()
  }
}
