package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Count-min sketch construction — the mergeable frequency summary for
  * key spaces too large to hold (URL / user-agent / query logs whose
  * "vocabulary" is itself TBs). Geometry: [[Rows]] independent members
  * of the portable affine hash family over [[Width]] int64 counters
  * each — 1,024 cells total, the whole point being that this is the
  * ONLY state regardless of corpus size, and that cell-wise addition
  * merges per-partition, per-hour, or per-cluster sketches exactly.
  *
  * Deterministic by construction (integer sums over MD5-affine hashes —
  * no sampling, no RNG), so unlike HLL/quantile sketches the full cell
  * frame replays bit-for-bit in the DuckDB oracle
  * (`corpus_cms_build` / `corpus_cms_topk`,
  * [[graft.queries.TextQueries]]).
  */
object Sketch {

  /** Independent hash rows (affine family members 0..Rows-1). */
  val Rows = 4

  /** Counters per row. Per-row overestimate is bounded in expectation
    * by N/Width; the point estimate takes the min over [[Rows]]. */
  val Width = 256

  /** The per-token (r, b) cell tags: ONE map-only explode emitting
    * [[Rows]] structs per occurrence — the corpus is read once, not
    * [[Rows]] times. The COMPOSABLE form: [[cmsSketch]] now rides the
    * compiled [[graft.functions.TextHashFunctions.CmsCells]] partial
    * instead (per-document, not per-token — SketchSpec pins the two
    * bit-identical); this stays as the oracle-shaped reference. */
  def cmsEntries(tok: Column): Column = {
    val h = PortableHash.hash60(tok)
    explode(array((0 until Rows).map { i =>
      struct(lit(i.toLong).as("r"), (PortableHash.affine(h, i) % Width).as("b"))
    }: _*))
  }

  /** [[cmsSketch]] built from the composable per-token tags — the
    * equivalence spec's reference side. */
  def cmsSketchComposable(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(cmsEntries(col("tok")).as("e"))
      .select(col("e.r").as("r"), col("e.b").as("b"))
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))

  /** Saturation point of the quantile-histogram token count: 55,108 is
    * the largest value whose 4th power fits int64, so longer documents
    * land in the top bucket instead of silently wrapping (Spark) or
    * raising (DuckDB). */
  val QhistMaxN = 55108L

  /** Quarter-bit quantile-histogram bucket of a token-count column:
    * length(bin(n⁴)) ≈ 4·log₂ n — consecutive buckets a factor
    * 2^(1/4) ≈ 1.19 apart, so the ≤ ~128-cell histogram is a ≤ 19 %
    * relative-error quantile summary at ANY corpus size. `n` saturates
    * at [[QhistMaxN]]. */
  def qhistBucket(n: Column): Column = {
    val m = least(n, lit(QhistMaxN))
    length(bin(m * m * m * m)).cast("long")
  }

  /** The quantile histogram of a (doc_id, text) frame: map-only bucket
    * tag + ONE map-side-combined aggregation whose key space is the
    * cells. Mergeable by cell-wise addition (per-partition/per-hour
    * sketches sum exactly — `corpus_qhist_merge` is the oracle-graded
    * law) and streamable: on a stream the ≤ ~128 cells ARE the
    * aggregation state at any ingest volume (StreamingSpec pins the
    * drained stream equal to the batch histogram). */
  def qhistSketch(docs: DataFrame): DataFrame =
    docs
      .select(qhistBucket(size(TextAnalysis.tokens(col("text"))).cast("long"))
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-document sparse partial sketch
    * ([[graft.functions.TextHashFunctions.CmsCells]]) — the
    * intermediate form between the per-token tags and the full
    * aggregate, kept for consumers that need per-document cell counts. */
  def cmsSketchPerDoc(docs: DataFrame): DataFrame =
    docs
      .select(explode(graft.functions.TextHashFunctions.cmsCells(
        TextAnalysis.tokens(col("text")), Rows, Width)).as("e"))
      .select(col("e.r").as("r"), col("e.b").as("b"), col("e.c").as("pc"))
      .groupBy(col("r"), col("b"))
      .agg(sum(col("pc")).as("c"))

  /** The full sketch of a (doc_id, text) frame: ONE typed imperative
    * aggregation ([[graft.functions.SketchAggregates.CmsSketchAgg]])
    * whose buffer IS the dense Rows×[[Width]] cell table — one
    * compiled update per DOCUMENT (hash60 once per occurrence),
    * map-side combined per partition, merged cell-wise; the sparse
    * (r, b, c) frame is recovered by posexplode + zero-drop on the
    * single 1,024-entry result row. No per-token or per-cell rows ever
    * flow through a hash aggregate. Works identically on a batch frame
    * and a streaming frame — on a stream the serialized buffer IS the
    * aggregation state, so state size is Rows×Width regardless of
    * ingest volume. */
  def cmsSketch(docs: DataFrame): DataFrame =
    docs
      .agg(graft.functions.SketchAggregates.cmsSketchAgg(
        TextAnalysis.tokens(col("text")), Rows, Width).as("cells"))
      .select(posexplode(col("cells")).as(Seq("pos", "c")))
      .filter(col("c") =!= 0L)
      .select((col("pos") - pmod(col("pos"), lit(Width))).cast("long")
          .divide(lit(Width)).cast("long").as("r"),
        pmod(col("pos"), lit(Width)).cast("long").as("b"),
        col("c"))

  // ---------------------------------------------------------------------
  // HyperLogLog — the CARDINALITY member of the sketch family (CMS =
  // frequencies, qhist = quantiles, HLL = distinct counts). Registers
  // are MAX-merged (idempotent), so duplicates are free by construction
  // and no distinct shuffle exists anywhere: the constant-size register
  // table is the only state at any corpus size, and per-partition /
  // per-hour / per-cohort sketches merge by register-wise max — the law
  // `corpus_hll_merge` grades. Deterministic (portable MD5 hash, integer
  // max) — the register table replays bit-for-bit in the DuckDB oracle.
  // ---------------------------------------------------------------------

  /** HLL registers: 256 (8 bucket bits over the 60-bit portable hash).
    * Standard error ≈ 1.04/√m ≈ 6.5 %. */
  val HllM = 256

  /** log2([[HllM]]) — the bucket-bit count. */
  val HllBits = 8

  /** Max register value: the rank field has 60 - [[HllBits]] = 52 bits,
    * so ranks lie in [1, 53] (53 = the all-zero rank word). */
  val HllMaxRho: Int = 60 - HllBits + 1

  /** α_m · m² · 2^[[HllMaxRho]] — the harmonic estimator's numerator as
    * ONE double literal (embedded verbatim in both engines via the
    * shortest round-trip decimal, so the single IEEE division
    * numerator / S is bit-identical). α_m = 0.7213/(1 + 1.079/m), the
    * standard bias constant for m ≥ 128. */
  val HllAlphaNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM * math.pow(2.0, HllMaxRho)

  /** Register index of a pre-hashed token column: the low [[HllBits]]
    * bits. */
  def hllBucket(h: Column): Column = h.bitwiseAND(lit((HllM - 1).toLong))

  /** First-set-bit rank of the remaining 52 hash bits: bit-length via
    * the portable `length(bin(w))` staircase — rank = 53 - bitlen(w)
    * for w ≥ 1, and the all-zero word takes the field-width rank 53. */
  def hllRho(h: Column): Column = {
    val w = shiftright(h, HllBits)
    when(w === 0L, lit(HllMaxRho.toLong))
      .otherwise(lit(HllMaxRho.toLong) - length(bin(w)).cast("long"))
  }

  /** The word n-gram length the HLL rows sketch. The 3-gram SHINGLE
    * space — not the word vocabulary — is the cardinality that
    * actually needs a sketch: it grows combinatorially with the corpus
    * (the `text_novelty` Scaladoc's "no frequency table is joined
    * back" problem), while this fixture's word list is a few dozen
    * entries — deep in the small-range regime where the raw harmonic
    * estimator is known-biased and the row would grade nothing. */
  val HllShingleN = 3

  /** The sparse register table (bucket, r) over a (doc_id, text)
    * frame's distinct [[HllShingleN]]-gram shingles: ONE typed
    * imperative aggregation
    * ([[graft.functions.SketchAggregates.HllSketchAgg]] — hash once
    * per occurrence, register-wise max, map-side combined; the buffer
    * IS the m-cell state on a stream), untouched registers dropped on
    * recovery. */
  def hllRegisters(docs: DataFrame): DataFrame =
    docs
      .agg(graft.functions.SketchAggregates.hllShingleSketchAgg(
        TextAnalysis.tokens(col("text")), HllShingleN, HllM).as("regs"))
      .select(posexplode(col("regs")).as(Seq("bucket", "r")))
      .filter(col("r") =!= 0L)
      .select(col("bucket").cast("long").as("bucket"), col("r"))

  /** [[hllRegisters]] from composable built-ins (explode + hash60 +
    * groupBy max) — the aggregate's semantic reference, spec-pinned
    * bit-identical; also the shape the oracle SQL replays. */
  def hllRegistersComposable(docs: DataFrame): DataFrame = {
    val h = graft.functions.PortableHash.hash60(col("sh"))
    docs
      .select(explode(Dedup.shingles(col("text"), HllShingleN)).as("sh"))
      .select(hllBucket(h).as("bucket"), hllRho(h).as("rho"))
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("r"))
  }

  /** The raw harmonic-mean estimate served from a sparse register
    * aggregation's (n_present, s_present) pair, where s_present =
    * Σ 2^(53 - r) over present registers: absent registers contribute
    * 2^53 each, the scaled sum S stays exact int64 (≤ m·2^53 = 2^61),
    * and the estimate is the single IEEE division
    * [[HllAlphaNum]] / S — engine-identical by construction. (The
    * small-range linear-counting correction is deliberately NOT
    * applied: ln() is not bit-portable across engines; production
    * would branch on est < 2.5m, and the graded fixture sits far
    * above that regime.) */
  def hllEstimate(nPresent: Column, sPresent: Column): Column =
    lit(HllAlphaNum) /
      (sPresent + (lit(HllM.toLong) - nPresent) * lit(1L << HllMaxRho))
        .cast("double")

  /** 2^(53 - r) — one present register's scaled harmonic term. The
    * functions-API `shiftleft` only takes a literal shift, so this
    * bridges the column-shift `ShiftLeft` expression directly (exact
    * int64 — no float pow anywhere). */
  def hllTerm(r: Column): Column = {
    val B = org.apache.spark.sql.graft.CatalystBridge
    B.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      B.expression(lit(1L)),
      B.expression((lit(HllMaxRho.toLong) - r).cast("int"))))
  }

  // ---------------------------------------------------------------------
  // K-minimum-values — the second cardinality sketch, kept beside HLL
  // because its state is a SAMPLE of the distinct hash space rather
  // than a lossy projection: the k smallest distinct hash60 values.
  // That buys direct set-overlap estimation (the fraction of the
  // merged sketch present in both operand sketches IS a Jaccard
  // estimator, all-integer — `corpus_kmv_jaccard`), where HLL
  // intersection needs inclusion–exclusion whose error is relative to
  // the UNION (useless for small overlaps — exactly the
  // decontamination question "how much of the benchmark leaked into
  // my corpus"). Merge = union-then-trim (`corpus_kmv_merge`);
  // duplicates are free (set semantics). Deterministic, so the full
  // value list replays bit-for-bit in the DuckDB oracle.
  // ---------------------------------------------------------------------

  /** KMV sketch size. Relative standard error of the order-statistic
    * cardinality estimate ≈ 1/√(k−2) ≈ 6.3 % — deliberately matched to
    * [[HllM]]'s ±6.5 % so `corpus_kmv_estimate` and `corpus_hll_card`
    * grade comparable sketches, at 8× the state (256 int64 values vs
    * 256 registers ≤ 6 bits each would pack). The Jaccard estimator's
    * error is ±√(J(1−J)/k) ≈ ±3 pp at J = 0.5. */
  val KmvK = 256

  /** The (rk, h) frame of the corpus sketch — the k smallest distinct
    * hash60 values over the [[HllShingleN]]-gram shingle space,
    * rank-ascending: ONE typed imperative aggregation
    * ([[graft.functions.SketchAggregates.KmvSketchAgg]] — the buffer
    * is the value set, map-side combined, union-merged), positions
    * recovered by posexplode. No distinct shuffle and no global sort
    * exist anywhere: every partition's partial is already ≤ k values. */
  def kmvMins(docs: DataFrame): DataFrame =
    docs
      .agg(graft.functions.SketchAggregates.kmvShingleSketchAgg(
        TextAnalysis.tokens(col("text")), HllShingleN, KmvK).as("mins"))
      .select(posexplode(col("mins")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rk"), col("h"))

  /** [[kmvMins]] from composable built-ins (explode + hash60 +
    * distinct + ascending take-k) — the aggregate's semantic
    * reference, spec-pinned bit-identical; also the shape the oracle
    * SQL replays. The `limit` after an ascending sort plans as
    * TakeOrderedAndProject (per-partition top-k, merged) — correct at
    * any scale, but still pays the distinct shuffle the aggregate
    * form never does. */
  def kmvMinsComposable(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(explode(Dedup.shingles(col("text"), HllShingleN)).as("sh"))
      .select(graft.functions.PortableHash.hash60(col("sh")).as("h"))
      .distinct()
      .orderBy(col("h").asc)
      .limit(KmvK)
      // single-partition window over ≤ KmvK rows (the sketch minima,
      // already LIMIT-cut) — Spark's "WindowExec: No Partition
      // Defined" warning here is expected and safe, never data-sized
      .withColumn("rk",
        row_number().over(Window.orderBy(col("h").asc)).cast("long"))
      .select(col("rk"), col("h"))
  }

  /** Default geometry of the decontamination monitor: k = 1,024 minima
    * (8 KB per split sketch) over the 8-GRAM shingle space — long
    * n-grams are the contamination signal (shared 8-grams mean copied
    * passages; 3-grams only measure vocabulary sharing). */
  val DecontamK = 1024
  val DecontamShingleN = 8

  /** Sketch-gated decontamination monitor — the ONE kernel behind the
    * batch `curate_kmv_decontam` row AND its streaming twin (the
    * serve-twin doctrine: the two can never drift). Works on a batch OR
    * streaming (doc_id, text) frame: per-split (train / holdout by
    * [[HashSplit]], the batch manifest's split) KMV sketches of the
    * [[DecontamShingleN]]-gram shingle space are ONE conditional
    * two-sketch aggregation — on a stream the two ≤ k·8-byte buffers
    * ARE the aggregation state (constant regardless of ingest volume,
    * the [[hllRegisters]]/[[cmsSketch]] doctrine), duplicates and
    * at-least-once re-delivery are free (set semantics), and every
    * micro-batch emits the refreshed leak row in update/complete mode.
    * Emits (k_m, overlap, jac_est_bp, est_inter, needs_scan):
    * `jac_est_bp` is the merged-sketch Jaccard estimate in basis
    * points, `est_inter` the intersection-cardinality estimate J·Û
    * (exact-operand IEEE ops in pinned order — the full-sketch
    * order-statistic union estimate, the regime the fixture and any
    * 100 TB corpus sit in), and `needs_scan` the operational bit that
    * gates the expensive exact cross-shard scan, flagged at ≥ 50 bp. */
  def kmvDecontam(docs: DataFrame, k: Int = DecontamK,
      n: Int = DecontamShingleN): DataFrame = {
    val two60 = math.pow(2.0, 60)
    // fused gram mode (r17): the aggregate hashes the n-grams straight
    // off the token array — no per-document shingle-string frame
    val t = docs.select(HashSplit.isTrain(col("doc_id")).as("is_train"),
      TextAnalysis.tokens(col("text")).as("tk"))
    val merged = slice(array_sort(array_distinct(
      concat(col("a"), col("b")))), 1, k)
    t.agg(
        graft.functions.SketchAggregates.kmvShingleSketchAgg(
          when(col("is_train"), col("tk")), n, k).as("a"),
        graft.functions.SketchAggregates.kmvShingleSketchAgg(
          when(!col("is_train"), col("tk")), n, k).as("b"))
      .select(size(merged).cast("long").as("k_m"),
        size(array_intersect(array_intersect(merged, col("a")),
          col("b"))).cast("long").as("overlap"),
        element_at(merged, -1).as("h_k"))
      .select(col("k_m"), col("overlap"),
        expr("overlap * 10000 DIV k_m").as("jac_est_bp"),
        (col("overlap").cast("double") *
          ((col("k_m") - 1).cast("double") * lit(two60)
            / col("h_k").cast("double"))
          / col("k_m").cast("double")).as("est_inter"))
      .withColumn("needs_scan",
        when(col("jac_est_bp") >= 50, 1L).otherwise(0L))
  }

  /** The order-statistic cardinality estimate: when the sketch is FULL
    * (kFilled = [[KmvK]]), (k−1) · 2⁶⁰ / h₍ₖ₎ — the k-th smallest of N
    * uniform draws on [0, 2⁶⁰) sits near k/N of the range; both
    * operands are exactly representable doubles ((k−1)·2⁶⁰ has a
    * 9-bit mantissa for k = 256), so the single IEEE division is
    * engine-identical. When the sketch is UNDERFILLED (kFilled < k,
    * i.e. the distinct count is below the sketch size) the sketch
    * holds EVERY distinct hash and the exact answer is kFilled itself
    * — the order-statistic numerator (k−1)·2⁶⁰ would badly
    * overestimate there, so the estimator branches instead of relying
    * on callers to know the full-sketch precondition. */
  def kmvEstimate(kFilled: Column, hK: Column): Column =
    when(kFilled < KmvK, kFilled.cast("double"))
      .otherwise(
        lit((KmvK - 1).toDouble * math.pow(2.0, 60)) / hK.cast("double"))
}
