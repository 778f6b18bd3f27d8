package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.{HashSplit, TextAnalysis}

/** Composed streaming corpus intake — the streaming counterpart of the
  * batch `curate_recipe` composition proof: TWO stateful operators
  * chained in ONE streaming query.
  *
  *   raw docs → exact-dedup gate ([[StreamingDedup]],
  *   `dropDuplicatesWithinWatermark` — state bounded by the watermark
  *   horizon) → token count (map-only) → context-window chunk packing
  *   ([[StreamingPack]], one long of state per source).
  *
  * The load-bearing composition property: a re-crawled duplicate is
  * dropped BEFORE the packer, so it does not advance its source's token
  * stream — dedup-then-pack and pack-then-dedup produce different
  * corpora, and only the former matches what the batch recipe
  * (dedup → pack over distinct docs) computes. The dedup gate passes
  * every input column through, so no stream-stream self-join (and its
  * unbounded join state) is needed to recover `source` after the gate.
  *
  * Spark executes both stateful operators in the same micro-batch
  * pipeline (multiple stateful operators in append mode); the spec pins
  * the end-to-end semantics across batches.
  */
object StreamingIntake {

  /** `docs` must have (source: string, doc_id: long, text: string,
    * `tsCol`: timestamp).
    *
    * Shuffle discipline (the r13 headroom fix): everything the pipeline
    * needs past the gate — the dedup digest and the token count — is
    * computed in ONE map-side projection and the text payload is
    * DROPPED before the digest-keyed shuffle, so both stateful
    * exchanges carry ~60-byte scalar rows instead of the document
    * bytes. Values are identical by construction (the digest and
    * tokenCount are pure per-row functions of the text), so the
    * composition spec's pins are unchanged; what changes is that at
    * 100 TB the intake's shuffle volume is manifest-sized, not
    * corpus-sized. */
  def intakeStream(docs: DataFrame, tsCol: String, delay: String,
      ctx: Long): Dataset[StreamingPack.Placement] =
    StreamingPack.packStream(
      StreamingDedup.dedupStreamPreHashed(
        docs.select(col("source"), col("doc_id"), col(tsCol),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          md5(graft.operators.Dedup.normalize(col("text"))).as("text_hash")),
        tsCol, delay),
      ctx)

  /** Per-source quality-admission cutoffs for [[recipeStream]] — the
    * batch-side half of the streaming recipe. The batch quality gate
    * (`curate_quality_gate`) admits the per-source top NTILE(4) quartile
    * ordered by (quality desc, doc_id); because doc_id makes that order
    * total, quartile membership is EXACTLY equivalent to comparing
    * against the boundary row's (quality, doc_id) key — so the gate
    * compiles to one tiny (source, qcut, dcut) frame plus a stateless
    * broadcast filter on the stream. This is the documented 100 TB
    * shape of the quality gate (cutoffs from a batch corpus scan or
    * sample, map-only admission) made exact for the spec's equality pin.
    *
    * `docs` must have (source, doc_id, text). */
  def qualityCutoffs(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs
      .select(col("source"), col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("qt", ntile(4).over(w))
      .filter(col("qt") === 1)
      // boundary = the LAST admitted row in (quality desc, doc_id asc)
      // order = max of the order-isomorphic (-quality, doc_id) struct
      .groupBy(col("source"))
      .agg(max(struct((-col("quality")).as("nq"), col("doc_id").as("d")))
        .as("b"))
      .select(col("source"), (-col("b.nq")).as("qcut"), col("b.d").as("dcut"))
  }

  /** Streaming form of the curation recipe: quality gate (STATELESS —
    * broadcast cutoffs from [[qualityCutoffs]], map-side filter) →
    * exact-dedup gate ([[StreamingDedup]], the ONE stateful stage,
    * watermark-bounded) → split tag (map-only hash arithmetic, identical
    * buckets to the batch `curate_split`). Emits the admitted documents
    * as (source, doc_id, n_tokens, split).
    *
    * vs the batch `curate_recipe` capstone: the batch decontamination
    * stage drops near-duplicates via the MinHash pair graph (needs the
    * whole corpus — inherently batch); the streaming recipe's dedup is
    * the exact-digest gate, the ingest-time half of the same policy.
    * The spec pins this DAG equal to its batch replay (gate →
    * keep-first-per-digest → split) on a replayed fixture slice. */
  def recipeStream(docs: DataFrame, cutoffs: DataFrame, tsCol: String,
      delay: String): DataFrame = {
    // same shuffle discipline as [[pipelineStream]] stage 0: quality,
    // token count and the dedup digest come from one map-side
    // projection and the payload never reaches the digest shuffle
    val gated = docs
      .select(col("source"), col("doc_id"), col(tsCol),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(graft.operators.Dedup.normalize(col("text"))).as("text_hash"))
      .join(broadcast(cutoffs), Seq("source"))
      .filter(col("quality") > col("qcut") ||
        (col("quality") === col("qcut") && col("doc_id") <= col("dcut")))
    val admitted = StreamingDedup.dedupStreamPreHashed(gated, tsCol, delay)
    admitted.select(col("source"), col("doc_id"), col("n_tokens"),
      HashSplit.label(col("doc_id")).as("split"))
  }

  case class PipeDoc(source: String, doc_id: Long, n_tokens: Long, w: Long)
  case class PipeState(cumWeight: Long)
  case class Admit(source: String, doc_id: Long, n_tokens: Long,
    split: String)

  /** Streaming form of the FULL `curate_pipeline` capstone — the
    * admission service a curation pipeline runs at ingest, with every
    * trained artifact arriving as broadcast metadata (the
    * [[StreamingIndex]] doctrine) and exactly TWO stateful stages:
    *
    *   1. exact-dedup gate FIRST ([[StreamingDedup]], watermark-bounded
    *      digest state) — order matters: the batch capstone elects
    *      keepers before gating, so a duplicate of a gate-failing
    *      keeper must die at the dedup stage, not sneak past a gate
    *      the keeper failed;
    *   2. quality admission — STATELESS broadcast (source, qcut, dcut)
    *      cutoffs from [[qualityCutoffs]] over the batch keepers;
    *   3. CCNet LM admission — STATELESS, the full ratio gate: BOTH
    *      trained 65,536-entry grids (target + background) folded in
    *      as ArrayType literals, admission on the int64
    *      cross-multiplied target-vs-background ratio;
    *   4. SemDeDup drop — STATELESS broadcast anti-join against the
    *      batch-trained semantic drop list (left_outer + null filter:
    *      documents without a vector pass through);
    *   5. DSIR resampling — the second stateful stage, with a
    *      parallelism knob: `resampleShards` independent systematic
    *      samplers keyed by a hash shard of the document id, one long
    *      of running importance EACH (the [[StreamingSample]] shape,
    *      stratified). `resampleShards = 1` is the EXACT global
    *      sampler (within-batch rows re-sorted by the batch capstone's
    *      (bucket, hash, id) resample order, so a single-batch replay
    *      reproduces the batch manifest exactly — the spec's equality
    *      pin); `resampleShards > 1` is the scale path — ingest
    *      throughput scales with the shuffle width instead of
    *      funnelling every document through one state group, at the
    *      cost of up to one un-crossed step remainder PER shard, so
    *      size shards such that each stratum's weight ≫ `step`
    *      (shards ≲ expected_picks; the sharded spec pins per-shard
    *      equality against a stratified batch replay);
    *   6. split tag — map-only hash arithmetic, identical buckets to
    *      the batch manifest.
    *
    * `docs`: (source, doc_id, lang, text, `tsCol`); `lmTarget` /
    * `lmBackground`: the two 65,536-entry LM grids of the CCNet ratio
    * gate; `lmTheta`: the CALIBRATED order-statistic threshold
    * ([[graft.queries.TextQueries.lmCalibTheta]] — a trained scalar
    * shipped like the grids; admit iff n = 0 or the fixed-point ratio
    * key (Q·(lp_t − lp_bg) + Off·Q·n) div n ≥ theta, same arithmetic
    * as the batch capstone's stage 3); `dsirWeights`: the 64-entry
    * DSIR table. */
  def pipelineStream(docs: DataFrame, cutoffs: DataFrame,
      semDrops: DataFrame, lmTarget: Seq[Long], lmBackground: Seq[Long],
      lmTheta: Long,
      dsirWeights: Seq[Long], step: Long, tsCol: String,
      delay: String, resampleShards: Int = 1): Dataset[Admit] = {
    require(lmTarget.length == 65536,
      s"target LM grid must have 65,536 entries, got ${lmTarget.length}")
    require(lmBackground.length == 65536,
      s"background LM grid must have 65,536 entries, got ${lmBackground.length}")
    require(dsirWeights.length == 64,
      s"DSIR weight table must have 64 buckets, got ${dsirWeights.length}")
    require(resampleShards >= 1,
      s"resampleShards must be >= 1, got $resampleShards")
    val spark = docs.sparkSession
    import spark.implicits._
    // stage 0 (shuffle/compute discipline, the r13 headroom fix): the
    // CHEAP per-document scalars every early gate reads — the dedup
    // digest, the quality score, the token/bigram counts — come from
    // ONE map-side projection whose normalize/tokenize subtrees codegen
    // CSE shares (they previously re-ran per stage). The text column
    // itself must survive into the dedup gate: dedup-first semantics
    // are load-bearing (a duplicate of a gate-failing keeper dies HERE,
    // and pre-scoring the expensive gates would pay the LM folds on the
    // 3/4 of rows the quality quartile drops), so the one exchange that
    // carries the payload is the digest shuffle — everything after the
    // quality gate is scored once and the resampler shuffle is
    // payload-free scalars.
    val toks0 = split(graft.operators.Dedup.normalize(col("text")), " ")
    val scored0 = docs.select(col("source"), col("doc_id"), col(tsCol),
      col("text"),
      md5(graft.operators.Dedup.normalize(col("text"))).as("text_hash"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      size(toks0).cast("long").as("n_tokens"),
      // clamp at 0 like the batch gates (TextQueries): a zero-token doc
      // would otherwise read n_bigrams = -1, miss the n_bigrams === 0
      // pass-through below, and divide the calibrated key by a negative
      // divisor — flipping the admission the batch capstone makes
      greatest(size(toks0) - 1, lit(0)).cast("long").as("n_bigrams"))
    // stage 1: exact-dedup gate (stateful, watermark-bounded) on the
    // precomputed digest
    val deduped = StreamingDedup.dedupStreamPreHashed(scored0, tsCol, delay)
    // stage 2: quality admission against broadcast cutoffs. LEFT join +
    // assert: a document whose source has no trained cutoff row (a new
    // source appearing at serving time) must FAIL the batch, not be
    // silently dropped — the operator can't know the right quartile
    // boundary for a source the training scan never saw, and a silent
    // drop channel here would be invisible data loss at ingest.
    val cutoffPresent = assert_true(col("qcut").isNotNull,
      concat(lit("pipelineStream: source '"), col("source"),
        lit("' has no trained quality cutoff — retrain qualityCutoffs " +
          "over a corpus that includes it")))
    val gated = deduped
      .join(broadcast(cutoffs), Seq("source"), "left")
      .filter(cutoffPresent.isNull &&
        (col("quality") > col("qcut") ||
          (col("quality") === col("qcut") && col("doc_id") <= col("dcut"))))
    // stages 3+5a in ONE post-quality projection: the expensive scores
    // (both LM folds AND the DSIR importance) come from a single shared
    // tokenization of the quality survivors, and the payload is DROPPED
    // here — the previous shape re-tokenized the text four times across
    // three operators (two LM folds, tokenCount, hashedShingles), each
    // outside the others' codegen CSE scope. The two LM grids fold in
    // ONE token-hash pass (lm_multi_score_bits — each fold previously
    // re-MD5'd every token).
    val glit = typedlit(IndexedSeq(
      lmTarget.toIndexedSeq, lmBackground.toIndexedSeq))
    val rl = array(dsirWeights.map(lit(_)): _*)
    val toks = split(graft.operators.Dedup.normalize(col("text")), " ")
    val scored = gated.select(col("source"), col("doc_id"),
      col("n_tokens"), col("n_bigrams"),
      graft.functions.TextHashFunctions.lmMultiScoreBits(toks, glit)
        .as("lps"),
      graft.functions.TextHashFunctions.weightedBucketSum(
        graft.functions.TextHashFunctions.hashedShingles60(toks, 2), rl)
        .as("w"))
    // stage 3: CCNet ratio admission on the CALIBRATED threshold —
    // the batch capstone's exact int64 key arithmetic ((Q, Off) read
    // from the one shared definition), theta a trained plan literal
    val (calQ, calOff) = graft.queries.TextQueries.lmCalibScale
    val lmPassed = scored
      .withColumn("__lmkey_num",
        lit(calQ) * (element_at(col("lps"), 1) - element_at(col("lps"), 2)) +
          lit(calOff * calQ) * col("n_bigrams"))
      .filter(col("n_bigrams") === 0L ||
        expr("__lmkey_num div n_bigrams") >= lit(lmTheta))
      .drop("__lmkey_num")
    // stage 4: semantic drop list (broadcast; missing vector = pass)
    val cleaned = lmPassed
      .join(broadcast(semDrops.select(col("vec_id").as("doc_id"),
        lit(1L).as("__semdrop"))), Seq("doc_id"), "left_outer")
      .filter(col("__semdrop").isNull)
    // stage 5: systematic resampling on the precomputed DSIR importance,
    // sharded by `resampleShards` (see the scaladoc trade; one long of
    // running weight per shard). shards=1 keeps the batch capstone's
    // exact global phase — its within-batch sort is then the capstone's
    // full (bucket, hash, id) order; shards>1 stratify it, each shard
    // crossing its own phase in the same within-shard order.
    val weighted = cleaned.select(col("source"), col("doc_id"),
        col("n_tokens"), col("w"))
      .as[PipeDoc]
    val picked = resampleStream(weighted, step, resampleShards)
    // stage 6: split tag (the batch manifest's HashSplit)
    picked.toDF().select(col("source"), col("doc_id"), col("n_tokens"),
        HashSplit.label(col("doc_id")).as("split"))
      .as[Admit]
  }

  /** The systematic-PPS resampler behind [[pipelineStream]] stage 5,
    * factored out so the shard semantics are testable on their own:
    * `shards` independent state groups keyed by the document's DSIR
    * hash mod `shards`, each keeping ONE long of running weight and
    * admitting at its own step crossings; within every micro-batch
    * each group walks its rows in the batch capstone's (bucket, hash,
    * id) resample order. shards=1 ≡ the capstone's exact global phase
    * on a one-batch replay; shards=k partitions the document set by
    * hash, so the k-sharded pick set is EXACTLY the union of the
    * global sampler run on each hash-slice separately (the spec's
    * shard-decomposition pin). */
  private[graft] def resampleStream(weighted: Dataset[PipeDoc], step: Long,
      shards: Int): Dataset[PipeDoc] = {
    import weighted.sparkSession.implicits._
    def ord(id: Long): Long = PortableHash.seedLong(s"$id|dsir")
    weighted
      .groupByKey(d => ord(d.doc_id) % shards)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_: Long, batch: Iterator[PipeDoc],
            state: org.apache.spark.sql.streaming.GroupState[PipeState]) =>
          var cum = state.getOption.map(_.cumWeight).getOrElse(0L)
          val picks = batch.toSeq
            .sortBy(d => (ord(d.doc_id) % 64, ord(d.doc_id), d.doc_id))
            .flatMap { d =>
              val before = cum
              cum += d.w
              if (cum / step > before / step) Some(d) else None
            }
          state.update(PipeState(cum))
          picks.iterator
      }
  }
}
