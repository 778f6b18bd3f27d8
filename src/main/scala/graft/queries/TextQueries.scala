package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.operators.{Similarity, Sketch, TextAnalysis}

/** Text-analysis query surface over the `documents` fixture: token
  * counting, quality scoring, language identification, fingerprinting.
  * All map-only column expressions — at 100 TB these cost one pass over
  * a text-pruned parquet scan, no shuffle.
  */
object TextQueries {
  import OracleSql._

  private def stopList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private val stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as")

  /** DuckDB twin of [[TextAnalysis.qualityScore]]; expects `text` and a
    * tokenized `w` column in scope. Shared by `text_quality`,
    * `curate_quality_gate`, and the `curate_recipe` capstone so the
    * oracles can never drift apart. */
  private[queries] def qualitySql: String =
    s"""round((
       |    least(len(w) / 20.0, 1.0)
       |    + greatest(1.0 - ((length(text) - length(translate(text, '.,!?;:', '')))
       |        / greatest(length(text)::DOUBLE, 1.0)) * 10.0, 0.0)
       |    + least((len(list_filter(w, t -> list_contains(${stopList(stopwords)}, t)))
       |        / greatest(len(w)::DOUBLE, 1.0)) * 4.0, 1.0)
       |  ) / 3.0, 6)""".stripMargin

  /** Each source's top quality quartile of `docs`: rows (source, doc_id,
    * `cols`..., quality, qt) with qt = 1 of NTILE(4) over the
    * deterministic (quality DESC, doc_id) order — ties broken by id, so
    * the admitted set is replay-identical. Shared by
    * `curate_quality_gate` and the curation capstones. */
  private[queries] def topQualityQuartile(docs: DataFrame,
      cols: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select(Seq(col("source"), col("doc_id")) ++ cols :+
        TextAnalysis.qualityScore(col("text")).as("quality"): _*)
      .withColumn("qt", ntile(4).over(w))
      .filter(col("qt") === 1)
  }

  /** Merge rounds for the BPE training/apply pair. */
  private val BpeSteps = 5

  /** Count-min sketch geometry — mirrors
    * [[graft.operators.Sketch.Rows]]/[[graft.operators.Sketch.Width]]
    * (the shared batch/streaming kernel). */
  private val CmsRows = graft.operators.Sketch.Rows
  private val CmsWidth = graft.operators.Sketch.Width

  /** The per-token (row, bucket) pairs of the sketch, as DuckDB UNION
    * ALL text over a CTE `from` carrying column `tok` (plus `carry`
    * extra columns threaded through, e.g. the token's exact count),
    * each line indented by `pad` — the oracle twin of
    * [[graft.operators.Sketch.cmsEntries]]. */
  private def cmsEntriesSql(carry: String = "", from: String = "src",
      pad: String = ""): String = {
    val h = graft.functions.PortableHash.hash60Sql("tok")
    (0 until CmsRows).map { i =>
      s"""${pad}SELECT $carry CAST($i AS BIGINT) AS r,
         |$pad  ${graft.functions.PortableHash.affineSql(h, i)} % $CmsWidth AS b
         |${pad}FROM $from""".stripMargin
    }.mkString(s"\n${pad}UNION ALL\n")
  }

  /** The iterated BPE trainer shared by `text_bpe_train` (reports the
    * elected merges) and `text_bpe_apply` (consumes the final
    * vocabulary): K rounds of elect-max-pair → greedy left-to-right
    * fold, each round's vocabulary localCheckpoint-ed. Returns (final
    * weighted vocabulary (c, syms), per-round winner frames (a, b, n)). */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    // chars via split + emptiness guard: Java's split(-1 limit) keeps a
    // trailing "" that DuckDB's split never produces
    val chars = filter(split(col("word"), ""), c => length(c) > 0)
    var words = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .select(col("c"), chars.as("syms"))
      .localCheckpoint()
    val zero = array().cast("array<string>")
    val wins = (1 to BpeSteps).map { _ =>
      val win = words.filter(size(col("syms")) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .localCheckpoint()
      val merged = aggregate(col("syms"), zero,
        (acc, sym) => when(size(acc) > 0 &&
            element_at(acc, lit(-1)) === col("a") && sym === col("b"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(col("a"), col("b")))))
          .otherwise(concat(acc, array(sym))))
      words = words.crossJoin(broadcast(win))
        .select(col("c"), merged.as("syms"))
        .localCheckpoint()
      win
    }
    (words, wins)
  }

  /** DuckDB CTE chain replaying [[bpeTrain]]: `w0` (char-split weighted
    * vocabulary), then per round `p$k` (adjacent pairs) → `g$k` (elected
    * merge) → `w$k` (the `list_reduce` greedy fold). */
  private def bpeCtes: String = {
    val rounds = (1 to BpeSteps).map { k =>
      s"""p$k AS (
         |  SELECT c, syms[i] AS a, syms[i+1] AS b
         |  FROM w${k - 1}, UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
         |  WHERE len(syms) >= 2),
         |g$k AS (
         |  SELECT a, b, CAST(SUM(c) AS BIGINT) AS n FROM p$k GROUP BY a, b
         |  ORDER BY n DESC, a, b LIMIT 1),
         |w$k AS (
         |  SELECT c, list_reduce(list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = g.a AND x[1] = g.b
         |                THEN acc[1:len(acc)-1] || [g.a || g.b]
         |                ELSE acc || x END) AS syms
         |  FROM w${k - 1}, g$k g)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS c, split(word, '') AS syms
       |  FROM (SELECT unnest(${tokens("text")}) AS word FROM documents)
       |  GROUP BY word),
       |$rounds""".stripMargin
  }

  /** Hashed-bigram LM family (the CCNet recipe: train a target-domain
    * language model, score every document, gate on in-distribution
    * perplexity). Token buckets per position — 256 keeps the bigram
    * grid at 65,536 rows (a broadcastable weight table) while leaving
    * enough resolution that target-language docs separate. */
  private val LmB = 256

  /** Probability scale of the LM weight staircase: the smoothed bigram
    * ratio x = (c12+1)·4096 div (c1+256) lives in [0, 4096] (c12 ≤ c1
    * by construction), so x⁴ ≤ 2⁴⁸ — no int64 overflow at ANY corpus
    * size — and `length(bin(x⁴))` ≈ 4·log₂x is a quarter-bit-granular
    * integer log of the conditional probability P(b₂|b₁): exact, log-
    * free, identical in both engines (the corpus_bm25 doctrine). */
  private val LmScale = 4096L

  /** Admission threshold of `curate_lm_gate`, in quarter-bits per
    * bigram: keep documents with mean LM score ≥ 105/4 = 26.25
    * quarter-bit units — cross-multiplied (4·lp ≥ 105·n) so the gate
    * is pure int64 arithmetic. At sf0.01 this keeps 94 % of the
    * target-language (en) slice and ~30-40 % of every other language —
    * the separation TextAnalysisSpec pins. */
  private val LmGateT4 = 105L

  /** Admission threshold of the RATIO gate (`curate_lm_ratio_gate`),
    * as the rational −13/10 quarter-bits per bigram of target-minus-
    * background log-probability: admit iff 10·(lp_t − lp_bg) ≥
    * −13·n_bigrams — pure int64 cross-multiplication. The background
    * LM scores every document higher in absolute terms (5× the
    * training mass concentrates the smoothed distribution on seen
    * bigrams), so the discriminating diff is negative everywhere and
    * the threshold sits between the en band (mean −4.5 q-bits/bigram
    * at sf0.01) and every other language's (−6.2 to −6.4): measured
    * admission 87 % en vs 8–12 % others — sharper than the
    * target-only gate's 94 % vs 30–40 %. */
  private val LmRatioNum = -13L
  private val LmRatioDen = 10L

  /** Ordered hashed-bigram codes of a text column: per-token 256-way
    * portable-hash buckets, consecutive pairs packed as b1·256+b2.
    * Occurrence-ordered (an LM counts occurrences, not the distinct
    * shingle SET dedup uses). Map-only. */
  private def lmBigrams(text: org.apache.spark.sql.Column) = {
    val bs = transform(TextAnalysis.tokens(text),
      t => pmod(graft.functions.PortableHash.hash60(t), lit(LmB.toLong)))
    zip_with(slice(bs, lit(1), size(bs) - 1), slice(bs, lit(2), size(bs) - 1),
      (a, b) => a * LmB + b)
  }

  /** The add-one-smoothed bigram ratio x = (c12+1)·LmScale div
    * (c1+LmB) over the SQL count expressions `c12`/`c1` — the grid
    * column [[wbits]] reads. */
  private def smoothedX(c12: String, c1: String) =
    expr(s"(($c12 + 1) * $LmScale) DIV ($c1 + $LmB)").as("x")

  /** A grid row's trained weight off its [[smoothedX]] column: the
    * quarter-bit conditional log-prob length(bin(x⁴)) (see [[LmScale]]).
    * Every trained grid — target, background, per class — derives its
    * wbits here; [[gridSql]] is the oracle twin. */
  private def wbits =
    length(bin(col("x") * col("x") * col("x") * col("x"))).cast("long")
      .as("wbits")

  /** Grid memoized per (session, sf) — trained once, every consumer
    * (train report, scorer, gate, streaming twin) reads the checkpoint
    * (the trained-centroid doctrine).
    *
    * r16: BOTH LM grids now derive from the ONE per-class bigram
    * training pass ([[nbGrid]]) instead of re-exploding the corpus —
    * the target grid is the nb grid's `lang = 'en'` slice verbatim
    * (same count keys, same `(c12+1)·S div (c1+B)` smoothing, same
    * wbits — the class-conditional arithmetic IS the slice's), and the
    * background grid's counts are the class counts SUMMED per code
    * (every document carries exactly one class, and the nb grid's
    * class × full-code-domain cross makes the sum total-complete),
    * re-smoothed with the identical formula. One corpus bigram
    * explosion per pass where three ran before; at 100 TB, one pass
    * with per-class partial counts instead of three full passes.
    * TextSpec/the oracle pin the values unchanged. */
  private def lmGrid(s: org.apache.spark.sql.SparkSession, d: String) = {
    val nb = nbGrid(s, d) // resolve before entering (no-nesting rule)
    FrameCache.memo(s, d, "lm_grid")(
      nb.filter(col("lang") === "en")
        .select(col("g"), col("c12"), col("c1"), col("wbits")))
  }

  /** The background grid (full corpus) — the nb grid's class-sum. */
  private def lmGridBg(s: org.apache.spark.sql.SparkSession, d: String) = {
    val nb = nbGrid(s, d)
    FrameCache.memo(s, d, "lm_grid_bg")(
      nb.groupBy(col("g"))
        .agg(sum(col("c12")).as("c12"), sum(col("c1")).as("c1"))
        .select(col("g"), col("c12"), col("c1"), smoothedX("c12", "c1"))
        .select(col("g"), col("c12"), col("c1"), wbits))
  }

  /** A trained grid collapsed to its code-ordered wbits array on a
    * 1-row frame — the broadcastable serving form. */
  private def gridArray(grid: org.apache.spark.sql.DataFrame,
      as: String): org.apache.spark.sql.DataFrame =
    grid
      .agg(sort_array(collect_list(struct(col("g"), col("wbits")))).as("ws"))
      .select(transform(col("ws"), x => x.getField("wbits")).as(as))

  /** The per-document LM score frame (doc_id, lang, n_bigrams,
    * lp_bits): the 65,536-entry wbits grid folds into ONE array on a
    * 1-row broadcast frame (512 KB — index metadata), and scoring is a
    * map-only fold per document. No shuffle touches the corpus after
    * the training counts — the DSIR serving shape. */
  private def lmScoreSpark(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val wl = gridArray(lmGrid(s, d), "wl")
    // scoring rides the native one-pass [[TextHashFunctions.LmScoreBits]]
    // (hash + grid lookup per token in compiled code) — bit-identical to
    // a composable bucket/zip_with/aggregate fold, which walks the
    // token array five times through interpreted lambdas
    // (TextHashFunctionsSpec pins the equivalence; n_bigrams =
    // max(|tokens| − 1, 0) ≡ the fold's |zip_with| length — the
    // greatest(·, 0) matches the oracle's len(gs), which is 0 (never
    // −1) for a zero-token document; with the negative ratio-gate
    // numerator an unclamped −1 flipped the lm verdict on empty docs)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .crossJoin(broadcast(wl))
      .select(col("doc_id"), col("lang"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.TextHashFunctions.lmScoreBits(col("toks"), col("wl"))
          .as("lp_bits"))
  }

  /** Per-document TARGET and BACKGROUND scores in one corpus pass —
    * the full CCNet discriminator's serving frame: both 65,536-entry
    * grids broadcast (two 512 KB arrays), both scores from the same
    * native one-pass fold over the same token array. The ratio (in
    * log space, the DIFFERENCE lp_t − lp_bg) is what separates
    * in-domain QUALITY from mere frequency: a boilerplate-heavy
    * document scores high under ANY corpus LM, so the target-only
    * gate partially restates language ID — the ratio cancels the
    * generic-probability term. */
  private def lmRatioScoreSpark(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // both trained grids ship as ONE plan literal and fold in ONE
    // token-hash pass (lm_multi_score_bits — the two-expression form
    // paid two full MD5 passes over the same token array; bit-identical
    // values, spec-pinned). This also drops the two 1-row grid
    // broadcasts the previous shape cross-joined in. The literal itself
    // is session-cached serving metadata (r17).
    val glit = lmRatioGridsLit(s, d)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.TextHashFunctions.lmMultiScoreBits(col("toks"), glit)
          .as("lps"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        element_at(col("lps"), 1).as("lp_t"),
        element_at(col("lps"), 2).as("lp_bg"))
  }

  /** Driver-side cache of the COLLECTED serving forms of the trained
    * text models — weight arrays, class metadata, the calibrated theta
    * — keyed (session, sfDir, kind). The [[graft.ingest.Tables]]
    * handle-cache doctrine applied to trained-model metadata: the
    * grids themselves are FrameCache memos (TRAINED per bench pass,
    * their compute itemized per pass), but every serving consumer —
    * ~10 registered gates/scorers plus the pipeline capstones plus the
    * stream section builders — re-COLLECTED the checkpointed 65,536-row
    * grid frames and re-converted them into megabyte plan literals per
    * call: a driver job plus a 65k-element Catalyst conversion per grid
    * per consumer, pure metadata extraction of a deterministic
    * artifact. Like the table-handle cache, deliberately NOT cleared by
    * FrameCache.clearAll (the values are a pure function of the
    * immutable fixture under sfDir; regenerating fixtures in place
    * requires a new session, as Tables already documents). */
  private val servingMeta =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String, String), AnyRef]

  private def servingMemo[T <: AnyRef](s: org.apache.spark.sql.SparkSession,
      d: String, kind: String)(build: => T): T = {
    servingMeta.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, d, kind)
    val existing = servingMeta.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val built = build
      val prev = servingMeta.putIfAbsent(key, built)
      if (prev != null) prev.asInstanceOf[T] else built
    }
  }

  /** The wbits grid as a 65,536-long array ordered by bigram code — the
    * trained metadata the streaming scorer folds into its plan as
    * literals ([[graft.streaming.StreamingScore]]). */
  private[graft] def lmWeightArray(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Long] =
    servingMemo(s, d, "lm_wl") {
      lmGrid(s, d).collect()
        .sortBy(_.getAs[Long]("g")).map(_.getAs[Long]("wbits")).toIndexedSeq
    }

  /** The BACKGROUND grid in the same serving form — the second literal
    * array the streaming ratio gate folds into its plan. */
  private[graft] def lmBgWeightArray(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Long] =
    servingMemo(s, d, "lm_bg_wl") {
      lmGridBg(s, d).collect()
        .sortBy(_.getAs[Long]("g")).map(_.getAs[Long]("wbits")).toIndexedSeq
    }

  /** The two ratio-gate grids as ONE cached literal Column — the
    * 131,072-element Catalyst conversion happens once per (session,
    * sf), not once per consuming plan (Literal expressions are
    * immutable; reuse across plans is safe). */
  private[queries] def lmRatioGridsLit(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Column =
    servingMemo(s, d, "lm_grids_lit") {
      typedlit(IndexedSeq(
        lmWeightArray(s, d).toIndexedSeq, lmBgWeightArray(s, d).toIndexedSeq))
    }

  /** The NB classifier metadata as one cached literal Column (classes ×
    * (lang, e4, 65,536-entry grid) — the heaviest literal on the
    * board, previously re-converted per consuming plan). */
  private[queries] def nbMetaLit(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.Column =
    servingMemo(s, d, "nb_meta_lit") {
      val meta = nbClassMeta(s, d)
      require(meta.size >= 2, "NB needs at least two classes")
      typedlit(meta.map { case (c, e4, wl) =>
        (c, e4, wl.toIndexedSeq) }.toIndexedSeq)
    }

  /** Build the shared LM grids ahead of the bench's query loop so their
    * training cost is itemized as FrameCache line items instead of
    * being absorbed by the alphabetically-first consumer. */
  private[graft] def prewarmShared(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    lmGrid(s, d)
    lmGridBg(s, d)
    nbGrid(s, d)
    // the lexical serving index (r16 memo) — built here so the bench
    // itemizes it as a shared frame instead of charging the first
    // BM25-family consumer
    lexIndex(s, d)
    // the calibrated-threshold training histogram (r17): its VALUE is
    // session-cached serving metadata, so each bench pass must rebuild
    // the underlying frame memo here to keep paying the training
    // compute per pass (itemized as the lm_calib_theta line)
    lmCalibThetaFrame(s, d)
    ()
  }

  /** Ratio-gate threshold as a rational (num, den): admit iff
    * den·(lp_t − lp_bg) ≥ num·n_bigrams. Package-visible so the
    * capstone, the streaming twin wiring, and the gate share one
    * constant pair. KEPT for history (`curate_lm_ratio_gate`): the
    * fixed rational does NOT transfer across corpus scale — r13
    * measured it saturating at sf0.1 (5,000/5,000 admitted, kappa
    * exactly 0 against the NB gate). New compositions should use the
    * CALIBRATED threshold ([[lmCalibTheta]]). */
  private[graft] def lmRatioThreshold: (Long, Long) = (LmRatioNum, LmRatioDen)

  /** Calibrated ratio-gate parameters. The gate's per-document score
    * is the fixed-point ratio key
    *   qk = (Q·(lp_t − lp_bg) + Off·Q·n_bigrams) div n_bigrams
    * — Q = 2²⁰ carries 20 fractional bits of the quarter-bits-per-
    * bigram ratio; the +Off·Q·n offset makes the numerator strictly
    * positive (per-bigram wbits ∈ [1, 49], so lp_t − lp_bg ≥ −48·n >
    * −Off·n), which makes Spark's truncating `div` and DuckDB's
    * flooring `//` agree (the curate_nb_bands doctrine). No overflow
    * at any corpus size: |lp_t − lp_bg| ≤ 49·n and n ≤ 2²² tokens per
    * document keeps the numerator under 2⁴⁹.
    *
    * The THRESHOLD is not a constant: it is the k-th smallest qk over
    * the scored target-language training slice, k = max(1, N div
    * RankDen) — an exact integer order statistic computed at train
    * time and shipped as a plan literal like the trained grids. By
    * construction the gate admits ≈ (1 − 1/RankDen) of the target
    * slice at ANY corpus scale — the r13 finding was that a fixed
    * rational saturates when 10× data shifts the score distribution;
    * an order statistic shifts with it. */
  private val CalibQ = 1L << 20
  private val CalibOff = 64L
  private val CalibRankDen = 10L

  /** The fixed-point ratio key as a SQL-text expression over columns
    * `lp_t`/`lp_bg`/`n_bigrams` — ONE text used verbatim by the Spark
    * plans (via expr) and echoed (with `//`) in the oracle, so the two
    * engines can never drift on the key arithmetic. */
  private def calibKeyExpr(div: String): String =
    s"(($CalibQ * (lp_t - lp_bg) + ${CalibOff * CalibQ} * n_bigrams) " +
      s"$div n_bigrams)"

  /** Train-time calibration: (theta, k, n_train) — theta the k-th
    * smallest ratio key over the en slice (n_bigrams > 0). Computed as
    * a qk-histogram + cumulative count (never a global sort of the
    * corpus: the histogram is distinct-key-sized, map-side combined),
    * memoized and checkpointed like every trained model. */
  private def lmCalibThetaFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // resolve the score frame's grid memos BEFORE entering our own
    // memo (FrameCache must not nest)
    val sc = lmRatioScoreSpark(s, d)
    FrameCache.memo(s, d, "lm_calib_theta") {
      import org.apache.spark.sql.expressions.Window
      val en = sc.filter(col("lang") === "en" && col("n_bigrams") > 0)
        .select(expr(calibKeyExpr("div")).as("qk"))
      val hist = en.groupBy(col("qk")).agg(count(lit(1)).as("c"))
      // single-partition window is SAFE here: rows = distinct ratio
      // keys of the training slice's histogram, not corpus rows (the
      // "WindowExec: No Partition Defined" warning is expected)
      val cw = Window.orderBy(col("qk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("c")).over(cw))
        .crossJoin(broadcast(en.agg(count(lit(1)).as("n_train"))))
        .withColumn("k", greatest(lit(1L),
          expr(s"n_train div $CalibRankDen")))
        .filter(col("cum") >= col("k"))
        .agg(min(col("qk")).as("theta"), max(col("k")).as("k"),
          max(col("n_train")).as("n_train"))
    }
  }

  /** The calibrated threshold, collected once per (session, sf) and
    * shipped into gate plans as a literal (the trained-grid serving
    * doctrine). */
  private[graft] def lmCalibTheta(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    servingMemo(s, d, "lm_calib_theta_v")(
      java.lang.Long.valueOf(
        lmCalibThetaFrame(s, d).collect()(0).getAs[Long]("theta")))
      .longValue()

  /** (Q, Off) of the calibrated key, package-visible so the streaming
    * capstone twin applies bit-identical gate arithmetic to the theta
    * it is handed (StreamingSpec pins the manifests equal). */
  private[graft] def lmCalibScale: (Long, Long) = (CalibQ, CalibOff)

  /** The calibrated admission predicate over a frame carrying
    * `lp_t`/`lp_bg`/`n_bigrams` columns: ratio key ≥ theta, with
    * zero-bigram documents admitted (no evidence → pass through, the
    * fixed gate's 0 ≥ 0 convention). */
  private def calibAdmit(theta: Long): org.apache.spark.sql.Column =
    col("n_bigrams") === 0L || expr(calibKeyExpr("div")) >= lit(theta)

  /** Oracle CTEs for the calibration: the qk slice (`ccq`) and the
    * 1-row threshold (`cth`) — appended after [[lmRatioCtes]]'s
    * `lmrsc`. The order statistic replays via row_number: the VALUE at
    * rank k is deterministic under ties (equal keys), and `//` floors
    * = `div` truncates because the offset keeps the numerator
    * positive. */
  private[queries] def calibThetaCtes: String =
    s"""ccq AS (SELECT ${calibKeyExpr("//")} AS qk
       |  FROM lmrsc WHERE lang = 'en' AND n_bigrams > 0),
       |cth AS (SELECT qk AS theta, greatest(1, nn // $CalibRankDen) AS k,
       |    nn AS n_train
       |  FROM (SELECT qk, row_number() OVER (ORDER BY qk) AS rn,
       |          count(*) OVER () AS nn FROM ccq)
       |  WHERE rn = greatest(1, nn // $CalibRankDen))""".stripMargin

  /** The calibrated gate's oracle predicate over `lmrsc`-shaped
    * columns (table alias `t`). */
  private[queries] def calibAdmitSql(t: String): String =
    s"($t.n_bigrams = 0 OR " +
      s"($CalibQ * ($t.lp_t - $t.lp_bg) + ${CalibOff * CalibQ} * " +
      s"$t.n_bigrams) // $t.n_bigrams >= (SELECT theta FROM cth))"

  /** Ids the CALIBRATED ratio gate admits — the scale-transferring
    * form of the LM stage for capstone composition. */
  private[queries] def lmCalibAdmittedIds(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val theta = lmCalibTheta(s, d)
    lmRatioScoreSpark(s, d).filter(calibAdmit(theta)).select(col("doc_id"))
  }

  /** A text gate's per-language admission manifest (lang, n_total,
    * n_kept): the per-document `score` frame grouped by lang, the
    * documents meeting `keep` counted — Spark and oracle in one call.
    * The oracle groups CTE `from` of `ctes`; `kept` is its n_kept column
    * text. */
  private def manifest(score: (SparkSession, String) => DataFrame,
      keep: (SparkSession, String) => Column)(
      ctes: String, from: String, kept: String): QueryDef =
    QueryDef(
      (s, d) => {
        val k = keep(s, d)
        score(s, d).groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"), count(when(k, 1)).as("n_kept"))
      },
      s"""WITH $ctes
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         |  $kept
         |FROM $from GROUP BY lang""".stripMargin)

  /** 2×2 gate-agreement contingency + Cohen's kappa over a (lm, nb)
    * 0/1-flag frame — ONE kernel for the fixed-threshold and
    * calibrated agreement rows, so the two audits can never drift on
    * the contingency arithmetic. Kappa is a single IEEE division of
    * two exact int64 polynomials in the cell counts, bit-identical in
    * the oracle. */
  private def agreementFromFlags(
      flags: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cnt = flags.agg(
      count(lit(1)).as("n_docs"),
      sum(col("lm") * col("nb")).as("both_keep"),
      sum(col("lm") * (lit(1L) - col("nb"))).as("lm_only"),
      sum((lit(1L) - col("lm")) * col("nb")).as("nb_only"),
      sum((lit(1L) - col("lm")) * (lit(1L) - col("nb"))).as("neither"))
    val agree = col("both_keep") + col("neither")
    val margins = (col("both_keep") + col("lm_only")) *
      (col("both_keep") + col("nb_only")) +
      (col("nb_only") + col("neither")) *
      (col("lm_only") + col("neither"))
    cnt.select(col("n_docs"),
      (col("both_keep") + col("lm_only")).as("lm_kept"),
      (col("both_keep") + col("nb_only")).as("nb_kept"),
      col("both_keep"), col("lm_only"), col("nb_only"), col("neither"),
      floor(lit(10000L) * agree / col("n_docs")).cast("long")
        .as("agree_bp"),
      ((col("n_docs") * agree - margins).cast("double") /
        (col("n_docs") * col("n_docs") - margins).cast("double"))
        .as("kappa"))
  }

  /** The oracle tail shared by both agreement rows: contingency cells
    * + kappa off a `gfl(lm, nb)` CTE the caller defines. */
  private def agreementTailSql: String =
    s""",gcnt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(lm * nb) AS BIGINT) AS both_keep,
       |    CAST(sum(lm * (1 - nb)) AS BIGINT) AS lm_only,
       |    CAST(sum((1 - lm) * nb) AS BIGINT) AS nb_only,
       |    CAST(sum((1 - lm) * (1 - nb)) AS BIGINT) AS neither
       |  FROM gfl)
       |SELECT n_docs,
       |  both_keep + lm_only AS lm_kept,
       |  both_keep + nb_only AS nb_kept,
       |  both_keep, lm_only, nb_only, neither,
       |  (10000 * (both_keep + neither)) // n_docs AS agree_bp,
       |  CAST(n_docs * (both_keep + neither)
       |      - ((both_keep + lm_only) * (both_keep + nb_only)
       |        + (nb_only + neither) * (lm_only + neither)) AS DOUBLE)
       |  / CAST(n_docs * n_docs
       |      - ((both_keep + lm_only) * (both_keep + nb_only)
       |        + (nb_only + neither) * (lm_only + neither)) AS DOUBLE)
       |    AS kappa
       |FROM gcnt""".stripMargin

  /** Ids admitted by the CALIBRATED ratio gate AND the NB classifier,
    * from ONE fused tokenize+MD5 pass ([[lmNbFusedFrame]]) — the
    * capstone `_cls` composition on the scale-transferring threshold. */
  private[queries] def lmNbFusedAdmittedIdsCalib(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val theta = lmCalibTheta(s, d)
    lmNbFusedFrame(s, d)
      .select(col("doc_id"), col("n_bigrams"),
        col("f.lp_t").as("lp_t"), col("f.lp_bg").as("lp_bg"),
        col("f.cls").as("cls"))
      .filter(calibAdmit(theta) && col("cls") === "en")
      .select(col("doc_id"))
  }

  /** [[LmScale]], package-visible so the streaming NB scorer centers
    * with exactly the batch side's probability scale. */
  private[graft] def lmProbScale: Long = LmScale

  /** Multinomial Naive Bayes over hashed-BIGRAM buckets — the trained
    * CLASSIFIER gate real curation recipes run beside the LM perplexity
    * gate (the fastText-classifier role in CCNet-style pipelines). One
    * add-one-smoothed conditional bigram grid PER CLASS (the [[wbits]]
    * smoothing restricted to each class's slice — per-
    * context normalization cancels the class-size smoothing bias that
    * makes unigram-bucket NB degenerate), class priors on the same
    * [[LmScale]] quarter-bit staircase, scoring = |classes| native
    * [[graft.functions.TextHashFunctions.LmScoreBits]] folds over ONE
    * token array, argmax in pure integer comparison. Classes = the
    * corpus languages; the grid is |classes|×65,536 rows — index
    * metadata at any corpus size. */
  private def nbGridPipeline(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val ex = docs.select(col("lang").as("cls"),
      explode(lmBigrams(col("text"))).as("g"))
    val c12 = ex.groupBy(col("cls"), col("g")).agg(count(lit(1)).as("c12"))
    // context counts DERIVED from the bigram counts (r17): every
    // occurrence of bigram g lands in context g div B, so c1(cls, b1)
    // = Σ c12 over that bucket — identical counts with no second
    // corpus explosion+aggregation (§2.3 aggregate before you shuffle;
    // the sum runs over the ≤ classes×65,536-row grid, not the corpus)
    val c1 = c12.groupBy(col("cls"), expr(s"g DIV $LmB").as("b1"))
      .agg(sum(col("c12")).as("c1"))
    c12.select(col("cls")).distinct()
      .crossJoin(broadcast(s.range(0, LmB.toLong * LmB).select(col("id").as("g"))))
      .withColumn("b1", expr(s"g DIV $LmB"))
      .join(c12, Seq("cls", "g"), "left")
      .join(c1, Seq("cls", "b1"), "left")
      .select(col("cls").as("lang"), col("g"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        smoothedX("coalesce(c12, 0L)", "coalesce(c1, 0L)"))
      .select(col("lang"), col("g"), col("c12"), col("c1"), wbits)
  }

  private def nbGrid(s: org.apache.spark.sql.SparkSession, d: String) =
    FrameCache.memo(s, d, "nb_grid")(nbGridPipeline(s, d))

  /** Driver-side class metadata off the trained grid — (lang, e4,
    * 65,536-entry wbits array ordered by bigram code) per class,
    * folded into serving plans as literals (the lmWeightArray
    * doctrine). `e4` is the class's own mean training score in
    * [[LmScale]]-scaled quarter-bits per bigram, computed FROM the
    * grid itself (Σ c12·wbits / Σ c12 — the training occurrences
    * re-scored by their trained weights, no extra corpus pass):
    * the centering constant that makes scores comparable ACROSS
    * classes. Raw likelihoods are not comparable — the majority
    * class's contexts are less diluted by add-one smoothing, so it
    * outscores every class on every document (measured: the uncentered
    * model predicts en for 100 % of the corpus; balanced downsampling
    * fixes the minority classes but guts the majority's coverage).
    * Centered score = LmScale·lp − n·e4 ≈ how much better this
    * document fits class c than class c's own training average — the
    * per-class offset cancels exactly, in exact int64. */
  private[graft] def nbClassMeta(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, Long, Seq[Long])] =
    servingMemo(s, d, "nb_meta") {
      nbGrid(s, d).collect()
        .groupBy(_.getAs[String]("lang")).toSeq.sortBy(_._1)
        .map { case (lang, rows) =>
          val wtot = rows.map(r =>
            r.getAs[Long]("c12") * r.getAs[Long]("wbits")).sum
          val ntot = rows.map(_.getAs[Long]("c12")).sum
          require(ntot > 0, s"NB class $lang has no training bigrams")
          (lang, LmScale * wtot / ntot,
            rows.sortBy(_.getAs[Long]("g")).map(_.getAs[Long]("wbits")).toSeq)
        }
    }

  /** The per-document NB prediction frame (doc_id, lang, n_bigrams,
    * pred_lang, nb_cbits): ONE native [[graft.functions
    * .TextHashFunctions.NbArgmaxBits]] pass over the token array —
    * every token occurrence is hashed once and all class grids fold
    * over the shared bucket sequence, argmax inline (the composable
    * |classes| × `lm_score_bits` + `greatest(struct)` form pays
    * |classes| full MD5 passes per document; bit-identical, pinned by
    * TextHashFunctionsSpec). The whole trained classifier ships as one
    * plan literal — map-only, no shuffle touches the corpus after
    * training (the DSIR/LM serving shape). */
  private def nbScoreSpark(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val metaLit = nbMetaLit(s, d)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.TextHashFunctions.nbArgmaxBits(
          col("toks"), metaLit, LmScale).as("best"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("best.cls").as("pred_lang"), col("best.s").as("nb_cbits"))
  }

  /** The fused-scorer frame (doc_id, n_bigrams, f struct(lp_t, lp_bg,
    * s, cls)) — ONE tokenize+MD5 pass carrying BOTH text gates' verdicts
    * ([[graft.functions.TextHashFunctions.LmNbFusedBits]]): each token
    * occurrence is MD5-hashed once and all 2+|classes| trained grids
    * fold over the shared bucket sequence, where the separate score
    * frames would each re-tokenize and re-hash the same documents. All
    * three trained models ship as plan literals; map-only; the fused
    * expression is spec-pinned against the separate folds. Unfiltered,
    * so consumers read the full 2×2 contingency, not just the
    * both-admitted corner. */
  private[queries] def lmNbFusedFrame(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val metaLit = nbMetaLit(s, d)
    val gridsLit = lmRatioGridsLit(s, d)
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.TextHashFunctions.lmNbFusedBits(
          col("toks"), gridsLit, metaLit, LmScale).as("f"))
  }

  /** NB oracle CTEs: per-class bigram counts, the trained grid
    * (`nbgrid`), per-(doc, class) scores, and the argmax prediction
    * frame (`nbscd`) — shared by the train report, the scorer, and the
    * gate so the three oracles can never drift apart. Argmax tie-break
    * is (score DESC, lang DESC), matching greatest(struct(s, lang)).
    * Reuses [[lmCtes]]'s `lmg`/`lmex` bigram fan-out (same hashing). */
  private def nbCtes: String = s"$lmCtes,\n$nbCtesBody"

  /** The nb* blocks alone (they read [[lmCtes]]'s `lmg`/`lmex` bigram
    * fan-out) — consumers that already inline [[lmCtes]] (the pipeline
    * capstone's oracle embeds [[lmRatioCtes]]) append just the body,
    * avoiding duplicate CTE names. */
  private[queries] def nbCtesBody: String =
    s"""${gridSql("nb", perClass = true)},
       |nbe AS (
       |  SELECT lang AS cls,
       |    CAST(($LmScale * CAST(sum(c12 * wbits) AS BIGINT))
       |      // CAST(sum(c12) AS BIGINT) AS BIGINT) AS e4
       |  FROM nbgrid GROUP BY 1),
       |nbsc AS (
       |  SELECT e.doc_id, g.lang AS cls, CAST(sum(g.wbits) AS BIGINT) AS lp
       |  FROM lmex e JOIN nbgrid g ON g.g = e.g
       |  GROUP BY 1, 2),
       |nbsp AS (
       |  SELECT g2.doc_id, g2.lang, CAST(len(g2.gs) AS BIGINT) AS n_bigrams,
       |    p.cls, CAST($LmScale * COALESCE(l.lp, 0)
       |      - CAST(len(g2.gs) AS BIGINT) * p.e4 AS BIGINT) AS s
       |  FROM lmg g2
       |  CROSS JOIN nbe p
       |  LEFT JOIN nbsc l ON l.doc_id = g2.doc_id AND l.cls = p.cls),
       |nbscd AS (
       |  SELECT doc_id, lang, n_bigrams, cls AS pred_lang, s AS nb_cbits
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY s DESC, cls DESC) AS rn FROM nbsp) WHERE rn = 1)""".stripMargin

  /** Oracle twin of the trained grids over [[lmCtes]]'s `lmex` bigram
    * fan-out: for CTE-name prefix `p`, the count CTEs `<p>c12`/`<p>c1`
    * and the full-code-domain grid `<p>grid(g, c12, c1, wbits)` —
    * [[smoothedX]] → [[wbits]] in DuckDB text. `where` restricts the
    * training slice (the target grid trains on en, the background grid
    * on the whole corpus); `perClass` keys the counts and the grid by
    * class (the NB grid, which carries a `lang` column). */
  private def gridSql(p: String, where: String = "",
      perClass: Boolean = false): String = {
    val x = s"((COALESCE(${p}c12.c12, 0) + 1) * $LmScale " +
      s"// (COALESCE(${p}c1.c1, 0) + $LmB))"
    val codes = (pad: Int) => s"(SELECT CAST(t.m AS BIGINT) AS g\n" +
      s"${" " * pad}FROM UNNEST(generate_series(0, ${LmB * LmB - 1})) AS t(m)) gg"
    val w = if (where.isEmpty) "" else s" WHERE $where"
    val (counts, key, domain, on) =
      if (perClass) (
        s"""${p}c12 AS (SELECT lang AS cls, g, CAST(count(*) AS BIGINT) AS c12
           |          FROM lmex GROUP BY 1, 2),
           |${p}c1 AS (SELECT lang AS cls, g // $LmB AS b1,
           |           CAST(count(*) AS BIGINT) AS c1
           |         FROM lmex GROUP BY 1, 2)""".stripMargin,
        "d.cls AS lang, ",
        s"(SELECT DISTINCT cls FROM ${p}c12) d\n  CROSS JOIN ${codes(14)}",
        (t: String) => s"$t.cls = d.cls AND ")
      else (
        s"""${p}c12 AS (SELECT g, CAST(count(*) AS BIGINT) AS c12
           |          FROM lmex$w GROUP BY g),
           |${p}c1 AS (SELECT g // $LmB AS b1, CAST(count(*) AS BIGINT) AS c1
           |         FROM lmex$w GROUP BY 1)""".stripMargin,
        "", codes(8), (_: String) => "")
    s"""$counts,
       |${p}grid AS (
       |  SELECT ${key}gg.g,
       |    CAST(COALESCE(${p}c12.c12, 0) AS BIGINT) AS c12,
       |    CAST(COALESCE(${p}c1.c1, 0) AS BIGINT) AS c1,
       |    CAST(length(bin($x * $x * $x * $x)) AS BIGINT) AS wbits
       |  FROM $domain
       |  LEFT JOIN ${p}c12 ON ${on(s"${p}c12")}${p}c12.g = gg.g
       |  LEFT JOIN ${p}c1 ON ${on(s"${p}c1")}${p}c1.b1 = gg.g // $LmB)""".stripMargin
  }

  /** Shared LM oracle CTEs: bigram codes (`lmg`/`lmex`), target counts,
    * and the full weight grid (`lmgrid`) — consumed by the train
    * report, the scorer, and the gate so the three oracles can never
    * drift apart. */
  private def lmCtes: String = {
    val hs = s"list_transform(${tokens("text")}, " +
      s"t -> ${graft.functions.PortableHash.hash60Sql("t")} % $LmB)"
    s"""lmb AS (SELECT doc_id, lang, $hs AS bs FROM documents),
       |lmg AS (
       |  SELECT doc_id, lang, list_transform(
       |    generate_series(1, len(bs) - 1), i -> bs[i] * $LmB + bs[i+1]) AS gs
       |  FROM lmb),
       |lmex AS (SELECT doc_id, lang, unnest(gs) AS g FROM lmg),
       |${gridSql("lm", "lang = 'en'")}""".stripMargin
  }

  /** Score + per-doc CTEs shared by `text_lm_score` and the gate. */
  private[queries] def lmScoreCtes: String =
    s"""$lmCtes,
       |lmlp AS (
       |  SELECT lmex.doc_id, CAST(sum(lmgrid.wbits) AS BIGINT) AS lp
       |  FROM lmex JOIN lmgrid ON lmgrid.g = lmex.g GROUP BY lmex.doc_id),
       |lmsc AS (
       |  SELECT g2.doc_id, g2.lang, CAST(len(g2.gs) AS BIGINT) AS n_bigrams,
       |    CAST(COALESCE(lmlp.lp, 0) AS BIGINT) AS lp_bits
       |  FROM lmg g2 LEFT JOIN lmlp ON lmlp.doc_id = g2.doc_id)""".stripMargin

  /** Ratio-score CTEs: [[lmScoreCtes]] (target score) + the background
    * grid (`bggrid`: the target grid's formula without the en training
    * filter) + both per-document sums side by side in `lmrsc`. */
  private[queries] def lmRatioCtes: String =
    s"""$lmScoreCtes,
       |${gridSql("bg")},
       |bglp AS (
       |  SELECT lmex.doc_id, CAST(sum(bggrid.wbits) AS BIGINT) AS lp
       |  FROM lmex JOIN bggrid ON bggrid.g = lmex.g GROUP BY lmex.doc_id),
       |lmrsc AS (
       |  SELECT s.doc_id, s.lang, s.n_bigrams, s.lp_bits AS lp_t,
       |    CAST(COALESCE(bglp.lp, 0) AS BIGINT) AS lp_bg
       |  FROM lmsc s LEFT JOIN bglp ON bglp.doc_id = s.doc_id)""".stripMargin

  /** [[lmCtes]] + the background grid only — the train-report oracle's
    * chain (no score stage). */
  private[queries] def lmBgTrainCtes: String =
    s"""$lmCtes,
       |${gridSql("bg")}""".stripMargin

  /** Reciprocal-rank-fusion constant: LCM(61..65) — with fused ranks
    * capped at 5 and the standard RRF offset 60, every per-branch
    * contribution LCM/(60+rank) is an exact integer, so the fused
    * score is int64 arithmetic with no fraction summation (the
    * engine-portability doctrine every ranked query here follows). */
  private[graft] val RrfLcm = 495593280L

  /** RRF fusion of a lexical ranking `(query_doc, doc_id, lex_rk)` and
    * a dense ranking `(query_doc, doc_id, dense_rk)` — the ONE fusion
    * implementation, shared by the batch `corpus_hybrid_rrf` and the
    * streaming hybrid serving writer so the two can never drift. Full
    * outer join (single-branch hits survive; a missing branch reads
    * rank 0), exact-int64 score, top-5 per query. */
  private[graft] def rrfFuse(lex: org.apache.spark.sql.DataFrame,
      den: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fw = Window.partitionBy(col("query_doc"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(den, Seq("query_doc", "doc_id"), "full_outer")
      .select(col("query_doc"), col("doc_id"),
        coalesce(col("lex_rk"), lit(0L)).as("lex_rk"),
        coalesce(col("dense_rk"), lit(0L)).as("dense_rk"))
      .withColumn("rrf",
        when(col("lex_rk") > 0, lit(RrfLcm).divide(lit(60L) + col("lex_rk"))
          .cast("long")).otherwise(lit(0L)) +
        when(col("dense_rk") > 0, lit(RrfLcm).divide(lit(60L) + col("dense_rk"))
          .cast("long")).otherwise(lit(0L)))
      .withColumn("rk", row_number().over(fw).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("query_doc"), col("rk"), col("doc_id"),
        col("lex_rk"), col("dense_rk"), col("rrf"))
  }

  /** The dense branch of every RRF fusion: exact cosine top-`k`
    * ([[Similarity.knnBruteForce]]) of `queries` against `corpus` on
    * their (`id`, `vec`) columns, as the `(query_doc, doc_id, dense_rk)`
    * ranking [[rrfFuse]] reads — one expression for each batch row and
    * its streaming twin. */
  private[graft] def denseRanks(queries: DataFrame, corpus: DataFrame,
      id: String, vec: String, k: Int): DataFrame =
    Similarity.knnBruteForce(queries, corpus, id, vec, k)
      .select(col("query_id").as("query_doc"),
        col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("dense_rk"))

  /** The static lexical serving index — tf/df/dl frames plus the two
    * scalars (corpus size, integer avgdl) the BM25 weight needs. Built
    * ONCE from the corpus (the same one token explosion the batch
    * chain uses), checkpointed by serving callers, probed per
    * micro-batch by [[graft.streaming.StreamingHybrid]]. */
  private[graft] case class LexIndex(
      tf: org.apache.spark.sql.DataFrame,
      df: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame, n: Long, avgdl: Long)

  // The lexical index frames, memoized per (session, sf) since r16 —
  // the stored serving artifact (the LexIndex doc already says "built
  // ONCE from the corpus, checkpointed"): before, EVERY consumer
  // (corpus_search, corpus_bm25, corpus_hybrid_rrf, the cross-modal
  // fusion row, the streaming hybrid writer) re-ran the token
  // explosion + tf/df/dl aggregations AND two eager corpus-count jobs
  // per call. The scalars (n, integer avgdl) come off a memoized 1-row
  // stats frame — sum(size(tokens)) ≡ the exploded token count (empty
  // arrays contribute 0 rows to the explode and 0 to the sum).
  private def lexTf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "lex_tf")(termTf(Tables.documents(s, d), col("doc_id")))

  /** `(key, term, tf)`: each row's `text` tokenized, counted per term —
    * the corpus tf index above and the query-term frame every lexical
    * ranker ([[bm25Serve]]) takes, batch and streaming alike. */
  private[graft] def termTf(texts: DataFrame, key: Column): DataFrame = {
    val terms = texts.select(key, explode(TextAnalysis.tokens(col("text"))).as("term"))
    terms.groupBy(col(terms.columns.head), col("term")).agg(count(lit(1)).as("tf"))
  }

  private def lexDf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tf = lexTf(s, d) // resolve before entering (no-nesting rule)
    FrameCache.memo(s, d, "lex_df")(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
  }

  private def lexDl(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "lex_dl") {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    }

  /** (n docs, integer avgdl) off the memoized 1-row stats frame. */
  private def lexStats(s: org.apache.spark.sql.SparkSession,
      d: String): (Long, Long) = {
    val st = FrameCache.memo(s, d, "lex_stats") {
      Tables.documents(s, d).agg(
        countDistinct(col("doc_id")).as("n"),
        coalesce(sum(size(TextAnalysis.tokens(col("text"))).cast("long")),
          lit(0L)).as("tot"))
    }.first()
    val n = st.getLong(0)
    (n, st.getLong(1) / n)
  }

  private[graft] def lexIndex(s: org.apache.spark.sql.SparkSession,
      d: String): LexIndex = {
    val (n, a) = lexStats(s, d)
    LexIndex(lexTf(s, d), lexDf(s, d), lexDl(s, d), n, a)
  }

  /** Lexical top-5 per query against a [[LexIndex]] — the one
    * qterms → candidates → rank kernel behind `corpus_search`,
    * `corpus_bm25`, the hybrid rows and the streaming serving writers.
    * `qtf` (`key`, term, tf) holds each query's terms; its top-3 by
    * tf·N/df (ties by term) form the broadcast query bag, and a
    * candidate scores the sum of the per-term `weight` (over tf, df
    * and, with `lengths`, the candidate's dl) across the terms it
    * shares. Returns (query_doc, rk, doc_id, n_shared, score). */
  private def lexTopK(qtf: DataFrame, key: String, ix: LexIndex,
      weight: Column, lengths: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qw = Window.partitionBy(col(key))
      .orderBy((col("tf") * lit(ix.n) / col("df")).desc, col("term").asc)
    val qterms = qtf
      .join(ix.df, "term")
      .withColumn("qrk", row_number().over(qw))
      .filter(col("qrk") <= 3)
      .select(col(key).as("query_doc"), col("term"), col("df"))
    val cw = Window.partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val cand = ix.tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_doc"))
    (if (lengths) cand.join(ix.dl, "doc_id") else cand)
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"),
        sum(weight).as("score"))
      .withColumn("rk", row_number().over(cw))
      .filter(col("rk") <= 5)
      .select(col("query_doc"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_shared"), col("score"))
  }

  /** [[lexTopK]] under the BM25 weight ([[TextAnalysis.bm25Weight]]). */
  private def bm25Top(qtf: DataFrame, key: String,
      ix: LexIndex): DataFrame =
    lexTopK(qtf, key, ix, TextAnalysis.bm25Weight(col("tf"), col("df"),
      col("dl"), ix.n, ix.avgdl), lengths = true)

  /** BM25 top-5 per query as (query_doc, doc_id, lex_rk) — the lexical
    * branch every RRF fusion reads, batch and streaming. */
  private[graft] def bm25Serve(qtf: DataFrame, ix: LexIndex,
      key: String = "query_doc"): DataFrame =
    bm25Top(qtf, key, ix)
      .select(col("query_doc"), col("doc_id"), col("rk").as("lex_rk"))

  /** The corpus rows' query set, every doc_id % 100 = 0 document: its
    * index terms as [[lexTopK]]'s `qtf` (keyed by doc_id), and the
    * oracle's `q` predicate. */
  private def corpusQueryTerms(ix: LexIndex): DataFrame =
    ix.tf.filter(pmod(col("doc_id"), lit(100)) === 0)
  private val CorpusQueryWhere = "tf.doc_id % 100 = 0"

  /** Oracle twin of [[lexTopK]] over the corpus: the index CTEs
    * `toks`/`tf`/`df`/`n` (with `bm25` also the lengths `dl` and the
    * integer avgdl `st`), the query bag `q` of the documents matching
    * `qWhere`, and the scored candidates `cand(query_doc, doc_id,
    * n_shared, score)` under the tf·⌊1000·N/df⌋ or the BM25 weight. */
  private def lexCtes(qWhere: String, bm25: Boolean): String = {
    val lengths = if (!bm25) "" else
      s"""
         |dl AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |  FROM toks GROUP BY doc_id),""".stripMargin
    val avgdl = if (!bm25) "" else
      s"""
         |st AS (SELECT tot.l // n.n AS a
         |       FROM (SELECT CAST(count(*) AS BIGINT) AS l FROM toks) tot, n),""".stripMargin
    val (weight, from) =
      if (bm25) (
        s"""CAST(floor(
           |      ((2 * n.n - 2 * q.df + 1) * (44 * st.a * 1000) * tf.tf)
           |      / ((q.df * 2 + 1)
           |        * (tf.tf * (20 * st.a) + 6 * st.a + dl.dl * 18)))
           |      AS BIGINT)""".stripMargin,
        "q JOIN tf USING (term) JOIN dl ON dl.doc_id = tf.doc_id, n, st")
      else (
        s"""tf.tf *
           |      CAST(floor((n.n * 1000) / q.df) AS BIGINT)""".stripMargin,
        "q JOIN tf USING (term), n")
    s"""toks AS (
       |  SELECT doc_id, unnest(${tokens("text")}) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY doc_id, term),
       |df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY term),$lengths
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
       |      FROM documents),$avgdl
       |q AS (
       |  SELECT doc_id AS query_doc, term, df FROM (
       |    SELECT tf.doc_id, tf.term, df.df,
       |      row_number() OVER (PARTITION BY tf.doc_id
       |        ORDER BY tf.tf * n.n / df.df DESC, tf.term ASC) AS qrk
       |    FROM tf JOIN df USING (term), n
       |    WHERE $qWhere)
       |  WHERE qrk <= 3),
       |cand AS (
       |  SELECT q.query_doc, tf.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_shared,
       |    CAST(sum($weight) AS BIGINT) AS score
       |  FROM $from
       |  WHERE tf.doc_id <> q.query_doc
       |  GROUP BY q.query_doc, tf.doc_id)""".stripMargin
  }

  /** [[lexTopK]]'s rank cut in DuckDB text: the top-5 of `cand` per
    * query by (score DESC, doc_id). */
  private val lexRankSql =
    """SELECT query_doc, CAST(rk AS BIGINT) AS rk, doc_id, n_shared, score
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_doc
      |    ORDER BY score DESC, doc_id ASC) AS rk FROM cand)
      |WHERE rk <= 5""".stripMargin

  /** The BM25 oracle chain through `lexr` (the rk ≤ 5 ranked frame) for
    * the query set `qWhere` — shared verbatim by the BM25 oracle, the
    * hybrid fusion oracle, and (with mm_knn's % 25 query set) the
    * cross-modal fusion oracle in [[MultimodalQueries]]. */
  private[queries] def bm25CtesFor(qWhere: String): String =
    s"""${lexCtes(qWhere, bm25 = true)},
       |lexr AS (
       |${lexRankSql.linesIterator.map("  " + _).mkString("\n")})""".stripMargin

  /** The sketch rows' shingle source CTE: every document's distinct
    * [[Sketch.HllShingleN]]-gram shingles as `tok(tok)`, or, with a
    * cohort `tag` column leading, as `t(tag, tok)`. */
  private def shingleSql(tag: String = ""): String = {
    val sh = s"unnest(${shingles(tokens("text"), Sketch.HllShingleN)}) AS tok"
    if (tag.isEmpty) s"tok AS (SELECT $sh FROM documents)"
    else s"t AS (\n  SELECT $tag, $sh\n  FROM documents)"
  }

  /** CTE `name` hashing the shingles of `from` to `h` (hash60), with
    * `sel` leading the select list. */
  private def shingleHashSql(name: String, sel: String,
      from: String): String = {
    val h = graft.functions.PortableHash.hash60Sql("tok")
    s"$name AS (SELECT $sel$h AS h\n${" " * (name.length + 5)}FROM $from)"
  }

  /** The KMV min-k of `src`'s hashes `h`: its [[Sketch.KmvK]] smallest. */
  private def kmvMinSql(src: String, sep: String = " "): String =
    s"SELECT h FROM $src${sep}ORDER BY h LIMIT ${Sketch.KmvK}"

  /** [[kmvMinSql]] as CTE `name`. */
  private def kmvCteSql(name: String, src: String): String =
    s"$name AS (${kmvMinSql(src, "\n" + " " * (name.length + 5))})"

  /** A cardinality sketch's 1-row summary `sk` graded against the exact
    * distinct shingle count of `docs`: (cols…, est, n_exact, err_bp),
    * err_bp the estimate's ratio to the truth in basis points. The
    * exact side exists only to grade. */
  private def cardGrade(docs: DataFrame, sk: DataFrame, est: Column,
      cols: Column*): DataFrame = {
    val exact = docs
      .select(explode(graft.operators.Dedup.shingles(col("text"),
        Sketch.HllShingleN)).as("sh"))
      .agg(countDistinct(col("sh")).as("n_exact"))
    // 1-row × 1-row scalar pair — the registered wh_dq_checks shape
    sk.crossJoin(broadcast(exact))
      .select(cols ++ Seq(est.as("est"), col("n_exact"),
        floor(lit(10000.0) * est / col("n_exact").cast("double"))
          .as("err_bp")): _*)
  }

  /** The oracle's tail of [[cardGrade]]: `cols`, est, n_exact, err_bp
    * off the CTEs `from`. */
  private def cardGradeSql(cols: String, from: String): String =
    s"""SELECT $cols, est, n_exact,
       |  CAST(FLOOR(10000.0 * est / CAST(n_exact AS DOUBLE)) AS BIGINT)
       |    AS err_bp
       |FROM $from""".stripMargin

  /** The exact en / non-en shingle union and intersection sizes
    * (exact_union, exact_inter) of an (is_en, sh) frame — the grade of
    * the set-algebra sketches. */
  private def exactOverlap(t: DataFrame): DataFrame =
    t.groupBy(col("sh"))
      .agg(max(when(col("is_en"), 1L).otherwise(0L)).as("in_en"),
        max(when(!col("is_en"), 1L).otherwise(0L)).as("in_other"))
      .agg(count(lit(1)).as("exact_union"),
        sum(col("in_en") * col("in_other")).as("exact_inter"))

  /** [[exactOverlap]] as oracle CTE `ex`, over the cohort-tagged
    * (is_en, `key`) CTE `src`. */
  private def exactOverlapSql(src: String, key: String): String =
    s"""ex AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
       |    CAST(SUM(in_en * in_other) AS BIGINT) AS exact_inter
       |  FROM (
       |    SELECT MAX(CASE WHEN is_en THEN 1 ELSE 0 END) AS in_en,
       |      MAX(CASE WHEN NOT is_en THEN 1 ELSE 0 END) AS in_other
       |    FROM $src GROUP BY $key))""".stripMargin

  /** The quantile-histogram rows' saturated token count `n`
    * ([[Sketch.QhistMaxN]]), in DuckDB text. */
  private val qhistLenSql =
    s"LEAST(CAST(len(${tokens("text")}) AS BIGINT), ${Sketch.QhistMaxN})"

  lazy val defs: Map[String, QueryDef] = Map(

    // Token / punctuation / stopword counting (BPE-ish subword proxy
    // included): the unit economics of a corpus.
    "text_stats" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.punctCount(col("text")).cast("long").as("n_punct"),
        TextAnalysis.stopwordCount(col("text")).cast("long").as("n_stop")),
      s"""SELECT doc_id,
         |  len(w) AS n_tokens,
         |  CAST(list_sum(list_transform(
         |    list_filter(string_split_regex(regexp_replace(${normalize("text")},
         |      '([0-9]+|[^a-z0-9 ]+)', ' \\1 ', 'g'), ' +'), p -> length(p) > 0),
         |    p -> 1 + CAST(floor((length(p) - 1) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
         |  length(text) - length(translate(text, '.,!?;:', '')) AS n_punct,
         |  len(list_filter(w, t -> list_contains(${stopList(stopwords)}, t))) AS n_stop
         |FROM (SELECT doc_id, text, ${tokens("text")} AS w FROM documents)""".stripMargin),

    // Composite quality score in [0,1] (length / punctuation density /
    // stopword ratio) — the filter column of a data-curation pipeline.
    "text_quality" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")),
      s"""SELECT doc_id,
         |  $qualitySql AS quality
         |FROM (SELECT doc_id, text, ${tokens("text")} AS w FROM documents)""".stripMargin),

    // Per-source quality-threshold admission — adaptive curation: keep
    // each source's top quality QUARTILE rather than one global cutoff
    // (a global threshold empties low-quality sources and keeps
    // boilerplate from high-quality ones). NTILE(4) over the
    // deterministic (quality DESC, doc_id) order; ties broken by id so
    // the admitted set is replay-identical. Honest 100 TB note (same as
    // op_quantile_bin): the per-source NTILE implies a per-source sort,
    // so at scale the cutoff comes from a sampled/sketched quantile
    // (op_histogram's path) and admission becomes a map-only filter
    // against the broadcast cutoffs; the NTILE form is the exactness
    // baseline that gate would be verified against.
    "curate_quality_gate" -> QueryDef(
      (s, d) => topQualityQuartile(Tables.documents(s, d))
        .select(col("source"), col("doc_id"), col("quality")),
      s"""WITH q AS (
         |  SELECT source, doc_id, $qualitySql AS quality
         |  FROM (SELECT source, doc_id, text, ${tokens("text")} AS w
         |        FROM documents))
         |SELECT source, doc_id, quality FROM (
         |  SELECT source, doc_id, quality,
         |    ntile(4) OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS qt
         |  FROM q)
         |WHERE qt = 1""".stripMargin),

    // n-gram-heuristic language ID: marker-stopword hit counts per
    // language, argmax with first-listed tie-break.
    "text_langid" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred")), {
        val scores = TextAnalysis.langMarkers.map { case (l, ms) =>
          s"len(list_filter(w, t -> list_contains(${stopList(ms)}, t))) AS s_$l"
        }.mkString(",\n    ")
        val langs = TextAnalysis.langMarkers.map(_._1)
        val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
        val pick = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
        s"""SELECT doc_id, lang,
           |  CASE WHEN $best > 0 THEN (CASE $pick ELSE 'und' END)
           |       ELSE 'und' END AS lang_pred
           |FROM (SELECT doc_id, lang, $scores
           |      FROM (SELECT doc_id, lang, ${tokens("text")} AS w FROM documents))""".stripMargin
      }),

    // Rolling-hash fingerprint: minimum 60-bit hash over word 5-gram
    // shingles (winnowing's k-gram-minimum idea) — stable doc identity.
    "text_fingerprint" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
      s"""SELECT doc_id,
         |  list_min(${hashedShinglesSql(5, "\n    ")}) AS fp
         |FROM documents""".stripMargin),

    // Intra-document repetition score: fraction of 3-gram positions that
    // repeat an earlier 3-gram — the boilerplate/spam gate of a curation
    // pipeline. 1 − distinct/total, exact integer division.
    "text_repetition" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.repetitionScore(col("text"), n = 3).as("repetition")),
      s"""SELECT doc_id,
         |  round(1.0 - len(list_distinct(${shingles(tokens("text"), 3)}))
         |    / greatest(len(${tokens("text")}) - 2, 1)::DOUBLE, 6) AS repetition
         |FROM documents""".stripMargin),

    // PII masking: emails / URLs / long digit runs replaced by typed
    // placeholders before text enters a training corpus. Map-only
    // regexp_replace chain (patterns in the Java-regex ∩ RE2 subset).
    "text_pii_mask" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"),
          TextAnalysis.maskPii(col("text")).as("masked")),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS masked
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin),

    // TF-IDF top terms: tf per (doc, term) and df per term from one
    // token explosion, scored tf·N/df — N/df replaces ln(N/df) because
    // libm is not cross-engine portable, and the ranking it induces per
    // document is monotone-equivalent for fixed tf. Shuffles on term
    // (df + the df join) and doc (rank) — the real TF-IDF shape; the
    // shuffle carries (term, counts), never documents.
    "corpus_tfidf" -> QueryDef(
      (s, d) => {
        // tf/df/N off the memoized lexical index the retrieval rows share
        val ix = lexIndex(s, d)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)
        ix.tf.join(ix.df, "term")
          .withColumn("score", col("tf") * lit(ix.n) / col("df"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3 && pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("term"),
            col("tf"), col("df"), col("score"), col("rk").cast("long").as("rk"))
      },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokens("text")}) AS term FROM documents),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (
         |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
         |SELECT doc_id, term, tf, df, score, rk FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    tf.tf * n.n / df.df AS score,
         |    CAST(row_number() OVER (
         |      PARTITION BY tf.doc_id
         |      ORDER BY tf.tf * n.n / df.df DESC, tf.term ASC) AS BIGINT) AS rk
         |  FROM tf JOIN df ON tf.term = df.term, n)
         |WHERE rk <= 3 AND doc_id % 10 = 0""".stripMargin),

    // Corpus n-gram statistics: top-20 word 2-grams by document
    // frequency (shingles are distinct per doc, so count(*) IS the doc
    // frequency). Plans as hash-agg + TakeOrderedAndProject — the
    // shuffle carries (gram, partial count), never documents.
    "corpus_top_ngrams" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(explode(graft.operators.Dedup.shingles(col("text"), 2)).as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("gram").asc)
        .limit(20),
      s"""SELECT gram, df FROM (
         |  SELECT s AS gram, count(*) AS df FROM (
         |    SELECT doc_id, unnest(${shingles(tokens("text"), 2)}) AS s
         |    FROM documents) GROUP BY s)
         |ORDER BY df DESC, gram ASC LIMIT 20""".stripMargin),

    // PMI-style collocation mining: adjacent-bigram association
    // strength as lift = P(xy)/(P(x)P(y)) = cxy·N/(cx·cy) — the
    // phrase detector of a tokenizer-training pipeline (collocations
    // above a lift threshold become single vocabulary units; PMI is
    // the log of this exact quantity, and ranking by lift IS ranking
    // by PMI, log-free — the BM25 doctrine). All operands exact int64
    // counts; the score is one IEEE division rounded to 9 places (the
    // cos9 doctrine). Shape at 100 TB: bigrams come from a map-only
    // indexed transform over each token array (NO positional
    // self-join), both count tables are explode + hash-agg shuffles
    // bounded by the observed vocab/bigram space, the vocabulary
    // broadcasts onto the bigram frame (megabytes for natural
    // language), and N is one map-side-combined global sum — documents
    // themselves never shuffle.
    "corpus_pmi" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        val bigrams = toks.select(explode(expr(
            "transform(slice(w, 1, greatest(size(w) - 1, 0)), " +
              "(x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"))
            .as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cxy"))
        val uni = toks.select(explode(col("w")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        // ONE driver-side scalar for N (the corpus_bm25 doctrine:
        // a map-side-combined global sum, acceptable at any scale)
        val n = uni.agg(sum(col("c"))).head().getLong(0)
        bigrams
          .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("cx"))),
            Seq("w1"))
          .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("cy"))),
            Seq("w2"))
          .filter(col("cxy") >= 5)
          .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
            col("cxy"), col("cx"), col("cy"),
            round(col("cxy").cast("double") * lit(n.toDouble) /
              (col("cx").cast("double") * col("cy").cast("double")), 9)
              .as("lift9"))
      },
      s"""WITH toks AS (SELECT doc_id, ${tokens("text")} AS w FROM documents),
         |uni AS (SELECT tok, COUNT(*) AS c FROM (
         |  SELECT unnest(w) AS tok FROM toks) GROUP BY 1),
         |n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
         |big AS (SELECT bg, COUNT(*) AS cxy FROM (
         |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1])) AS bg
         |  FROM toks) GROUP BY 1)
         |SELECT b.bg AS bigram, b.cxy, u1.c AS cx, u2.c AS cy,
         |  round(b.cxy * n.n / (u1.c * u2.c), 9) AS lift9
         |FROM big b
         |JOIN uni u1 ON u1.tok = split_part(b.bg, ' ', 1)
         |JOIN uni u2 ON u2.tok = split_part(b.bg, ' ', 2)
         |CROSS JOIN n
         |WHERE b.cxy >= 5""".stripMargin),

    // Corpus-frequency document scoring — the log-free core of a
    // CCNet-style LM quality filter: a document whose tokens are rare
    // in the corpus (low average corpus frequency) is likely noise /
    // OCR junk / another language; one whose tokens are all
    // ultra-common is boilerplate. Integer-exact by construction: the
    // per-doc score is sum(corpus_freq)/n_tokens — an int64 sum over
    // int64 counts, divided once at the edge (two exact int64s → one
    // IEEE division, bit-identical cross-engine — the repo's decimal
    // doctrine). Shape at 100 TB: token counts are one explode +
    // hash-agg shuffle carrying (token, partial count); the rescore
    // join broadcasts the vocabulary (bounded by |vocab|, ~1M words for
    // natural language — megabytes), so documents never shuffle.
    "text_corpus_freq" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d).select(
          col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("corpus_freq"))
        toks.join(broadcast(vocab), Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            sum(col("corpus_freq")).as("sum_freq"))
          .select(col("doc_id"), col("n_tokens"), col("sum_freq"),
            (col("sum_freq").cast("double") / col("n_tokens").cast("double"))
              .as("avg_freq"))
      },
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${tokens("text")}) AS tok FROM documents),
         |v AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS corpus_freq
         |  FROM t GROUP BY tok)
         |SELECT t.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(v.corpus_freq) AS BIGINT) AS sum_freq,
         |  CAST(CAST(sum(v.corpus_freq) AS BIGINT) AS DOUBLE)
         |    / CAST(count(*) AS BIGINT) AS avg_freq
         |FROM t JOIN v ON t.tok = v.tok
         |GROUP BY t.doc_id""".stripMargin),

    // One distributed BPE merge step — tokenizer induction at corpus
    // scale. Weighted vocabulary (word → corpus count, ONE map-side-
    // combined shuffle whose key space is the vocab, not the corpus),
    // then adjacent character-pair counts weighted by word frequency
    // (second vocab-scale shuffle), then the top-20 merge candidates by
    // (count DESC, pair ASC) — a deterministic total order, planned as
    // TakeOrderedAndProject (no global sort). Training a full BPE
    // vocabulary is K iterations of exactly this aggregation with the
    // winning pair folded into the symbol sequences; the per-step shape
    // here is the whole scale story. Single-char words carry no pair and
    // are filtered on BOTH sides (Spark's sequence(1,0) counts DOWN,
    // DuckDB's generate_series(1,0) is empty — the filter keeps the
    // engines honest rather than leaning on that asymmetry).
    "text_bpe_step" -> QueryDef(
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        val wc = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
          .filter(length(col("word")) >= 2)
        wc.select(col("c"),
            explode(transform(
              sequence(lit(1), length(col("word")) - 1),
              i => col("word").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      s"""WITH words AS (
         |  SELECT unnest(${tokens("text")}) AS word FROM documents),
         |wc AS (
         |  SELECT word, COUNT(*) AS c FROM words
         |  GROUP BY word HAVING len(word) >= 2),
         |pairs AS (
         |  SELECT word[i:i+1] AS pair, c
         |  FROM wc, UNNEST(generate_series(1, len(word) - 1)) AS t(i))
         |SELECT pair, CAST(SUM(c) AS BIGINT) AS n
         |FROM pairs GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    // BPE TRAINING — text_bpe_step's merge iterated K=5 times with the
    // vocabulary threaded through, the composition capstone for the
    // tokenizer family (sim_index_build's role for ANN). Words live as
    // symbol arrays; each round counts adjacent symbol pairs weighted
    // by word frequency, elects the max (ties: lexicographic a, b — a
    // total order, so the winner is engine-portable), and folds the
    // winning pair into every word with a greedy left-to-right
    // non-overlapping merge (an `aggregate` lambda here, the identical
    // `list_reduce` fold in DuckDB — [x,x,x,x] merges to [xx,xx], never
    // [xx,x,x]). Each round's vocabulary is localCheckpoint-ed (the
    // ConnectedComponents doctrine), so round k reads round k-1's
    // materialization instead of replaying the whole merge history.
    // At 100 TB: the corpus explodes ONCE into the weighted word-symbol
    // table (vocab-scale — Zipf makes |vocab| ≪ |corpus|); each round
    // is one vocab-scale pair aggregation + a 1-row broadcast + a
    // map-only merge. The oracle replays all 5 rounds as unrolled CTEs.
    "text_bpe_train" -> QueryDef(
      (s, d) => {
        val (_, wins) = bpeTrain(s, d)
        wins.zipWithIndex.map { case (win, i) =>
          win.select(lit((i + 1).toLong).as("step"), col("a"), col("b"),
            col("n"))
        }.reduce(_.union(_))
      }, {
        val out = (1 to BpeSteps).map(k =>
          s"SELECT CAST($k AS BIGINT) AS step, a, b, n FROM g$k")
          .mkString("\nUNION ALL\n")
        s"""WITH $bpeCtes
           |$out""".stripMargin
      }),

    // BPE APPLY — the serving half of the tokenizer: the corpus
    // re-tokenized under the 5 learned merges, reported as the top-20
    // token frequencies (multi-char learned tokens beat their
    // constituent chars exactly where training elected them). The
    // train query's final vocabulary IS this tokenization — the words
    // frame after the K folds — so apply is one vocab-scale explode +
    // aggregation over it; at 100 TB tokenizing fresh text is the same
    // K-fold merge lambda applied map-only per document.
    "text_bpe_apply" -> QueryDef(
      (s, d) => {
        val (words, _) = bpeTrain(s, d)
        words.select(col("c"), explode(col("syms")).as("token"))
          .groupBy(col("token")).agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20)
      },
      s"""WITH $bpeCtes
         |SELECT token, CAST(SUM(c) AS BIGINT) AS n
         |FROM (SELECT c, unnest(syms) AS token FROM w$BpeSteps)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // More-like-this retrieval — the RAG-shaped query the corpus
    // serves once it is indexed: for each query document, its top-3
    // TF-IDF terms (the same log-free tf·N/df ranking corpus_tfidf
    // proved hash-exact) become the query bag, and candidates are
    // scored by the sum over shared terms of tf·⌊1000·N/df⌋ — all-int64
    // arithmetic (exact operands, one IEEE division + floor per term,
    // portable bit-for-bit), so the candidate sum is order-independent.
    // Shape at 100 TB: the postings list (tf) is term-keyed — the
    // inverted index — and the query-term frame is tiny (queries ≪
    // corpus) and BROADCAST, so retrieval never shuffles the corpus;
    // the candidate aggregation carries only (query, candidate, score)
    // ids, and per-query top-5 plans as a WindowGroupLimit pushed below
    // the exchange, not a global sort.
    "corpus_search" -> QueryDef(
      (s, d) => {
        val ix = lexIndex(s, d)
        lexTopK(corpusQueryTerms(ix), "doc_id", ix,
          col("tf") * floor(lit(1000L * ix.n) / col("df")).cast("long"),
          lengths = false)
      },
      s"""WITH ${lexCtes(CorpusQueryWhere, bm25 = false)}
         |$lexRankSql""".stripMargin),

    // BM25 ranked retrieval — corpus_search's scoring upgraded with the
    // two ideas that make BM25 the lexical-retrieval standard: tf
    // SATURATION (k1 = 1.2 — the 10th occurrence of a term is worth
    // far less than the 1st) and document-LENGTH normalization
    // (b = 0.75 — long documents don't win just by containing more
    // tokens). Everything is exact int64, in the repo's log-free
    // doctrine: idf is the rational Robertson–Spärck-Jones core
    // (2N−2df+1)/(2df+1) (the log's argument — per-term-monotone, like
    // corpus_tfidf's N/df for ln(N/df)); with k1 = 6/5, b = 3/4, and
    // integer avgdl A = L div N, the per-(term, doc) weight reduces to
    //   w = floor( (2N−2df+1)·44·tf·A·1000
    //              / ((2df+1)·(20·tf·A + 6·A + 18·dl)) )
    // — numerator ≤ ~1e12 at sf0.1 (< 2^52, so the IEEE quotient's
    // distance to any integer exceeds its ulp and both engines floor
    // identically; beyond ~2^52 the same formula runs in decimal(38)),
    // summed over the query's terms as exact longs. Shape at 100 TB:
    // identical to corpus_search — tf/df/dl from ONE token explosion,
    // query-term frame broadcast onto the tf aggregate, candidates
    // carried as id pairs; the corpus never reshuffles for scoring.
    "corpus_bm25" -> QueryDef(
      (s, d) => {
        val ix = lexIndex(s, d)
        bm25Top(corpusQueryTerms(ix), "doc_id", ix)
      },
      s"""WITH ${bm25CtesFor(CorpusQueryWhere)}
         |SELECT query_doc, rk, doc_id, n_shared, score
         |FROM lexr""".stripMargin),

    // HYBRID retrieval — the fusion modern engines actually serve:
    // the BM25 lexical ranking (exact corpus_bm25 chain, factored
    // shared) and an exact dense-cosine ranking over the embeddings
    // (same quantized kernel as sim_knn_brute; query set = the same
    // doc_id % 100 picks, the two tables sharing an id space) combined
    // by reciprocal-rank fusion. RRF is normally Σ 1/(60+rank) — sums
    // of fractions, an engine-portability trap — but with ranks capped
    // at 5 each branch contributes LCM(61..65)/(60+rank) EXACTLY, so
    // the fused score is pure int64 (rrf ≤ 2·LCM/61 ≈ 1.6e7). A full
    // outer join keeps single-branch hits (docs without a vector can
    // still win on lexical rank — at sf0.1 only 2 of 5 corpus docs
    // have embeddings, the realistic partial-coverage shape); a branch
    // miss reads rank 0 in the output. Shape at 100 TB: both branches
    // are the already-pinned retrieval shapes (query-term broadcast /
    // query-vector broadcast, candidates as id pairs); the fusion adds
    // one (query, doc)-keyed outer join over two ≤ 5·|Q|-row frames —
    // metadata-scale, nothing corpus-sized moves. At serving time the
    // dense branch swaps for the composed IVFADC+R chain unchanged —
    // fusion only reads (query, doc, rank).
    "corpus_hybrid_rrf" -> QueryDef(
      (s, d) => {
        val ix = lexIndex(s, d)
        val lex = bm25Serve(corpusQueryTerms(ix), ix, "doc_id")
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000)).as("qv"))
        val den = denseRanks(
          e.filter(pmod(col("vec_id"), lit(100)) === 0), e, "vec_id", "qv", 5)
        rrfFuse(lex, den)
      },
      s"""WITH ${bm25CtesFor(CorpusQueryWhere)},
         |e AS (SELECT vec_id, ${quantVec("embedding")} AS v FROM embeddings),
         |denr AS (
         |  SELECT query_doc, doc_id, rank FROM (
         |    SELECT eq.vec_id AS query_doc, ec.vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY eq.vec_id
         |        ORDER BY round(${cosine("eq.v", "ec.v", 64)}, 9) DESC,
         |          ec.vec_id ASC) AS rank
         |    FROM e eq, e ec
         |    WHERE eq.vec_id % 100 = 0 AND ec.vec_id <> eq.vec_id)
         |  WHERE rank <= 5),
         |fused AS (
         |  SELECT COALESCE(l.query_doc, r.query_doc) AS query_doc,
         |    COALESCE(l.doc_id, r.doc_id) AS doc_id,
         |    CAST(COALESCE(l.rk, 0) AS BIGINT) AS lex_rk,
         |    CAST(COALESCE(r.rank, 0) AS BIGINT) AS dense_rk
         |  FROM lexr l
         |  FULL OUTER JOIN denr r
         |    ON r.query_doc = l.query_doc AND r.doc_id = l.doc_id),
         |sc AS (
         |  SELECT query_doc, doc_id, lex_rk, dense_rk,
         |    CAST((CASE WHEN lex_rk > 0
         |            THEN $RrfLcm // (60 + lex_rk) ELSE 0 END)
         |       + (CASE WHEN dense_rk > 0
         |            THEN $RrfLcm // (60 + dense_rk) ELSE 0 END)
         |      AS BIGINT) AS rrf
         |  FROM fused)
         |SELECT query_doc, CAST(rk AS BIGINT) AS rk, doc_id,
         |  lex_rk, dense_rk, rrf
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_doc
         |    ORDER BY rrf DESC, doc_id ASC) AS rk FROM sc)
         |WHERE rk <= 5""".stripMargin),

    // Feature-hashing-trick document embedding (hash kernel): each
    // token lands in one of 16 buckets via the engine-portable MD5
    // hash, and the per-bucket counts ARE the document's sparse
    // integer feature vector — the classic O(1)-vocabulary
    // featurization a fasttext-style quality classifier trains on,
    // and the text→embedding bridge into the ANN stack (the hashed
    // vector is dot-product-ready with all-int64 arithmetic). Shape
    // at 100 TB: one map-only explode + hash expression, then ONE
    // (doc_id, dim) map-side-combined shuffle whose output is ≤16
    // small ints per document — no vocabulary table exists at all,
    // which is the entire point of the hashing trick.
    "text_hash_embed" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          (graft.functions.PortableHash.hash60(col("tok")) % 16).as("dim"))
        .groupBy(col("doc_id"), col("dim"))
        .agg(count(lit(1)).cast("long").as("weight")),
      s"""SELECT doc_id,
         |  ${graft.functions.PortableHash.hash60Sql("tok")} % 16 AS dim,
         |  CAST(count(*) AS BIGINT) AS weight
         |FROM (SELECT doc_id, unnest(${tokens("text")}) AS tok
         |      FROM documents)
         |GROUP BY doc_id, dim""".stripMargin),

    // Count-min sketch over corpus token frequencies — the streaming/
    // mergeable frequency summary every heavy-hitter monitor keeps when
    // the vocabulary itself is too big to hold (URL/user-agent/query
    // logs at 100 TB). CmsRows=4 portable affine hash rows × CmsWidth=256
    // int64 counters: construction is one map-only explode emitting 4
    // (row, bucket) tags per token occurrence, then ONE map-side-combined
    // shuffle whose key space is the 1,024 sketch cells — no vocabulary
    // table ever exists, and the same aggregation merges per-partition
    // (or per-hour) sketches by cell-wise addition. Deterministic by
    // construction (integer sums over deterministic hashes — no sampling,
    // no RNG), so the full sketch hash-matches DuckDB cell for cell.
    "corpus_cms_build" -> QueryDef(
      (s, d) => graft.operators.Sketch.cmsSketch(Tables.documents(s, d)),
      s"""WITH src AS (
         |  SELECT unnest(${tokens("text")}) AS tok FROM documents),
         |e AS (${cmsEntriesSql()})
         |SELECT r, b, CAST(count(*) AS BIGINT) AS c
         |FROM e GROUP BY r, b""".stripMargin),

    // The count-min guarantee, measured: point-estimate the exact top-20
    // tokens from the sketch (est = min over the 4 rows' counters) and
    // grade each against its true count. The classic one-sided bound —
    // the sketch NEVER underestimates — must hold for every row
    // (`no_underestimate`), and `overcount` is the measured collision
    // noise (bounded in expectation by N/CmsWidth per row, minimized
    // over 4 rows). The exact vocabulary is built here only to GRADE
    // the sketch; the serving path reads the 1,024-cell frame alone —
    // broadcast-sized by construction, which is what makes the estimate
    // join map-only at any corpus size.
    "corpus_cms_topk" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val sketch = graft.operators.Sketch.cmsSketch(docs)
        val top = toks.groupBy(col("tok"))
          .agg(count(lit(1)).cast("long").as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("tok").asc)
          .limit(20)
        top.select(col("tok"), col("true_cnt"),
            Sketch.cmsEntries(col("tok")).as("e"))
          .select(col("tok"), col("true_cnt"),
            col("e.r").as("r"), col("e.b").as("b"))
          .join(broadcast(sketch), Seq("r", "b"))
          .groupBy(col("tok"), col("true_cnt"))
          .agg(min(col("c")).as("est_cnt"))
          .select(col("tok"), col("true_cnt"), col("est_cnt"),
            (col("est_cnt") - col("true_cnt")).as("overcount"),
            (col("est_cnt") >= col("true_cnt")).as("no_underestimate"))
      },
      s"""WITH src AS (
         |  SELECT unnest(${tokens("text")}) AS tok FROM documents),
         |sk AS (
         |  SELECT r, b, CAST(count(*) AS BIGINT) AS c
         |  FROM (${cmsEntriesSql()}) GROUP BY r, b),
         |top AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
         |  FROM src GROUP BY tok
         |  ORDER BY true_cnt DESC, tok ASC LIMIT 20),
         |tb AS (
         |${cmsEntriesSql("tok, true_cnt,", "top", "  ")})
         |SELECT tb.tok, tb.true_cnt,
         |  CAST(min(sk.c) AS BIGINT) AS est_cnt,
         |  CAST(min(sk.c) - tb.true_cnt AS BIGINT) AS overcount,
         |  min(sk.c) >= tb.true_cnt AS no_underestimate
         |FROM tb JOIN sk ON sk.r = tb.r AND sk.b = tb.b
         |GROUP BY tb.tok, tb.true_cnt""".stripMargin),

    // Quarter-bit log-histogram of document lengths — the mergeable
    // quantile sketch beside corpus_cms_build's frequency sketch:
    // bucket = bit-length of n⁴ (the LM staircase trick, integer-exact
    // and portable), so consecutive buckets are a factor 2^(1/4) ≈ 1.19
    // apart — a ≤ 19 % relative-error quantile summary in ≤ ~128 int64
    // cells no matter the corpus size. Construction is ONE map-only
    // bucket tag + ONE map-side-combined aggregation whose key space
    // is the cells; per-partition / per-hour sketches merge by
    // cell-wise addition, exactly like the CMS. Deterministic — the
    // full cell frame hash-matches DuckDB cell for cell.
    "corpus_qhist" -> QueryDef(
      (s, d) => graft.operators.Sketch.qhistSketch(Tables.documents(s, d)),
      s"""WITH t AS (
         |  SELECT $qhistLenSql AS n
         |  FROM documents)
         |SELECT CAST(${qhistBucketSql("n")} AS BIGINT) AS bucket,
         |  COUNT(*) AS cnt
         |FROM t GROUP BY 1""".stripMargin),

    // The MERGE LAW that makes the histogram a per-partition/per-hour
    // sketch: the cell-wise SUM of the two half-corpus sketches must
    // equal the independently-built full-corpus sketch on every cell.
    // Graded, not assumed — `merge_exact` = 1 on every row unless the
    // bucket function depends on corpus-level state (the property that
    // dies first when someone "improves" the bucketing with a
    // corpus-derived normalizer). Both sides are cell-count-sized
    // aggregations; the join keys on ≤ ~128 bucket ids.
    "corpus_qhist_merge" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bucket = graft.operators.Sketch.qhistBucket(
          size(TextAnalysis.tokens(col("text"))).cast("long"))
        val halves = docs
          .select(bucket.as("bucket"), pmod(col("doc_id"), lit(2)).as("p"))
          .groupBy(col("bucket"))
          .agg(count(when(col("p") === 0, 1)).as("c_even"),
            count(when(col("p") === 1, 1)).as("c_odd"))
        val full = graft.operators.Sketch.qhistSketch(docs)
          .withColumnRenamed("cnt", "c_full")
        halves.join(full, "bucket")
          .select(col("bucket"), col("c_even"), col("c_odd"),
            (col("c_even") + col("c_odd")).as("c_merged"), col("c_full"),
            when(col("c_even") + col("c_odd") === col("c_full"), 1L)
              .otherwise(0L).as("merge_exact"))
      },
      s"""WITH t AS (
         |  SELECT doc_id,
         |    $qhistLenSql AS n
         |  FROM documents),
         |b AS (SELECT doc_id,
         |        CAST(${qhistBucketSql("n")} AS BIGINT) AS bucket
         |      FROM t),
         |halves AS (
         |  SELECT bucket,
         |    CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT)
         |      AS c_even,
         |    CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
         |      AS c_odd
         |  FROM b GROUP BY bucket),
         |full_sk AS (
         |  SELECT bucket, COUNT(*) AS c_full FROM b GROUP BY bucket)
         |SELECT h.bucket, h.c_even, h.c_odd,
         |  h.c_even + h.c_odd AS c_merged, f.c_full,
         |  CAST(CASE WHEN h.c_even + h.c_odd = f.c_full
         |    THEN 1 ELSE 0 END AS BIGINT) AS merge_exact
         |FROM halves h JOIN full_sk f ON f.bucket = h.bucket""".stripMargin),

    // The quantile sketch's guarantee, measured (the corpus_cms_topk
    // doctrine): for each target quantile, the bucket the cumulative
    // sketch serves MUST be the bucket containing the exact order
    // statistic — the histogram is lossless at bucket granularity, so
    // `in_bucket` = 1 on every row unless the bucket function or the
    // cumulative walk is broken. The exact side (value-level histogram
    // + cumulative window) exists here only to GRADE the sketch; the
    // serving path reads the ≤ ~128-cell bucket frame alone. Both
    // cumulative windows run INSIDE the memo, directly over the
    // value-level aggregate (rows = distinct lengths — metadata-sized),
    // so the single-partition collapse is certified at build time and
    // every probe below is one conditional aggregation over a pure
    // checkpoint scan — no literal-key 1-row join (the r10 guard
    // regression), no join at all.
    "corpus_qhist_quantiles" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def bitlen4(c: org.apache.spark.sql.Column) =
          graft.operators.Sketch.qhistBucket(c)
        val vhc = FrameCache.memo(s, d, "qhist_vhc") {
          // saturate n exactly like qhistBucket (and the oracle's base
          // CTE): past QhistMaxN tokens the bucket is pinned anyway, and an
          // unsaturated value histogram would report a DIFFERENT
          // exact_value than the oracle's saturated walk for documents
          // beyond the staircase's int64 range
          val vh = Tables.documents(s, d)
            .select(least(size(TextAnalysis.tokens(col("text"))).cast("long"),
              lit(Sketch.QhistMaxN)).as("n"))
            .groupBy(col("n")).agg(count(lit(1)).as("c"))
          // bucket(n) is monotone in n, so the bucket-level cumulative
          // AT bucket b equals the value-level walk's max within b —
          // attach it per row (one bucket-keyed window), no second
          // frame and no bucket→value join needed downstream. The
          // "WindowExec: No Partition Defined" warning is expected and
          // safe: vh is the distinct-value histogram, not the corpus.
          vh.withColumn("cum", sum(col("c")).over(Window.orderBy("n")))
            .withColumn("bucket", bitlen4(col("n")))
            .withColumn("bc",
              max(col("cum")).over(Window.partitionBy("bucket")))
        }
        // ONE driver-side scalar off the tiny checkpointed histogram
        val total = vhc.agg(max(col("cum"))).head().getLong(0)
        Seq(2500L, 5000L, 7500L, 9000L, 9900L).map { qbp =>
          val k = (qbp * total + 9999L) / 10000L
          // one aggregation serves BOTH the exact order statistic and
          // the sketch's answer — still independently computed columns
          vhc.agg(
            min(when(col("cum") >= k, col("n"))).as("exact_value"),
            min(when(col("bc") >= k, col("bucket"))).as("est_bucket"))
            .select(lit(qbp).as("q_bp"), lit(k).as("k"), col("est_bucket"),
              col("exact_value"), bitlen4(col("exact_value")).as("exact_bucket"),
              when(col("est_bucket") === bitlen4(col("exact_value")), 1L)
                .otherwise(0L).as("in_bucket"))
        }.reduce(_.union(_))
      },
      s"""WITH t AS (
         |  SELECT $qhistLenSql AS n
         |  FROM documents),
         |vh AS (SELECT n, COUNT(*) AS c FROM t GROUP BY n),
         |cum AS (SELECT n, SUM(c) OVER (ORDER BY n) AS cum FROM vh),
         |tot AS (SELECT SUM(c) AS total FROM vh),
         |bh AS (
         |  SELECT CAST(${qhistBucketSql("n")} AS BIGINT) AS bucket,
         |    SUM(c) AS c
         |  FROM vh GROUP BY 1),
         |bcum AS (SELECT bucket, SUM(c) OVER (ORDER BY bucket) AS bc FROM bh),
         |ks AS (
         |  SELECT CAST(q_bp AS BIGINT) AS q_bp,
         |    CAST((q_bp * total + 9999) // 10000 AS BIGINT) AS k
         |  FROM (SELECT unnest([2500, 5000, 7500, 9000, 9900]) AS q_bp), tot),
         |ex AS (
         |  SELECT k.q_bp, k.k, MIN(c.n) AS exact_value
         |  FROM ks k JOIN cum c ON c.cum >= k.k GROUP BY 1, 2),
         |eb AS (
         |  SELECT k.q_bp, MIN(b.bucket) AS est_bucket
         |  FROM ks k JOIN bcum b ON b.bc >= k.k GROUP BY 1)
         |SELECT ex.q_bp, ex.k, eb.est_bucket, ex.exact_value,
         |  CAST(length(bin(ex.exact_value * ex.exact_value *
         |    ex.exact_value * ex.exact_value)) AS BIGINT) AS exact_bucket,
         |  CAST(CASE WHEN eb.est_bucket = CAST(length(bin(ex.exact_value *
         |    ex.exact_value * ex.exact_value * ex.exact_value)) AS BIGINT)
         |    THEN 1 ELSE 0 END AS BIGINT) AS in_bucket
         |FROM ex JOIN eb ON ex.q_bp = eb.q_bp""".stripMargin),

    // HyperLogLog register table — the CARDINALITY sketch completing
    // the family (CMS = frequencies, qhist = quantiles): how many
    // DISTINCT 3-gram shingles has the corpus seen — the vocabulary
    // that genuinely grows with the corpus (text_novelty's "no
    // frequency table is joined back" space; the fixture's WORD list is
    // a few dozen entries, which would sit in the small-range regime
    // and grade nothing) — in 256 int64 registers of
    // constant size at any volume, with NO distinct shuffle anywhere
    // (register max is idempotent, so duplicates are free by
    // construction). Construction is ONE typed imperative aggregation
    // (the buffer IS the register table — hash60 once per occurrence,
    // map-side combined, merged register-wise by MAX); the sparse
    // (bucket, r) frame is recovered by posexplode. Deterministic
    // (portable MD5 hash + integer max — no RNG), so unlike library
    // HLLs the full register table replays bit-for-bit in DuckDB.
    "corpus_hll_build" -> QueryDef(
      (s, d) => graft.operators.Sketch.hllRegisters(Tables.documents(s, d)),
      s"""WITH ${shingleSql()},
         |${shingleHashSql("h", "", "tok")}
         |SELECT CAST(${hllBucketSql("h")} AS BIGINT) AS bucket,
         |  CAST(MAX(${hllRhoSql("h")}) AS BIGINT) AS r
         |FROM h GROUP BY 1""".stripMargin),

    // The sketch's estimate, GRADED against the exact distinct count
    // (the corpus_cms_topk doctrine: the exact side exists only to
    // grade; the serving path reads the 256-cell frame alone). The
    // scaled harmonic sum S = Σ 2^(53-r) stays exact int64 (absent
    // registers contribute 2^53 each, S ≤ 2^61), and the estimate is
    // the ONE IEEE division α·m²·2^53 / S — bit-identical across
    // engines because every input to the division is exact. err_bp is
    // the measured relative error in basis points (m=256 ⇒ ±6.5 %
    // standard error); the linear-counting small-range branch is
    // deliberately omitted (ln() is not bit-portable; the fixture sits
    // far above the 2.5m regime where it would apply: 16,245 distinct
    // shingles at sf0.01 vs the 640-threshold).
    "corpus_hll_card" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sk = Sketch.hllRegisters(docs)
          .agg(count(lit(1)).as("n_present"),
            sum(Sketch.hllTerm(col("r"))).as("s_present"))
        val m = Sketch.HllM.toLong
        cardGrade(docs, sk,
          Sketch.hllEstimate(col("n_present"), col("s_present")),
          col("n_present"), (lit(m) - col("n_present")).as("v_zero"),
          (col("s_present") + (lit(m) - col("n_present")) *
            lit(1L << Sketch.HllMaxRho)).as("s_scaled"))
      },
      s"""WITH ${shingleSql()},
         |${shingleHashSql("h", "", "tok")},
         |regs AS (
         |  SELECT ${hllBucketSql("h")} AS bucket, MAX(${hllRhoSql("h")}) AS r
         |  FROM h GROUP BY 1),
         |sk AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
         |    CAST(SUM(${hllTermSql("r")}) AS BIGINT) AS s_present
         |  FROM regs),
         |ex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact FROM tok),
         |est AS (
         |  SELECT n_present,
         |    ${graft.operators.Sketch.HllM} - n_present AS v_zero,
         |    s_present + (${graft.operators.Sketch.HllM} - n_present) *
         |      (1::BIGINT << ${graft.operators.Sketch.HllMaxRho}) AS s_scaled,
         |    ${graft.operators.Sketch.HllAlphaNum} /
         |      CAST(s_present + (${graft.operators.Sketch.HllM} - n_present) *
         |        (1::BIGINT << ${graft.operators.Sketch.HllMaxRho}) AS DOUBLE)
         |      AS est,
         |    n_exact
         |  FROM sk, ex)
         |${cardGradeSql("n_present, v_zero, s_scaled", "est")}""".stripMargin),

    // The MAX-merge law that makes HLL a per-partition/per-hour sketch
    // (the corpus_qhist_merge doctrine, with max instead of sum): the
    // register-wise MAX of the two half-corpus register tables must
    // equal the independently-built full table on every register —
    // the property that dies first if the bucket/rank derivation picks
    // up corpus-level state. Both sides are 256-cell aggregations.
    "corpus_hll_merge" -> QueryDef(
      (s, d) => {
        val h = graft.functions.PortableHash.hash60(col("sh"))
        val ge = greatest(coalesce(col("r_even"), lit(0L)),
          coalesce(col("r_odd"), lit(0L)))
        Tables.documents(s, d)
          .select(pmod(col("doc_id"), lit(2)).as("p"),
            explode(graft.operators.Dedup.shingles(col("text"),
              graft.operators.Sketch.HllShingleN)).as("sh"))
          .select(col("p"),
            graft.operators.Sketch.hllBucket(h).as("bucket"),
            graft.operators.Sketch.hllRho(h).as("rho"))
          .groupBy(col("bucket"))
          .agg(max(when(col("p") === 0, col("rho"))).as("r_even"),
            max(when(col("p") === 1, col("rho"))).as("r_odd"),
            max(col("rho")).as("r_full"))
          .select(col("bucket"), col("r_even"), col("r_odd"),
            ge.as("r_merged"), col("r_full"),
            when(ge === col("r_full"), 1L).otherwise(0L).as("merge_exact"))
      },
      s"""WITH ${shingleSql("doc_id % 2 AS p")},
         |br AS (
         |  SELECT p, ${hllBucketSql(graft.functions.PortableHash.hash60Sql("tok"))} AS bucket,
         |    ${hllRhoSql(graft.functions.PortableHash.hash60Sql("tok"))} AS rho
         |  FROM t),
         |m AS (
         |  SELECT bucket,
         |    MAX(CASE WHEN p = 0 THEN rho END) AS r_even,
         |    MAX(CASE WHEN p = 1 THEN rho END) AS r_odd,
         |    MAX(rho) AS r_full
         |  FROM br GROUP BY bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(r_even AS BIGINT) AS r_even, CAST(r_odd AS BIGINT) AS r_odd,
         |  CAST(GREATEST(COALESCE(r_even, 0), COALESCE(r_odd, 0)) AS BIGINT)
         |    AS r_merged,
         |  CAST(r_full AS BIGINT) AS r_full,
         |  CAST(CASE WHEN GREATEST(COALESCE(r_even, 0), COALESCE(r_odd, 0))
         |    = r_full THEN 1 ELSE 0 END AS BIGINT) AS merge_exact
         |FROM m""".stripMargin),

    // HLL SET ALGEBRA — what max-merge buys beyond one count: sketch
    // the en and non-en shingle cohorts separately, and the union
    // cardinality falls out of register-wise max WITHOUT touching the
    // data again, while the intersection estimate is
    // inclusion–exclusion over three sketch reads. Exactly how a 100 TB
    // deployment answers "how many distinct shingles across these two
    // (or 200) shards/languages/days" from per-cohort register tables
    // alone. Estimates are the same all-exact-inputs single divisions
    // as corpus_hll_card; the exact union/intersection are computed
    // only to grade (union_err_bp). One corpus pass, ONE 256-key
    // aggregation for all three sketches (conditional max per cohort).
    "corpus_hll_langs" -> QueryDef(
      (s, d) => {
        val h = graft.functions.PortableHash.hash60(col("sh"))
        val t = Tables.documents(s, d)
          .select((col("lang") === "en").as("is_en"),
            explode(graft.operators.Dedup.shingles(col("text"),
              graft.operators.Sketch.HllShingleN)).as("sh"))
        val sk = t
          .select(col("is_en"),
            graft.operators.Sketch.hllBucket(h).as("bucket"),
            graft.operators.Sketch.hllRho(h).as("rho"))
          .groupBy(col("bucket"))
          .agg(max(when(col("is_en"), col("rho"))).as("r_en"),
            max(when(!col("is_en"), col("rho"))).as("r_other"),
            max(col("rho")).as("r_all"))
          .agg(count(col("r_en")).as("n_en"),
            sum(when(col("r_en").isNotNull,
              graft.operators.Sketch.hllTerm(col("r_en")))).as("s_en"),
            count(col("r_other")).as("n_other"),
            sum(when(col("r_other").isNotNull,
              graft.operators.Sketch.hllTerm(col("r_other")))).as("s_other"),
            count(col("r_all")).as("n_all"),
            sum(graft.operators.Sketch.hllTerm(col("r_all"))).as("s_all"))
        val exact = exactOverlap(t)
        def est(n: String, sp: String) =
          graft.operators.Sketch.hllEstimate(col(n), col(sp))
        // 1-row × 1-row scalar pair — the registered wh_dq_checks shape
        sk.crossJoin(broadcast(exact))
          .select(est("n_en", "s_en").as("est_en"),
            est("n_other", "s_other").as("est_other"),
            est("n_all", "s_all").as("est_union"),
            (est("n_en", "s_en") + est("n_other", "s_other")
              - est("n_all", "s_all")).as("inter_est"),
            col("exact_union"), col("exact_inter"),
            floor(lit(10000.0) * est("n_all", "s_all")
              / col("exact_union").cast("double")).as("union_err_bp"))
      },
      {
        val m = graft.operators.Sketch.HllM
        val shift = s"(1::BIGINT << ${graft.operators.Sketch.HllMaxRho})"
        def estSql(n: String, sp: String) =
          s"(${graft.operators.Sketch.HllAlphaNum} / " +
            s"CAST($sp + ($m - $n) * $shift AS DOUBLE))"
        s"""WITH ${shingleSql("lang = 'en' AS is_en")},
           |br AS (
           |  SELECT is_en,
           |    ${hllBucketSql(graft.functions.PortableHash.hash60Sql("tok"))} AS bucket,
           |    ${hllRhoSql(graft.functions.PortableHash.hash60Sql("tok"))} AS rho
           |  FROM t),
           |regs AS (
           |  SELECT bucket,
           |    MAX(CASE WHEN is_en THEN rho END) AS r_en,
           |    MAX(CASE WHEN NOT is_en THEN rho END) AS r_other,
           |    MAX(rho) AS r_all
           |  FROM br GROUP BY bucket),
           |sk AS (
           |  SELECT CAST(COUNT(r_en) AS BIGINT) AS n_en,
           |    CAST(SUM(CASE WHEN r_en IS NOT NULL
           |      THEN ${hllTermSql("r_en")} END) AS BIGINT) AS s_en,
           |    CAST(COUNT(r_other) AS BIGINT) AS n_other,
           |    CAST(SUM(CASE WHEN r_other IS NOT NULL
           |      THEN ${hllTermSql("r_other")} END) AS BIGINT) AS s_other,
           |    CAST(COUNT(r_all) AS BIGINT) AS n_all,
           |    CAST(SUM(${hllTermSql("r_all")}) AS BIGINT) AS s_all
           |  FROM regs),
           |${exactOverlapSql("t", "tok")}
           |SELECT ${estSql("n_en", "s_en")} AS est_en,
           |  ${estSql("n_other", "s_other")} AS est_other,
           |  ${estSql("n_all", "s_all")} AS est_union,
           |  ${estSql("n_en", "s_en")} + ${estSql("n_other", "s_other")}
           |    - ${estSql("n_all", "s_all")} AS inter_est,
           |  exact_union, exact_inter,
           |  CAST(FLOOR(10000.0 * ${estSql("n_all", "s_all")}
           |    / CAST(exact_union AS DOUBLE)) AS BIGINT) AS union_err_bp
           |FROM sk, ex""".stripMargin
      }),

    // K-minimum-values sketch — the SECOND cardinality sketch, kept
    // beside HLL because its state is a SAMPLE of the distinct hash
    // space (the k smallest distinct hash60 values over the same
    // 3-gram shingle space), not a lossy projection of it. One typed
    // imperative aggregation whose buffer is the value set (map-side
    // combined, union-merged, duplicates free by set semantics — no
    // distinct shuffle, no global sort anywhere); deterministic
    // portable hashing, so all 256 values replay bit-for-bit in the
    // DuckDB oracle.
    "corpus_kmv_build" -> QueryDef(
      (s, d) => graft.operators.Sketch.kmvMins(Tables.documents(s, d)),
      s"""WITH ${shingleSql()},
         |${shingleHashSql("hd", "DISTINCT ", "tok")},
         |mins AS (${kmvMinSql("hd")})
         |SELECT CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rk, h
         |FROM mins""".stripMargin),

    // The min-k MERGE LAW (the corpus_hll_merge doctrine with
    // union-then-trim instead of register max): the k smallest of the
    // UNION of the two half-corpus sketches must equal the
    // independently-built full sketch value-for-value — the property
    // that makes KMV a per-partition/per-shard summary. One corpus
    // pass builds all three sketches as conditional aggregates; the
    // merge itself is pure array arithmetic on two ≤ k-value rows.
    "corpus_kmv_merge" -> QueryDef(
      (s, d) => {
        val K = graft.operators.Sketch.KmvK
        val N = graft.operators.Sketch.HllShingleN
        val t = Tables.documents(s, d)
          .select(pmod(col("doc_id"), lit(2)).as("p"),
            graft.operators.TextAnalysis.tokens(col("text")).as("tk"))
        val merged = slice(array_sort(array_distinct(
          concat(col("e"), col("o")))), 1, K)
        t.agg(
            graft.functions.SketchAggregates.kmvShingleSketchAgg(
              when(col("p") === 0, col("tk")), N, K).as("e"),
            graft.functions.SketchAggregates.kmvShingleSketchAgg(
              when(col("p") === 1, col("tk")), N, K).as("o"),
            graft.functions.SketchAggregates.kmvShingleSketchAgg(
              col("tk"), N, K).as("full"))
          .select(posexplode(zip_with(merged, col("full"), (a, b) =>
            struct(a.as("h_merged"), b.as("h_full")))).as(Seq("pos", "z")))
          .select((col("pos") + 1).cast("long").as("rk"),
            col("z.h_merged").as("h_merged"), col("z.h_full").as("h_full"),
            when(col("z.h_merged") === col("z.h_full"), 1L).otherwise(0L)
              .as("merge_exact"))
      },
      s"""WITH ${shingleSql("doc_id % 2 AS p")},
         |${shingleHashSql("hh", "p, ", "t")},
         |${kmvCteSql("me", "(SELECT DISTINCT h FROM hh WHERE p = 0)")},
         |${kmvCteSql("mo", "(SELECT DISTINCT h FROM hh WHERE p = 1)")},
         |${kmvCteSql("mm", "(SELECT h FROM me UNION SELECT h FROM mo)")},
         |${kmvCteSql("mf", "(SELECT DISTINCT h FROM hh)")},
         |rm AS (SELECT row_number() OVER (ORDER BY h) AS rk, h FROM mm),
         |rf AS (SELECT row_number() OVER (ORDER BY h) AS rk, h FROM mf)
         |SELECT CAST(rm.rk AS BIGINT) AS rk, rm.h AS h_merged,
         |  rf.h AS h_full,
         |  CAST(CASE WHEN rm.h = rf.h THEN 1 ELSE 0 END AS BIGINT)
         |    AS merge_exact
         |FROM rm JOIN rf ON rm.rk = rf.rk""".stripMargin),

    // The order-statistic estimate GRADED against the exact distinct
    // count (the corpus_hll_card doctrine): the k-th smallest of N
    // uniform draws on [0, 2^60) sits near k/N of the range, so
    // est = (k−1)·2⁶⁰/h₍ₖ₎ — both operands exactly-representable
    // doubles, ONE IEEE division, engine-identical. ±1/√(k−2) ≈ 6.3 %
    // standard error at k = 256, deliberately comparable to
    // corpus_hll_card's m = 256. An UNDERFILLED sketch (k_filled < k)
    // holds every distinct hash, so the estimator returns k_filled
    // exactly there (both engines branch identically) instead of the
    // order-statistic formula, whose fixed (k−1)·2⁶⁰ numerator badly
    // overestimates small cardinalities.
    "corpus_kmv_estimate" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sk = Sketch.kmvMins(docs)
          .agg(count(lit(1)).as("k_filled"), max(col("h")).as("h_k"))
        cardGrade(docs, sk, Sketch.kmvEstimate(col("k_filled"), col("h_k")),
          col("k_filled"), col("h_k"))
      },
      s"""WITH ${shingleSql()},
         |${shingleHashSql("hd", "DISTINCT ", "tok")},
         |sk AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS k_filled, MAX(h) AS h_k
         |  FROM (${kmvMinSql("hd")})),
         |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM hd),
         |es AS (
         |  SELECT k_filled, h_k,
         |    CASE WHEN k_filled < ${graft.operators.Sketch.KmvK}
         |      THEN CAST(k_filled AS DOUBLE)
         |      ELSE ${(graft.operators.Sketch.KmvK - 1).toDouble * math.pow(2.0, 60)}
         |        / CAST(h_k AS DOUBLE) END AS est
         |  FROM sk)
         |${cardGradeSql("k_filled, h_k", "es, ex")}""".stripMargin),

    // KMV SET OVERLAP — what the value-sample state buys beyond one
    // count, and the reason this sketch earns its place beside HLL:
    // the fraction of the MERGED sketch present in BOTH cohort
    // sketches is a direct, all-integer Jaccard estimator
    // (±√(J(1−J)/k) ≈ 3 pp at k = 256), where corpus_hll_langs'
    // intersection must go through inclusion–exclusion whose error is
    // relative to the UNION — useless for small overlaps, which is
    // exactly the decontamination question ("how much of the
    // benchmark leaked into my corpus"). Same en / non-en cohorts as
    // the HLL row, graded against the exact Jaccard; one corpus pass
    // builds both sketches, the estimator is array arithmetic on two
    // 256-value rows.
    "corpus_kmv_jaccard" -> QueryDef(
      (s, d) => {
        val K = graft.operators.Sketch.KmvK
        val N = graft.operators.Sketch.HllShingleN
        val t = Tables.documents(s, d)
          .select((col("lang") === "en").as("is_en"),
            graft.operators.TextAnalysis.tokens(col("text")).as("tk"))
        val merged = slice(array_sort(array_distinct(
          concat(col("a"), col("b")))), 1, K)
        val sk = t.agg(
            graft.functions.SketchAggregates.kmvShingleSketchAgg(
              when(col("is_en"), col("tk")), N, K).as("a"),
            graft.functions.SketchAggregates.kmvShingleSketchAgg(
              when(!col("is_en"), col("tk")), N, K).as("b"))
          .select(
            size(merged).cast("long").as("k_m"),
            size(array_intersect(array_intersect(merged, col("a")),
              col("b"))).cast("long").as("overlap"))
          .select(col("k_m"), col("overlap"),
            expr("overlap * 10000 DIV k_m").as("jac_est_bp"))
        val exact = exactOverlap(Tables.documents(s, d)
          .select((col("lang") === "en").as("is_en"),
            explode(graft.operators.Dedup.shingles(col("text"),
              Sketch.HllShingleN)).as("sh")))
        // 1-row × 1-row scalar pair — the registered wh_dq_checks shape
        sk.crossJoin(broadcast(exact))
          .select(col("k_m"), col("overlap"), col("jac_est_bp"),
            col("exact_union"), col("exact_inter"),
            expr("exact_inter * 10000 DIV exact_union").as("jac_exact_bp"))
      },
      s"""WITH ${shingleSql("lang = 'en' AS is_en")},
         |${shingleHashSql("hh", "is_en, ", "t")},
         |${kmvCteSql("ma", "(SELECT DISTINCT h FROM hh WHERE is_en)")},
         |${kmvCteSql("mb", "(SELECT DISTINCT h FROM hh WHERE NOT is_en)")},
         |${kmvCteSql("mm", "(SELECT h FROM ma UNION SELECT h FROM mb)")},
         |sk AS (
         |  SELECT CAST((SELECT COUNT(*) FROM mm) AS BIGINT) AS k_m,
         |    CAST((SELECT COUNT(*) FROM mm
         |          WHERE h IN (SELECT h FROM ma)
         |            AND h IN (SELECT h FROM mb)) AS BIGINT) AS overlap),
         |${exactOverlapSql("hh", "h")}
         |SELECT k_m, overlap,
         |  CAST(overlap * 10000 // k_m AS BIGINT) AS jac_est_bp,
         |  exact_union, exact_inter,
         |  CAST(exact_inter * 10000 // exact_union AS BIGINT)
         |    AS jac_exact_bp
         |FROM sk, ex""".stripMargin),

    // N-gram novelty score: the fraction of a document's distinct
    // 3-gram shingles that appear NOWHERE else in the corpus — the
    // self-contained-content signal a curation recipe uses alongside
    // corpus frequency (high novelty ≈ original text, low ≈ boilerplate
    // assembled from corpus-common phrases). Unlike text_corpus_freq's
    // word vocabulary (broadcastable ~MB), the 3-gram vocabulary grows
    // with the corpus — so NO frequency table is joined back: the novel
    // count per doc falls out of the df aggregation itself (a df=1
    // shingle names its unique owner via min(doc_id)), leaving two
    // key-hashed shuffles (shingle, then doc) and a doc-scale join.
    // Int64-exact counts, one IEEE division at the edge.
    "text_novelty" -> QueryDef(
      (s, d) => {
        val sh = Tables.documents(s, d).select(
          col("doc_id"),
          explode(graft.operators.Dedup.shingles(col("text"), 3)).as("sh"))
        val perDoc = sh.groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_shingles"))
        val novel = sh.groupBy(col("sh"))
          .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
          .filter(col("df") === 1)
          .groupBy(col("owner").as("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_novel"))
        perDoc.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            (coalesce(col("n_novel"), lit(0L)).cast("double") /
              col("n_shingles").cast("double")).as("novelty"))
      },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${shingles(tokens("text"), 3)}) AS s
         |  FROM documents),
         |pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |  FROM sh GROUP BY doc_id),
         |nv AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM sh GROUP BY s HAVING count(*) = 1),
         |nvc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
         |  FROM nv GROUP BY doc_id)
         |SELECT pd.doc_id, pd.n_shingles,
         |  CAST(COALESCE(nvc.n_novel, 0) AS BIGINT) AS n_novel,
         |  CAST(COALESCE(nvc.n_novel, 0) AS DOUBLE) / pd.n_shingles AS novelty
         |FROM pd LEFT JOIN nvc ON pd.doc_id = nvc.doc_id""".stripMargin),

    // Hashed-bigram LM TRAINING — the CCNet quality-filter recipe's
    // model half: add-one-smoothed conditional bigram counts over the
    // TARGET slice (lang = 'en' — CCNet trains on Wikipedia), the
    // conditional log-prob as an exact quarter-bit integer staircase
    // (length(bin(x⁴)), x the smoothed ratio — see LmScale; log-free,
    // overflow-free at any corpus size). Reports the observed-support
    // grid rows; unseen bigrams are the formula's c12=0 arm, resolved
    // at serving time from the same grid. Shape at 100 TB: two
    // map-side-combined count aggregates over one corpus pass, then
    // grid assembly over aggregate-sized frames only.
    "text_lm_train" -> QueryDef(
      (s, d) => lmGrid(s, d).filter(col("c12") > 0),
      s"""WITH $lmCtes
         |SELECT g, c12, c1, wbits FROM lmgrid WHERE c12 > 0""".stripMargin),

    // LM scoring — the serving half: every document's summed
    // quarter-bit log-probability under the trained target LM. The
    // 65,536-entry grid folds into one broadcast array; scoring is a
    // map-only aggregate() fold per document (the DSIR serving shape —
    // no post-training shuffle touches the corpus). lp_bits/4/n_bigrams
    // ≈ mean log₂ P(b₂|b₁): an integer perplexity proxy.
    "text_lm_score" -> QueryDef(
      (s, d) => lmScoreSpark(s, d),
      s"""WITH $lmScoreCtes
         |SELECT doc_id, lang, n_bigrams, lp_bits FROM lmsc""".stripMargin),

    // BACKGROUND-LM training report — the second trained model of the
    // CCNet ratio discriminator: the same add-one-smoothed conditional
    // bigram grid trained over the WHOLE corpus (the raw-CommonCrawl
    // stand-in to the target grid's Wikipedia stand-in). Same two
    // map-side-combined count aggregates over one corpus pass; the
    // report rows are the observed-support grid entries.
    "text_lm_train_bg" -> QueryDef(
      (s, d) => lmGridBg(s, d).filter(col("c12") > 0),
      s"""WITH $lmBgTrainCtes
         |SELECT g, c12, c1, wbits FROM bggrid WHERE c12 > 0""".stripMargin),

    // The full CCNet discriminator's scoring frame: per-document
    // TARGET (en-slice) and BACKGROUND (whole-corpus) LM scores from
    // two grids trained by the same pipeline, both served as broadcast
    // arrays through the native one-pass fold, in ONE corpus pass. In
    // quarter-bit log space the target-vs-background perplexity RATIO
    // is the difference lp_t − lp_bg — the number CCNet actually ranks
    // by, separating in-domain quality from mere string frequency
    // (which the target-only score conflates with language ID).
    "text_lm_ratio_score" -> QueryDef(
      (s, d) => lmRatioScoreSpark(s, d),
      s"""WITH $lmRatioCtes
         |SELECT doc_id, lang, n_bigrams, lp_t, lp_bg FROM lmrsc""".stripMargin),

    // The COMPLETE CCNet gate: admit on the target-vs-background
    // perplexity ratio (10·(lp_t − lp_bg) ≥ −13·n, int64
    // cross-multiplied — see LmRatioNum). Per-language manifest;
    // measured at sf0.01: 87 % en admitted vs 8–12 % for every other
    // language, and WITHIN en the ratio ranks differently than the
    // target-only score (rank corr ≈ 0.53 — TextAnalysisSpec pins the
    // reordering), because the background term cancels
    // frequent-everywhere mass the target-only gate mistakes for
    // in-domain quality.
    "curate_lm_ratio_gate" -> manifest(lmRatioScoreSpark,
      (_, _) => lit(LmRatioDen) * (col("lp_t") - col("lp_bg")) >=
        lit(LmRatioNum) * col("n_bigrams"))(lmRatioCtes, "lmrsc",
      s"""CAST(count(CASE WHEN $LmRatioDen * (lp_t - lp_bg) >=
         |             $LmRatioNum * n_bigrams THEN 1 END) AS BIGINT) AS n_kept""".stripMargin),

    // The calibration itself, auditable: (theta, k, n_train) — the
    // k-th smallest fixed-point ratio key over the en training slice,
    // k = max(1, N div 10). Exact integer order statistic: the Spark
    // side selects it off a qk-histogram + cumulative count (no
    // global corpus sort at any scale); the oracle replays it with
    // row_number. This 1-row frame IS the trained artifact the
    // calibrated gate ships as a plan literal.
    "text_lm_calib_theta" -> QueryDef(
      (s, d) => lmCalibThetaFrame(s, d),
      s"""WITH $lmRatioCtes,
         |$calibThetaCtes
         |SELECT theta, CAST(k AS BIGINT) AS k,
         |  CAST(n_train AS BIGINT) AS n_train FROM cth""".stripMargin),

    // The CALIBRATED CCNet ratio gate — the scale-transferring form of
    // curate_lm_ratio_gate. The r13 audit proved the fixed rational
    // saturates at 10× data (5,000/5,000 admitted at sf0.1, kappa 0
    // against the NB gate — a dead stage); this gate thresholds on a
    // train-time ORDER STATISTIC of the target slice's score
    // distribution instead, so by construction it admits ≈ 90 % of en
    // and stays strictly non-saturated at every scale (measured: en
    // 90 %/90.2 %, others 10–24 %/4.5–13 % at sf0.01/sf0.1). The
    // fixed-threshold row stays registered for history.
    "curate_lm_calib_gate" -> manifest(lmRatioScoreSpark,
      (s, d) => calibAdmit(lmCalibTheta(s, d)))(
      s"$lmRatioCtes,\n$calibThetaCtes", "lmrsc",
      s"""CAST(count(CASE WHEN ${calibAdmitSql("lmrsc")} THEN 1 END)
         |    AS BIGINT) AS n_kept""".stripMargin),

    // LM perplexity gate — the filter CCNet actually applies: keep
    // documents whose mean LM score clears the threshold (4·lp ≥
    // 105·n, pure int64 cross-multiplication). Reports the per-language
    // admission manifest; the target language passes at ~94 % vs
    // ~30-40 % for the rest at sf0.01 (TextAnalysisSpec pins en as the
    // top admission rate) — exactly the in-distribution selection the
    // recipe is for.
    "curate_lm_gate" -> manifest(lmScoreSpark,
      (_, _) => lit(4L) * col("lp_bits") >= lit(LmGateT4) * col("n_bigrams"))(
      lmScoreCtes, "lmsc",
      s"""CAST(count(CASE WHEN 4 * lp_bits >= $LmGateT4 * n_bigrams
         |             THEN 1 END) AS BIGINT) AS n_kept""".stripMargin),

    // Multinomial NB training report: the observed-support rows of the
    // per-class conditional bigram grids — (class, code, counts, prior
    // bits, likelihood bits), every value an exact int64 off the
    // quarter-bit staircase. The trained-classifier quality gate beside
    // the LM perplexity gate (the fastText role in CCNet-style
    // recipes); training is ONE class×code count aggregate over one
    // corpus pass (the wbits smoothing, per class).
    "text_nb_train" -> QueryDef(
      (s, d) => nbGrid(s, d).filter(col("c12") > 0),
      s"""WITH $nbCtes
         |SELECT lang, g, c12, c1, wbits
         |FROM nbgrid WHERE c12 > 0""".stripMargin),

    // NB scoring — the serving half: each document's argmax class and
    // winning score from |classes| compiled lm_score_bits folds over
    // one token array (the per-class grids fold in as literals —
    // classes × 65,536 longs of index metadata). Map-only; prediction
    // is a pure integer argmax with (score DESC, lang DESC) tie-break,
    // replayed exactly by the oracle's row_number.
    "text_nb_score" -> QueryDef(
      (s, d) => nbScoreSpark(s, d),
      s"""WITH $nbCtes
         |SELECT doc_id, lang, n_bigrams, pred_lang, nb_cbits
         |FROM nbscd""".stripMargin),

    // The NB classifier AS the admission gate: keep documents the
    // trained model classifies as the target class (en) — the
    // integer-argmax admission a fastText-style quality classifier
    // applies in CCNet-ish recipes. Per-language manifest; the
    // measured contrast with curate_lm_ratio_gate (which admits 87 %
    // en / 8–12 % others on mean ratio) is that the ARGMAX gate is
    // winner-take-all: TextAnalysisSpec pins en's admission above
    // every other language's under both gates and pins the two gates
    // disagreeing on a measurable slice of documents.
    "curate_nb_gate" -> manifest(nbScoreSpark,
      (_, _) => col("pred_lang") === "en")(nbCtes, "nbscd",
      """CAST(count(CASE WHEN pred_lang = 'en' THEN 1 END) AS BIGINT)
        |    AS n_kept""".stripMargin),

    // Gate-ensemble agreement audit: the 2×2 contingency of the two
    // trained admission gates (CCNet perplexity RATIO vs NB argmax)
    // over the same documents, with Cohen's kappa — the filter-ensemble
    // question every classifier-gated recipe has to answer before
    // stacking gates: does the second gate ADD information (low kappa →
    // the intersection is a real composition) or just re-reject the
    // same documents (kappa → 1, the second pass is wasted compute)?
    // Both verdicts come off ONE fused tokenize+MD5 pass
    // (lm_nb_fused_bits), then one 1-row aggregate; kappa is a single
    // IEEE division of two exact int64 polynomials in the cell counts
    // (n·agree − Σ marginal products over n² − Σ marginal products), so
    // the double replays bit-identically in the oracle. agree_bp is the
    // floor'd basis-point agreement. At 100 TB this is a map-only pass
    // + a constant-size aggregate — the audit costs one corpus read.
    // Measured, and exactly why the audit must exist: at sf0.01 the
    // gates agree at kappa 0.756 (8,780 bp — the NB gate re-confirms
    // the ratio gate on most documents), but at sf0.1 the ratio gate
    // SATURATES (5,000/5,000 admitted — the 10×-data target grid lifts
    // every document over the fixed threshold) and kappa reads exactly
    // 0: a constant gate carries no information, the NB gate is doing
    // ALL the filtering, and the recipe's ratio stage is free to drop
    // at that scale. (Degenerate both-constant boards give 0/0 = NaN
    // by construction — "agreement" is undefined with no variation.)
    "curate_gate_agreement" -> QueryDef(
      (s, d) => {
        val (rNum, rDen) = lmRatioThreshold
        agreementFromFlags(lmNbFusedFrame(s, d).select(
          when(lit(rDen) * (col("f.lp_t") - col("f.lp_bg")) >=
            lit(rNum) * col("n_bigrams"), 1L).otherwise(0L).as("lm"),
          when(col("f.cls") === "en", 1L).otherwise(0L).as("nb")))
      },
      {
        val (rNum, rDen) = lmRatioThreshold
        s"""WITH $lmRatioCtes,
           |$nbCtesBody,
           |gfl AS (
           |  SELECT CASE WHEN $rDen * (l.lp_t - l.lp_bg) >=
           |    $rNum * l.n_bigrams THEN 1 ELSE 0 END AS lm,
           |    CASE WHEN n.pred_lang = 'en' THEN 1 ELSE 0 END AS nb
           |  FROM lmrsc l JOIN nbscd n ON n.doc_id = l.doc_id)
           |$agreementTailSql""".stripMargin
      }),

    // The agreement audit RE-MEASURED on the calibrated ratio gate —
    // the row that proves the r13 finding is fixed: with the order-
    // statistic threshold the lm stage cannot saturate, so kappa is
    // meaningful at every scale (measured: the fixed gate's kappa
    // collapses 0.756 → 0.0 from sf0.01 to sf0.1; the calibrated
    // gate's stays positive at both). Same fused one-pass scorer,
    // same exact-int64 contingency, only the lm flag differs.
    "curate_gate_agreement_cal" -> QueryDef(
      (s, d) => {
        val theta = lmCalibTheta(s, d)
        agreementFromFlags(lmNbFusedFrame(s, d)
          .select(col("n_bigrams"), col("f.lp_t").as("lp_t"),
            col("f.lp_bg").as("lp_bg"), col("f.cls").as("cls"))
          .select(
            when(calibAdmit(theta), 1L).otherwise(0L).as("lm"),
            when(col("cls") === "en", 1L).otherwise(0L).as("nb")))
      },
      s"""WITH $lmRatioCtes,
         |$calibThetaCtes,
         |$nbCtesBody,
         |gfl AS (
         |  SELECT CASE WHEN ${calibAdmitSql("l")} THEN 1 ELSE 0 END AS lm,
         |    CASE WHEN n.pred_lang = 'en' THEN 1 ELSE 0 END AS nb
         |  FROM lmrsc l JOIN nbscd n ON n.doc_id = l.doc_id)
         |$agreementTailSql""".stripMargin),

    // Score-band precision curve of the NB admission gate — the audit
    // that says whether the gate's SCORE is a usable knob: the
    // admitted (pred = en) set banded by centered score-per-bigram
    // into FIXED 512-quarter-bit-wide bins (numerator offset by
    // +4096·n_bigrams so it is nonnegative in both engines — int64
    // division then truncates = floors identically; capped at band
    // 20), each band reporting admitted count, how many are truly en,
    // and the precision. Banding is MAP-ONLY (no global sort, no
    // ntile — the 100 TB story: absolute bands need no distributed
    // quantile pass) + one ≤ 21-group aggregate. Measured at sf0.01
    // the curve rises 0.43 → 0.98 from band 3 to band 8: score
    // thresholding above the argmax IS available to tighten the
    // gate — exactly what a recipe wants to know before trading
    // recall for precision.
    "curate_nb_bands" -> QueryDef(
      (s, d) => nbScoreSpark(s, d)
        .filter(col("pred_lang") === "en" && col("n_bigrams") > 0)
        .withColumn("band",
          least(lit(20L), expr(
            "greatest(0L, nb_cbits + 4096L * n_bigrams) div (512L * n_bigrams)")))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_admitted"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_true_en"))
        .select(col("band"), col("n_admitted"), col("n_true_en"),
          (col("n_true_en").cast("double") / col("n_admitted").cast("double"))
            .as("precision")),
      s"""WITH $nbCtes,
         |nbands AS (
         |  SELECT least(20, greatest(0, nb_cbits + 4096 * n_bigrams)
         |           // (512 * n_bigrams)) AS band,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t
         |  FROM nbscd WHERE pred_lang = 'en' AND n_bigrams > 0)
         |SELECT CAST(band AS BIGINT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_admitted,
         |  CAST(sum(t) AS BIGINT) AS n_true_en,
         |  CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS precision
         |FROM nbands GROUP BY band""".stripMargin))
}
