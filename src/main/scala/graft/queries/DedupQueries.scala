package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Deduplication query surface over the `documents` / `embeddings`
  * fixtures — the operator family a 100 TB training-data pipeline needs.
  * Oracles are generated from [[OracleSql]] with the SAME hash constants
  * as the Spark plans, so both engines compute identical values.
  *
  * Fixture-tuned parameters (documents are short word-salad from a small
  * vocabulary; embeddings are unclustered random vectors):
  *   - MinHash shingle size 1 (word-set similarity), threshold 0.9;
  *   - blocked 2-gram Jaccard at threshold 0.08 (99th pct ≈ 0.08);
  *   - embedding near-dup cosine threshold 0.35 (max pairwise ≈ 0.46).
  */
object DedupQueries {
  import OracleSql._

  private val P = graft.functions.PortableHash.P
  private val K = 12
  private val Bands = 4
  private val RowsPerBand = K / Bands

  /** Systematic-sampling step for the DSIR resampler: one document kept
    * per 2^18 units of cumulative importance (scores are ~1000 per
    * feature × ~45 features per doc, so ≈ one keeper per ~5 docs at any
    * SF — 98/500 measured at sf0.01; the kept count tracks corpus
    * size). MUST initialize before
    * `defs` (the oracle text reads it while `defs` initializes). */
  private val DsirStep = 262144L

  /** Systematic-sampling step for the `curate_pipeline` capstone's
    * resampling stage: half [[DsirStep]], because the resampler there
    * runs over the (deduped ∩ quality-gated ∩ LM-admitted ∖
    * semantic-dropped) SURVIVORS — a far smaller, importance-skewed
    * population — and the audit manifest should stay populated at the
    * smallest fixture (≈40 % of survivors kept at the measured ~50k
    * mean importance). Same init-before-`defs` rule. */
  private val PipelineStep = 131072L

  /** The capstone resampler's step, package-visible for the streaming
    * pipeline twin and its spec. */
  private[graft] def pipelineStep: Long = PipelineStep

  /** Shared near-dup frames. A real curation run computes the MinHash
    * candidate→verify PAIR frame once and every downstream step reads
    * it: the pair listing (`dedup_minhash_pairs`), the connected-
    * components labels derived from it (`dedup_components` /
    * `dedup_keeper_election`), split decontamination
    * (`curate_decontaminate`) and the recipe capstone (`curate_recipe`).
    * The registry's one-query-one-DataFrame contract would otherwise
    * force each of those five queries to recompute the whole
    * shingle → signature → band → capped-bucket → exact-Jaccard
    * pipeline — the most expensive subtree in the corpus family, run
    * five times for one answer. Both frames live in the shared
    * [[FrameCache]] memo (`localCheckpoint`ed, pairs-scale: one row per
    * candidate pair / one (node, label) row per clustered doc). */
  private def nearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "pairs") {
      Dedup.nearDuplicates(Tables.documents(s, d),
        "doc_id", "text", n = 1, k = K, bands = Bands, threshold = 0.9,
        bucketCap = 48)
    }

  /** Connected-component labels over [[nearDupPairs]]. */
  private def nearDupLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // resolve the pairs frame BEFORE entering the labels memo (see the
    // FrameCache nesting note)
    val pairs = nearDupPairs(s, d)
    FrameCache.memo(s, d, "labels") {
      graft.operators.ConnectedComponents.run(
        pairs.select(col("a"), col("b")))
    }
  }

  /** Build this family's shared frames eagerly (pairs, then the labels
    * derived from them) so a bench pass can time them as their own line
    * item instead of charging the whole clique to whichever query
    * happens to consume them first. */
  private[graft] def prewarmShared(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    nearDupPairs(s, d)
    nearDupLabels(s, d)
    pipelineGatedMemo(s, d)
    ()
  }

  /** DuckDB CTEs for the shared MinHash pipeline (hashed shingle → sign →
    * band → capped bucket). `cap` mirrors the Spark side's deterministic
    * LSH bucket-size cap — the fixture vocabulary is 31 words, so 1-gram
    * near-dup density is pathological and band buckets degenerate toward
    * all-pairs without it. */
  private def minhashCtes(n: Int, where: String, cap: Int): String = {
    val sigs = (0 until K).map(i => s"${minhash("__sh", i)} AS s$i").mkString(", ")
    val bandKeys = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"s$i")
      s"concat_ws(',', $b, ${cols.mkString(", ")})"
    }.mkString("[", ", ", "]")
    s"""sh AS (
       |  SELECT doc_id AS __id,
       |    list_transform(${shingles(tokens("text"), n)},
       |      s -> ${graft.functions.PortableHash.hash60Sql("s")}) AS __sh
       |  FROM documents WHERE $where),
       |signed AS (
       |  SELECT __id, $sigs FROM sh),
       |bands AS (
       |  SELECT __id, unnest($bandKeys) AS __band FROM signed),
       |capped AS (
       |  SELECT __id, __band FROM (
       |    SELECT __id, __band,
       |      row_number() OVER (PARTITION BY __band ORDER BY __id) AS __rn
       |    FROM bands)
       |  WHERE __rn <= $cap),
       |cand AS (
       |  SELECT DISTINCT x.__id AS a, y.__id AS b
       |  FROM capped x JOIN capped y ON x.__band = y.__band AND x.__id < y.__id)""".stripMargin
  }

  /** Band configurations of `dedup_band_sweep`: every divisor split of
    * the K=12 signature into (bands × rows-per-band). More bands /
    * shorter rows move the LSH s-curve threshold (≈ (1/b)^(1/r)) down:
    * recall rises, precision falls. Declared before `defs` (the oracle
    * generator reads it while `defs` initializes). */
  private val SweepBands = Seq(2, 3, 4, 6)

  /** Per-config candidate CTEs for the band sweep: same signature CTE
    * (`signedsl`), band explode and a<b equi-join per config —
    * UNCAPPED on the sampled slice, so the measured knob is banding
    * alone, not bucket capping. */
  private def bandSweepCtes: String = SweepBands.map { nb =>
    val r = K / nb
    val bandKeys = (0 until nb).map { j =>
      val cols = (j * r until (j + 1) * r).map(i => s"s$i")
      s"concat_ws(',', $j, ${cols.mkString(", ")})"
    }.mkString("[", ", ", "]")
    s"""bands$nb AS (
       |  SELECT id, unnest($bandKeys) AS bk FROM signedsl),
       |cand$nb AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bands$nb x JOIN bands$nb y ON x.bk = y.bk AND x.id < y.id),
       |m$nb AS (
       |  SELECT CAST($nb AS BIGINT) AS bands,
       |    CAST($r AS BIGINT) AS rows_per_band,
       |    CAST(count(t.ta) AS BIGINT) AS n_truth,
       |    CAST(count(c.ca) AS BIGINT) AS n_cand,
       |    CAST(count(CASE WHEN t.ta IS NOT NULL AND c.ca IS NOT NULL
       |      THEN 1 END) AS BIGINT) AS n_hit
       |  FROM (SELECT a AS ta, b AS tb FROM truth) t
       |  FULL OUTER JOIN (SELECT a AS ca, b AS cb FROM cand$nb) c
       |    ON t.ta = c.ca AND t.tb = c.cb)""".stripMargin
  }.mkString(",\n")

  /** The six-family pipeline capstone frame — exact dedup → quality
    * quartile → CCNet RATIO gate (→ optional NB classifier gate) →
    * SemDeDup drop → DSIR resample → split manifest. `classifierGate`
    * composes the trained NB argmax admission (pred = en) beside the
    * perplexity ratio — the full quality stack CCNet-style recipes
    * run; both variants register as capstone rows. */
  private def pipelineFrame(s: org.apache.spark.sql.SparkSession,
      d: String, classifierGate: Boolean): org.apache.spark.sql.DataFrame =
    pipelineDocsMemo(s, d, classifierGate)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  /** The capstone's PER-DOCUMENT admission manifest (source, doc_id,
    * n_tokens, split) — [[pipelineFrame]] is its (source × split)
    * rollup; the shard-export capstone consumes the train slice.
    *
    * Memoized per (session, sf, variant) since r16: the manifest is
    * the ONE artifact a production curation run materializes (every
    * downstream consumer — the audit rollup, the shard export — reads
    * it from storage, never re-runs the six-family chain), and the
    * registry's three capstone rows re-ran the whole chain per row
    * (`curate_pipeline_shards` measured 4.9 s of which ~3.7 s was the
    * upstream `curate_pipeline_cls` already paid). Kilobytes per
    * entry; the bench clears it per pass, so each pass still pays
    * each variant's chain exactly once (the FrameCache doctrine). */
  private def pipelineDocsMemo(s: org.apache.spark.sql.SparkSession,
      d: String, classifierGate: Boolean): org.apache.spark.sql.DataFrame = {
    val variant = if (classifierGate) "cls" else "ratio"
    // probe-then-build (FrameCache.get): pipelineDocs CONSTRUCTION is
    // eager (the survivors' checkpoint inside it fires the whole
    // upstream chain), so the usual by-name memo would re-run the
    // six-family chain on every HIT; the inner trained-model memos
    // resolve during the miss-path construction, before the insert
    // (no-nesting rule)
    FrameCache.get(s, d, s"pipeline_docs_$variant").getOrElse {
      val built = pipelineDocs(s, d, classifierGate)
      FrameCache.memo(s, d, s"pipeline_docs_$variant")(built)
    }
  }

  /** Capstone stages 1+2 — exact-dedup keepers, then the per-source
    * top-quartile quality gate — are IDENTICAL for both capstone
    * variants (the ratio/cls fork happens at stage 3), so the gated
    * manifest (source, doc_id, n_tokens — id-scale) is a FrameCache
    * memo since r17: before, each variant's chain re-ran both corpus
    * scans (the normalize-MD5 dedup aggregation and the
    * tokenize+quality window) per pass. Prewarmed by [[prewarmShared]]
    * so the bench itemizes the build on the shared-frames line instead
    * of charging it to whichever capstone row runs first. */
  private def pipelineGatedMemo(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    FrameCache.memo(s, d, "pipeline_gated") {
      // stage 1: exact-dedup keepers
      val keepers = Tables.documents(s, d)
        .groupBy(md5(Dedup.normalize(col("text"))).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // stage 2: per-source top-quartile quality gate over keepers
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, d)
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .withColumn("qt", ntile(4).over(w))
        .filter(col("qt") === 1)
        .select(col("source"), col("doc_id"), col("n_tokens"))
    }
  }

  private def pipelineDocs(s: org.apache.spark.sql.SparkSession,
      d: String, classifierGate: Boolean): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.PortableHash
        import graft.operators.PrefixSum
        val gated = pipelineGatedMemo(s, d)
        // stage 3: LM admission on the FULL CCNet discriminator — the
        // target-vs-background perplexity ratio (the target-only
        // threshold partially restated language ID; the ratio cancels
        // the generic-probability term). Both grids are trained
        // models served as broadcast arrays; the predicate is int64
        // arithmetic on the CALIBRATED order-statistic threshold
        // (r13 proved the fixed rational saturates at 10× data — the
        // capstones compose the scale-transferring gate; the fixed
        // form survives as the historical curate_lm_ratio_gate row).
        // stage 4: semantic near-dup drop in the shared id space
        val semDrops = SimilarityQueries.semDroppedIds(s, d)
          .withColumnRenamed("vec_id", "doc_id")
        // stage 3(+3b): the _cls variant runs the ratio gate AND the NB
        // classifier gate as ONE fused corpus pass (each token hashed
        // once, all three trained grids folded together —
        // TextQueries.lmNbFusedAdmittedIds; the two-pass form paid a
        // second full tokenize+MD5 sweep for the classifier); the plain
        // variant keeps the ratio-only score frame
        val clsGated = if (classifierGate)
          gated.join(TextQueries.lmNbFusedAdmittedIdsCalib(s, d),
            Seq("doc_id"), "left_semi")
        else gated.join(TextQueries.lmCalibAdmittedIds(s, d),
          Seq("doc_id"), "left_semi")
        // The survivors' manifest (source, doc_id, n_tokens — kilobytes)
        // feeds TWO consumers: the DSIR scoring pass and the final split
        // join. Eagerly checkpointing it makes the expensive upstream —
        // the dedup agg, the quality window, and above all the gate scan
        // whose trained grids ride the plan as multi-MB literals — run
        // and PLAN once; un-checkpointed, both consumers re-executed the
        // literal-grid scan and the optimizer re-walked megabyte
        // constants through every rule (measured 8.8 → 3.4 s at sf0.1
        // for the _cls variant).
        val clean = clsGated.join(semDrops, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        // stage 5: DSIR importance resampling of the survivors
        val rl = dsirWeightTable(s, d)
          .agg(sort_array(collect_list(struct(col("b"), col("r"))))
            .as("ws"))
          .select(transform(col("ws"), x => x.getField("r")).as("rl"))
        val h = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|dsir")))
        val scored = Tables.documents(s, d)
          .join(clean.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), Dedup.hashedShingles(col("text"), 2).as("gs"))
          .crossJoin(broadcast(rl))
          .select(col("doc_id"),
            graft.functions.TextHashFunctions
              .weightedBucketSum(col("gs"), col("rl")).as("wgt"),
            (h % 64).as("bkt"), h.as("ord"))
        val sampled = PrefixSum.bucketedRunningSum(scored, Seq.empty, "bkt",
            Seq(col("ord"), col("doc_id")), "wgt", "cum_weight")
          .filter(expr(s"cum_weight div $PipelineStep") >
            expr(s"(cum_weight - wgt) div $PipelineStep"))
          .select(col("doc_id"))
        // stage 6: split tag + audit manifest
        val b = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|split"))) % 100
        val split = when(b < 80, "train").when(b < 90, "val")
          .otherwise("test")
        clean.join(sampled, Seq("doc_id"), "left_semi")
          .select(col("source"), col("doc_id"), col("n_tokens"),
            split.as("split"))
  }

  /** Oracle text for [[pipelineFrame]], with the nb* CTE blocks and
    * the classifier predicate appended for the `_cls` variant (the
    * nb* blocks read the SAME `lmex` bigram fan-out the ratio gate's
    * CTEs define — one bigram pipeline feeds both gates). */
  private def splitBucketSql(e: String) =
    s"(${graft.functions.PortableHash.hash60Sql(
      s"CAST($e AS VARCHAR) || '|split'")} % 100)"

  private def pipelineSql(classifierGate: Boolean): String = {
        def bucketSql(e: String) = splitBucketSql(e)
        s"""WITH ${pipelineCtes(classifierGate)}
           |SELECT c.source,
           |  CASE WHEN ${bucketSql("c.doc_id")} < 80 THEN 'train'
           |       WHEN ${bucketSql("c.doc_id")} < 90 THEN 'val'
           |       ELSE 'test' END AS split,
           |  COUNT(*) AS n_docs, CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens
           |FROM pclean c JOIN psel ON psel.doc_id = c.doc_id
           |GROUP BY 1, 2""".stripMargin
  }

  /** The capstone's CTE chain (everything through `psel`, no WITH/final
    * select) — shared by [[pipelineSql]] and the shard-export capstone
    * oracle, which appends its own shard CTEs over the same admitted
    * set. */
  private def pipelineCtes(classifierGate: Boolean): String = {
        import graft.functions.PortableHash
        val hSql = PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|dsir'")
        val nbBlocks =
          if (classifierGate) s"${TextQueries.nbCtesBody},\n" else ""
        s"""${TextQueries.lmRatioCtes},
           |${TextQueries.calibThetaCtes},
           |$nbBlocks${SimilarityQueries.semDropOracleCtes},
           |$dsirCtes,
           |xk AS (SELECT MIN(doc_id) AS doc_id FROM documents
           |       GROUP BY md5(${normalize("text")})),
           |pq0 AS (
           |  SELECT d.source, d.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |    ${TextQueries.qualitySql} AS quality
           |  FROM (SELECT source, doc_id, text, ${tokens("text")} AS w
           |        FROM documents) d
           |  JOIN xk ON xk.doc_id = d.doc_id),
           |pgated AS (
           |  SELECT source, doc_id, n_tokens FROM (
           |    SELECT *, ntile(4) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id) AS qt
           |    FROM pq0)
           |  WHERE qt = 1),
           |pclean AS (
           |  SELECT g.* FROM pgated g
           |  JOIN lmrsc ON lmrsc.doc_id = g.doc_id
           |    AND ${TextQueries.calibAdmitSql("lmrsc")}
           |  WHERE g.doc_id NOT IN (SELECT vec_id FROM sdup)
           |    ${if (classifierGate)
                  "AND g.doc_id IN (SELECT doc_id FROM nbscd WHERE pred_lang = 'en')"
                else ""}),
           |psc AS (
           |  SELECT gb.doc_id, CAST(sum(w.r) AS BIGINT) AS wgt
           |  FROM gb JOIN w USING (b)
           |  WHERE gb.doc_id IN (SELECT doc_id FROM pclean)
           |  GROUP BY gb.doc_id),
           |pt AS (SELECT doc_id, wgt, $hSql % 64 AS bkt, $hSql AS ord FROM psc),
           |pcum AS (
           |  SELECT doc_id, wgt,
           |    CAST(SUM(wgt) OVER (ORDER BY bkt, ord, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
           |  FROM pt),
           |psel AS (SELECT doc_id FROM pcum
           |  WHERE cw // $PipelineStep > (cw - wgt) // $PipelineStep)"""
          .stripMargin
  }

  /** Shard-export width. 8 shards over the ~500-doc sf0.01 fixture
    * leaves every shard tens of documents wide, so the balance bound
    * (± one maximal document around total/8) is visible and the
    * oracle exercises every boundary; at 100 TB the same arithmetic
    * serves any width below ~9·10¹⁸/total_tokens (see
    * [[graft.operators.ShardExport]]). */
  private val ShardN = 8

  /** Epochs graded by `curate_shard_epochs` — 3 is enough to prove
    * pairwise order divergence while keeping the row's output at
    * epochs × shards × 3 head entries. */
  private val ShardEpochs = 3

  /** Oracle CTEs replaying [[graft.operators.ShardExport.shardPlan]]
    * over `src` (a sub-select with source, doc_id, n_tokens): `shp` is
    * the per-unit assignment — the flat sequential window the
    * distributed two-level prefix sum must equal. */
  private def shardCtes(src: String): String = {
    import graft.functions.PortableHash
    val hSql = PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|shard'")
    s"""sht AS (SELECT source, doc_id, n_tokens,
       |    $hSql % 64 AS bkt, $hSql AS ord
       |  FROM $src),
       |shc AS (SELECT source, doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY bkt, ord, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM sht),
       |shtot AS (SELECT CAST(GREATEST(SUM(n_tokens), 1) AS BIGINT)
       |    AS total FROM sht),
       |shp AS (SELECT source, doc_id, n_tokens, cum_tokens,
       |    CAST(((cum_tokens - n_tokens) * $ShardN) // total AS BIGINT)
       |      AS shard
       |  FROM shc, shtot)""".stripMargin
  }

  private val shardManifestSelect: String =
    s"""SELECT shard, COUNT(*) AS n_units,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(MIN(cum_tokens - n_tokens) AS BIGINT) AS start_pos,
       |  CAST(MAX(cum_tokens) AS BIGINT) AS end_pos
       |FROM shp GROUP BY shard""".stripMargin

  /** Substring-span dedup parameters. Gram size 8 with min span 10
    * tokens: the fixture plants repeated paragraphs of 10–99 tokens
    * (measured at sf0.01/sf0.1), and an 8-gram over the 31-word
    * vocabulary is long enough that chance collisions contribute no
    * spurious islands. occCap 32 is the deterministic bound on the
    * per-gram candidate list (the banded+capped doctrine —
    * [[Dedup.candidatePairs]]'s bucketCap): measured max gram
    * frequency is 6 at sf0.1, so NOTHING is dropped at fixture scale,
    * while at 100 TB a boilerplate gram hotter than the cap pairs
    * only its first 32 occurrences — bounded work, and the
    * neighboring rarer grams of any real span still pair it. */
  private val SpanK = 8
  private val SpanMinLen = 10
  private val SpanOccCap = 32

  /** The maximal-repeated-span manifest, shared by the manifest row
    * and the cleaned-corpus row (one gram-index build, not two). */
  private def substringSpans(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "substring_spans") {
      graft.operators.SpanDedup.repeatedSpans(Tables.documents(s, d),
        "doc_id", "text", k = SpanK, minLen = SpanMinLen,
        occCap = SpanOccCap)
    }

  /** Oracle CTEs replaying the span pipeline gram-for-gram: positional
    * k-gram index (same hash60), the deterministic per-gram cap, the
    * ordered occurrence self-join, and offset-minus-rank island
    * merging — `sspan` is the maximal-span manifest. */
  private def substringCtes: String = {
    val k = SpanK
    s"""sst AS (SELECT doc_id, ${tokens("text")} AS toks FROM documents),
       |ssg0 AS (
       |  SELECT doc_id, u.i AS off,
       |    ${graft.functions.PortableHash.hash60Sql(
             s"array_to_string(toks[u.i:u.i+${k - 1}], ' ')")}
       |      AS gram
       |  FROM sst, LATERAL unnest(CASE WHEN len(toks) >= $k
       |    THEN range(1, len(toks) - $k + 2) ELSE [] END) AS u(i)),
       |ssgc AS (SELECT doc_id, off, gram, row_number() OVER (
       |    PARTITION BY gram ORDER BY doc_id, off) AS r FROM ssg0),
       |ssg AS (SELECT doc_id, off, gram FROM ssgc WHERE r <= $SpanOccCap),
       |sshit AS (
       |  SELECT a.doc_id AS da, a.off AS oa, b.doc_id AS db, b.off AS ob
       |  FROM ssg a JOIN ssg b ON a.gram = b.gram
       |    AND (a.doc_id < b.doc_id
       |      OR (a.doc_id = b.doc_id AND a.off < b.off))),
       |ssisl AS (SELECT da, db, oa - ob AS diag, oa,
       |    oa - row_number() OVER (
       |      PARTITION BY da, db, oa - ob ORDER BY oa) AS grp
       |  FROM sshit),
       |sspan AS (
       |  SELECT da AS doc_a, min(oa) AS a_start, db AS doc_b,
       |    min(oa) - diag AS b_start,
       |    max(oa) + ${k - 1} - min(oa) + 1 AS span_toks
       |  FROM ssisl GROUP BY da, db, diag, grp
       |  HAVING max(oa) + ${k - 1} - min(oa) + 1 >= $SpanMinLen)"""
      .stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // Exact dedup: hash-groupBy on the 32-byte digest of normalized text
    // (the shuffle carries digests, not documents — the only shape that
    // works at 100 TB).
    "dedup_exact" -> QueryDef(
      (s, d) => Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text"),
      s"""SELECT md5(${normalize("text")}) AS text_hash,
         |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin),

    // Sub-document span dedup (C4/RefinedWeb-style): carve every document
    // into consecutive 8-token spans, drop every occurrence of a span
    // except the corpus-wide first (ordered by doc_id, then position),
    // and reassemble each document from its surviving spans. This is the
    // granularity web-corpus pipelines actually dedup at — boilerplate
    // repeats across documents that are not near-dups as wholes. Shapes:
    // span carving is map-only (transform + posexplode, no UDF); the
    // first-occurrence election is ONE shuffle keyed on the 16-byte span
    // digest (the span text rides as payload — the corpus must move once,
    // as in any production span dedup); reassembly is a second shuffle
    // back on doc_id. Nothing is broadcast, nothing is quadratic, and
    // per-key window state is bounded by span frequency, not corpus size.
    "dedup_spans" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val spanK = 8
        val base = Tables.documents(s, d).select(
          col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("w"))
        val spans = base
          .select(col("doc_id"), col("source"),
            posexplode(transform(
              sequence(lit(0),
                ((size(col("w")) + lit(spanK - 1)) / lit(spanK))
                  .cast("int") - 1),
              i => array_join(slice(col("w"), i * spanK + 1, lit(spanK)), " "))))
          .withColumnRenamed("pos", "idx")
          .withColumnRenamed("col", "span")
        val firstWin = Window.partitionBy(md5(col("span")))
          .orderBy(col("doc_id"), col("idx"))
        spans
          .withColumn("keep", row_number().over(firstWin) === 1)
          .groupBy(col("doc_id"), col("source"))
          .agg(
            count(lit(1)).as("n_spans"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            concat_ws(" ", transform(
              array_sort(collect_list(
                when(col("keep"), struct(col("idx"), col("span"))))),
              x => x.getField("span"))).as("text_dedup"))
      },
      s"""WITH base AS (
         |  SELECT doc_id, source, ${tokens("text")} AS w FROM documents),
         |spans AS (
         |  SELECT doc_id, source, i - 1 AS idx,
         |    array_to_string(w[(i-1)*8+1 : i*8], ' ') AS span
         |  FROM base, UNNEST(generate_series(1, (len(w) + 7) // 8)) AS t(i)),
         |flagged AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY span ORDER BY doc_id, idx) AS rn
         |  FROM spans)
         |SELECT doc_id, source, COUNT(*) AS n_spans,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(span, ' ' ORDER BY idx)
         |    FILTER (WHERE rn = 1), '') AS text_dedup
         |FROM flagged GROUP BY doc_id, source""".stripMargin),

    // Substring-level exact dedup (suffix-array-style repeated-span
    // removal, relationally): positional k-gram index → ONE capped
    // hash aggregation on the gram generating occurrence pairs in
    // compiled group-local code (no self-join of the index) →
    // offset-minus-rank island merge on (doc pair, diagonal) into
    // MAXIMAL spans ≥ 10 tokens. Unlike dedup_spans' fixed 8-token
    // TILING (which misses repeats straddling tile boundaries and
    // reports tile-granular matches), this finds every repeated span
    // at token granularity and reports each exactly once, maximal.
    "curate_substring_spans" -> QueryDef(
      (s, d) => substringSpans(s, d),
      s"""WITH $substringCtes
         |SELECT doc_a, a_start, doc_b, b_start, span_toks
         |FROM sspan""".stripMargin),

    // The cleaned corpus: the LATER occurrence of every repeated span
    // is stripped, the first kept (within- and cross-document). The
    // per-doc removal intervals merge under a running-max window
    // (manifest-scale), aggregate to one array per affected doc, and
    // the corpus-side strip is one equi-join + a compiled higher-order
    // filter — the corpus moves once, map-only after the join.
    "curate_substring_strip" -> QueryDef(
      (s, d) => graft.operators.SpanDedup.stripSpans(
        Tables.documents(s, d), "doc_id", "text", substringSpans(s, d)),
      s"""WITH $substringCtes,
         |ssiv0 AS (SELECT DISTINCT doc_b AS doc_id, b_start AS s,
         |    b_start + span_toks - 1 AS e FROM sspan),
         |ssivw AS (SELECT doc_id, s, e, max(e) OVER (
         |    PARTITION BY doc_id ORDER BY s, e
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM ssiv0),
         |ssivg AS (SELECT doc_id, s, e,
         |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s, e
         |        ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM ssivw),
         |ssivm AS (SELECT doc_id, min(s) AS ms, max(e) AS me
         |  FROM ssivg GROUP BY doc_id, grp),
         |sspos AS (SELECT doc_id, u.i AS pos, toks[u.i] AS tok,
         |    len(toks) AS n_toks
         |  FROM sst, LATERAL unnest(range(1, len(toks) + 1)) AS u(i)),
         |sscov AS (SELECT DISTINCT p.doc_id, p.pos
         |  FROM sspos p JOIN ssivm v
         |  ON p.doc_id = v.doc_id AND p.pos BETWEEN v.ms AND v.me),
         |ssagg AS (
         |  SELECT p.doc_id, CAST(count(c.pos) AS BIGINT) AS n_removed,
         |    COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN p.tok END,
         |      ' ' ORDER BY p.pos), '') AS clean_text
         |  FROM sspos p LEFT JOIN sscov c
         |    ON p.doc_id = c.doc_id AND p.pos = c.pos
         |  GROUP BY p.doc_id)
         |-- LEFT JOIN from sst so a ZERO-token document (no position
         |-- rows to enumerate) still emits its row, matching Spark's
         |-- stripSpans (n_toks = 0, n_removed = 0, clean_text = '')
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
         |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
         |  COALESCE(a.clean_text, '') AS clean_text
         |FROM sst t LEFT JOIN ssagg a ON t.doc_id = a.doc_id""".stripMargin),

    // Span-LEVEL decontamination: strip from the TRAIN split every
    // span it shares with the held-out (test) split — the substring
    // counterpart of curate_decontaminate's document-level lexical
    // pass (a benchmark answer pasted INTO an otherwise-unique train
    // document leaks at span granularity and no document-level dedup
    // sees it). Direction is leakage-driven, not keep-first: whichever
    // SIDE of the pair is the train doc gets stripped, the test doc is
    // never touched. Same gram index, same islands, same merged-
    // interval strip — one new filter, zero new kernels. Reports the
    // decontaminated train corpus per source.
    "curate_substring_decontam" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        def split(c: org.apache.spark.sql.Column) = {
          val b = PortableHash.hash60(
            concat(c.cast("string"), lit("|split"))) % 100
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
        }
        val spans = substringSpans(s, d)
          .withColumn("split_a", split(col("doc_a")))
          .withColumn("split_b", split(col("doc_b")))
        // spans-shaped frame whose (doc_b, b_start) is ALWAYS the
        // train side of a train×test pair — both pair orientations
        val leak = spans
          .filter(col("split_a") === "train" && col("split_b") === "test")
          .select(col("doc_a").as("doc_b"), col("a_start").as("b_start"),
            col("span_toks"))
          .unionByName(spans
            .filter(col("split_a") === "test" && col("split_b") === "train")
            .select(col("doc_b"), col("b_start"), col("span_toks")))
        val train = Tables.documents(s, d)
          .filter(split(col("doc_id")) === "train")
        graft.operators.SpanDedup.stripSpans(train, "doc_id", "text", leak)
          .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("n_removed")).as("n_removed"),
            count(when(col("n_removed") > 0, 1)).as("n_docs_hit"))
      }, {
        def bkt(e: String) =
          s"(${graft.functions.PortableHash.hash60Sql(
            s"CAST($e AS VARCHAR) || '|split'")} % 100)"
        def splitOf(e: String) =
          s"CASE WHEN ${bkt(e)} < 80 THEN 'train' " +
            s"WHEN ${bkt(e)} < 90 THEN 'val' ELSE 'test' END"
        s"""WITH $substringCtes,
           |sdsp AS (SELECT *, ${splitOf("doc_a")} AS split_a,
           |    ${splitOf("doc_b")} AS split_b FROM sspan),
           |sdiv0 AS (
           |  SELECT DISTINCT doc_id, s, e FROM (
           |    SELECT doc_a AS doc_id, a_start AS s,
           |      a_start + span_toks - 1 AS e
           |    FROM sdsp WHERE split_a = 'train' AND split_b = 'test'
           |    UNION ALL
           |    SELECT doc_b AS doc_id, b_start AS s,
           |      b_start + span_toks - 1 AS e
           |    FROM sdsp WHERE split_a = 'test' AND split_b = 'train')),
           |sdivw AS (SELECT doc_id, s, e, max(e) OVER (
           |    PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           |  FROM sdiv0),
           |sdivg AS (SELECT doc_id, s, e,
           |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS UNBOUNDED PRECEDING) AS grp
           |  FROM sdivw),
           |sdivm AS (SELECT doc_id, min(s) AS ms, max(e) AS me
           |  FROM sdivg GROUP BY doc_id, grp),
           |sdpos AS (SELECT t.doc_id, u.i AS pos
           |  FROM sst t, LATERAL unnest(range(1, len(toks) + 1)) AS u(i)
           |  WHERE ${splitOf("t.doc_id")} = 'train'),
           |sdcov AS (SELECT DISTINCT p.doc_id, p.pos
           |  FROM sdpos p JOIN sdivm v
           |  ON p.doc_id = v.doc_id AND p.pos BETWEEN v.ms AND v.me),
           |sdrm AS (SELECT doc_id, count(*) AS n_rm
           |  FROM sdcov GROUP BY doc_id),
           |-- stats from sst (LEFT JOIN), not from the position frame:
           |-- a ZERO-token train document enumerates no positions but
           |-- must still count toward its source's n_docs, as Spark's
           |-- stripSpans output does
           |sdstat AS (
           |  SELECT t.doc_id, len(t.toks) AS n_toks,
           |    COALESCE(r.n_rm, 0) AS n_rm
           |  FROM sst t LEFT JOIN sdrm r ON t.doc_id = r.doc_id
           |  WHERE ${splitOf("t.doc_id")} = 'train')
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(st.n_toks) AS BIGINT) AS n_tokens,
           |  CAST(sum(st.n_rm) AS BIGINT) AS n_removed,
           |  CAST(count(CASE WHEN st.n_rm > 0 THEN 1 END) AS BIGINT)
           |    AS n_docs_hit
           |FROM sdstat st JOIN documents d ON d.doc_id = st.doc_id
           |GROUP BY d.source""".stripMargin
      }),

    // MinHash + LSH banding near-dup: map-only signatures, equi-join on
    // band keys, exact Jaccard verification on candidates only — over
    // the FULL corpus, with each band bucket capped to its 48 lowest-id
    // members. The cap is the production mitigation for degenerate
    // buckets (this fixture's 31-word vocabulary makes 1-gram near-dup
    // density ~7% of all pairs): per-bucket work is bounded at cap²/2
    // no matter how skewed the corpus, and the cap is deterministic so
    // the oracle computes the identical candidate set. Served from the
    // shared [[nearDupPairs]] frame (the pipeline's shape itself is
    // pinned by PlanSpec against the un-memoized operator).
    "dedup_minhash_pairs" -> QueryDef(
      (s, d) => nearDupPairs(s, d),
      s"""WITH ${minhashCtes(1, "doc_id >= 0", 48)}
         |SELECT c.a, c.b, ${jaccard("sa.__sh", "sb.__sh")} AS jaccard
         |FROM cand c
         |JOIN sh sa ON sa.__id = c.a
         |JOIN sh sb ON sb.__id = c.b
         |WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9""".stripMargin),

    // SimHash fingerprints: one 16-bit signature per document, map-only.
    "dedup_simhash" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash")),
      s"""SELECT doc_id, ${simhash16(tokens("text"))} AS simhash
         |FROM documents""".stripMargin),

    // Blocked n-gram Jaccard: candidate pairs share a composite block
    // key — source × shingle-count band (near-equal sizes) — and each
    // block is capped to its 64 lowest-id docs, so the per-block
    // quadratic term is bounded no matter how skewed the corpus. The
    // self-join is a plain shuffled equi-join: nothing broadcasts, the
    // same plan runs at 100 TB (PlanSpec pins the no-broadcast shape).
    "dedup_ngram_jaccard" -> QueryDef(
      (s, d) => Dedup.blockedJaccardPairs(
        Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("source"),
            Dedup.hashedShingles(col("text"), 2).as("sh2")),
        "doc_id", "source", "sh2", band = 32, cap = 64, threshold = 0.08),
      s"""WITH sh AS (
         |  SELECT doc_id, source,
         |    list_transform(${shingles(tokens("text"), 2)},
         |      s -> ${graft.functions.PortableHash.hash60Sql("s")}) AS sh2
         |  FROM documents WHERE doc_id % 2 = 0),
         |blk AS (
         |  SELECT *, concat_ws(':', source, len(sh2) // 32) AS b FROM sh),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY b ORDER BY doc_id) AS rn
         |    FROM blk)
         |  WHERE rn <= 64)
         |SELECT x.doc_id AS a, y.doc_id AS b, ${jaccard("x.sh2", "y.sh2")} AS jaccard
         |FROM capped x JOIN capped y ON x.b = y.b AND x.doc_id < y.doc_id
         |WHERE ${jaccard("x.sh2", "y.sh2")} >= 0.08""".stripMargin),

    // LSH band-tuning sweep — the dedup family's serving-knob frontier
    // (the sim_nprobe/rwidth doctrine applied to near-dup candidate
    // generation): every divisor split of the K=12 MinHash signature
    // into (bands × rows-per-band), each config's candidate set graded
    // for precision AND recall against exhaustive Jaccard≥0.9 truth on
    // a 1-in-4 sampled slice. More bands / shorter rows lower the LSH
    // s-curve threshold ≈ (1/b)^(1/r): recall rises, precision falls —
    // the sweep turns "pick bands=4" from folklore into a measured
    // operating point. The exhaustive truth cross-pair is confined to
    // the SAMPLE by design (tuning harness, not production path — the
    // production pipeline stays banded+capped); candidates are
    // uncapped on the slice so the measured knob is banding alone.
    // Each config is one band explode + one a<b equi-join + one
    // full-outer count aggregate — at 100 TB the same sweep runs on
    // the same sampled slice, corpus-size-independent.
    "dedup_band_sweep" -> QueryDef(
      (s, d) => {
        val sl = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(4)) === 0)
          .select(col("doc_id").as("__id"),
            Dedup.hashedShingles(col("text"), 1).as("__sh"))
        // r16 branch fusion (the graph-sweep doctrine applied to band
        // tuning): the four configs share one signature frame
        // (checkpointed — four exploded band frames read it), the
        // config-tagged band explosions union into ONE self-join keyed
        // (bands, band-key), and the truth compare is one config-tagged
        // full-outer join + one grouped aggregate instead of four of
        // each. Per-config rows are identical: the join key carries the
        // config, so no pair crosses configs, and the per-group counts
        // are the per-config aggregates verbatim.
        // size-ratio pruning on the exhaustive truth cross (r17, §3.2
        // "reduce the big side before the expensive predicate"):
        // J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ 0.9
        // REQUIRES 10·min ≥ 9·max — the integer size check runs in the
        // join condition and only the surviving ~size-matched pairs pay
        // the merge-scan Jaccard. No true pair is dropped (the bound is
        // an implication), so the result is row-identical; the oracle's
        // unpruned cross pins it.
        val truth = sl.as("p").join(sl.as("q"),
            col("p.__id") < col("q.__id") &&
              size(col("p.__sh")) * 10 >= size(col("q.__sh")) * 9 &&
              size(col("q.__sh")) * 10 >= size(col("p.__sh")) * 9)
          .filter(Dedup.jaccardSorted(col("p.__sh"), col("q.__sh")) >= 0.9)
          .select(col("p.__id").as("a"), col("q.__id").as("b"),
            lit(1).as("t"))
        val signed = Dedup.withMinhashSignature(sl, "__sh", K)
          .localCheckpoint(true)
        val bandedB = SweepBands.map { nb =>
          signed.select(lit(nb.toLong).as("bands"), col("__id"),
            explode(Dedup.bandKeys(nb, K / nb)).as("__band"))
        }.reduce(_ unionByName _)
        val candB = bandedB.as("x").join(bandedB.as("y"),
            col("x.bands") === col("y.bands") &&
              col("x.__band") === col("y.__band") &&
              col("x.__id") < col("y.__id"))
          .select(col("x.bands").as("bands"), col("x.__id").as("a"),
            col("y.__id").as("b"))
          .distinct()
          .select(col("bands"), col("a"), col("b"), lit(1).as("c"))
        val truthB = truth.withColumn("bands",
          explode(array(SweepBands.map(b => lit(b.toLong)): _*)))
        truthB.join(candB, Seq("bands", "a", "b"), "full_outer")
          .groupBy(col("bands"))
          .agg(count(col("t")).as("n_truth"),
            count(col("c")).as("n_cand"),
            count(when(col("t").isNotNull && col("c").isNotNull, 1))
              .as("n_hit"))
          .select(col("bands"),
            (lit(K) / col("bands")).cast("long").as("rows_per_band"),
            col("n_truth"), col("n_cand"), col("n_hit"),
            (col("n_hit") / col("n_cand")).as("prec"),
            (col("n_hit") / col("n_truth")).as("recall"))
      },
      s"""WITH sl AS (
         |  SELECT doc_id AS id,
         |    list_transform(${shingles(tokens("text"), 1)},
         |      s -> ${graft.functions.PortableHash.hash60Sql("s")}) AS sh
         |  FROM documents WHERE doc_id % 4 = 0),
         |truth AS (
         |  SELECT p.id AS a, q.id AS b
         |  FROM sl p JOIN sl q ON p.id < q.id
         |  WHERE ${jaccard("p.sh", "q.sh")} >= 0.9),
         |signedsl AS (
         |  SELECT id, ${(0 until K).map(i => s"${minhash("sh", i)} AS s$i")
        .mkString(", ")} FROM sl),
         |$bandSweepCtes
         |SELECT bands, rows_per_band, n_truth, n_cand, n_hit,
         |  n_hit / n_cand AS prec, n_hit / n_truth AS recall
         |FROM (${SweepBands.map(nb => s"SELECT * FROM m$nb")
        .mkString(" UNION ALL ")})""".stripMargin),

    // Near-dup CLUSTERS from the MinHash pair graph: connected
    // components (HashMin label propagation — one join + one hash agg
    // per round, rounds = component diameter) turn pairs into groups
    // so curation can elect one keeper (the minimum doc_id) per
    // cluster. Oracle: recursive-CTE transitive closure of the same
    // capped candidate graph.
    "dedup_components" -> QueryDef(
      (s, d) => nearDupLabels(s, d),
      s"""WITH RECURSIVE ${minhashCtes(1, "doc_id >= 0", 48)},
         |edges AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN sh sa ON sa.__id = c.a
         |  JOIN sh sb ON sb.__id = c.b
         |  WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
         |SELECT src AS node, least(src, min(dst)) AS label
         |FROM reach GROUP BY src""".stripMargin),

    // Near-dup cluster-size histogram — the headline number of every
    // dedup report ("N docs in M clusters of size k"; the size
    // distribution decides whether near-dup removal is worth running
    // at all). Consumes the SHARED label frame (third consumer beside
    // components/keeper — pure pairs-scale aggregation on top), plus
    // one corpus anti-join to count the singletons the pair graph never
    // sees; clusters from pairs always have ≥2 members, so size 1 is
    // exactly the anti-join count. Shuffles carry (label) then
    // (cluster_size) — both pairs-scale; the anti-join streams the
    // corpus against the tiny clustered-node set.
    "dedup_cluster_sizes" -> QueryDef(
      (s, d) => {
        val labels = nearDupLabels(s, d)
        val multi = labels.groupBy(col("label"))
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
        val single = Tables.documents(s, d).select(col("doc_id"))
          .join(labels, col("doc_id") === col("node"), "left_anti")
          .agg(count(lit(1)).as("n_clusters"))
          .select(lit(1L).as("cluster_size"), col("n_clusters"))
        multi.unionByName(single)
          .select(col("cluster_size").cast("long").as("cluster_size"),
            col("n_clusters").cast("long").as("n_clusters"),
            (col("cluster_size") * col("n_clusters")).cast("long").as("n_docs"))
      },
      s"""WITH RECURSIVE ${minhashCtes(1, "doc_id >= 0", 48)},
         |edges AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN sh sa ON sa.__id = c.a
         |  JOIN sh sb ON sb.__id = c.b
         |  WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |labels AS (
         |  SELECT src AS node, least(src, min(dst)) AS label
         |  FROM reach GROUP BY src),
         |cl AS (
         |  SELECT label, COUNT(*) AS cluster_size FROM labels GROUP BY label),
         |multi AS (
         |  SELECT cluster_size, COUNT(*) AS n_clusters FROM cl
         |  GROUP BY cluster_size),
         |single AS (
         |  SELECT 1 AS cluster_size, COUNT(*) AS n_clusters FROM documents
         |  WHERE doc_id NOT IN (SELECT node FROM labels))
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
         |FROM (SELECT * FROM multi UNION ALL SELECT * FROM single)""".stripMargin),

    // Per-source corpus scorecard — the one-page health report a
    // curation run opens with: volume (docs/tokens), exact-duplicate
    // and near-duplicate exposure, and the dominant language. Composes
    // FOUR operator families in one result (token stats, exact-dedup
    // digests, the shared near-dup label frame, language ID) and the
    // oracle replays all of them in a single CTE chain — like
    // curate_recipe, the hash-match proves composition, not just the
    // parts. Shapes: one map-only scan derives every per-doc signal
    // (token count, digest, lang) at once; the digest df check is a
    // digest-keyed shuffle (16-byte keys, never broadcast — the digest
    // table is corpus-sized); near-dup membership reads the
    // checkpointed label frame; everything downstream is source-keyed
    // (dimension-scale). Counts int64-exact; the two rates are single
    // IEEE divisions at the edge.
    "curate_scorecard" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.operators.TextAnalysis
        val base = Tables.documents(s, d).select(
          col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          md5(Dedup.normalize(col("text"))).as("digest"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        val perSource = base.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        // shuffle_hash: the digest-df table is corpus-sized at scale —
        // the small-SF stats would otherwise tempt AQE into a broadcast
        // that cannot survive 100 TB (PlanSpec pins the shuffled shape)
        val dupDigests = base.groupBy(col("digest"))
          .agg(count(lit(1)).as("dfc")).filter(col("dfc") > 1)
        val exact = base.join(dupDigests.hint("shuffle_hash"), "digest")
          .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
        val near = nearDupLabels(s, d)
          .join(base.select(col("doc_id"), col("source")),
            col("node") === col("doc_id"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_near"))
        val lw = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang_pred"))
        val dominant = base.groupBy(col("source"), col("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(lw)).filter(col("rn") === 1)
          .select(col("source"), col("lang_pred").as("dominant_lang"))
        perSource
          .join(exact, Seq("source"), "left")
          .join(near, Seq("source"), "left")
          .join(dominant, Seq("source"))
          .select(col("source"), col("n_docs"),
            col("n_tokens").cast("long").as("n_tokens"),
            (col("n_tokens").cast("double") / col("n_docs").cast("double"))
              .as("avg_tokens"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact_dup_docs"),
            coalesce(col("n_near"), lit(0L)).as("n_neardup_docs"),
            (coalesce(col("n_near"), lit(0L)).cast("double") /
              col("n_docs").cast("double")).as("neardup_rate"),
            col("dominant_lang"))
      },
      s"""WITH RECURSIVE ${minhashCtes(1, "doc_id >= 0", 48)},
         |edges AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN sh sa ON sa.__id = c.a
         |  JOIN sh sb ON sb.__id = c.b
         |  WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |labels AS (
         |  SELECT src AS node, least(src, min(dst)) AS label
         |  FROM reach GROUP BY src),
         |base AS (
         |  SELECT source, doc_id,
         |    CAST(len(${tokens("text")}) AS BIGINT) AS n_tok,
         |    md5(${normalize("text")}) AS digest,
         |    ${langPred(tokens("text"))} AS lang_pred
         |  FROM documents),
         |ps AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM base GROUP BY source),
         |dd AS (SELECT digest FROM base GROUP BY digest HAVING COUNT(*) > 1),
         |ex AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM base
         |  WHERE digest IN (SELECT digest FROM dd) GROUP BY source),
         |nd AS (
         |  SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_near
         |  FROM labels l JOIN base b ON l.node = b.doc_id
         |  GROUP BY b.source),
         |lc AS (
         |  SELECT source, lang_pred, COUNT(*) AS n
         |  FROM base GROUP BY source, lang_pred),
         |dom AS (
         |  SELECT source, lang_pred AS dominant_lang FROM (
         |    SELECT source, lang_pred,
         |      ROW_NUMBER() OVER (PARTITION BY source
         |        ORDER BY n DESC, lang_pred) AS rn
         |    FROM lc) WHERE rn = 1)
         |SELECT ps.source, ps.n_docs, ps.n_tokens,
         |  CAST(ps.n_tokens AS DOUBLE) / ps.n_docs AS avg_tokens,
         |  CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact_dup_docs,
         |  CAST(COALESCE(nd.n_near, 0) AS BIGINT) AS n_neardup_docs,
         |  CAST(COALESCE(nd.n_near, 0) AS DOUBLE) / ps.n_docs AS neardup_rate,
         |  dom.dominant_lang
         |FROM ps
         |JOIN dom ON ps.source = dom.source
         |LEFT JOIN ex ON ps.source = ex.source
         |LEFT JOIN nd ON ps.source = nd.source""".stripMargin),

    // Keeper election over near-dup clusters — the step after
    // connected components: each cluster keeps its highest-quality
    // member (ties to the lowest doc_id). Composition proof: MinHash
    // candidates → exact Jaccard → components → quality argmax, all
    // oracle-replayed end-to-end. The max-then-filter shape (per-label
    // max quality, then min id among the achievers) avoids struct-
    // comparison dialect differences; quality equality is safe because
    // the score is the round-6 portable formula (text_quality green).
    // Shuffles key on the label — pairs-scale, tiny next to the corpus.
    "dedup_keeper_election" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val labels = nearDupLabels(s, d)
        val quality = docs.select(col("doc_id"),
          graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
        val members = labels
          .join(quality, labels("node") === quality("doc_id"))
          .select(col("label"), col("node"), col("quality"))
        val best = members.groupBy(col("label"))
          .agg(max(col("quality")).as("keeper_quality"),
            count(lit(1)).as("n_members"))
        members.join(best, Seq("label"))
          .filter(col("quality") === col("keeper_quality"))
          .groupBy(col("label"), col("n_members"), col("keeper_quality"))
          .agg(min(col("node")).as("keeper_id"))
          .select(col("label"), col("n_members"),
            col("keeper_id"), col("keeper_quality"))
      },
      s"""WITH RECURSIVE ${minhashCtes(1, "doc_id >= 0", 48)},
         |edges AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN sh sa ON sa.__id = c.a
         |  JOIN sh sb ON sb.__id = c.b
         |  WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9),
         |sym AS (SELECT a AS src, b AS dst FROM edges
         |        UNION SELECT b, a FROM edges),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
         |labels AS (
         |  SELECT src AS node, least(src, min(dst)) AS label
         |  FROM reach GROUP BY src),
         |q AS (
         |  SELECT doc_id,
         |    round((
         |      least(len(w) / 20.0, 1.0)
         |      + greatest(1.0 - ((length(text) - length(translate(text, '.,!?;:', '')))
         |          / greatest(length(text)::DOUBLE, 1.0)) * 10.0, 0.0)
         |      + least((len(list_filter(w, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)))
         |          / greatest(len(w)::DOUBLE, 1.0)) * 4.0, 1.0)
         |    ) / 3.0, 6) AS quality
         |  FROM (SELECT doc_id, text, ${tokens("text")} AS w FROM documents)),
         |m AS (
         |  SELECT l.label, l.node, q.quality
         |  FROM labels l JOIN q ON q.doc_id = l.node),
         |best AS (
         |  SELECT label, MAX(quality) AS keeper_quality,
         |    COUNT(*) AS n_members
         |  FROM m GROUP BY label)
         |SELECT b.label, b.n_members, MIN(m.node) AS keeper_id,
         |  b.keeper_quality
         |FROM best b
         |JOIN m ON m.label = b.label AND m.quality = b.keeper_quality
         |GROUP BY b.label, b.n_members, b.keeper_quality""".stripMargin),

    // Benchmark contamination: training docs sharing ≥3 distinct word
    // 3-grams with the benchmark slice (doc_id % 50 = 0). Both sides
    // explode to (hash, id) — the shuffle carries 16-byte pairs, the
    // equi-join on the hash is the candidate generator, and the distinct
    // benchmark shingle set broadcasts when it fits.
    "dedup_contamination" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.contamination(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text", n = 3, minShared = 3)
      },
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_transform(${shingles(tokens("text"), 3)},
         |    s -> ${graft.functions.PortableHash.hash60Sql("s")})) AS h
         |  FROM documents),
         |b AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
         |t AS (SELECT doc_id, h FROM sh WHERE doc_id % 50 <> 0)
         |SELECT t.doc_id, count(DISTINCT t.h) AS n_shared
         |FROM t JOIN b ON t.h = b.h
         |GROUP BY t.doc_id HAVING count(DISTINCT t.h) >= 3""".stripMargin),

    // Capstone composition — the corpus-curation pipeline a training-data
    // run executes at 100 TB: language gate → quality gate → exact-dedup
    // keeper join, emitting the surviving documents. One scan, one
    // map-only expression pass, one hash-agg on digests, one semi join.
    "curate_corpus" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val gated = docs.filter(
          graft.operators.TextAnalysis.langId(col("text")) === "en" &&
            graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.5)
        // keep-first-per-digest via one window pass (single shuffle on
        // the digest) instead of agg + semi-join, which would compute
        // the gated subtree twice and shuffle twice.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(Dedup.normalize(col("text")))).orderBy(col("doc_id"))
        gated.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      }, {
        val toks = s"${tokens("text")}"
        val scores = graft.operators.TextAnalysis.langMarkers.map { case (l, ms) =>
          s"len(list_filter(w, t -> list_contains(${ms.map(m => s"'$m'").mkString("[", ", ", "]")}, t))) AS s_$l"
        }.mkString(", ")
        val langs = graft.operators.TextAnalysis.langMarkers.map(_._1)
        val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
        val pick = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
        val qual =
          s"""round((least(len(w) / 20.0, 1.0)
             | + greatest(1.0 - ((length(text) - length(translate(text, '.,!?;:', '')))
             |     / greatest(length(text)::DOUBLE, 1.0)) * 10.0, 0.0)
             | + least((len(list_filter(w, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t)))
             |     / greatest(len(w)::DOUBLE, 1.0)) * 4.0, 1.0)) / 3.0, 6)""".stripMargin
        s"""WITH scored AS (
           |  SELECT doc_id, lang, source, n_chars, text,
           |    CASE WHEN $best > 0 THEN (CASE $pick ELSE 'und' END)
           |         ELSE 'und' END AS lang_pred,
           |    $qual AS quality
           |  FROM (SELECT *, $scores FROM
           |        (SELECT doc_id, lang, source, n_chars, text, $toks AS w
           |         FROM documents))),
           |gated AS (
           |  SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.5)
           |SELECT doc_id, lang, source, n_chars FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY md5(${normalize("text")}) ORDER BY doc_id) AS rn
           |  FROM gated)
           |WHERE rn = 1""".stripMargin
      }),

    // EXACT near-dup pairs by prefix filtering (AllPairs/PPJoin): sets
    // with Jaccard >= 0.8 must share a token in the first ~20% of their
    // sorted shingle arrays, so only that prefix explodes into the
    // candidate join — no blocking attribute, no bands, no recall loss.
    // The complement of dedup_minhash_pairs (probabilistic recall) and
    // dedup_ngram_jaccard (attribute-blocked): this one is exhaustive
    // at high thresholds, with candidates still bounded by prefix
    // sharing + size-ratio pruning.
    "dedup_prefix_jaccard" -> QueryDef(
      (s, d) => Dedup.prefixJaccardPairs(
        Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), Dedup.hashedShingles(col("text"), 2).as("sh2")),
        "doc_id", "sh2", threshold = 0.8),
      s"""WITH sh AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    list_transform(${shingles(tokens("text"), 2)},
         |      s -> ${graft.functions.PortableHash.hash60Sql("s")}))) AS sh2
         |  FROM documents WHERE doc_id % 2 = 0),
         |sized AS (SELECT doc_id, sh2, len(sh2) AS sz FROM sh),
         |pref AS (
         |  SELECT doc_id, sz,
         |    UNNEST(sh2[1 : sz - CAST(FLOOR(sz * 0.8) AS INT) + 1]) AS tok
         |  FROM sized),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM pref x JOIN pref y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |    AND y.sz >= x.sz * 0.8 AND x.sz >= y.sz * 0.8)
         |SELECT c.a, c.b, ${jaccard("xa.sh2", "yb.sh2")} AS jaccard
         |FROM cand c
         |JOIN sized xa ON xa.doc_id = c.a
         |JOIN sized yb ON yb.doc_id = c.b
         |WHERE ${jaccard("xa.sh2", "yb.sh2")} >= 0.8""".stripMargin),

    // Token-budgeted source admission — the quota step of a mixing
    // recipe: take documents per source in a deterministic pseudo-random
    // order (portable hash) until the source's token budget fills. The
    // cumulative sum is the DISTRIBUTED TWO-LEVEL PREFIX SUM kernel
    // ([[graft.operators.PrefixSum]]) — per-(source, bucket) local
    // cumsums in parallel, per-source bucket offsets on a 64-row-per-
    // source table, broadcast back — so no single task ever scans a
    // whole source; the oracle recomputes the same semantics as one
    // flat window, and the hash-match proves the distributed scan equal
    // to the sequential one.
    "curate_token_budget" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        import graft.operators.{PrefixSum, TextAnalysis}
        val budget = 20000L
        val buckets = 64
        val h = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|budget")))
        val base = Tables.documents(s, d).select(
          col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          (h % buckets).as("bkt"), h.as("ord"))
        PrefixSum.bucketedRunningSum(base, Seq("source"), "bkt",
            Seq(col("ord"), col("doc_id")), "n_tokens", "cum_tokens")
          .filter(col("cum_tokens") - col("n_tokens") < budget)
          .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      }, {
        import graft.functions.PortableHash
        val hSql = PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|budget'")
        s"""WITH t AS (
           |  SELECT source, doc_id,
           |    CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS n_tokens,
           |    $hSql % 64 AS bkt, $hSql AS ord
           |  FROM documents),
           |c AS (
           |  SELECT source, doc_id, n_tokens,
           |    CAST(SUM(n_tokens) OVER (
           |      PARTITION BY source ORDER BY bkt, ord, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           |  FROM t)
           |SELECT source, doc_id, n_tokens, cum_tokens FROM c
           |WHERE cum_tokens - n_tokens < 20000""".stripMargin
      }),

    // Deterministic train/val/test split — the other half of the
    // training-data recipe: every document gets a STABLE split
    // assignment from a portable hash of its id (80/10/10 by hash
    // bucket), so the holdout never leaks into training across reruns,
    // re-partitions, or engine versions — no rand(), no sampleBy.
    // Map-only assignment + one tiny (source × split) manifest
    // aggregate; the audit artifact a 100 TB curation run ships with.
    "curate_split" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        val bucket = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|split"))) % 100
        val split = when(bucket < 80, "train")
          .when(bucket < 90, "val").otherwise("test")
        Tables.documents(s, d)
          .groupBy(col("source"), split.as("split"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_doc_id"))
      }, {
        import graft.functions.PortableHash
        val bucketSql =
          s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|split'")} % 100)"
        s"""SELECT source,
           |  CASE WHEN $bucketSql < 80 THEN 'train'
           |       WHEN $bucketSql < 90 THEN 'val'
           |       ELSE 'test' END AS split,
           |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
           |FROM documents GROUP BY 1, 2""".stripMargin
      }),

    // Split decontamination — the step BETWEEN curate_split and
    // training: a train-split document that is a near-duplicate of any
    // holdout (val/test) document leaks the holdout into training and
    // must be dropped. Composes the capped MinHash candidate graph
    // (dedup_minhash_pairs' exact shapes) with the hash-derived split
    // assignment (curate_split's exact buckets): because the split is a
    // pure function of doc_id, tagging each pair endpoint is MAP-ONLY
    // arithmetic on the pairs frame — no join against a split table,
    // no extra shuffle beyond the pairs-scale group-by that builds the
    // drop manifest. At 100 TB the manifest is near-dup-pairs-scale
    // (tiny vs the corpus) and anti-joins against train in one pass.
    "curate_decontaminate" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        def bucket(idc: org.apache.spark.sql.Column) =
          PortableHash.hash60(
            concat(idc.cast("string"), lit("|split"))) % 100
        val pairs = nearDupPairs(s, d)
        // classify each (a,b) pair in ONE pass over the SHARED pair
        // frame (recomputing the MinHash pipeline here would run the
        // corpus family's most expensive subtree a second time —
        // PlanSpec pins the checkpoint-scan shape): a pair is
        // train-side t / holdout-side h or irrelevant, decided by pure
        // arithmetic on the endpoint ids
        val ba = bucket(col("a"))
        val bb = bucket(col("b"))
        pairs
          .filter((ba < 80 && bb >= 80) || (ba >= 80 && bb < 80))
          .select(when(ba < 80, col("a")).otherwise(col("b")).as("t"),
            when(ba < 80, col("b")).otherwise(col("a")).as("h"),
            col("jaccard"))
          .groupBy(col("t").as("train_doc_id"))
          .agg(count(lit(1)).as("n_holdout_matches"),
            max(col("jaccard")).as("max_jaccard"),
            min(col("h")).as("first_holdout_id"))
      }, {
        import graft.functions.PortableHash
        def bucketSql(e: String) =
          s"(${PortableHash.hash60Sql(s"CAST($e AS VARCHAR) || '|split'")} % 100)"
        s"""WITH ${minhashCtes(1, "doc_id >= 0", 48)},
           |edges AS (
           |  SELECT c.a, c.b, ${jaccard("sa.__sh", "sb.__sh")} AS jaccard
           |  FROM cand c
           |  JOIN sh sa ON sa.__id = c.a
           |  JOIN sh sb ON sb.__id = c.b
           |  WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9),
           |sym AS (SELECT a AS t, b AS h, jaccard FROM edges
           |        UNION ALL SELECT b, a, jaccard FROM edges)
           |SELECT t AS train_doc_id, COUNT(*) AS n_holdout_matches,
           |  MAX(jaccard) AS max_jaccard, MIN(h) AS first_holdout_id
           |FROM sym
           |WHERE ${bucketSql("t")} < 80 AND ${bucketSql("h")} >= 80
           |GROUP BY t""".stripMargin
      }),

    // Sketch-based decontamination PRE-CHECK — what a 100 TB pipeline
    // runs BEFORE curate_decontaminate's candidate join: per-split KMV
    // sketches of the 8-GRAM shingle space (long n-grams are the
    // standard contamination signal — shared 8-grams mean copied
    // passages, where 3-grams only measure vocabulary sharing) answer
    // "did the holdout leak into train, roughly how much" from two
    // k-value sketches alone, no cross-shard join. This is exactly the
    // regime that justifies KMV over HLL: the true overlap is ~1.6 %
    // of the union at sf0.01, far below inclusion–exclusion's
    // union-relative error floor, while KMV's direct estimator (the
    // fraction of the merged sketch present in BOTH split sketches)
    // grades within its ±√(J/k) resolution — k = 1,024 here (8 KB of
    // state per split; per-shard sketches union-merge by the graded
    // min-k law). est_inter is the KMV intersection-cardinality
    // estimate J·Û (exact-operand IEEE ops in pinned order);
    // needs_scan is the operational output — the bit that gates the
    // expensive exact scan, flagged at ≥ 50 bp estimated Jaccard.
    // Exact sides computed only to GRADE (the corpus_hll_card
    // doctrine); one corpus pass builds both sketches as conditional
    // aggregates.
    "curate_kmv_decontam" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        // the sketch half IS the shared kernel the streaming twin runs
        // (graft.operators.Sketch.kmvDecontam — the serve-twin doctrine,
        // so batch row and per-micro-batch monitor can never drift);
        // the exact sides exist only to GRADE it (corpus_hll_card
        // doctrine) and stay batch-only by nature.
        val sk = graft.operators.Sketch.kmvDecontam(Tables.documents(s, d))
        val bucket = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|split"))) % 100
        val ex = Tables.documents(s, d)
          .select((bucket < 80).as("is_train"),
            explode(Dedup.shingles(col("text"),
              graft.operators.Sketch.DecontamShingleN)).as("sh"))
          .groupBy(col("sh"))
          .agg(max(when(col("is_train"), 1L).otherwise(0L)).as("in_tr"),
            max(when(!col("is_train"), 1L).otherwise(0L)).as("in_ho"))
          .agg(count(lit(1)).as("exact_union"),
            sum(col("in_tr") * col("in_ho")).cast("long").as("exact_inter"))
        // 1-row × 1-row scalar pair — the registered wh_dq_checks shape
        sk.crossJoin(broadcast(ex))
          .select(col("k_m"), col("overlap"), col("jac_est_bp"),
            col("est_inter"), col("exact_union"), col("exact_inter"),
            expr("exact_inter * 10000 DIV exact_union").as("jac_exact_bp"),
            col("needs_scan"))
      }, {
        import graft.functions.PortableHash
        val bucketSql =
          s"(${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|split'")} % 100)"
        s"""WITH t AS (
           |  SELECT $bucketSql < 80 AS is_train,
           |    unnest(${shingles(tokens("text"), 8)}) AS tok
           |  FROM documents),
           |hh AS (SELECT is_train, ${PortableHash.hash60Sql("tok")} AS h
           |       FROM t),
           |ma AS (SELECT h FROM (SELECT DISTINCT h FROM hh WHERE is_train)
           |       ORDER BY h LIMIT 1024),
           |mb AS (SELECT h FROM (SELECT DISTINCT h FROM hh WHERE NOT is_train)
           |       ORDER BY h LIMIT 1024),
           |mm AS (SELECT h FROM (SELECT h FROM ma UNION SELECT h FROM mb)
           |       ORDER BY h LIMIT 1024),
           |sk AS (
           |  SELECT CAST((SELECT COUNT(*) FROM mm) AS BIGINT) AS k_m,
           |    CAST((SELECT COUNT(*) FROM mm
           |          WHERE h IN (SELECT h FROM ma)
           |            AND h IN (SELECT h FROM mb)) AS BIGINT) AS overlap,
           |    (SELECT MAX(h) FROM mm) AS h_k),
           |ex AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
           |    CAST(SUM(in_tr * in_ho) AS BIGINT) AS exact_inter
           |  FROM (
           |    SELECT MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_tr,
           |      MAX(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS in_ho
           |    FROM hh GROUP BY h))
           |SELECT k_m, overlap,
           |  CAST(overlap * 10000 // k_m AS BIGINT) AS jac_est_bp,
           |  CAST(overlap AS DOUBLE) *
           |    (CAST(k_m - 1 AS DOUBLE) * ${math.pow(2.0, 60)}
           |     / CAST(h_k AS DOUBLE)) / CAST(k_m AS DOUBLE) AS est_inter,
           |  exact_union, exact_inter,
           |  CAST(exact_inter * 10000 // exact_union AS BIGINT)
           |    AS jac_exact_bp,
           |  CAST(CASE WHEN overlap * 10000 // k_m >= 50 THEN 1 ELSE 0 END
           |    AS BIGINT) AS needs_scan
           |FROM sk, ex""".stripMargin
      }),

    // Context-window chunk packing — how pretraining data is actually
    // laid out: concatenate documents in a deterministic pseudo-random
    // order per source and split the token stream into fixed-size
    // context windows. Each document's span is pure arithmetic on the
    // running token count ((cum-n) div ctx .. (cum-1) div ctx), and the
    // running count is the shared two-level prefix-sum kernel
    // ([[graft.operators.PrefixSum]]: 64 hash buckets cumsum in
    // parallel, bucket offsets from a 64-row-per-source aggregate
    // broadcast back) — no task ever scans a whole source, and the
    // oracle's flat sequential window hash-proves the decomposition.
    // `straddles` marks docs split across a window boundary (the
    // packing loss a recipe reports).
    "curate_pack_chunks" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        import graft.operators.{PrefixSum, TextAnalysis}
        val ctx = 512L
        val buckets = 64
        val h = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|pack")))
        val base = Tables.documents(s, d).select(
          col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          (h % buckets).as("bkt"), h.as("ord"))
        PrefixSum.bucketedRunningSum(base, Seq("source"), "bkt",
            Seq(col("ord"), col("doc_id")), "n_tokens", "cum_tokens")
          .withColumn("first_chunk",
            expr(s"(cum_tokens - n_tokens) div $ctx"))
          .withColumn("last_chunk", expr(s"(cum_tokens - 1) div $ctx"))
          .select(col("source"), col("doc_id"), col("n_tokens"),
            col("first_chunk"), col("last_chunk"),
            (col("first_chunk") =!= col("last_chunk")).as("straddles"))
      }, {
        import graft.functions.PortableHash
        val hSql = PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|pack'")
        s"""WITH t AS (
           |  SELECT source, doc_id,
           |    CAST(len(${tokens("text")}) AS BIGINT) AS n_tokens,
           |    $hSql % 64 AS bkt, $hSql AS ord
           |  FROM documents),
           |c AS (
           |  SELECT source, doc_id, n_tokens,
           |    CAST(SUM(n_tokens) OVER (
           |      PARTITION BY source ORDER BY bkt, ord, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           |  FROM t)
           |SELECT source, doc_id, n_tokens,
           |  (cum_tokens - n_tokens) // 512 AS first_chunk,
           |  (cum_tokens - 1) // 512 AS last_chunk,
           |  (cum_tokens - n_tokens) // 512 <> (cum_tokens - 1) // 512
           |    AS straddles
           |FROM c""".stripMargin
      }),

    // Sliding-window chunking with overlap — the long-context prep
    // step: windows of 32 tokens at stride 16, so every token pair
    // within 16 positions co-occurs in at least one chunk (what a
    // context-window encoder needs), with the tail chunk allowed short.
    // Entirely map-only — transform + posexplode, no shuffle at all
    // (the ONLY registry query with a zero-exchange plan shape besides
    // the pure scans; PlanSpec pins it): at 100 TB this runs at scan
    // speed. Complements curate_pack_chunks (bin packing of whole docs)
    // and dedup_spans (disjoint-span dedup) as the third chunking form.
    "curate_chunk_overlap" -> QueryDef(
      (s, d) => {
        val win = 32
        val stride = 16
        val base = Tables.documents(s, d).select(
          col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        val nChunks = ((greatest(size(col("toks")) - win, lit(0))
          + lit(stride - 1)) / lit(stride)).cast("int") + 1
        base.select(col("doc_id"),
            posexplode(transform(sequence(lit(0), nChunks - 1),
              k => slice(col("toks"), k * stride + 1, lit(win)))))
          .select(col("doc_id"), col("pos").as("idx"),
            size(col("col")).cast("long").as("n_tok"),
            array_join(col("col"), " ").as("chunk"))
      },
      s"""WITH base AS (
         |  SELECT doc_id, ${tokens("text")} AS w FROM documents),
         |c AS (
         |  SELECT doc_id, i - 1 AS idx,
         |    w[(i-1)*16+1 : (i-1)*16+32] AS chunk
         |  FROM base, UNNEST(generate_series(1,
         |    (GREATEST(len(w) - 32, 0) + 15) // 16 + 1)) AS t(i))
         |SELECT doc_id, idx, CAST(len(chunk) AS BIGINT) AS n_tok,
         |  array_to_string(chunk, ' ') AS chunk
         |FROM c""".stripMargin),

    // End-to-end curation recipe — the round-6 composition proof
    // (round 5's keeper election, one level up): quality gate →
    // decontamination → split, emitting the (source × split) audit
    // manifest a training run ships with. Order is the production
    // order: the gate runs FIRST (map-only score + one per-source
    // window — cheap), the near-dup drop list is computed over the full
    // corpus (a holdout doc contaminates train even if it failed the
    // gate — eval sets are fixed externally) and applied to the gated
    // survivors as a LEFT ANTI join on the pairs-scale manifest, and
    // the split tag is hash arithmetic. Every stage is the SAME
    // construction as its standalone query (curate_quality_gate /
    // curate_decontaminate / curate_split), and the oracle replays the
    // whole DAG in one CTE chain — the hash-match proves the stages
    // compose, not just pass individually.
    "curate_recipe" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.PortableHash
        import graft.operators.TextAnalysis
        def bucket(idc: org.apache.spark.sql.Column) =
          PortableHash.hash60(
            concat(idc.cast("string"), lit("|split"))) % 100
        // stage 1: per-source top-quartile quality gate
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        val gated = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .withColumn("qt", ntile(4).over(w))
          .filter(col("qt") === 1)
        // stage 2: cross-split near-dup drop list (train side of any
        // train↔holdout pair) from the SHARED pair frame, applied as
        // an anti-join
        val pairs = nearDupPairs(s, d)
        val ba = bucket(col("a"))
        val bb = bucket(col("b"))
        val drops = pairs
          .filter((ba < 80 && bb >= 80) || (ba >= 80 && bb < 80))
          .select(when(ba < 80, col("a")).otherwise(col("b")).as("doc_id"))
          .distinct()
        val clean = gated.join(drops, Seq("doc_id"), "left_anti")
        // stage 3: split tag + audit manifest
        val b = bucket(col("doc_id"))
        val split = when(b < 80, "train").when(b < 90, "val").otherwise("test")
        clean.groupBy(col("source"), split.as("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      }, {
        import graft.functions.PortableHash
        def bucketSql(e: String) =
          s"(${PortableHash.hash60Sql(s"CAST($e AS VARCHAR) || '|split'")} % 100)"
        s"""WITH ${minhashCtes(1, "doc_id >= 0", 48)},
           |edges AS (
           |  SELECT c.a, c.b FROM cand c
           |  JOIN sh sa ON sa.__id = c.a
           |  JOIN sh sb ON sb.__id = c.b
           |  WHERE ${jaccard("sa.__sh", "sb.__sh")} >= 0.9),
           |drops AS (
           |  SELECT DISTINCT CASE WHEN ${bucketSql("a")} < 80 THEN a ELSE b END AS doc_id
           |  FROM edges
           |  WHERE (${bucketSql("a")} < 80 AND ${bucketSql("b")} >= 80)
           |     OR (${bucketSql("a")} >= 80 AND ${bucketSql("b")} < 80)),
           |q AS (
           |  SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |    ${TextQueries.qualitySql} AS quality
           |  FROM (SELECT source, doc_id, text, ${tokens("text")} AS w
           |        FROM documents)),
           |gated AS (
           |  SELECT source, doc_id, n_tokens FROM (
           |    SELECT *, ntile(4) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id) AS qt
           |    FROM q)
           |  WHERE qt = 1),
           |clean AS (
           |  SELECT g.* FROM gated g
           |  WHERE g.doc_id NOT IN (SELECT doc_id FROM drops))
           |SELECT source,
           |  CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
           |       WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
           |       ELSE 'test' END AS split,
           |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
           |FROM clean GROUP BY 1, 2""".stripMargin
      }),

    // The FULL curation pipeline — six operator families composed in
    // production order, the capstone of capstones: (1) exact dedup
    // (min-id keeper per normalized-text digest), (2) per-source
    // top-quartile quality gate over the keepers, (3) the FULL CCNet
    // admission gate (TWO trained hashed-bigram LMs — target and
    // background — admitting on the int64 cross-multiplied perplexity
    // ratio; per-document and threshold-fixed, so it composes),
    // (4) SemDeDup
    // semantic drop (trained-cluster cosine near-dups in the shared id
    // space; documents without a vector pass through the anti-join),
    // (5) DSIR importance RESAMPLING of the survivors on the
    // distributed prefix-sum kernel, (6) split tag + the (source ×
    // split) audit manifest a training run ships with. Every stage is
    // the SAME construction as its standalone query, and the oracle
    // replays the entire DAG — three trained models (target LM grid,
    // background LM grid, k-means cells), two hash frames, and a
    // prefix sum — in ONE CTE chain:
    // the hash-match proves the whole recipe composes end-to-end, not
    // just that stages pass individually. At 100 TB every stage keeps
    // its standalone shape: the only corpus-keyed shuffles are the
    // digest aggregate, the per-source quartile, the resample cumsum,
    // and the final manifest — gates are map-only broadcasts.
    "curate_pipeline" -> QueryDef(
      (s, d) => pipelineFrame(s, d, classifierGate = false),
      pipelineSql(classifierGate = false)),

    // The capstone with the TRAINED-CLASSIFIER stage composed in —
    // the full perplexity + classifier admission stack CCNet-style
    // recipes actually run: stage 3 admits on the LM ratio AND the NB
    // argmax (pred = en). Same six families plus the per-class NB
    // grids; the oracle appends the nb* CTE blocks onto the shared
    // lmCtes fan-out, so one bigram pipeline feeds both gates.
    "curate_pipeline_cls" -> QueryDef(
      (s, d) => pipelineFrame(s, d, classifierGate = true),
      pipelineSql(classifierGate = true)),

    // Deterministic shard export — the TERMINAL pipeline stage (the
    // one stage the board computed everything up to and nothing at):
    // hash-ordered reproducible interleave + closed-form greedy
    // token-balanced bin assignment (shard = start_offset·N div
    // total — a prefix-sum bin, balanced to ± one maximal document
    // around total/N). The running offset is the shared two-level
    // prefix-sum kernel; the corpus total rides a 1-row broadcast.
    // The output IS the ordered assignment: (unit, global token
    // offset, shard) — N writers can stream their slices
    // independently and byte-identically on any cluster.
    "curate_shard_plan" -> QueryDef(
      (s, d) => graft.operators.ShardExport.shardPlan(
        Tables.documents(s, d).select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", nShards = ShardN),
      s"""WITH ${shardCtes(
             s"(SELECT source, doc_id, CAST(len(${tokens("text")}) AS BIGINT)" +
             " AS n_tokens FROM documents)")}
         |SELECT source, doc_id, n_tokens, cum_tokens, shard
         |FROM shp""".stripMargin),

    // The per-shard audit manifest of the same plan: unit/token
    // counts, source-mix width, and each shard's contiguous
    // [start_pos, end_pos] token slice of the interleaved stream —
    // what a 100 TB run ships to the trainer next to the shard files.
    "curate_shard_manifest" -> QueryDef(
      (s, d) => graft.operators.ShardExport.shardManifest(
        graft.operators.ShardExport.shardPlan(
          Tables.documents(s, d).select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long")
              .as("n_tokens")),
          "doc_id", "n_tokens", nShards = ShardN), "n_tokens"),
      s"""WITH ${shardCtes(
             s"(SELECT source, doc_id, CAST(len(${tokens("text")}) AS BIGINT)" +
             " AS n_tokens FROM documents)")}
         |$shardManifestSelect""".stripMargin),

    // Chunk-level shard export — the pack → export composition at the
    // unit a trainer actually loads: the per-source packed context
    // windows (curate_pack_chunks' 512-token chunk space — chunk
    // count and tail size are pure arithmetic on the per-source token
    // total, so the chunk frame derives from ONE tiny per-source
    // aggregate, never a corpus re-walk), each chunk keyed by a
    // portable hash of (source, chunk_id), interleaved and
    // token-balance-binned by the same shard kernel. Tail chunks are
    // the only sub-512 units, so the manifest's balance bound
    // tightens to ± one context window.
    "curate_pack_shards" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        val ctx = 512L
        val totals = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("t"))
          .filter(col("t") > 0)
        val chunks = totals
          .select(col("source"), col("t"),
            explode(sequence(lit(0L), expr(s"(t - 1) div $ctx")))
              .as("chunk_id"))
          .select(col("source"),
            PortableHash.hash60(concat(col("source"), lit(":"),
              col("chunk_id").cast("string"))).as("chunk_uid"),
            least(lit(ctx), col("t") - lit(ctx) * col("chunk_id"))
              .cast("long").as("n_tokens"))
          // chunk-space-sized (sources × chunks, kilobytes):
          // checkpointing it makes the per-source totals aggregate run
          // and plan once instead of once per shard-kernel branch
          .localCheckpoint(true)
        graft.operators.ShardExport.shardManifest(
          graft.operators.ShardExport.shardPlan(
            chunks, "chunk_uid", "n_tokens", nShards = ShardN),
          "n_tokens")
      }, {
        import graft.functions.PortableHash
        val uidSql = PortableHash.hash60Sql(
          "source || ':' || CAST(u.i AS VARCHAR)")
        s"""WITH pct AS (
           |  SELECT source,
           |    CAST(SUM(len(${tokens("text")})) AS BIGINT) AS t
           |  FROM documents GROUP BY source HAVING SUM(len(${
             tokens("text")})) > 0),
           |pch AS (
           |  SELECT source, $uidSql AS doc_id,
           |    CAST(LEAST(512, t - 512 * u.i) AS BIGINT) AS n_tokens
           |  FROM pct, LATERAL unnest(range(0, (t - 1) // 512 + 1))
           |    AS u(i)),
           |${shardCtes("pch")}
           |$shardManifestSelect""".stripMargin
      }),

    // Multi-epoch deterministic interleave — the trainer-side rung on
    // top of the shard plan: the same shards consumed for many epochs,
    // each epoch in a DIFFERENT reproducible order, with shard
    // membership pinned (re-ordering WITHIN the fixed shards is a
    // per-shard sort of already-local data; re-sharding per epoch
    // would re-shuffle the corpus every epoch and invalidate every
    // per-shard manifest — the documented alternative, rejected).
    // epoch_ord = hash60(id|"|shard|"|epoch) — the interleave hash's
    // own salt family, so no epoch replays the assignment order. The
    // row grades the per-(epoch, shard) HEAD of each order (ranks
    // 1–3): order-sensitive evidence at epochs × shards × 3 rows,
    // and the oracle replays the full chain (prefix-sum bins + the
    // per-epoch window) so the hash-match proves the orders
    // themselves, not just their existence.
    "curate_shard_epochs" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("epoch"), col("shard"))
          .orderBy(col("epoch_ord"), col("doc_id"))
        graft.operators.ShardExport.epochOrder(
            graft.operators.ShardExport.shardPlan(
              Tables.documents(s, d).select(col("source"), col("doc_id"),
                TextAnalysis.tokenCount(col("text")).cast("long")
                  .as("n_tokens")),
              "doc_id", "n_tokens", nShards = ShardN),
            "doc_id", nEpochs = ShardEpochs)
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("epoch"), col("shard"), col("rnk"), col("doc_id"),
            col("n_tokens"))
      }, {
        import graft.functions.PortableHash
        val eordSql = PortableHash.hash60Sql(
          "CAST(doc_id AS VARCHAR) || '|shard|' || CAST(ep.epoch AS VARCHAR)")
        s"""WITH ${shardCtes(
               s"(SELECT source, doc_id, CAST(len(${tokens("text")}) AS BIGINT)" +
               " AS n_tokens FROM documents)")},
           |eo AS (
           |  SELECT ep.epoch, shp.shard, shp.doc_id, shp.n_tokens,
           |    row_number() OVER (PARTITION BY ep.epoch, shp.shard
           |      ORDER BY $eordSql, doc_id) AS rnk
           |  FROM shp, range(0, $ShardEpochs) AS ep(epoch))
           |SELECT epoch, shard, CAST(rnk AS BIGINT) AS rnk, doc_id,
           |  n_tokens
           |FROM eo WHERE rnk <= 3""".stripMargin
      }),

    // Shard-export capstone — the full terminal composition: the
    // six-family curated corpus (curate_pipeline_cls' per-document
    // admission manifest), train split only, assigned to N balanced
    // shards and rolled up to the shipping manifest. The oracle
    // replays the ENTIRE chain (dedup → quality → calibrated ratio +
    // NB gates → SemDeDup → DSIR resample → split → shard bins) in
    // one CTE chain off the shared pipeline CTEs — the hash-match
    // proves curation and export compose, not just pass separately.
    "curate_pipeline_shards" -> QueryDef(
      (s, d) => graft.operators.ShardExport.shardManifest(
        graft.operators.ShardExport.shardPlan(
          // the admitted-train manifest is the MEMOIZED per-document
          // pipeline checkpoint (r16: this row re-ran the whole
          // six-family chain curate_pipeline_cls had already paid;
          // reading the shared manifest is the production shape — the
          // r13 lesson "the shard kernel's window/offsets/total
          // branches must plan over a checkpoint, not replay the
          // literal-grid chain" now holds via the memo)
          pipelineDocsMemo(s, d, classifierGate = true)
            .filter(col("split") === "train")
            .select(col("source"), col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", nShards = ShardN), "n_tokens"),
      s"""WITH ${pipelineCtes(classifierGate = true)},
         |${shardCtes(
             "(SELECT c.source, c.doc_id, c.n_tokens FROM pclean c" +
             " JOIN psel ON psel.doc_id = c.doc_id" +
             s" WHERE ${splitBucketSql("c.doc_id")} < 80)")}
         |$shardManifestSelect""".stripMargin),

    // Deterministic weighted source mixing — the training-data recipe
    // step: each source gets a sampling rate (here derived from a
    // portable hash of the source name, 25-75%), each document an
    // independent keep/drop decision from a portable hash of its id.
    // Replay-safe on a cluster (no rand()), map-only before one tiny
    // per-source aggregate, and the recipe is auditable: the output is
    // the per-source (total, kept, rate) manifest.
    "curate_source_mix" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        val rate = PortableHash.hash60(
          concat(col("source"), lit("|rate"))) % 5000 + 2500
        val kept = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|mix"))) % 10000 < rate
        Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            count(when(kept, 1)).as("n_kept"),
            max(rate).cast("long").as("rate_bps"))
      }, {
        import graft.functions.PortableHash
        val rateSql =
          s"(${PortableHash.hash60Sql("source || '|rate'")} % 5000 + 2500)"
        val keptSql =
          s"${PortableHash.hash60Sql("CAST(doc_id AS VARCHAR) || '|mix'")} % 10000 < $rateSql"
        s"""SELECT source, COUNT(*) AS n_total,
           |  COUNT(CASE WHEN $keptSql THEN 1 END) AS n_kept,
           |  CAST(MAX($rateSql) AS BIGINT) AS rate_bps
           |FROM documents GROUP BY source""".stripMargin
      }),

    // DSIR-style importance weighting — targeted data SELECTION, the
    // step after filtering in a modern pretraining recipe: score every
    // document by how much it resembles a TARGET distribution (here the
    // corpus' English slice) relative to the background (the full
    // corpus), using hashed-n-gram bag-of-features models exactly as
    // DSIR does. Per 64-bucket feature b the weight is the log-free
    // rational ratio
    //   r_b = floor( 1000·(ct_b+1)·Nb / ((cb_b+1)·Nt) )
    // ((ct/cb) = target/background bucket counts, +1 smoothing, Nt/Nb
    // the smoothed totals — the argument of DSIR's log, per-feature
    // monotone; same doctrine as corpus_tfidf's N/df for ln(N/df)), and
    // a document's importance is the exact int64 sum of r_b over its
    // hashed distinct 2-grams. Shape at 100 TB: the two count frames
    // are 64-row aggregates; the weight table folds into a 64-element
    // array on a 1-row broadcast frame; scoring is then a MAP-ONLY
    // pass per document (the native compiled weighted_bucket_sum
    // expression) — no shuffle touches the corpus at
    // all after the counting pass, and resampling by the score is
    // op_pps_sample's prefix-sum kernel downstream.
    "curate_dsir_weights" -> QueryDef(
      (s, d) => {
        val rl = dsirWeightTable(s, d)
          .agg(sort_array(collect_list(struct(col("b"), col("r"))))
            .as("ws"))
          .select(transform(col("ws"), x => x.getField("r")).as("rl"))
        Tables.documents(s, d)
          .select(col("doc_id"), Dedup.hashedShingles(col("text"), 2).as("gs"))
          .crossJoin(broadcast(rl))
          .filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id"), size(col("gs")).cast("long").as("n_feats"),
            graft.functions.TextHashFunctions
              .weightedBucketSum(col("gs"), col("rl")).as("imp_score"))
      },
      s"""WITH $dsirCtes
         |SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |  CAST(sum(w.r) AS BIGINT) AS imp_score
         |FROM gb JOIN w USING (b)
         |WHERE gb.doc_id % 5 = 0
         |GROUP BY gb.doc_id""".stripMargin),

    // DSIR resampling capstone — the second half of the DSIR recipe
    // (estimate importance, then RESAMPLE proportionally): systematic
    // PPS over the per-document importance scores, riding the same
    // distributed prefix-sum kernel as op_pps_sample (per-bucket local
    // cumsums in parallel; the only single-task window is the
    // rows=buckets offsets frame). Order is a portable hash of doc_id —
    // a deterministic "shuffle before systematic sampling", replay-safe
    // on a cluster. Selection probability is ∝ importance score, which
    // is exactly DSIR's resampling step; at 100 TB the corpus is scored
    // map-only (weight-array broadcast), cumsummed by the bucketed
    // kernel, and the step-crossing filter is a pure column predicate.
    "curate_dsir_resample" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        import graft.operators.PrefixSum
        val rl = dsirWeightTable(s, d)
          .agg(sort_array(collect_list(struct(col("b"), col("r"))))
            .as("ws"))
          .select(transform(col("ws"), x => x.getField("r")).as("rl"))
        val h = PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit("|dsir")))
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), Dedup.hashedShingles(col("text"), 2).as("gs"))
          .crossJoin(broadcast(rl))
          .select(col("doc_id"),
            graft.functions.TextHashFunctions
              .weightedBucketSum(col("gs"), col("rl")).as("w"),
            (h % 64).as("bkt"), h.as("ord"))
        PrefixSum.bucketedRunningSum(scored, Seq.empty, "bkt",
            Seq(col("ord"), col("doc_id")), "w", "cum_weight")
          .filter(expr(s"cum_weight div $DsirStep") >
            expr(s"(cum_weight - w) div $DsirStep"))
          .select(col("doc_id"), col("w").as("imp_score"), col("cum_weight"))
      }, {
        import graft.functions.PortableHash
        val hSql = PortableHash.hash60Sql(
          "CAST(doc_id AS VARCHAR) || '|dsir'")
        s"""WITH $dsirCtes,
           |sc AS (
           |  SELECT gb.doc_id, CAST(sum(w.r) AS BIGINT) AS w
           |  FROM gb JOIN w USING (b) GROUP BY gb.doc_id),
           |t AS (
           |  SELECT doc_id, w, $hSql % 64 AS bkt, $hSql AS ord FROM sc),
           |c AS (
           |  SELECT doc_id, w,
           |    CAST(SUM(w) OVER (
           |      ORDER BY bkt, ord, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
           |  FROM t)
           |SELECT doc_id, w AS imp_score, cum_weight
           |FROM c
           |WHERE cum_weight // $DsirStep > (cum_weight - w) // $DsirStep""".stripMargin
      }),

    // Embedding-cosine near-dup: random-hyperplane LSH candidates, exact
    // cosine verification. Vectors quantized to integer-valued doubles so
    // all arithmetic is exact (order-independent, engine-portable).
    "dedup_embedding_cosine" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"), x => round(x.cast("double") * 1000)).as("qv"))
        Similarity.nearDuplicateVectors(e, "vec_id", "qv",
          threshold = 0.35, tables = 2, planes = 8, dims = 64)
      }, {
        val buckets = (0 until 2).map(t =>
          s"SELECT vec_id, v, concat_ws(':', $t, ${lshBucket("v", t, 8, 64)}) AS bkt FROM e")
          .mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id, ${quantVec("embedding")} AS v FROM embeddings),
           |b AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           |  FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id)
           |SELECT c.a, c.b FROM cand c
           |JOIN e ea ON ea.vec_id = c.a
           |JOIN e eb ON eb.vec_id = c.b
           |WHERE ${cosine("ea.v", "eb.v", 64)} >= 0.35""".stripMargin
      }))

  /** Shared DSIR oracle CTEs: hashed-2-gram bucketing (`gb`), the
    * target/background counts, smoothed totals, and the 64-row weight
    * table (`w`) — consumed by both the weight query and the resampler. */
  private def dsirCtes: String = {
    val hs = s"list_transform(${shingles(tokens("text"), 2)}, " +
      s"s -> ${graft.functions.PortableHash.hash60Sql("s")})"
    s"""gb AS (
       |  SELECT doc_id, lang, g0 % 64 AS b
       |  FROM (SELECT doc_id, lang, unnest($hs) AS g0 FROM documents)),
       |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS cb
       |       FROM gb GROUP BY b),
       |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
       |       FROM gb WHERE lang = 'en' GROUP BY b),
       |tot AS (SELECT CAST(count(*) AS BIGINT) + 64 AS nb,
       |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) + 64 AS nt
       |  FROM gb),
       |bk AS (SELECT CAST(t.m AS BIGINT) AS b
       |       FROM UNNEST(generate_series(0, 63)) AS t(m)),
       |w AS (
       |  SELECT bk.b, CAST(floor(
       |    ((COALESCE(ct.ct, 0) + 1) * tot.nb * 1000)
       |    / ((COALESCE(cb.cb, 0) + 1) * tot.nt)) AS BIGINT) AS r
       |  FROM bk LEFT JOIN cb USING (b) LEFT JOIN ct USING (b), tot)""".stripMargin
  }

  /** The trained DSIR weight table (b 0..63, r): per-bucket log-free
    * rational importance ratios of the target (en) slice vs the full
    * corpus — see `curate_dsir_weights` for the formula and bounds.
    * 64 rows; two corpus count aggregates + a seeded left join. */
  private[graft] def dsirWeightTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // memoized since r16 — the weight table is a TRAINED artifact (the
    // 64-long grid every serving consumer folds in as plan literals),
    // but each of its four batch consumers re-ran the bigram explosion
    // aggregations AND the two eager corpus-count jobs per call.
    // Probe-then-build (FrameCache.get): construction is eager (the
    // counts), so a by-name memo would re-fire them on every hit.
    FrameCache.get(s, d, "dsir_weights").getOrElse {
      val ex = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(Dedup.hashedShingles(col("text"), 2)).as("g"))
        .withColumn("b", pmod(col("g"), lit(64L)))
      val cbF = ex.groupBy(col("b")).agg(count(lit(1)).as("cb"))
      val ctF = ex.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val nb = ex.count() + 64
      val nt = ex.filter(col("lang") === "en").count() + 64
      val built = s.range(1)
        .select(explode(sequence(lit(0L), lit(63L))).as("b"))
        .join(cbF, Seq("b"), "left").join(ctF, Seq("b"), "left")
        .select(col("b"), floor(
          ((coalesce(col("ct"), lit(0L)) + 1) * nb * 1000) /
            ((coalesce(col("cb"), lit(0L)) + 1) * nt))
          .cast("long").as("r"))
      FrameCache.memo(s, d, "dsir_weights")(built)
    }

  /** The weight table as a 64-long array ordered by bucket — the
    * trained index metadata the STREAMING scorer folds into its plan
    * as literals (the StreamingIndex broadcast-to-writers shape). */
  private[graft] def dsirWeightArray(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Long] =
    dsirWeightTable(s, d).collect()
      .sortBy(_.getAs[Long]("b")).map(_.getAs[Long]("r")).toIndexedSeq
}
