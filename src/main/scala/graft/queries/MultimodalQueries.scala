package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.operators.Multimodal

/** Multimodal plumbing queries over the deterministic fake media derived
  * from `documents` (the container ships no codecs — the decode step is
  * stubbed, the Spark plumbing is real; see [[Multimodal]]).
  * `mm_binary_meta`, `mm_features` and `mm_frames` are DuckDB-oracled
  * (the fake decoder's byte arithmetic is exact and SQL-expressible);
  * `mm_knn`'s ranking contract is pinned in MultimodalSpec.
  */
object MultimodalQueries {

  /** f0..f7 recomputed from the payload bytes in SQL: exact integer
    * byte sums per residue class, then one float32 division — the same
    * bits [[graft.operators.Multimodal.FakeDecoder]] produces. Split as
    * (CTE list, final SELECT) so mm_knn can reuse the feature derivation
    * as a sub-CTE of its own oracle. */
  private val featuresCtes: String =
    """b AS (
      |  SELECT doc_id, text, strlen(text) AS n,
      |         unnest(range(strlen(text))) AS pos
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n, CAST(pos AS INT) % 8 AS d,
      |         ord(substr(text, CAST(pos AS INT) + 1, 1)) AS byte
      |  FROM b)""".stripMargin

  private val featuresSelect: String = {
    val fcols = (0 until 8).map { d =>
      s"""  CAST(CAST(SUM(CASE WHEN d = $d THEN byte ELSE 0 END) AS REAL)
         |       / CAST(255 * GREATEST(1, n // 8) AS REAL) AS DOUBLE) AS f$d""".stripMargin
    }.mkString(",\n")
    s"""SELECT doc_id AS media_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image'
       |       WHEN doc_id % 3 = 1 THEN 'audio'
       |       ELSE 'video' END AS kind,
       |  CAST(n AS BIGINT) AS n_bytes,
       |$fcols
       |FROM s GROUP BY doc_id, n""".stripMargin
  }

  private val featuresOracle: String = s"WITH $featuresCtes\n$featuresSelect"

  /** mm_knn oracle: the feature derivation above, quantized like the
    * Spark side (`round(f * 1000)` — exact integer-valued doubles), then
    * brute-force cosine top-5 with the engine-stable (round-9, id)
    * tie-break of [[graft.operators.Similarity.knnBruteForce]]. */
  private val knnOracle: String = {
    val v = (0 until 8).map(d => s"round(f$d * 1000)").mkString("[", ", ", "]")
    s"""WITH $featuresCtes,
       |feats AS ($featuresSelect),
       |e AS (SELECT media_id, $v AS v FROM feats),
       |sc AS (
       |  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
       |    round(${OracleSql.cosine("q.v", "c.v", 8)}, 9) AS cos9
       |  FROM e q, e c
       |  WHERE q.media_id % 25 = 0 AND c.media_id <> q.media_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos9 FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos9 DESC, neighbor_id) AS rank
       |  FROM sc)
       |WHERE rank <= 5""".stripMargin
  }

  /** mm_hybrid_rrf oracle: the BM25 chain (TextQueries.bm25CtesFor with
    * mm_knn's % 25 query set) fused with the feature-space kNN chain
    * (the mm_knn oracle's CTEs) by the same exact-int64 RRF arithmetic
    * as corpus_hybrid_rrf. */
  private def mmHybridOracle: String = {
    val v = (0 until 8).map(d => s"round(f$d * 1000)").mkString("[", ", ", "]")
    val lcm = TextQueries.RrfLcm
    s"""WITH ${TextQueries.bm25CtesFor("tf.doc_id % 25 = 0")},
       |$featuresCtes,
       |feats AS ($featuresSelect),
       |e AS (SELECT media_id, $v AS v FROM feats),
       |denr AS (
       |  SELECT query_doc, doc_id, rank FROM (
       |    SELECT qe.media_id AS query_doc, ce.media_id AS doc_id,
       |      row_number() OVER (PARTITION BY qe.media_id
       |        ORDER BY round(${OracleSql.cosine("qe.v", "ce.v", 8)}, 9) DESC,
       |          ce.media_id ASC) AS rank
       |    FROM e qe, e ce
       |    WHERE qe.media_id % 25 = 0 AND ce.media_id <> qe.media_id)
       |  WHERE rank <= 5),
       |fused AS (
       |  SELECT COALESCE(l.query_doc, r.query_doc) AS query_doc,
       |    COALESCE(l.doc_id, r.doc_id) AS doc_id,
       |    CAST(COALESCE(l.rk, 0) AS BIGINT) AS lex_rk,
       |    CAST(COALESCE(r.rank, 0) AS BIGINT) AS feat_rk
       |  FROM lexr l
       |  FULL OUTER JOIN denr r
       |    ON r.query_doc = l.query_doc AND r.doc_id = l.doc_id),
       |sc2 AS (
       |  SELECT query_doc, doc_id, lex_rk, feat_rk,
       |    CAST((CASE WHEN lex_rk > 0
       |            THEN $lcm // (60 + lex_rk) ELSE 0 END)
       |       + (CASE WHEN feat_rk > 0
       |            THEN $lcm // (60 + feat_rk) ELSE 0 END)
       |      AS BIGINT) AS rrf
       |  FROM fused)
       |SELECT query_doc, CAST(rk AS BIGINT) AS rk, doc_id,
       |  lex_rk, feat_rk, rrf
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_doc
       |    ORDER BY rrf DESC, doc_id ASC) AS rk FROM sc2)
       |WHERE rk <= 5""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // Opaque-binary metadata surface: byte length + content digest.
    "mm_binary_meta" -> QueryDef(
      (s, d) => Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_md5")),
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  strlen(text) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin),

    // Partition-local decode/feature-extract (stubbed codec, real
    // batching). The feature vector is emitted as scalar f0..f7 doubles
    // — portable for the gate's canonicalizer (a raw array column is
    // not hashable there) and recomputable exactly in SQL.
    "mm_features" -> QueryDef(
      (s, d) => mmFeats(s, d)
        .select(col("media_id") +: col("kind") +: col("n_bytes") +:
          (0 until 8).map(i =>
            col("features").getItem(i).cast("double").as(s"f$i")): _*),
      featuresOracle),

    // Frame sampling fan-out — the slicing is integer arithmetic over
    // byte lengths, so the (media, frame, n_bytes) shape is oracled.
    "mm_frames" -> QueryDef(
      (s, d) => Multimodal.sampleFrames(
        Multimodal.fakeMediaFromDocuments(Tables.documents(s, d)), stride = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).cast("long").as("n_bytes")),
      """WITH m AS (
        |  SELECT doc_id, strlen(text) AS len, 1 + doc_id % 10 AS n
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, len, n, GREATEST(1, len // n) AS sz,
        |         unnest(range(0, n, 2)) AS i
        |  FROM m)
        |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
        |  CAST((CASE WHEN i = n - 1 THEN len
        |             ELSE GREATEST(LEAST(i * sz, len),
        |                           LEAST((i + 1) * sz, len)) END)
        |       - LEAST(i * sz, len) AS BIGINT) AS n_bytes
        |FROM f""".stripMargin),

    // Composition: decoded media features → similarity search (the
    // image-dedup/retrieval pipeline shape: decode partition-locally,
    // then the candidate-pruned ANN machinery takes over). Oracled: the
    // fake decoder's byte arithmetic is SQL-expressible (same CTEs as
    // mm_features), so the whole composition is hash-checked end to end.
    "mm_knn" -> QueryDef(
      (s, d) => {
        val feats = mmFeats(s, d)
          .select(col("media_id"),
            transform(col("features"), x => round(x.cast("double") * 1000)).as("qv"))
        graft.operators.Similarity.knnBruteForce(
          feats.filter(pmod(col("media_id"), lit(25)) === 0), feats,
          "media_id", "qv", 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      knnOracle),

    // CROSS-MODAL retrieval capstone — media-to-text joint retrieval,
    // the multimodal-curation shape: for each query media item, its
    // FEATURE-SPACE neighbors (mm_knn's brute cosine top-5 over the
    // decoded 8-dim signatures — "looks/sounds like") fused with the
    // TEXT-SIDE BM25 ranking of its document's terms against the corpus
    // lexical index ("reads like"), through the ONE shared
    // TextQueries.rrfFuse kernel — rank-capped LCM arithmetic, full
    // outer join, so an item similar only in feature space still
    // surfaces (lex_rk = 0) and one similar only lexically too
    // (feat_rk = 0); both single-branch shapes occur in the fixture.
    // Query set = mm_knn's media_id % 25 picks; media_id ≡ doc_id (the
    // one-catalog contract, as the graph row's vec_id ⊂ part ids).
    // Scale shape: the lexical branch broadcasts only the query-term
    // frame onto the tf index, the feature branch broadcasts only the
    // query vectors; fusion outer-joins two ≤ 5·|Q|-row frames —
    // nothing corpus-sized moves.
    "mm_hybrid_rrf" -> QueryDef(
      (s, d) => {
        val ix = TextQueries.lexIndex(s, d)
        val qtf = TextQueries.termTf(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(25)) === 0),
          col("doc_id").as("query_doc"))
        val lex = TextQueries.bm25Serve(qtf, ix)
        val feats = mmFeats(s, d)
          .select(col("media_id"),
            transform(col("features"),
              x => round(x.cast("double") * 1000)).as("qv"))
        val den = TextQueries.denseRanks(
          feats.filter(pmod(col("media_id"), lit(25)) === 0), feats,
          "media_id", "qv", 5)
        TextQueries.rrfFuse(lex, den)
          .withColumnRenamed("dense_rk", "feat_rk")
      },
      mmHybridOracle),

    // Image/media near-dup via perceptual blockhash — the pHash-family
    // dedup a multimodal training pipeline runs before any embedding
    // model exists. Pipeline shape mirrors MinHash LSH: an 8-byte
    // signature per item computed partition-local at the codec seam
    // (Multimodal.blockHash32 — a real deployment swaps in DCT-pHash on
    // decoded pixels, same seam, same downstream), banded into 4 × 8-bit
    // Hamming bands; candidates share a band value (equi-join on the
    // band key, bucket capped at 64 lowest ids — deterministic, mirrored
    // in the oracle); exact verify `popcount(xor) <= 3` on candidates
    // only. Recall is structural below the cap: 3 flipped bits can
    // spoil at most 3 of the 4 bands. The shuffles carry (band, bval,
    // id, sig) — 8-byte signatures, never payload bytes.
    "mm_phash_pairs" -> QueryDef(
      (s, d) => phashPairs(s, d),
      s"""WITH $phashCtes
        |SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM capped a JOIN capped b
        |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin),

    // Media near-dup CLUSTERS: the SAME HashMin connected-components
    // operator the text near-dup stack uses (ConnectedComponents.run),
    // consuming the phash pair graph instead of the MinHash one — the
    // label-propagation machinery is modality-agnostic, and the
    // recursive-CTE oracle proves it end to end over the banded
    // candidate graph. Keeper election / cluster stats then compose
    // exactly as they do for text.
    "mm_phash_clusters" -> QueryDef(
      (s, d) => phashLabels(s, d),
      s"""WITH RECURSIVE $phashCtes,
        |edges AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
        |sym AS (SELECT a AS src, b AS dst FROM edges
        |        UNION SELECT b, a FROM edges),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        |SELECT src AS node, least(src, min(dst)) AS label
        |FROM reach GROUP BY src""".stripMargin))

  /** The decoded feature store (media_id, kind, n_bytes, features) —
    * memoized since r16: a multimodal pipeline decodes each item ONCE
    * at the codec seam and persists the features; the registry's three
    * consumers (`mm_features`, `mm_knn`, `mm_hybrid_rrf`) each re-ran
    * the mapPartitions decode over the full catalog per row before. */
  private def mmFeats(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "mm_feats") {
      Multimodal.extractFeatures(
        Multimodal.fakeMediaFromDocuments(Tables.documents(s, d)),
        new Multimodal.FakeDecoder(8)).toDF()
    }

  /** The banded-candidate pair frame shared by `mm_phash_pairs` /
    * `mm_phash_clusters`, memoized in [[FrameCache]] exactly like the
    * text stack's `nearDupPairs` — one signature→band→cap→equi-join
    * pipeline per curation pass, checkpointed pairs-scale, read by both
    * consumers (and cleared per bench pass for timing fairness). */
  private def phashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.memo(s, d, "phash_pairs")(phashPairsPipeline(s, d))

  /** Connected-component labels over [[phashPairs]], memoized like the
    * text stack's label frame ([[DedupQueries]]) so cluster consumers
    * (`mm_phash_clusters` today, any media keeper-election tomorrow)
    * never re-run the iterative CC convergence. */
  private def phashLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // resolve the pairs frame BEFORE entering the labels memo (see the
    // FrameCache nesting note)
    val pairs = phashPairs(s, d)
    FrameCache.memo(s, d, "phash_labels") {
      graft.operators.ConnectedComponents.run(
        pairs.select(col("media_a").as("a"), col("media_b").as("b")))
    }
  }

  /** Eager build of this family's shared frames (see
    * [[DedupQueries.prewarmShared]] for the bench-attribution doctrine). */
  private[graft] def prewarmShared(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    phashPairs(s, d)
    phashLabels(s, d)
    ()
  }

  /** The un-memoized pipeline: codec-seam signatures → 4 × 8-bit
    * Hamming bands → deterministic 64-id bucket cap → band equi-join
    * (shuffle hint: both sides are the corpus-scale signature table).
    * Package-visible so PlanSpec can pin its scale shape directly —
    * the shared frame hides it from the registry's plans. */
  private[graft] def phashPairsPipeline(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigs = Multimodal.blockHashes(
      Multimodal.fakeMediaFromDocuments(Tables.documents(s, d))).toDF()
    val bands = sigs.select(col("media_id"), col("sig"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        shiftright(col("sig"), b * 8).bitwiseAND(lit(255L)).as("bval")
      )): _*)).as("bb"))
      .select(col("media_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    val capWin = Window.partitionBy(col("band"), col("bval"))
      .orderBy(col("media_id"))
    val capped = bands
      .withColumn("rn", row_number().over(capWin))
      .filter(col("rn") <= 64).drop("rn")
    val a = capped.select(col("media_id").as("media_a"),
      col("sig").as("sig_a"), col("band"), col("bval"))
    val b = capped.select(col("media_id").as("media_b"),
      col("sig").as("sig_b"), col("band"), col("bval"))
    a.join(b.hint("shuffle_hash"), Seq("band", "bval"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** DuckDB CTE block recomputing the banded-candidate pipeline from
    * payload bytes (through `capped`) — shared by the pair and cluster
    * oracles. */
  private def phashCtes: String =
    """b AS (
      |  SELECT doc_id, strlen(text) AS n,
      |         unnest(range(strlen(text))) AS pos, text
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(pos * 32 // n AS INT) AS blk,
      |         ord(substr(text, CAST(pos AS INT) + 1, 1)) AS byte
      |  FROM b),
      |bs AS (SELECT doc_id, blk, SUM(byte) AS bsum FROM s GROUP BY doc_id, blk),
      |tot AS (SELECT doc_id, SUM(bsum) AS t FROM bs GROUP BY doc_id),
      |sig AS (
      |  SELECT bs.doc_id, CAST(SUM(CASE WHEN bsum * 32 > t
      |    THEN CAST(1 AS BIGINT) << blk ELSE 0 END) AS BIGINT) AS sig
      |  FROM bs JOIN tot ON bs.doc_id = tot.doc_id GROUP BY bs.doc_id),
      |bands AS (
      |  SELECT doc_id, sig, band, (sig >> (band * 8)) & 255 AS bval
      |  FROM sig, UNNEST(generate_series(0, 3)) AS t(band)),
      |capped AS (
      |  SELECT * FROM (SELECT *, row_number() OVER (
      |    PARTITION BY band, bval ORDER BY doc_id) AS rn FROM bands)
      |  WHERE rn <= 64)""".stripMargin
}
