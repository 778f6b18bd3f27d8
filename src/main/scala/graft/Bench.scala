package graft
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** Force FULL evaluation of every output column via the no-op sink.
    * `.count()` would let Catalyst prune unused projections, so map-only
    * queries would time the scan instead of their expression work. */
  private[graft] def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Headline queries reported per-query on the metric line. The driver
    * captures only the LAST 2000 bytes of output, so the line must stay
    * compact — every other registered query still runs (and counts into
    * `value`), with its timing written to bench_detail.json instead.
    * The set spans each family: the CDC pipeline stages the reference's
    * SLOs are defined over, the TPC-H-shaped heavy hitters, the dedup /
    * similarity / text LLM-pipeline operators, and the custom-plan ops. */
  private val Headline: Seq[String] = Seq(
    // The metric line must survive the caller's 2000-byte tail window
    // (see the guard at the end of main) — every entry costs ~26 bytes,
    // so this set holds the SLO surface plus one-or-two flagships per
    // family and rotates older mid-tier entries out to
    // bench_detail.json (which always carries every query).
    // The r9-final rotation trims mid-tier entries so the FULL line —
    // queries AND the 15-section streams map — fits the guard again
    // (the 62-entry r9 set overflowed and the guard halved it, dropping
    // the newest flagships from the very line meant to showcase them;
    // every trimmed query still runs and lands in bench_detail.json).
    // The r10-final rotation swaps four mid-tier sim entries
    // (knn_lsh, knn_ivf, pq_adc, rp_search — all still timed in
    // bench_detail.json) for the round's four new flagships.
    // The r11 rotation swaps three mid-tier entries (sim_svd_power,
    // sim_ivfpq_residual, curate_sem_decontaminate — still timed in
    // bench_detail.json) for the round's flagships: the retrain row
    // that closes the drift loop, the NB classifier gate, and the
    // weighted-shortest-path trace.
    // The r12 rotation swaps four mid-tier entries (rel_window_funcs,
    // adv_grouping_sets, sim_kmeans_inertia, curate_dsir_weights — all
    // still timed in bench_detail.json) for the round's three
    // flagships (the graph-RRF recommender fusion, the index ADD-path
    // serving row, the HLL cardinality estimate) and the new `hll`
    // stream section's bytes on the metric line.
    // The r13 rotation swaps two mid-tier entries (sim_nprobe_sweep,
    // sim_ivfpq_rerank — both still timed in bench_detail.json) for the
    // round's flagships (the skew mitigation row, the cross-modal
    // fusion row) and the new `decontam` stream section's bytes.
    "graph_skew_mitigated", "mm_hybrid_rrf",
    "sim_index_retrain", "curate_nb_gate", "graph_wsp_dists",
    "corpus_graph_rrf", "sim_index_serve_delta", "corpus_hll_card",
    "cdc_parse_roundtrip", "cdc_enrich", "cdc_leaderboard",
    "cdc_content_stats", "cdc_warehouse_hour",
    "rel_pricing_summary",
    "dedup_exact", "dedup_minhash_pairs", "dedup_embedding_cosine",
    "curate_corpus",
    "sim_knn_brute", "corpus_hybrid_rrf", "sim_filtered_recall",
    "op_funnel", "op_pps_sample", "curate_recipe", "curate_scorecard",
    "dedup_band_sweep", "sim_index_build",
    "sim_kmeans_train", "text_bpe_train",
    // sim_sq8_search rotated out in r11 to keep the metric line (which
    // gained the nb_score stream section) inside the 1900-byte guard
    "sim_ivfpq_search", "sim_ivfpq_recall",
    "graph_pagerank_train", "corpus_bm25",
    "curate_dsir_resample",
    "sim_index_drift",
    "curate_semdedup", "curate_cluster_balance",
    "text_lm_train", "curate_lm_gate", "curate_pipeline")

  /** How many of the slowest queries get their formatted plan dumped to
    * bench_plans.txt, so a reviewer can audit the expensive plans from the
    * bench artifact without re-running anything. */
  private val PlanDumpTop = 5

  /** Pinned constant-work calibration probe, timed at the start of every
    * pass: 64 Mi rows of pure in-memory hash+sum across all cores — no
    * fixtures, no shared frames, no shuffle, identical plan every round.
    * Its only variables are CPU availability and JIT state, so when a
    * whole board drifts with zero plan changes (round 7: −31 % uniform),
    * the probe classifies the drift as ambient (probe drifted too) vs
    * code (probe steady). */
  private[graft] def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 64L << 20, 1, 32)
      .selectExpr("sum(hash(id, id * 2654435761)) as h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** All normalization math lives in [[BenchNorm]] (spec-pinned); the
    * absolute reference pin survives only as the run-relative
    * baseline's upper bound — see BenchNorm's scaladoc for the r16
    * derivation change. */
  private val ReferenceCalibSec = BenchNorm.ReferenceCalibSec

  /** 1-minute /proc/loadavg at a sample point — the other half of the
    * ambient-vs-code signal (records what ELSE the host was running). */
  private def loadavg(): Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8)
      s.trim.split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // A stale detail file from a prior run must not masquerade as this
    // run's results if the run (or the final write) fails mid-way.
    try {
      Files.deleteIfExists(Paths.get("bench_detail.json"))
      Files.deleteIfExists(Paths.get("bench_plans.txt"))
    } catch { case _: Throwable => () }
    val spark = LocalSession()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val known = queries.map(_._1).toSet
    // A renamed query must not silently fall off the metric line.
    val missingHeadline = Headline.filterNot(known)
    if (missingHeadline.nonEmpty)
      System.err.println(
        s"WARN bench: headline names missing from registry: ${missingHeadline.mkString(",")}")
    // Untimed warm-up: JVM/codegen/session init and parquet footer reads
    // are one-time costs, not any query's cost.
    try { force(SparkEntry.queries("cdc_enrich")(spark, sfDir)) }
    catch { case _: Throwable => () }
    // The calibration probe warms its own codegen untimed too —
    // otherwise pass 1's probe reads high by its JIT cost (r8 observed
    // 0.68 vs 0.31/0.42 on later passes) and the ambient signal starts
    // with a systematic false positive.
    try { calibrate(spark); () } catch { case _: Throwable => () }
    // Two INTERLEAVED passes over the full query list (pass 1 runs every
    // query, then pass 2 runs every query), per-query min. Back-to-back
    // repeats of one query share any transient machine-load spike, so min
    // didn't defend against contention (round-4 artifact recorded 13.77s
    // for a 1.6s query). With passes minutes apart, a spike inflates one
    // pass's sample, not both — and both samples land in bench_detail.json
    // so a reviewer can see the variance.
    // A query that throws must not masquerade as a fast query: a
    // failed sample's time-to-throw is recorded in the detail file for
    // diagnosis, but it is EXCLUDED from the per-query min, the
    // headline total, and the metric-line queries map — a regression
    // that makes a query fail fast must read as an error, never as a
    // perf win. (The raw run1/run2 times plus the `failed` list in
    // bench_detail.json keep the evidence.)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    case class Sample(sec: Double, ok: Boolean)
    case class Pass(calibSec: Double, load: Double,
        shared: Seq[(String, Double)], samples: Map[String, Sample])
    def pass(): Pass = {
      // shared-frame caches (near-dup pairs + labels, co-purchase,
      // phash) start cold each pass: each pass pays the compute once,
      // its reusers read the cache — the curation-run cost model, kept
      // honest under min-of-passes.
      graft.queries.FrameCache.clearAll()
      // Ambient-load fingerprint first: host loadavg, then the pinned
      // constant-work probe — if the probe drifts with the board, the
      // drift is ambient; if the probe is steady, it's code.
      val load = loadavg()
      val calib = calibrate(spark)
      // Shared frames are built (and FrameCache-timed) as their own line
      // item BEFORE the per-query loop, so no query absorbs the whole
      // clique as a first-consumer payment (round-7 `curate_scorecard`
      // read as 6.7 s of which ~half was the near-dup frames).
      try SparkEntry.prewarmShared(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"WARN bench: shared-frame prewarm failed: " +
          s"${e.getClass.getName}: ${e.getMessage}")
      }
      val shared = graft.queries.FrameCache.buildSeconds
      val samples = queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, sfDir)); true } catch {
          case e: Throwable =>
            if (failed.add(name))
              System.err.println(s"WARN bench: $name failed: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
        name -> Sample((System.nanoTime() - t0) / 1e9, ok)
      }.toMap
      Pass(calib, load, shared, samples)
    }
    // Three interleaved passes by default (round-6 ran two): with the
    // per-query min taken across passes that are minutes apart, a
    // transient load spike inflates one pass's sample, not all of them.
    // A malformed env value degrades to the default instead of killing
    // the whole run before any artifact is written.
    val nPasses = math.max(2,
      scala.util.Try(sys.env("SPARK_GRAFT_BENCH_PASSES").toInt).getOrElse(3))
    val passes = (1 to nPasses).map(_ => pass())
    val runs = passes.map(_.samples)
    // min over the SUCCESSFUL samples only; a query with no successful
    // sample has no timing at all (it is counted by `errors`).
    val results: Seq[(String, Double)] = queries.flatMap { case (name, _) =>
      val oks = runs.map(_(name)).filter(_.ok).map(_.sec)
      oks.reduceOption((a, b) => math.min(a, b)).map(name -> _)
    }
    def sec3(v: Double): String = f"$v%.3f"
    // Shared-frame cost is its own line item (min of the per-pass
    // builds), ADDED to the headline total so it stays comparable with
    // rounds where first consumers absorbed it.
    val sharedSec = passes.map(_.shared.map(_._2).sum)
      .reduceOption((a, b) => math.min(a, b)).getOrElse(0.0)
    val total =
      (if (results.nonEmpty) results.map(_._2).sum else 0.0) + sharedSec
    // End-to-end pipeline throughput (BASELINE.md's rec/s SLO): CDC JSON
    // → parse → enrich → all four views, one shared enriched pass.
    val (rows, rps) = try {
      // materialize the serialized CDC messages BEFORE the clock starts:
      // producing them is the generator/Kafka side's cost — the pipeline
      // under measurement begins at the raw message bytes.
      val raw = graft.queries.CdcQueries.jsonMessages(
        graft.queries.CdcMapping.fact(spark, sfDir)).persist()
      raw.count()
      val t0 = System.nanoTime()
      val parsed = graft.ingest.DebeziumParser
        .parse(raw, graft.queries.CdcQueries.fixtureRowSchema).rows
        .withColumn("event_ts", graft.ingest.DebeziumParser
          .parseTimestampMicros(org.apache.spark.sql.functions.col("event_ts")))
      val enriched = graft.enrich.Enrichment
        .enrich(parsed, graft.queries.CdcMapping.dim(spark, sfDir)).rows.persist()
      val n = enriched.count()
      force(graft.views.EngagementViews.leaderboard(enriched, 100))
      force(graft.views.EngagementViews.contentStats(enriched))
      force(graft.views.EngagementViews.userContentLatest(enriched))
      force(graft.views.EngagementViews.minuteWindows(enriched))
      enriched.unpersist()
      raw.unpersist()
      val dt = (System.nanoTime() - t0) / 1e9
      (n, n / dt)
    } catch { case _: Throwable => (0L, 0.0) }
    // Streaming half: measured MemoryStream-driven throughput for the
    // 4-view pipeline and the stateful twins — the surface that
    // previously had correctness pins but no perf signal, so a
    // regression there was invisible. Runs AFTER the batch passes so
    // its state-store work can't contend with the batch timings.
    val streamSections: Seq[StreamBench.Section] =
      try StreamBench.run(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(
          s"WARN bench: stream bench failed: ${e.getClass.getName}: ${e.getMessage}")
        Seq.empty
      }
    val streamRps = streamSections.find(_.name == "pipeline")
      .map(_.rps).getOrElse(0.0)
    // The RUN-RELATIVE probe baseline (r16, BenchNorm's scaladoc has
    // the full rationale): the median of every probe this run recorded
    // — batch-pass probes, pre-section probes, per-chunk probes —
    // capped at the absolute reference pin. Every normalized number
    // below divides its probe reading by THIS baseline instead of the
    // pin, so contention that the probes visibly record on a
    // fast host (r15: idle 0.09 s, contention chunks 0.14–0.27 s, all
    // under the 0.30 pin → correction clamped to a no-op) actually
    // corrects.
    val probeBase = BenchNorm.runBaseline(
      passes.map(_.calibSec) ++ streamSections.map(_.calibSec) ++
        streamSections.flatMap(_.chunkCalib))
    // Formatted plans of the slowest queries, captured BEFORE the detail
    // write so they land in both bench_plans.txt (human review) and
    // bench_detail.json (machine-readable artifact — a reviewer can
    // audit the expensive plans from the one file without re-running).
    val slowest = results.sortBy(-_._2).take(PlanDumpTop)
    val planDump: Seq[(String, String)] = slowest.map { case (name, _) =>
      val buf = new ByteArrayOutputStream()
      val ps = new PrintStream(buf, true, "UTF-8")
      try Console.withOut(ps) {
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      } catch { case e: Throwable => ps.println(s"(explain failed: $e)") }
      name -> buf.toString("UTF-8")
    }
    try {
      val buf = new ByteArrayOutputStream()
      val ps = new PrintStream(buf, true, "UTF-8")
      planDump.foreach { case (name, plan) =>
        val t = results.toMap.apply(name)
        val rr = runs.map(r => sec3(r(name).sec) + "s").mkString(" / ")
        ps.println(s"== $name (min ${sec3(t)}s; runs $rr) ==")
        ps.println(plan)
      }
      Files.write(Paths.get("bench_plans.txt"), buf.toByteArray)
    } catch {
      case e: Throwable =>
        System.err.println(s"WARN bench: bench_plans.txt write failed: $e")
    }
    // Full per-query detail (min + both raw passes) goes to a file — the
    // stdout metric line is tail-captured by the caller with a 2000-byte
    // window, and 100+ query entries overflowed it (rounds 1-3 parsed as
    // null).
    def jsonMap(pairs: Seq[(String, Double)]): String = pairs
      .map { case (k, v) => s"\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    def rawMap(m: Map[String, Sample]): String =
      jsonMap(queries.map { case (k, _) => k -> m(k).sec })
    def jsonStr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def secArr(xs: Seq[Double]): String =
      xs.map(sec3).mkString("[", ",", "]")
    val streamsDetail = streamSections.map { s =>
      val detail =
        if (s.chunkSec.isEmpty && s.queryBatch.isEmpty) ""
        else {
          val qb = s.queryBatch
            .map { case (n, bs) => s""""$n":${secArr(bs)}""" }.mkString(",")
          s""","chunk_sec":${secArr(s.chunkSec)}""" +
            (if (s.chunkCalib.nonEmpty)
              s""","chunk_calib":${secArr(s.chunkCalib)}""" else "") +
            (if (qb.nonEmpty) s""","query_batch_sec":{$qb}""" else "")
        }
      // rps_norm: the section's ambient-normalized throughput — per
      // chunk when the section recorded per-chunk probes (each chunk's
      // wall deflates by its OWN clamped ratio, so a contention phase
      // landing mid-section corrects itself from the artifact alone),
      // else the one pre-section probe's ratio. Ratios divide by the
      // RUN-RELATIVE baseline and clamp at 1 — corrected up under
      // measured load, never deflated (BenchNorm's scaladoc).
      val rpsNorm = BenchNorm.sectionRpsNorm(s.rps, s.calibSec,
        s.chunkSec, s.chunkRows, s.chunkCalib, probeBase)
      s"""{"name":"${s.name}","rows":${s.rows},"sec":${sec3(s.sec)},""" +
        s""""batches":${s.batches},"rps":${s.rps.round},""" +
        s""""rps_norm":${rpsNorm.round},""" +
        s""""batch_sec":${sec3(if (s.batches > 0) s.sec / s.batches else 0.0)},""" +
        s""""calib_sec":${sec3(s.calibSec)}""" +
        detail + "}"
    }.mkString("[", ",", "]")
    val plansJson = planDump
      .map { case (k, v) => "\"" + k + "\":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val runsJson = runs.map(rawMap).mkString("[", ",", "]")
    // Per-pass ambient/attribution block: calibration probe, loadavg,
    // and each shared-frame build with its seconds.
    val passesJson = passes.map { p =>
      s"""{"calib_sec":${sec3(p.calibSec)},"loadavg":${sec3(p.load)},""" +
        s""""shared_frames":${jsonMap(p.shared)},""" +
        s""""shared_frames_sec":${sec3(p.shared.map(_._2).sum)}}"""
    }.mkString("[", ",", "]")
    // calib_ratio/normalized pipeline numbers are computed later (after
    // the pipeline timing) and appear on the metric line; the detail
    // file records the per-pass probe raw data they derive from plus
    // the pinned reference so the derivation is reproducible.
    try Files.write(Paths.get("bench_detail.json"),
      (s"""{"total":${sec3(total)},"queries":${jsonMap(results)},""" +
        s""""runs":$runsJson,"passes":$passesJson,""" +
        s""""shared_frames_sec":${sec3(sharedSec)},""" +
        s""""reference_calib_sec":${sec3(ReferenceCalibSec)},""" +
        s""""run_probe_baseline":${sec3(probeBase)},""" +
        s""""failed":$failedJson,"streams":$streamsDetail,""" +
        s""""plans":$plansJson,"sf":"$sfDir"}""")
        .getBytes(StandardCharsets.UTF_8))
    catch {
      case e: Throwable =>
        System.err.println(s"WARN bench: bench_detail.json write failed: $e")
    }
    val byName = results.toMap
    val qs = Headline.flatMap(n => byName.get(n).map(v => s"\"$n\":" + sec3(v)))
      .mkString("{", ",", "}")
    // BASELINE.md gates, surfaced directly: leaderboard micro-batch
    // latency (≤10 s target) and pipeline rec/s (≥1,667 target).
    val lbSec = byName.getOrElse("cdc_leaderboard", -1.0)
    // Streaming section timings on the metric line stay name→sec only
    // (2000-byte tail window); rows/batches/rps per section live in
    // bench_detail.json.
    val streamsJson = streamSections
      .map(s => s"\"${s.name}\":" + sec3(s.sec)).mkString("{", ",", "}")
    // Ambient-drift attribution on the metric line itself: the pinned
    // calibration probe per pass plus host loadavg per pass. A board
    // drift WITH probe drift is environment; without, it's code.
    val calibJson = passes.map(p => sec3(p.calibSec)).mkString("[", ",", "]")
    val loadJson = passes.map(p => sec3(p.load)).mkString("[", ",", "]")
    // Load-NORMALIZED throughput: measured rps × (probe_median / idle
    // pin). Under contention the probe reads high and rps reads low by
    // roughly the same CPU-starvation factor, so the product is the
    // cross-round comparable number. MEDIAN, not min: the probe itself
    // is bimodal with JVM heap/JIT state (observed 0.06–0.45 s for the
    // same work in one process), and a single anomalously fast pass
    // under min halved normalized_rps in an otherwise healthy r10 run
    // — the median keeps the estimator robust to single-probe luck in
    // BOTH directions. TRUE median: with the typical 2 passes,
    // sorted(size/2) is the upper-middle element — i.e. the MAX of a
    // bimodal probe, biasing calib_ratio (and normalized_rps) high
    // under contention; even sizes average the two middle elements.
    val sortedCalib = passes.map(_.calibSec).sorted
    val calibMedian =
      if (sortedCalib.size % 2 == 1) sortedCalib(sortedCalib.size / 2)
      else (sortedCalib(sortedCalib.size / 2 - 1) +
        sortedCalib(sortedCalib.size / 2)) / 2.0
    // calib_ratio stays the RAW cross-round probe datum (median pass
    // probe / the absolute pin) — it is evidence, not a throughput
    // claim, and changing its definition would break every prior
    // round's reading of it. The normalization itself divides by the
    // run-relative baseline (r16): the batch pipeline has no dedicated
    // probe, so its probe reading is the pass-probe median.
    val calibRatio = calibMedian / ReferenceCalibSec
    val normalizedRps = rps * BenchNorm.ratio(calibMedian, probeBase)
    // Compact per-batch/per-query attribution for the headline stream
    // section ON the metric line (the r9 `pipeline` regression could not
    // be attributed from the official artifact — 2,507 vs the committed
    // 9,286 rec/s with no per-query split): per feed-chunk wall seconds
    // plus each concurrent query's engine-reported per-batch seconds.
    // Compact on purpose: the metric line has a 1900-byte guard and the
    // full form overflowed it (which silently dropped this breakdown) —
    // 2-decimal batch times, short query keys, the chunk walls and the
    // 3-decimal form stay in bench_detail.json.
    def secArr2(xs: Seq[Double]): String =
      xs.map(v => f"$v%.2f").mkString("[", ",", "]")
    val pipeDetailJson = streamSections.find(_.name == "pipeline").map { s =>
      val qb = s.queryBatch.map { case (n, bs) =>
        val short = if (n == "kv_views") "kv"
          else if (n == "minute_windows") "win" else n
        s""""$short":${secArr2(bs)}"""
      }.mkString(",")
      // ccal: the per-chunk probes themselves on the metric line (the
      // r14 attribution fields; 2-decimal — the 1900-byte guard), so a
      // mid-section contention phase is visible in the tail capture
      s"""{"calib":${sec3(s.calibSec)}""" +
        (if (s.chunkCalib.nonEmpty) s""","ccal":${secArr2(s.chunkCalib)}"""
         else "") +
        (if (qb.nonEmpty) s",$qb" else "") + "}"
    }.getOrElse("{}")
    // Load-normalized streaming headline (same derivation as the
    // per-section rps_norm — per-chunk ratios against the run-relative
    // baseline, clamped at 1). Streaming on this host class swings
    // several-fold between same-code runs, so the normalized value is
    // the cross-round comparable one.
    val streamRpsNorm = streamSections.find(_.name == "pipeline")
      .map(s => BenchNorm.sectionRpsNorm(s.rps, s.calibSec,
        s.chunkSec, s.chunkRows, s.chunkCalib, probeBase))
      .getOrElse(0.0)
    def buildLine(qMap: String, streams: String, pipeDetail: String): String =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":$qMap,""" +
        s""""queries_run":${queries.size},"errors":${failed.size},""" +
        s""""passes":$nPasses,"calib_sec":$calibJson,"loadavg":$loadJson,""" +
        s""""shared_frames_sec":${sec3(sharedSec)},""" +
        s""""pipeline_rows":$rows,"pipeline_rps":${rps.round},""" +
        s""""calib_ratio":${sec3(calibRatio)},""" +
        s""""probe_base":${sec3(probeBase)},""" +
        s""""normalized_rps":${normalizedRps.round},""" +
        s""""stream_rps":${streamRps.round},""" +
        s""""stream_rps_norm":${streamRpsNorm.round},"streams":$streams,""" +
        s""""stream_pipe":$pipeDetail,""" +
        s""""leaderboard_batch_sec":${sec3(lbSec)},"sf":"$sfDir"}"""
    // HARD length guard: the caller tail-captures 2000 bytes and parses
    // the final {...} line — a line that outgrows the window loses its
    // opening brace and the whole round's metrics parse as null. If the
    // full line doesn't fit with headroom, drop the streams map first
    // (it lives in bench_detail.json), then halve the headline set —
    // a shorter-but-parseable line always beats a complete-but-lost one.
    val metricLine = {
      val full = buildLine(qs, streamsJson, pipeDetailJson)
      if (full.length <= 1900) full
      else {
        System.err.println(
          s"WARN bench: metric line ${full.length}B > 1900B guard; shrinking")
        // Shrink order: the pipe detail's per-query batch arrays first
        // (keeping the calib/ccal attribution fields — the r14 upgrade
        // exists precisely so the tail capture can attribute ambient
        // phases), then the whole pipe detail, then the streams map,
        // then the headline set. Everything dropped lives in
        // bench_detail.json.
        val calibOnlyPipe = streamSections.find(_.name == "pipeline")
          .map { s =>
            s"""{"calib":${sec3(s.calibSec)}""" +
              (if (s.chunkCalib.nonEmpty)
                s""","ccal":${secArr2(s.chunkCalib)}""" else "") + "}"
          }.getOrElse("{}")
        val slimPipe = buildLine(qs, streamsJson, calibOnlyPipe)
        if (slimPipe.length <= 1900) slimPipe
        else {
        val noPipe = buildLine(qs, streamsJson, "{}")
        if (noPipe.length <= 1900) noPipe
        else {
          val noStreams = buildLine(qs, "{}", "{}")
          if (noStreams.length <= 1900) noStreams
          else {
            val halfQs = Headline.take(Headline.size / 2)
              .flatMap(n => byName.get(n).map(v => s"\"$n\":" + sec3(v)))
              .mkString("{", ",", "}")
            buildLine(halfQs, "{}", "{}")
          }
        }
        }
      }
    }
    // The metric line must be the LAST line of stdout (the driver tail-
    // captures and parses the final {...} line): silence Spark first, stop
    // the session (its shutdown logging, if any, lands before the line),
    // then print and flush.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    System.out.println(metricLine)
    System.out.flush()
  }
}
