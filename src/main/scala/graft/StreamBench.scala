package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.Tables
import graft.streaming.{StatefulEnricher, StreamingAnomaly, StreamingBudget,
  StreamingDedup, StreamingFunnel, StreamingIntake, StreamingPack,
  StreamingPipeline}

/** Measured throughput for the streaming half of the engine — the batch
  * registry has a per-query bench, but the stateful streaming twins
  * (enricher, funnel, budget, anomaly) and the 4-view CDC pipeline
  * previously had correctness pins only, so a streaming perf regression
  * was invisible to every artifact.
  *
  * Protocol per section: the input rows are materialized DRIVER-SIDE
  * before the clock starts (producing them is the generator/Kafka side's
  * cost — same rule as the batch pipeline metric), then fed through a
  * `MemoryStream` in `Chunks` slices with `processAllAvailable` after
  * each, so every section runs a real multi-micro-batch schedule. The
  * clock covers feed → last batch drained; query start/stop and data
  * prep sit outside it. All sections use state-TTL-free operator
  * variants (`NoTimeout`/event-time timeouts), so `processAllAvailable`
  * terminates — the `ProcessingTimeTimeout` enricher variant needs
  * sink-polling (see StreamingSpec) and is a semantics spec, not a
  * throughput path.
  *
  * Volume floor: the documents fixture is small (5k rows at sf0.1), and
  * ~5k rows over 8 micro-batches times the ~0.6 s/batch scheduling
  * floor, not the operator — the resulting rps moves with batch count,
  * not per-row cost. Document-driven sections therefore REPLICATE their
  * input (fresh ids, per-replica text variation where digest state
  * matters, monotone event time) up to `volumeFloor` rows so every
  * section's rps is a per-row signal comparable across sections.
  */
object StreamBench {

  /** `chunkSec` (per feed-chunk wall seconds) and `queryBatch` (per
    * named query, the engine-reported per-batch `triggerExecution`
    * seconds) are populated only for sections that opt into detailed
    * driving — they exist so a regressed section's time can be
    * ATTRIBUTED (which query, which batch) from the artifact alone
    * instead of demanding a re-run under a profiler (the round-9
    * `pipeline` section regressed 3.7× between two same-code runs with
    * no way to tell which of its two concurrent queries was at fault). */
  /** `calibSec`: the constant-work CPU probe ([[Bench.calibrate]]) run
    * UNTIMED immediately before the section — the ambient-attribution
    * signal. Streaming throughput on this host class swings up to ~8×
    * between same-code runs (multi-minute host-contention phases the
    * guest can't see except as wall-clock); a slow section WITH a slow
    * probe is environment, without one it's code. */
  /** `chunkCalib`/`chunkRows`: a calibration probe taken UNTIMED before
    * EACH feed chunk plus that chunk's row count (r13 nit: one
    * pre-section probe could not attribute a regression whose slow
    * batches landed mid-section) — rps_norm normalizes per chunk when
    * these are present, so slow chunks that coincide with slow probes
    * read as environment, chunk by chunk. */
  case class Section(name: String, rows: Long, sec: Double, batches: Int,
      chunkSec: Seq[Double] = Nil,
      queryBatch: Seq[(String, Seq[Double])] = Nil,
      calibSec: Double = -1.0,
      chunkCalib: Seq[Double] = Nil,
      chunkRows: Seq[Long] = Nil) {
    def rps: Double = if (sec > 0) rows / sec else 0.0
  }

  /** Section off a [[Drive]], carrying the per-chunk attribution. */
  private def sect(name: String, rows: Long, d: Drive): Section =
    Section(name, rows, d.sec, d.batches, chunkSec = d.chunkSec,
      chunkCalib = d.chunkCalib, chunkRows = d.chunkRows)

  private val Chunks = 8

  /** Rows each section should process — see "Volume floor" above. */
  val DefaultVolumeFloor = 100000

  private def chunked[T](xs: IndexedSeq[T]): Seq[IndexedSeq[T]] = {
    val size = math.max(1, (xs.length + Chunks - 1) / Chunks)
    xs.grouped(size).toSeq
  }

  /** Replicate `xs` until it reaches `floor` rows. `make(row, replica)`
    * must mint globally fresh ids (and fresh digests where the operator
    * keys state on content) so replicas are new work, not replays;
    * replica 0 is the unmodified fixture. */
  private def replicate[T](xs: IndexedSeq[T], floor: Int)(
      make: (T, Int) => T): IndexedSeq[T] = {
    if (xs.isEmpty) xs
    else {
      val copies = math.max(1, (floor + xs.length - 1) / xs.length)
      (0 until copies).flatMap { i =>
        if (i == 0) xs else xs.map(make(_, i))
      }
    }
  }

  case class Drive(sec: Double, batches: Int,
      chunkSec: Seq[Double], queryBatch: Seq[(String, Seq[Double])],
      chunkCalib: Seq[Double] = Nil, chunkRows: Seq[Long] = Nil)

  /** Feed `chunks` through `add`, draining every query after each chunk;
    * returns elapsed, batch count of the first query, per-chunk wall
    * times, and each query's engine-reported per-batch
    * `triggerExecution` seconds (captured from `recentProgress` BEFORE
    * stop — stop clears nothing, but a dead query can be left without
    * progress). Queries are stopped in a finally — a feed failure must
    * not leave a live streaming query contending with the next timed
    * section. */
  private def driveDetailed[T](chunks: Seq[IndexedSeq[T]],
      add: Seq[T] => Unit, queries: Seq[StreamingQuery]): Drive = {
    try {
      val chunkSec = Vector.newBuilder[Double]
      val chunkCalib = Vector.newBuilder[Double]
      val chunkRows = Vector.newBuilder[Long]
      val spark = queries.headOption.map(_.sparkSession)
      var sec = 0.0
      chunks.foreach { c =>
        // ambient probe per CHUNK, untimed (excluded from the section
        // wall): the per-chunk ratio is what lets a mid-section host-
        // contention phase be attributed from the artifact alone
        chunkCalib += spark.map(s =>
          try Bench.calibrate(s) catch { case _: Throwable => -1.0 })
          .getOrElse(-1.0)
        chunkRows += c.length.toLong
        val c0 = System.nanoTime()
        add(c)
        queries.foreach(_.processAllAvailable())
        val w = (System.nanoTime() - c0) / 1e9
        chunkSec += w
        sec += w
      }
      val batches = queries.headOption.flatMap(q => Option(q.lastProgress))
        .map(_.batchId.toInt + 1).getOrElse(chunks.size)
      val perQuery = queries.map { q =>
        val name = Option(q.name).getOrElse(q.id.toString)
        val ms = q.recentProgress.toIndexedSeq.map { p =>
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue / 1e3).getOrElse(0.0)
        }
        name -> ms
      }
      Drive(sec, batches, chunkSec.result(), perQuery,
        chunkCalib.result(), chunkRows.result())
    } finally queries.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
  }

  private def drive[T](chunks: Seq[IndexedSeq[T]],
      add: Seq[T] => Unit, queries: Seq[StreamingQuery]): Drive =
    driveDetailed(chunks, add, queries)

  /** Checkpoint dirs are tracked and deleted at the end of [[run]] —
    * eight-plus state-store/checkpoint trees per bench invocation must
    * not accumulate in /tmp across runs. */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tmpDirs.add(p)
    p.toString
  }

  private def deleteTmpDirs(): Unit = {
    var p = tmpDirs.poll()
    while (p != null) {
      try Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      catch { case _: Throwable => () }
      p = tmpDirs.poll()
    }
  }

  /** The reference pipeline's SLO surface: raw CDC JSON → Debezium parse
    * → broadcast enrich → the four views (leaderboard / content stats /
    * user-latest via per-batch KV upserts, minute windows as a
    * watermarked streaming aggregation). One source, two concurrent
    * queries — the reference's single Flink dataflow fan-out. */
  private[graft] def pipelineSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msgs = graft.queries.CdcQueries.jsonMessages(
        graft.queries.CdcMapping.fact(spark, sfDir))
      .select(col("value")).as[String].collect().toIndexedSeq
    val dim = graft.queries.CdcMapping.dim(spark, sfDir)
    val in = MemoryStream[String]
    // A MemoryStream batch arrives as ONE partition (the whole chunk
    // rides in a single task binary — Spark warns at 2.7 MB/task), so
    // without a repartition the JSON parse + enrich of every micro-batch
    // runs on one core in each of the two queries. A Kafka source would
    // arrive already spread over its topic partitions; spread the raw
    // values the same way before the parse.
    val enriched = StreamingPipeline.enrichStream(in.toDF().repartition(8), dim)
    val sink = new StreamingPipeline.InMemoryKvSink
    // T6 parallelism mapping, applied per-load: a 12.5k-row micro-batch
    // across 32 shuffle/state partitions pays 32 task schedules and 32
    // state-store commits per batch for partitions of ~400 rows. Size
    // the section's partitioning to its micro-batch volume (the
    // reference's setParallelism knob); restore the session conf after.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // The watermark-advance (no-data) micro-batches of the windows query
    // each pay a full state-store commit cycle (~0.5 s here) and run
    // CONCURRENTLY with the kv query's data batches — in update mode the
    // closed windows still emit on the next data batch, so for the
    // drained-after-each-chunk protocol they are pure contention.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      // Untimed section warm-up: run a couple of rows through throwaway
      // queries with the SAME plans so whole-stage-codegen JIT for the
      // streaming aggregate / foreachBatch views is paid off the clock
      // (same doctrine as the batch bench's untimed cdc_enrich warm-up).
      locally {
        val wIn = MemoryStream[String]
        val wEnriched = StreamingPipeline.enrichStream(
          wIn.toDF().repartition(8), dim)
        val wSink = new StreamingPipeline.InMemoryKvSink
        val wKv = StreamingPipeline.kvViewsWriter(wEnriched, wSink)(tmp("sb_kvw")).start()
        val wWin = StreamingPipeline.minuteWindowsStream(wEnriched)
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", tmp("sb_winw")).start()
        try {
          wIn.addData(msgs.take(64))
          wKv.processAllAvailable(); wWin.processAllAvailable()
        } finally {
          try wKv.stop() catch { case _: Throwable => () }
          try wWin.stop() catch { case _: Throwable => () }
          wSink.close()
        }
      }
      val qKv = StreamingPipeline.kvViewsWriter(enriched, sink)(tmp("sb_kv"))
        .queryName("kv_views").start()
      val qWin = StreamingPipeline.minuteWindowsStream(enriched)
        .writeStream.queryName("minute_windows")
        .outputMode("update").format("noop")
        .option("checkpointLocation", tmp("sb_win")).start()
      val d = driveDetailed[String](chunked(msgs), in.addData(_), Seq(qKv, qWin))
      Section("pipeline", msgs.length.toLong, d.sec, d.batches,
        d.chunkSec, d.queryBatch,
        chunkCalib = d.chunkCalib, chunkRows = d.chunkRows)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      sink.close()
    }
  }

  /** Shared prep for both enricher sections: the CdcRecord chunk
    * schedule (dimension snapshot first — the reference's initial-load
    * phase — then the event chunks) plus the event count. Both sections
    * must measure the SAME input or their numbers aren't comparable. */
  private def enrichChunks(spark: SparkSession, sfDir: String)
      : (Seq[IndexedSeq[StatefulEnricher.CdcRecord]], Long) = {
    import spark.implicits._
    val evs = graft.queries.CdcMapping.fact(spark, sfDir).select(
        col("id").cast("long"), col("content_id").cast("string"),
        col("user_id").cast("string"), col("event_type").cast("string"),
        col("event_ts").cast("timestamp"), col("duration_ms").cast("int"),
        col("device").cast("string"), col("raw_payload").cast("string"))
      .as[StatefulEnricher.EventRec].collect().toIndexedSeq
    val dims = graft.queries.CdcMapping.dim(spark, sfDir).select(
        col("id").cast("string"), col("slug").cast("string"),
        col("title").cast("string"), col("content_type").cast("string"),
        col("length_seconds").cast("int"), col("publish_ts").cast("timestamp"))
      .as[StatefulEnricher.ContentRec].collect()
    val chunks =
      dims.map(c => StatefulEnricher.CdcRecord(c.id, None, Some(c))).toIndexedSeq +:
        chunked(evs.map(e => StatefulEnricher.CdcRecord(e.content_id, Some(e), None)))
    (chunks, evs.length.toLong)
  }

  /** Reference-exact stateful enrichment (J1 option (c)): dimension rows
    * land first, then the event stream point-looks-up per-key state. */
  private def enrichSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (chunks, nEvents) = enrichChunks(spark, sfDir)
    val in = MemoryStream[StatefulEnricher.CdcRecord]
    val q = StatefulEnricher.enrich(in.toDS())
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_enr")).start()
    val d = drive[StatefulEnricher.CdcRecord](
      chunks, in.addData(_), Seq(q))
    sect("enrich_state", nEvents, d)
  }

  case class FunnelIn(key: String, step: Int, ts: Timestamp)

  /** Per-user view→click→purchase funnel state over the events fixture —
    * the same step predicates as the batch `op_funnel`. */
  private def funnelSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sfDir).select(
        col("user_id").cast("string").as("key"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .when(col("event_type") === "purchase", 2)
          .otherwise(-1).cast("int").as("step"),
        col("ts").cast("timestamp").as("ts"))
      .as[FunnelIn].collect().toIndexedSeq
    val in = MemoryStream[FunnelIn]
    val q = StreamingFunnel.funnelStream(in.toDF(), nSteps = 3)
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", tmp("sb_fun")).start()
    val d = drive[FunnelIn](chunked(evs), in.addData(_), Seq(q))
    sect("funnel", evs.length.toLong, d)
  }

  case class BudgetIn(source: String, doc_id: Long, n_tokens: Long)

  /** The (source, doc_id, n_tokens) slice both token-stream sections
    * consume, replicated to the volume floor with fresh doc ids (the
    * id span offsets each replica past the fixture's range). Per-source
    * state stays one long regardless of replication. */
  private def budgetDocs(spark: SparkSession, sfDir: String,
      floor: Int): IndexedSeq[BudgetIn] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(
        col("source").cast("string"), col("doc_id").cast("long"),
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      .as[BudgetIn].collect().toIndexedSeq
    val span = if (docs.isEmpty) 1L else docs.map(_.doc_id).max + 1L
    replicate(docs, floor)((b, i) => b.copy(doc_id = b.doc_id + i * span))
  }

  /** Per-source token-budget admission — the same quota as the batch
    * `curate_token_budget` (scaled to the replicated volume so admission
    * stays live past the first replica, not a pure drop path). */
  private def budgetSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = budgetDocs(spark, sfDir, floor)
    val in = MemoryStream[BudgetIn]
    val q = StreamingBudget.admitStream(in.toDF(),
        budget = math.max(20000L, docs.map(_.n_tokens).sum / 2))
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_bud")).start()
    val d = drive[BudgetIn](chunked(docs), in.addData(_), Seq(q))
    sect("budget", docs.length.toLong, d)
  }

  /** Per-source context-window chunk packing — the same ctx as the
    * batch `curate_pack_chunks`. */
  private def packSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = budgetDocs(spark, sfDir, floor)
    val in = MemoryStream[BudgetIn]
    val q = StreamingPack.packStream(in.toDF(), ctx = 512L)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_pack")).start()
    val d = drive[BudgetIn](chunked(docs), in.addData(_), Seq(q))
    sect("pack", docs.length.toLong, d)
  }

  case class ScoreIn(doc_id: Long, text: String)

  /** Streaming DSIR importance scoring ([[graft.streaming.StreamingScore]]):
    * arriving documents scored against the TRAINED 64-long weight array
    * folded in as literals — stateless, map-only; the weight table is
    * trained (two 64-row count aggregates) BEFORE the clock, like the
    * index section's centroids. */
  private def scoreSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[ScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val weights = graft.queries.DedupQueries.dsirWeightArray(spark, sfDir)
    val in = MemoryStream[ScoreIn]
    val q = graft.streaming.StreamingScore.scoreStream(
        in.toDF().toDF("doc_id", "text"), weights)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_score")).start()
    val d = drive[ScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("score", docs.length.toLong, d)
  }

  /** Streaming count-min maintenance ([[graft.operators.Sketch]]): the
    * sketch cells ARE the aggregation state — Rows×Width = 1,024 int64
    * counters regardless of ingest volume, the constant-state extreme
    * of the stateful family (every other stateful section's state
    * grows with keys). Update mode emits only changed cells per batch;
    * StreamingSpec pins the completed stream equal to the batch
    * sketch. */
  private def cmsSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[ScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val in = MemoryStream[ScoreIn]
    val q = graft.operators.Sketch.cmsSketch(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", tmp("sb_cms")).start()
    val d = drive[ScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("cms", docs.length.toLong, d)
  }

  /** Streaming HLL cardinality sketch over the 3-gram shingle space —
    * the third constant-state sketch section beside [[cmsSection]]
    * (frequencies) and the qhist twin (quantiles): the 256-register
    * table IS the aggregation state (max-merge, so duplicate
    * re-delivery is free — at-least-once ingest needs no dedup pass),
    * regardless of ingest volume. Update mode emits only changed
    * registers per batch; StreamingSpec pins the completed stream
    * equal to the batch register table with duplicates re-fed. */
  private def hllSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[ScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val in = MemoryStream[ScoreIn]
    val q = graft.operators.Sketch.hllRegisters(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", tmp("sb_hll")).start()
    val d = drive[ScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("hll", docs.length.toLong, d)
  }

  /** Streaming decontamination monitor ([[graft.operators.Sketch
    * .kmvDecontam]] — the same kernel the batch `curate_kmv_decontam`
    * row grades): per-split train/holdout KMV sketches of the 8-gram
    * shingle space ARE the aggregation state (2 × ≤ 8 KB at any ingest
    * volume — the fourth constant-state sketch section beside cms /
    * hll / the qhist twin), and every micro-batch emits the refreshed
    * leak estimate + needs_scan gate bit. Fresh replica ids rotate the
    * split buckets; the per-row cost is the 8-gram shingle hash pass. */
  private def decontamSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[ScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val in = MemoryStream[ScoreIn]
    val q = graft.operators.Sketch.kmvDecontam(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", tmp("sb_dec")).start()
    val d = drive[ScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("decontam", docs.length.toLong, d)
  }

  /** Streaming span decontamination
    * ([[graft.streaming.StreamingSpanDedup.decontamStripWriter]]):
    * arriving documents stripped AT INGEST of every span shared with
    * the held-out split's capped gram index (built before the clock,
    * the trained-artifact side) — stateless per batch; per-doc work is
    * gram-count × ≤ occCap joined index rows plus the island windows
    * on the HITS only, so the volume cap mirrors the search sections'
    * (per-row cost is an index join + windows, ~an order above the
    * hash-scoring sections'; rps stays a per-row signal either way and
    * the rows field reports the capped count honestly). */
  private def xstripSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.PortableHash
    def splitOf(c: org.apache.spark.sql.Column) = {
      val b = PortableHash.hash60(
        concat(c.cast("string"), lit("|split"))) % 100
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    val docs0 = Tables.documents(spark, sfDir)
    val refGrams = graft.operators.SpanDedup.cappedGrams(
      docs0.filter(splitOf(col("doc_id")) === "test"),
      "doc_id", "text", k = 8, occCap = 32).localCheckpoint()
    // the trained-artifact pre-filter, built before the clock next to
    // the index: most arriving grams miss the reference, and the
    // sketch drops them scan-side before the join's exchange
    // (docs/AB_r15.md measured it on vs off)
    val refSketch = graft.operators.SpanDedup.refGramSketch(refGrams)
    val base = docs0.filter(splitOf(col("doc_id")) === "train")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[ScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val dFloor = math.min(floor, 25000)
    val docs = replicate(base, dFloor)(
      (r, i) => r.copy(doc_id = r.doc_id + i * span))
    val in = MemoryStream[ScoreIn]
    val q = graft.streaming.StreamingSpanDedup.decontamStripWriter(
        in.toDF().toDF("doc_id", "text"), refGrams,
        "doc_id", "text", k = 8, minLen = 10, refSketch)(
        out => out.write.format("noop").mode("overwrite").save())
      .option("checkpointLocation", tmp("sb_xstrip")).start()
    val d = drive[ScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("xstrip", docs.length.toLong, d)
  }

  case class LmScoreIn(doc_id: Long, lang: String, text: String)

  /** Streaming NB classification
    * ([[graft.streaming.StreamingScore.nbScoreStream]]): arriving
    * documents classified by ONE native `nb_argmax_bits` pass against
    * the TRAINED classifier folded in as one literal (classes ×
    * 65,536-entry grids — still the heaviest literal plan on the
    * board, built once per plan; each token hashed once, all grids
    * folded over the shared bucket sequence) — stateless, map-only;
    * the grids train BEFORE the clock like every other
    * trained-metadata section. */
  private def nbScoreSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("lang").cast("string"),
        col("text").cast("string"))
      .as[LmScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val meta = graft.queries.TextQueries.nbClassMeta(spark, sfDir)
    val in = MemoryStream[LmScoreIn]
    val q = graft.streaming.StreamingScore.nbScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), meta)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_nbscore")).start()
    val d = drive[LmScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("nb_score", docs.length.toLong, d)
  }

  /** Streaming LM perplexity scoring
    * ([[graft.streaming.StreamingScore.lmScoreStream]]): arriving
    * documents scored against the TRAINED 65,536-entry hashed-bigram
    * grid folded in as ONE ArrayType literal — stateless, map-only;
    * the grid trains (two count aggregates over one corpus pass)
    * BEFORE the clock, like the DSIR weight table. */
  private def lmScoreSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("lang").cast("string"),
        col("text").cast("string"))
      .as[LmScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val wbits = graft.queries.TextQueries.lmWeightArray(spark, sfDir)
    val in = MemoryStream[LmScoreIn]
    val q = graft.streaming.StreamingScore.lmScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), wbits)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_lmscore")).start()
    val d = drive[LmScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("lm_score", docs.length.toLong, d)
  }

  /** Streaming multimodal ingest
    * ([[graft.streaming.StreamingMedia.ingestStream]]): arriving media
    * records pay metadata typing + decode/feature-extract + the
    * perceptual block-hash signature in one stateless partition-local
    * pass — the codec-seam stage of a media pipeline, batch kernels
    * verbatim. Stateless and shuffle-free, so the number is a pure
    * per-record codec-seam cost. */
  private def mediaSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = graft.operators.Multimodal.fakeMediaFromDocuments(
        Tables.documents(spark, sfDir)).collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.media_id).max + 1L
    val docs = replicate(base, floor)((r, i) =>
      r.copy(media_id = r.media_id + i * span))
    val dec = new graft.operators.Multimodal.FakeDecoder(8)
    val in = MemoryStream[graft.operators.Multimodal.MediaRecord]
    val q = graft.streaming.StreamingMedia.ingestStream(in.toDS(), dec)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_media")).start()
    val d = drive[graft.operators.Multimodal.MediaRecord](
      chunked(docs), in.addData(_), Seq(q))
    sect("media", docs.length.toLong, d)
  }

  /** Streaming CCNet RATIO scoring
    * ([[graft.streaming.StreamingScore.lmRatioScoreStream]]): the
    * complete serving-side discriminator — TWO trained 65,536-entry
    * grids (target + background) folded in as literals, each document
    * paying two native one-pass folds over one tokenization. Measured
    * separately from `lm_score` so the cost of the second grid (the
    * price of ratio admission over raw-perplexity admission) is its
    * own artifact number rather than an inference. */
  private def lmRatioSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("lang").cast("string"),
        col("text").cast("string"))
      .as[LmScoreIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor)((r, i) => r.copy(doc_id = r.doc_id + i * span))
    val wT = graft.queries.TextQueries.lmWeightArray(spark, sfDir)
    val wB = graft.queries.TextQueries.lmBgWeightArray(spark, sfDir)
    val in = MemoryStream[LmScoreIn]
    val q = graft.streaming.StreamingScore.lmRatioScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), wT, wB)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_lmratio")).start()
    val d = drive[LmScoreIn](chunked(docs), in.addData(_), Seq(q))
    sect("lm_ratio", docs.length.toLong, d)
  }

  case class PipeIn(source: String, doc_id: Long, lang: String,
    text: String, ts: Timestamp)

  /** The FULL streaming curation pipeline
    * ([[graft.streaming.StreamingIntake.pipelineStream]]): dedup gate →
    * quality/LM/semantic admission → DSIR resampler → split tag, per
    * arriving document. All four trained artifacts (quality cutoffs,
    * semantic drop list, LM grid, DSIR weights) are computed BEFORE the
    * clock — they are the batch-trained metadata the admission service
    * broadcasts — so the section times exactly the serving path: two
    * stateful stages plus compiled map-only gates. Replicas mint fresh
    * ids and varied text (the dedupDocs doctrine: replicated rows are
    * new admission work, not free digest drops). */
  private def curationSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir)
      .select(col("source").cast("string"), col("doc_id").cast("long"),
        col("lang").cast("string"), col("text").cast("string"),
        (lit(DedupEpoch) + col("doc_id")).cast("timestamp").as("ts"))
      .as[PipeIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor) { (r, i) =>
      val id = r.doc_id + i * span
      r.copy(doc_id = id, text = r.text + " ~r" + i,
        ts = new Timestamp((DedupEpoch + id) * 1000L))
    }
    // pipelineStream's contract: cutoffs train over the exact-dedup
    // KEEPERS (min id per normalized-text digest), exactly as the
    // batch capstone derives them — not over the raw corpus.
    val keeperDocs = Tables.documents(spark, sfDir)
      .withColumn("__h", md5(graft.operators.Dedup.normalize(col("text"))))
      .withColumn("__keep",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(col("doc_id") === col("__keep"))
      .select(col("source"), col("doc_id"), col("text"))
    val cutoffs = graft.streaming.StreamingIntake.qualityCutoffs(keeperDocs)
      .localCheckpoint()
    val semDrops = graft.queries.SimilarityQueries
      .semDroppedIds(spark, sfDir).localCheckpoint()
    val lmW = graft.queries.TextQueries.lmWeightArray(spark, sfDir)
    val lmBg = graft.queries.TextQueries.lmBgWeightArray(spark, sfDir)
    val lmTheta = graft.queries.TextQueries.lmCalibTheta(spark, sfDir)
    val dsirW = graft.queries.DedupQueries.dsirWeightArray(spark, sfDir)
    val in = MemoryStream[PipeIn]
    val q = graft.streaming.StreamingIntake.pipelineStream(
        in.toDF().toDF("source", "doc_id", "lang", "text", "ts"),
        cutoffs, semDrops, lmW, lmBg, lmTheta,
        dsirW, graft.queries.DedupQueries.pipelineStep,
        // 64-way sharded resampler: at the section's replicated volume
        // every stratum's weight is far above the step, so the
        // stratified scale path is healthy here (see resampleStream)
        "ts", "10 minutes", resampleShards = 64)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_pipe")).start()
    val d = drive[PipeIn](chunked(docs), in.addData(_), Seq(q))
    sect("curation", docs.length.toLong, d)
  }

  case class DedupIn(doc_id: Long, text: String, ts: Timestamp)

  private val DedupEpoch = 1704067200L

  /** Documents with fresh ids, per-replica text variation (each replica
    * mints NEW digests, so the gate's state table takes one insert per
    * distinct text — replicated rows are new work, not free drops) and
    * monotone synthetic event time (one second per id, so the watermark
    * advances and evicts: the bench exercises bounded state, not an
    * ever-growing digest table). */
  private def dedupDocs(spark: SparkSession, sfDir: String,
      floor: Int): IndexedSeq[DedupIn] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(
        col("doc_id").cast("long"), col("text"),
        (lit(DedupEpoch) + col("doc_id")).cast("timestamp").as("ts"))
      .as[DedupIn].collect().toIndexedSeq
    val span = if (docs.isEmpty) 1L else docs.map(_.doc_id).max + 1L
    replicate(docs, floor) { (r, i) =>
      val id = r.doc_id + i * span
      DedupIn(id, r.text + " ~r" + i,
        new Timestamp((DedupEpoch + id) * 1000L))
    }
  }

  /** Watermark-bounded streaming exact-dedup gate. */
  private def dedupSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = dedupDocs(spark, sfDir, floor)
    val in = MemoryStream[DedupIn]
    val q = StreamingDedup.dedupStream(in.toDF(), "ts", "60 seconds")
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_ded")).start()
    val d = drive[DedupIn](chunked(docs), in.addData(_), Seq(q))
    sect("dedup", docs.length.toLong, d)
  }

  case class IntakeIn(source: String, doc_id: Long, text: String,
      ts: Timestamp)

  /** The composed two-stateful-operator intake (dedup gate → chunk
    * packer in ONE query — [[StreamingIntake]]): the surface where a
    * planner regression in multi-stateful-operator scheduling or
    * state-store interaction would land; previously spec-only. */
  private def intakeSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sfDir).select(
        col("source").cast("string"), col("doc_id").cast("long"),
        col("text"),
        (lit(DedupEpoch) + col("doc_id")).cast("timestamp").as("ts"))
      .as[IntakeIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.doc_id).max + 1L
    val docs = replicate(base, floor) { (r, i) =>
      val id = r.doc_id + i * span
      IntakeIn(r.source, id, r.text + " ~r" + i,
        new Timestamp((DedupEpoch + id) * 1000L))
    }
    val in = MemoryStream[IntakeIn]
    val q = StreamingIntake.intakeStream(in.toDF(), "ts", "60 seconds",
        ctx = 512L)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_int")).start()
    val d = drive[IntakeIn](chunked(docs), in.addData(_), Seq(q))
    sect("intake", docs.length.toLong, d)
  }

  /** Streaming systematic-PPS sampling ([[graft.streaming.StreamingSample]]):
    * one long of running weight per source; the step matches the batch
    * twin's shape scaled to the replicated token volume (so picks stay
    * live across replicas — ~200 picks over the section). */
  private def sampleSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = budgetDocs(spark, sfDir, floor)
      .map(b => graft.streaming.StreamingSample.WeightedDoc(
        b.source, b.doc_id, b.n_tokens))
    val step = math.max(1L, docs.map(_.w).sum / 200)
    val in = MemoryStream[graft.streaming.StreamingSample.WeightedDoc]
    val q = graft.streaming.StreamingSample.sampleStream(in.toDF(), step)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_pps")).start()
    val d = drive[graft.streaming.StreamingSample.WeightedDoc](
      chunked(docs), in.addData(_), Seq(q))
    sect("pps_sample", docs.length.toLong, d)
  }

  case class IndexIn(vec_id: Long, qv: Seq[Double])

  /** Streaming ANN index maintenance ([[graft.streaming.StreamingIndex]]):
    * arriving vectors assigned IVF cell + packed PQ codes against the
    * TRAINED centroids/codebook — stateless map-only, so this times the
    * pure per-vector assignment cost (64-dim argmin + 4 subspace
    * argmins) under the micro-batch schedule. */
  private def indexSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[IndexIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.vec_id).max + 1L
    // fresh ids only — the operator is stateless and content-agnostic,
    // so replica vectors are full-cost new work as-is
    val vecs = replicate(base, floor) { (r, i) =>
      IndexIn(r.vec_id + i * span, r.qv)
    }
    val cents = graft.queries.SimilarityQueries.trainedCentroidRows(spark, sfDir)
    val cb = graft.queries.SimilarityQueries.trainedCodebookRows(spark, sfDir)
    val in = MemoryStream[IndexIn]
    val q = graft.streaming.StreamingIndex.indexStream(in.toDF(), cents, cb)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_idx")).start()
    val d = drive[IndexIn](chunked(vecs), in.addData(_), Seq(q))
    sect("index", vecs.length.toLong, d)
  }

  /** Streaming ANN serving ([[graft.streaming.StreamingSearch]]): query
    * vectors arrive on the stream, each micro-batch runs the COMPOSED
    * probe-pruned IVF-PQ kernel (the `sim_ivfpq_search` batch shape —
    * each query ADC-scores only its nprobe probed cells' codes, not the
    * full corpus). The static side (cell-tagged codes + codebook +
    * centroids) is materialized BEFORE the clock — index build cost is
    * the `index` section's job, this one times serving. */
  private def searchSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[IndexIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.vec_id).max + 1L
    // Per-query work is ~corpus·nprobe/k_cells code rows (pruned, no
    // longer the full-corpus scan the round-8 section capped at ~50×
    // the others' work), but it still scales with the CORPUS, unlike
    // the O(1)-per-row operators the flat floor is sized for — so the
    // query volume keeps a cap; rps is per-QUERY either way, and the
    // section's rows field reports the capped count honestly.
    val qFloor = math.min(floor, 5000)
    val queries = replicate(base, qFloor) { (r, i) =>
      IndexIn(r.vec_id + i * span, r.qv)
    }
    val cellCodes = graft.queries.SimilarityQueries
      .indexedCodes(spark, sfDir).localCheckpoint()
    val cb = graft.queries.SimilarityQueries.trainedCodebookFrame(spark, sfDir)
    val cents = graft.queries.SimilarityQueries
      .trainedCentroidsFrame(spark, sfDir)
    val in = MemoryStream[IndexIn]
    val q = graft.streaming.StreamingSearch.servePrunedWriter(
        in.toDF().toDF("query_id", "qv"), cellCodes, cb, cents,
        nprobe = 3, k = 10)(
        out => out.write.format("noop").mode("overwrite").save())
      .option("checkpointLocation", tmp("sb_srch")).start()
    val d = drive[IndexIn](chunked(queries), in.addData(_), Seq(q))
    sect("search", queries.length.toLong, d)
  }

  /** FILTERED serving ([[graft.streaming.StreamingSearch.serveFilteredWriter]]):
    * each query batch probes the broadcast trained centroids and
    * exact-cosine re-ranks only the probed cells' predicate-passing
    * members of the once-built restricted corpus. Same per-query cost
    * model as `search` (corpus-scaling, so the query volume keeps the
    * same cap); the searchable frame builds BEFORE the clock, like the
    * index section's centroids. */
  private def filteredSearchSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[IndexIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.vec_id).max + 1L
    val qFloor = math.min(floor, 5000)
    val queries = replicate(base, qFloor) { (r, i) =>
      IndexIn(r.vec_id + i * span, r.qv)
    }
    val nbrs = graft.queries.SimilarityQueries
      .filteredAssignedFrame(spark, sfDir).localCheckpoint()
    val cents = graft.queries.SimilarityQueries
      .trainedCentroidsFrame(spark, sfDir)
    val in = MemoryStream[IndexIn]
    val q = graft.streaming.StreamingSearch.serveFilteredWriter(
        in.toDF().toDF("query_id", "qv"), nbrs, cents,
        nprobe = 3, k = 10)(
        out => out.write.format("noop").mode("overwrite").save())
      .option("checkpointLocation", tmp("sb_fsrch")).start()
    val d = drive[IndexIn](chunked(queries), in.addData(_), Seq(q))
    sect("fsearch", queries.length.toLong, d)
  }

  case class AnomalyIn(key: String, event_id: Long, ts: Timestamp, x: Long)

  /** Per-event-type rolling 2-sigma anomaly state over the events
    * fixture — the same frame/minN as the batch
    * `analytics_rolling_zscore`. */
  private def anomalySection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type").cast("string").as("key"),
        col("event_id").cast("long"),
        col("ts").cast("timestamp"),
        floor(col("value")).cast("long").as("x"))
      .as[AnomalyIn].collect().toIndexedSeq
    val in = MemoryStream[AnomalyIn]
    val q = StreamingAnomaly.rollingZScoreStream(in.toDF())
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_ano")).start()
    val d = drive[AnomalyIn](chunked(evs), in.addData(_), Seq(q))
    sect("anomaly", evs.length.toLong, d)
  }

  /** The TTL variant of the stateful enricher (`ProcessingTimeTimeout`)
    * schedules continuous housekeeping batches, so `processAllAvailable`
    * never settles — completion is observed by polling the query's OWN
    * progress metrics (driver-side, no Spark job: a sink-count poll
    * would steal cores from the query being measured and its cost grows
    * with drained rows). Every event emits exactly one enriched or miss
    * or miss row; completion is tracked by the memory source's
    * `endOffset` in the query progress — MemoryStream's offset is the
    * 0-based index of the last addData chunk consumed, and a batch only
    * appears in progress once it committed, so offset ≥ k−1 means the
    * k'th fed chunk drained. (Progress entries are NOT keyed uniquely
    * by batchId here: timeout housekeeping emits duplicate-batchId
    * entries, so per-batch row summation double-counts or misses —
    * the offset high-water mark is the race-free signal.) `batches`
    * counts distinct batchIds with numInputRows > 0, not the empty
    * housekeeping batches. The TTL is
    * set far above the section's wall time so no state evicts
    * mid-measurement — this times the timeout-managed state path's
    * throughput, not eviction races. */
  private def enrichTtlSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (chunks, expected) = enrichChunks(spark, sfDir)
    val in = MemoryStream[StatefulEnricher.CdcRecord]
    val q = StatefulEnricher.enrich(in.toDS(), stateTtlMs = Some(3600L * 1000))
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", tmp("sb_ttl")).start()
    try {
      val deadline = System.currentTimeMillis() + 300000
      var chunksDone = 0L
      var dataBatches = 0
      val countedBatches = scala.collection.mutable.Set[Long]()
      def fold(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
        p.sources.headOption
          .flatMap(s => Option(s.endOffset))
          .flatMap(_.trim.toLongOption)
          .foreach(o => chunksDone = math.max(chunksDone, o + 1))
        if (p.numInputRows > 0 && countedBatches.add(p.batchId))
          dataBatches += 1
      }
      // recentProgress is a bounded ring (default 100 entries); under
      // continuous timeout-housekeeping batches an entry can rotate out
      // between polls, so lastProgress is folded in as well — the
      // high-water mark only needs SOME surviving observation.
      def pump(): Unit = {
        q.recentProgress.foreach(fold)
        Option(q.lastProgress).foreach(fold)
      }
      val t0 = System.nanoTime()
      var fedChunks = 0L
      chunks.foreach { c =>
        in.addData(c)
        fedChunks += 1
        while ({ pump(); chunksDone < fedChunks }
          && System.currentTimeMillis() < deadline) Thread.sleep(20)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // event units on BOTH sides of the accounting: chunk 0 is the
      // dimension snapshot — pipeline work, but not the throughput unit,
      // and counting it in `drained` would overstate events on a partial
      // drain (records vs events unit mix).
      val drained = chunks.take(chunksDone.toInt).drop(1)
        .map(_.length.toLong).sum
      if (drained < expected)
        System.err.println(
          s"WARN stream bench: enrich_ttl drained $drained/$expected events")
      Section("enrich_ttl", math.min(expected, drained), sec, dataBatches)
    } finally {
      try q.stop() catch { case _: Throwable => () }
    }
  }

  /** The TTL'd content-stats view (`StatefulViews.contentStatsTtl` —
    * `transformWithState` + RocksDB value state with per-key TTLConfig,
    * the Redis-EXPIRE analogue): the ONE stateful-operator class
    * (`transformWithState`) that previously had correctness pins but no
    * perf signal next to the flatMapGroupsWithState twins. Same
    * completion doctrine as [[enrichTtlSection]]: ProcessingTime mode
    * schedules continuous housekeeping batches, so
    * `processAllAvailable` never settles — completion is the memory
    * source's endOffset high-water mark, `batches` counts distinct
    * data-carrying batchIds, and the TTL sits far above the section's
    * wall time so no state evicts mid-measurement. Replicas keep the
    * fixture's content keys (the view's key space IS the content
    * dimension; extra per-key updates are exactly what the serving
    * view absorbs) and mint fresh event ids. */
  private def contentStatsSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulViews
    val base = graft.views.EngagementViews.validOnly(
        graft.queries.CdcMapping.enriched(spark, sfDir))
      .select(col("content_id").cast("string").as("content_id"),
        col("engagement_pct").cast("double").as("engagement_pct"),
        col("content_type").cast("string").as("content_type"),
        col("content_title").cast("string").as("content_title"),
        col("event_type").cast("string").as("event_type"),
        col("device").cast("string").as("device"),
        col("event_ts").cast("timestamp").as("event_ts"),
        col("event_id").cast("long").as("event_id"))
      .as[StatefulViews.StatIn].collect().toIndexedSeq
    val span = if (base.isEmpty) 1L else base.map(_.event_id).max + 1L
    val events = replicate(base, floor) { (r, i) =>
      r.copy(event_id = r.event_id + i * span)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StatefulViews.StatIn]
    val q = StatefulViews.contentStatsTtl(in.toDS(), java.time.Duration.ofHours(1))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", tmp("sb_cstats")).start()
    try {
      val chunks = chunked(events)
      val deadline = System.currentTimeMillis() + 300000
      var chunksDone = 0L
      var dataBatches = 0
      val countedBatches = scala.collection.mutable.Set[Long]()
      def fold(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
        p.sources.headOption
          .flatMap(s => Option(s.endOffset))
          .flatMap(_.trim.toLongOption)
          .foreach(o => chunksDone = math.max(chunksDone, o + 1))
        if (p.numInputRows > 0 && countedBatches.add(p.batchId))
          dataBatches += 1
      }
      def pump(): Unit = {
        q.recentProgress.foreach(fold)
        Option(q.lastProgress).foreach(fold)
      }
      val t0 = System.nanoTime()
      var fedChunks = 0L
      chunks.foreach { c =>
        in.addData(c)
        fedChunks += 1
        while ({ pump(); chunksDone < fedChunks }
          && System.currentTimeMillis() < deadline) Thread.sleep(20)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val drained = chunks.take(chunksDone.toInt).map(_.length.toLong).sum
      if (drained < events.length)
        System.err.println(
          s"WARN stream bench: content_stats drained $drained/${events.length} events")
      Section("content_stats", math.min(events.length.toLong, drained), sec,
        dataBatches)
    } finally {
      try q.stop() catch { case _: Throwable => () }
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Run all sections; order puts the one-time streaming-engine warm-up
    * on a tiny untimed query, not on any section's clock. A section that
    * throws is dropped with a warning — one broken twin must not zero
    * the perf signal of the others. `volumeFloor` is the per-section row
    * target the document-driven sections replicate up to (tests pass a
    * small floor; the bench uses [[DefaultVolumeFloor]]). `only` keeps
    * just the named sections (None = all). */
  def run(spark: SparkSession, sfDir: String,
      volumeFloor: Int = DefaultVolumeFloor,
      only: Option[Set[String]] = None): Seq[Section] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // untimed warm-up: first streaming query pays micro-batch engine +
    // state-store + codegen init once
    try {
      val in = MemoryStream[BudgetIn]
      val q = StreamingBudget.admitStream(in.toDF(), budget = 100L)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", tmp("sb_warm")).start()
      in.addData((1 to 10).map(i => BudgetIn("w", i.toLong, 1L)))
      q.processAllAvailable()
      q.stop()
    } catch { case _: Throwable => () }
    // T6 parallelism mapping, section-wide: every section feeds ~12.5k-row
    // micro-batches, and a stateful stage at the session's 32
    // shuffle/state partitions pays 32 task schedules + 32 state-store
    // commits per batch for ~400-row partitions — commit overhead, not
    // operator work. Size the whole bench's streaming partitioning to
    // the micro-batch volume (8, the same figure pipelineSection
    // derived); restore the session conf after. Map-only sections are
    // unaffected (a MemoryStream batch has no shuffle), stateful ones
    // stop paying 4× the commit schedule.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // No-data (watermark-advance) micro-batches OFF section-wide, for
    // the same reason pipelineSection disables them locally: under the
    // drained-after-each-chunk protocol every data batch was followed
    // by a ~0.3 s zero-row batch paying a full state-store commit cycle
    // (measured: ~1/3 of the intake section's wall clock) — pure
    // contention here, since the watermarked operators emit admitted
    // rows in the data batch itself and eviction just waits for the
    // next one. StreamingSpec's semantics pins run under the session
    // default, where eviction timing matters.
    val prevNoData = spark.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val sections = Seq[(String, (SparkSession, String) => Section)](
      "pipeline" -> pipelineSection,
      "enrich_state" -> enrichSection,
      "enrich_ttl" -> enrichTtlSection,
      "funnel" -> funnelSection,
      "budget" -> (budgetSection(_, _, volumeFloor)),
      "pack" -> (packSection(_, _, volumeFloor)),
      "dedup" -> (dedupSection(_, _, volumeFloor)),
      "intake" -> (intakeSection(_, _, volumeFloor)),
      "index" -> (indexSection(_, _, volumeFloor)),
      "search" -> (searchSection(_, _, volumeFloor)),
      "fsearch" -> (filteredSearchSection(_, _, volumeFloor)),
      "pps_sample" -> (sampleSection(_, _, volumeFloor)),
      "content_stats" -> (contentStatsSection(_, _, volumeFloor)),
      "score" -> (scoreSection(_, _, volumeFloor)),
      "cms" -> (cmsSection(_, _, volumeFloor)),
      "hll" -> (hllSection(_, _, volumeFloor)),
      "decontam" -> (decontamSection(_, _, volumeFloor)),
      "xstrip" -> (xstripSection(_, _, volumeFloor)),
      "lm_score" -> (lmScoreSection(_, _, volumeFloor)),
      "lm_ratio" -> (lmRatioSection(_, _, volumeFloor)),
      "nb_score" -> (nbScoreSection(_, _, volumeFloor)),
      "media" -> (mediaSection(_, _, volumeFloor)),
      "curation" -> (curationSection(_, _, volumeFloor)),
      "anomaly" -> anomalySection)
    // `only`: the dev filter from [[main]]'s argument; Bench passes
    // none, so the official metric line always times the full board
    try sections.filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
      try {
        // untimed ambient probe immediately before the section clock
        val cs = try Bench.calibrate(spark) catch { case _: Throwable => -1.0 }
        Some(fn(spark, sfDir).copy(calibSec = cs))
      } catch {
        case e: Throwable =>
          System.err.println(
            s"WARN stream bench: section $name failed: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        prevNoData)
      deleteTmpDirs()
    }
  }

  /** Stream-section profiler: `runMain graft.StreamBench [section,...]`
    * (all sections when none named), honoring SPARK_GRAFT_SF_DIR and
    * SPARK_GRAFT_CPUS. One line per section; the OFFICIAL numbers come
    * from [[graft.Bench]], which embeds the same [[run]]. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption.map(_.split(",").toSet)
    val spark = LocalSession()
    // Discarded small-volume pass of the SAME selected sections first:
    // a scoped run would otherwise time its first sections against a
    // colder JIT/codegen state than the full bench ever does (the full
    // protocol's batch passes warm the serving kernels long before the
    // stream clock starts) — docs/AB_r14.md measured fsearch ~15 % low
    // in scoped runs for exactly this reason. The warm-up pass pays
    // micro-batch engine + codegen + broadcast init for every section
    // it will time, then its numbers are thrown away.
    // NonFatal only, and loudly: a warm-up that dies (broken fixture,
    // bad config) must surface as a WARN, not as mysteriously cold
    // timings in the real pass; fatal errors (OOM) still propagate.
    try { run(spark, sfDir, volumeFloor = 2000, only); () }
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN stream bench: warm-up pass failed: " +
          s"${e.getClass.getName}: ${e.getMessage}")
    }
    run(spark, sfDir, only = only).foreach { s =>
      println(f"STREAM ${s.name}%-14s rows=${s.rows} sec=${s.sec}%.3f " +
        f"rps=${s.rps}%.0f calib=${s.calibSec}%.3f")
    }
    spark.stop()
  }
}
