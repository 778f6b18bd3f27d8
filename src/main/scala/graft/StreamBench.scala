package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

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
  * prep sit outside it. All sections but the two TTL ones use
  * state-TTL-free operator variants (`NoTimeout`/event-time timeouts),
  * so `processAllAvailable` terminates; the TTL sections (`enrich_ttl`,
  * `content_stats`) never settle and are drained by polling instead
  * ([[poll]]).
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
    * seconds) exist so a regressed section's time can be ATTRIBUTED
    * (which query, which batch) from the artifact alone instead of
    * demanding a re-run under a profiler (the round-9 `pipeline`
    * section regressed 3.7× between two same-code runs with no way to
    * tell which of its two concurrent queries was at fault). */
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

  private val Chunks = 8

  /** Rows each section should process — see "Volume floor" above. */
  val DefaultVolumeFloor = 100000

  private def chunked[T](xs: IndexedSeq[T]): Seq[IndexedSeq[T]] = {
    val size = math.max(1, (xs.length + Chunks - 1) / Chunks)
    xs.grouped(size).toSeq
  }

  /** Collect `ds` and replicate it until it reaches `floor` rows.
    * Replica 0 is the unmodified fixture; replica i rebuilds each row
    * with `make(row, freshId, i)`, where `freshId` is the row's `id`
    * plus i × (the fixture's largest id + 1), so no two replicas share
    * an id. `make` also varies the text where the operator keys state
    * on content, so replicas are new work, not replays. */
  private def replicate[T](ds: Dataset[T], floor: Int)(id: T => Long)(
      make: (T, Long, Int) => T): IndexedSeq[T] = {
    val xs = ds.collect().toIndexedSeq
    if (xs.isEmpty) xs
    else {
      val span = xs.map(id).max + 1L
      val copies = math.max(1, (floor + xs.length - 1) / xs.length)
      (0 until copies).flatMap { i =>
        if (i == 0) xs else xs.map(r => make(r, id(r) + i * span, i))
      }
    }
  }

  /** One drained feed: `done` is how many chunks the queries drained. */
  private case class Drive(sec: Double, batches: Int, done: Int,
      chunkSec: Seq[Double] = Nil,
      queryBatch: Seq[(String, Seq[Double])] = Nil,
      chunkCalib: Seq[Double] = Nil, chunkRows: Seq[Long] = Nil)

  /** Feed `chunks` through `add`, draining every query after each chunk;
    * returns elapsed, batch count of the first query, per-chunk wall
    * times, and each named query's engine-reported per-batch
    * `triggerExecution` seconds (captured from `recentProgress` before
    * [[section]] stops the queries). */
  private def driveDetailed[T](spark: SparkSession,
      chunks: Seq[IndexedSeq[T]], add: Seq[T] => Unit,
      queries: Seq[StreamingQuery]): Drive = {
    val chunkSec = Vector.newBuilder[Double]
    val chunkCalib = Vector.newBuilder[Double]
    val chunkRows = Vector.newBuilder[Long]
    var sec = 0.0
    chunks.foreach { c =>
      // ambient probe per CHUNK, untimed (excluded from the section
      // wall): the per-chunk ratio is what lets a mid-section host-
      // contention phase be attributed from the artifact alone
      chunkCalib += (try Bench.calibrate(spark) catch { case _: Throwable => -1.0 })
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
    val perQuery = queries.filter(_.name != null).map { q =>
      q.name -> q.recentProgress.toIndexedSeq.map { p =>
        Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue / 1e3).getOrElse(0.0)
      }
    }
    Drive(sec, batches, chunks.size, chunkSec.result(), perQuery,
      chunkCalib.result(), chunkRows.result())
  }

  /** The TTL sections' drain. A `ProcessingTimeTimeout` or TTL'd
    * operator schedules continuous housekeeping batches, so
    * `processAllAvailable` never settles — completion is observed by
    * polling the query's OWN progress metrics (in-process, no Spark
    * job: a sink-count poll would steal cores from the query being
    * measured and its cost grows with drained rows). Completion is
    * tracked by the memory source's `endOffset` in the query progress —
    * MemoryStream's offset is the 0-based index of the last addData
    * chunk consumed, and a batch only appears in progress once it
    * committed, so offset ≥ k−1 means the k'th fed chunk drained.
    * (Progress entries are NOT keyed uniquely by batchId here: timeout
    * housekeeping emits duplicate-batchId entries, so per-batch row
    * summation double-counts or misses — the offset high-water mark is
    * the race-free signal.) `batches` counts distinct batchIds with
    * numInputRows > 0, not the empty housekeeping batches. No per-chunk
    * probe: the clock runs across the whole feed. */
  private def poll[T](chunks: Seq[IndexedSeq[T]], add: Seq[T] => Unit,
      q: StreamingQuery): Drive = {
    val deadline = System.currentTimeMillis() + 300000
    var done = 0L
    val dataBatches = mutable.Set[Long]()
    // recentProgress is a bounded ring (default 100 entries); under
    // continuous timeout-housekeeping batches an entry can rotate out
    // between polls, so lastProgress is folded in as well — the
    // high-water mark only needs SOME surviving observation.
    def pump(): Unit = (q.recentProgress ++ Option(q.lastProgress)).foreach { p =>
      p.sources.headOption
        .flatMap(s => Option(s.endOffset))
        .flatMap(_.trim.toLongOption)
        .foreach(o => done = math.max(done, o + 1))
      if (p.numInputRows > 0) dataBatches += p.batchId
    }
    val t0 = System.nanoTime()
    chunks.zipWithIndex.foreach { case (c, k) =>
      add(c)
      while ({ pump(); done <= k } && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    }
    Drive((System.nanoTime() - t0) / 1e9, dataBatches.size, done.toInt)
  }

  /** Every section's scaffold: a fresh MemoryStream, each of `queries`
    * started over it INSIDE the try that stops them all (a query whose
    * start throws cannot leave an earlier one running into the next
    * section), then the feed — [[driveDetailed]], or [[poll]] for a
    * `polled` (TTL) section. `rows` counts the drained chunks after the
    * first `lead` (the enricher's dimension snapshot: pipeline work, but
    * not the throughput unit); a short drain warns. Queries are
    * stopped in the finally, so a feed failure cannot leave a live
    * streaming query contending with the next timed section. */
  private[graft] def section[T: Encoder](spark: SparkSession, name: String,
      chunks: Seq[IndexedSeq[T]], lead: Int = 0, polled: Boolean = false)(
      queries: (Dataset[T] => DataStreamWriter[_])*): Section = {
    val in = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
    val started = mutable.ArrayBuffer[StreamingQuery]()
    try {
      val ds = in.toDS()
      queries.foreach { q =>
        started += q(ds).option("checkpointLocation", tmp("sb_" + name)).start()
      }
      val d =
        if (polled) poll[T](chunks, in.addData(_), started.head)
        else driveDetailed[T](spark, chunks, in.addData(_), started.toSeq)
      val expected = chunks.drop(lead).map(_.length.toLong).sum
      val rows = chunks.take(d.done).drop(lead).map(_.length.toLong).sum
      if (rows < expected)
        System.err.println(
          s"WARN stream bench: $name drained $rows/$expected events")
      Section(name, rows, d.sec, d.batches, d.chunkSec, d.queryBatch,
        chunkCalib = d.chunkCalib, chunkRows = d.chunkRows)
    } finally started.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
  }

  /** Runs `body` with `kvs` set in the session conf and restores each
    * key's prior value (or unsets it) after, whether `body` returns or
    * throws. */
  private[graft] def withConf[R](spark: SparkSession, kvs: (String, String)*)(
      body: => R): R = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def noop(ds: Dataset[_], mode: String): DataStreamWriter[_] =
    ds.writeStream.outputMode(mode).format("noop")

  private val noopSink: DataFrame => Unit =
    out => out.write.format("noop").mode("overwrite").save()

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
    * queries — the reference's single Flink dataflow fan-out. Runs
    * under [[run]]'s section-wide conf: 8 shuffle partitions, and no
    * watermark-advance (no-data) micro-batches — those of the windows
    * query would each pay a full state-store commit cycle (~0.5 s here)
    * CONCURRENTLY with the kv query's data batches, while in update
    * mode the closed windows still emit on the next data batch. */
  private def pipelineSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    val msgs = graft.queries.CdcQueries.jsonMessages(
        graft.queries.CdcMapping.fact(spark, sfDir))
      .select(col("value")).as[String].collect().toIndexedSeq
    val dim = graft.queries.CdcMapping.dim(spark, sfDir)
    // A MemoryStream batch arrives as ONE partition (the whole chunk
    // rides in a single task binary — Spark warns at 2.7 MB/task), so
    // without a repartition the JSON parse + enrich of every micro-batch
    // runs on one core in each of the two queries. A Kafka source would
    // arrive already spread over its topic partitions; spread the raw
    // values the same way before the parse.
    def enriched(in: Dataset[String]) =
      StreamingPipeline.enrichStream(in.toDF().repartition(8), dim)
    def views(chunks: Seq[IndexedSeq[String]]): Section = {
      val sink = new StreamingPipeline.InMemoryKvSink
      // kvViewsWriter takes a checkpoint dir; [[section]]'s own
      // checkpointLocation option replaces it
      try section(spark, "pipeline", chunks)(
        in => StreamingPipeline.kvViewsWriter(enriched(in), sink)(tmp("sb_kv"))
          .queryName("kv_views"),
        in => noop(StreamingPipeline.minuteWindowsStream(enriched(in)), "update")
          .queryName("minute_windows"))
      finally sink.close()
    }
    // Untimed section warm-up: run a couple of rows through throwaway
    // queries with the SAME plans so whole-stage-codegen JIT for the
    // streaming aggregate / foreachBatch views is paid off the clock
    // (same doctrine as the batch bench's untimed cdc_enrich warm-up).
    views(Seq(msgs.take(64)))
    views(chunked(msgs))
  }

  /** Shared prep for both enricher sections: the CdcRecord chunk
    * schedule, dimension snapshot first — the reference's initial-load
    * phase, fed but not counted (`lead = 1`) — then the event chunks.
    * Both sections must measure the SAME input or their numbers aren't
    * comparable. */
  private def enrichChunks(spark: SparkSession, sfDir: String)
      : Seq[IndexedSeq[StatefulEnricher.CdcRecord]] = {
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
    dims.map(c => StatefulEnricher.CdcRecord(c.id, None, Some(c))).toIndexedSeq +:
      chunked(evs.map(e => StatefulEnricher.CdcRecord(e.content_id, Some(e), None)))
  }

  /** Reference-exact stateful enrichment (J1 option (c)): dimension rows
    * land first, then the event stream point-looks-up per-key state. */
  private def enrichSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    section(spark, "enrich_state", enrichChunks(spark, sfDir), lead = 1)(
      in => noop(StatefulEnricher.enrich(in), "append"))
  }

  case class FunnelIn(key: String, step: Int, ts: Timestamp)

  /** Per-user view→click→purchase funnel state over the events fixture —
    * the same step predicates as the batch `op_funnel`. */
  private def funnelSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir).select(
        col("user_id").cast("string").as("key"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .when(col("event_type") === "purchase", 2)
          .otherwise(-1).cast("int").as("step"),
        col("ts").cast("timestamp").as("ts"))
      .as[FunnelIn].collect().toIndexedSeq
    section(spark, "funnel", chunked(evs))(
      in => noop(StreamingFunnel.funnelStream(in.toDF(), nSteps = 3), "update"))
  }

  case class BudgetIn(source: String, doc_id: Long, n_tokens: Long)

  /** The (source, doc_id, n_tokens) slice the token-stream sections
    * consume, replicated to the volume floor with fresh doc ids.
    * Per-source state stays one long regardless of replication. */
  private def budgetDocs(spark: SparkSession, sfDir: String,
      floor: Int): IndexedSeq[BudgetIn] = {
    import spark.implicits._
    replicate(Tables.documents(spark, sfDir).select(
        col("source").cast("string"), col("doc_id").cast("long"),
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      .as[BudgetIn], floor)(_.doc_id)((b, id, _) => b.copy(doc_id = id))
  }

  case class ScoreIn(doc_id: Long, text: String)

  /** (doc_id, text) of `docs`, replicated to `floor` with fresh ids. */
  private def docText(spark: SparkSession, docs: DataFrame,
      floor: Int): IndexedSeq[ScoreIn] = {
    import spark.implicits._
    replicate(docs.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[ScoreIn], floor)(_.doc_id)((r, id, _) => r.copy(doc_id = id))
  }

  case class LmScoreIn(doc_id: Long, lang: String, text: String)

  /** (doc_id, lang, text) of the documents fixture, replicated to
    * `floor` with fresh ids. */
  private def docLangText(spark: SparkSession, sfDir: String,
      floor: Int): IndexedSeq[LmScoreIn] = {
    import spark.implicits._
    replicate(Tables.documents(spark, sfDir).select(col("doc_id").cast("long"),
        col("lang").cast("string"), col("text").cast("string"))
      .as[LmScoreIn], floor)(_.doc_id)((r, id, _) => r.copy(doc_id = id))
  }

  case class IndexIn(vec_id: Long, qv: Seq[Double])

  /** The embeddings fixture quantized to integer-valued doubles (×1000),
    * replicated to `floor` with fresh ids only — the vector operators
    * are content-agnostic, so replica vectors are full-cost new work
    * as-is. */
  private def quantized(spark: SparkSession, sfDir: String,
      floor: Int): IndexedSeq[IndexIn] = {
    import spark.implicits._
    replicate(Tables.embeddings(spark, sfDir).select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000)).as("qv"))
      .as[IndexIn], floor)(_.vec_id)((r, id, _) => r.copy(vec_id = id))
  }

  case class PipeIn(source: String, doc_id: Long, lang: String,
    text: String, ts: Timestamp)

  private val DedupEpoch = 1704067200L

  /** Documents with fresh ids, per-replica text variation (each replica
    * mints NEW digests, so a gate's state table takes one insert per
    * distinct text — replicated rows are new work, not free drops) and
    * monotone synthetic event time (one second per id, so the watermark
    * advances and evicts: the bench exercises bounded state, not an
    * ever-growing digest table). */
  private def timedDocs(spark: SparkSession, sfDir: String,
      floor: Int): IndexedSeq[PipeIn] = {
    import spark.implicits._
    replicate(Tables.documents(spark, sfDir)
      .select(col("source").cast("string"), col("doc_id").cast("long"),
        col("lang").cast("string"), col("text").cast("string"),
        (lit(DedupEpoch) + col("doc_id")).cast("timestamp").as("ts"))
      .as[PipeIn], floor)(_.doc_id) { (r, id, i) =>
      r.copy(doc_id = id, text = r.text + " ~r" + i,
        ts = new Timestamp((DedupEpoch + id) * 1000L))
    }
  }

  /** Per-source token-budget admission — the same quota as the batch
    * `curate_token_budget` (scaled to the replicated volume so admission
    * stays live past the first replica, not a pure drop path). */
  private def budgetSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    val docs = budgetDocs(spark, sfDir, floor)
    section(spark, "budget", chunked(docs))(in => noop(StreamingBudget.admitStream(
      in.toDF(), budget = math.max(20000L, docs.map(_.n_tokens).sum / 2)), "append"))
  }

  /** Per-source context-window chunk packing — the same ctx as the
    * batch `curate_pack_chunks`. */
  private def packSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    section(spark, "pack", chunked(budgetDocs(spark, sfDir, floor)))(
      in => noop(StreamingPack.packStream(in.toDF(), ctx = 512L), "append"))
  }

  /** Streaming DSIR importance scoring ([[graft.streaming.StreamingScore]]):
    * arriving documents scored against the TRAINED 64-long weight array
    * folded in as literals — stateless, map-only; the weight table is
    * trained (two 64-row count aggregates) BEFORE the clock, like the
    * index section's centroids. */
  private def scoreSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    val docs = docText(spark, Tables.documents(spark, sfDir), floor)
    val weights = graft.queries.DedupQueries.dsirWeightArray(spark, sfDir)
    section(spark, "score", chunked(docs))(in => noop(
      graft.streaming.StreamingScore.scoreStream(in.toDF(), weights), "append"))
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
    section(spark, "cms",
        chunked(docText(spark, Tables.documents(spark, sfDir), floor)))(
      in => noop(graft.operators.Sketch.cmsSketch(in.toDF()), "update"))
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
    section(spark, "hll",
        chunked(docText(spark, Tables.documents(spark, sfDir), floor)))(
      in => noop(graft.operators.Sketch.hllRegisters(in.toDF()), "update"))
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
    section(spark, "decontam",
        chunked(docText(spark, Tables.documents(spark, sfDir), floor)))(
      in => noop(graft.operators.Sketch.kmvDecontam(in.toDF()), "update"))
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
    import graft.operators.HashSplit
    val docs0 = Tables.documents(spark, sfDir)
    val refGrams = graft.operators.SpanDedup.cappedGrams(
      docs0.filter(HashSplit.label(col("doc_id")) === "test"),
      "doc_id", "text", k = 8, occCap = 32).localCheckpoint()
    // the trained-artifact pre-filter, built before the clock next to
    // the index: most arriving grams miss the reference, and the
    // sketch drops them scan-side before the join's exchange
    // (docs/AB_r15.md measured it on vs off)
    val refSketch = graft.operators.SpanDedup.refGramSketch(refGrams)
    val docs = docText(spark,
      docs0.filter(HashSplit.label(col("doc_id")) === "train"),
      math.min(floor, 25000))
    section(spark, "xstrip", chunked(docs))(
      in => graft.streaming.StreamingSpanDedup.decontamStripWriter(
        in.toDF(), refGrams, "doc_id", "text", k = 8, minLen = 10,
        refSketch)(noopSink))
  }

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
    val docs = docLangText(spark, sfDir, floor)
    val meta = graft.queries.TextQueries.nbClassMeta(spark, sfDir)
    section(spark, "nb_score", chunked(docs))(in => noop(
      graft.streaming.StreamingScore.nbScoreStream(in.toDF(), meta), "append"))
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
    val docs = docLangText(spark, sfDir, floor)
    val wbits = graft.queries.TextQueries.lmWeightArray(spark, sfDir)
    section(spark, "lm_score", chunked(docs))(in => noop(
      graft.streaming.StreamingScore.lmScoreStream(in.toDF(), wbits), "append"))
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
    val docs = replicate(graft.operators.Multimodal.fakeMediaFromDocuments(
        Tables.documents(spark, sfDir)), floor)(_.media_id)(
      (r, id, _) => r.copy(media_id = id))
    val dec = new graft.operators.Multimodal.FakeDecoder(8)
    section(spark, "media", chunked(docs))(in =>
      noop(graft.streaming.StreamingMedia.ingestStream(in, dec), "append"))
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
    val docs = docLangText(spark, sfDir, floor)
    val wT = graft.queries.TextQueries.lmWeightArray(spark, sfDir)
    val wB = graft.queries.TextQueries.lmBgWeightArray(spark, sfDir)
    section(spark, "lm_ratio", chunked(docs))(in => noop(
      graft.streaming.StreamingScore.lmRatioScoreStream(in.toDF(), wT, wB),
      "append"))
  }

  /** The FULL streaming curation pipeline
    * ([[graft.streaming.StreamingIntake.pipelineStream]]): dedup gate →
    * quality/LM/semantic admission → DSIR resampler → split tag, per
    * arriving document. All four trained artifacts (quality cutoffs,
    * semantic drop list, LM grid, DSIR weights) are computed BEFORE the
    * clock — they are the batch-trained metadata the admission service
    * broadcasts — so the section times exactly the serving path: two
    * stateful stages plus compiled map-only gates. Replicas mint fresh
    * ids and varied text ([[timedDocs]]: replicated rows are new
    * admission work, not free digest drops). */
  private def curationSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    val docs = timedDocs(spark, sfDir, floor)
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
    section(spark, "curation", chunked(docs))(in => noop(
      graft.streaming.StreamingIntake.pipelineStream(in.toDF(),
        cutoffs, semDrops, lmW, lmBg, lmTheta,
        dsirW, graft.queries.DedupQueries.PipelineStep,
        // 64-way sharded resampler: at the section's replicated volume
        // every stratum's weight is far above the step, so the
        // stratified scale path is healthy here (see resampleStream)
        "ts", "10 minutes", resampleShards = 64), "append"))
  }

  case class DedupIn(doc_id: Long, text: String, ts: Timestamp)

  /** Watermark-bounded streaming exact-dedup gate. */
  private def dedupSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    val docs = timedDocs(spark, sfDir, floor)
      .map(r => DedupIn(r.doc_id, r.text, r.ts))
    section(spark, "dedup", chunked(docs))(in => noop(
      StreamingDedup.dedupStream(in.toDF(), "ts", "60 seconds"), "append"))
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
    val docs = timedDocs(spark, sfDir, floor)
      .map(r => IntakeIn(r.source, r.doc_id, r.text, r.ts))
    section(spark, "intake", chunked(docs))(in => noop(
      StreamingIntake.intakeStream(in.toDF(), "ts", "60 seconds", ctx = 512L),
      "append"))
  }

  /** Streaming systematic-PPS sampling ([[graft.streaming.StreamingSample]]):
    * one long of running weight per source; the step matches the batch
    * twin's shape scaled to the replicated token volume (so picks stay
    * live across replicas — ~200 picks over the section). */
  private def sampleSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    import graft.streaming.StreamingSample
    val docs = budgetDocs(spark, sfDir, floor)
      .map(b => StreamingSample.WeightedDoc(b.source, b.doc_id, b.n_tokens))
    val step = math.max(1L, docs.map(_.w).sum / 200)
    section(spark, "pps_sample", chunked(docs))(
      in => noop(StreamingSample.sampleStream(in.toDF(), step), "append"))
  }

  /** Streaming ANN index maintenance ([[graft.streaming.StreamingIndex]]):
    * arriving vectors assigned IVF cell + packed PQ codes against the
    * TRAINED centroids/codebook — stateless map-only, so this times the
    * pure per-vector assignment cost (64-dim argmin + 4 subspace
    * argmins) under the micro-batch schedule. */
  private def indexSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    val vecs = quantized(spark, sfDir, floor)
    val cents = graft.queries.SimilarityQueries.trainedCentroidRows(spark, sfDir)
    val cb = graft.queries.SimilarityQueries.trainedCodebookRows(spark, sfDir)
    section(spark, "index", chunked(vecs))(in => noop(
      graft.streaming.StreamingIndex.indexStream(in.toDF(), cents, cb), "append"))
  }

  /** Streaming ANN serving ([[graft.streaming.StreamingSearch]]): query
    * vectors arrive on the stream, each micro-batch runs the COMPOSED
    * probe-pruned IVF-PQ kernel (the `sim_ivfpq_search` batch shape —
    * each query ADC-scores only its nprobe probed cells' codes, not the
    * full corpus). The static side (cell-tagged codes + codebook +
    * centroids) is materialized BEFORE the clock — index build cost is
    * the `index` section's job, this one times serving.
    *
    * Per-query work is ~corpus·nprobe/k_cells code rows (pruned, no
    * longer the full-corpus scan the round-8 section capped at ~50×
    * the others' work), but it still scales with the CORPUS, unlike
    * the O(1)-per-row operators the flat floor is sized for — so the
    * query volume keeps a cap; rps is per-QUERY either way, and the
    * section's rows field reports the capped count honestly. */
  private def searchSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    val queries = quantized(spark, sfDir, math.min(floor, 5000))
    val cellCodes = graft.queries.SimilarityQueries
      .indexedCodes(spark, sfDir).localCheckpoint()
    val cb = graft.queries.SimilarityQueries.trainedCodebookFrame(spark, sfDir)
    val cents = graft.queries.SimilarityQueries
      .trainedCentroidsFrame(spark, sfDir)
    section(spark, "search", chunked(queries))(
      in => graft.streaming.StreamingSearch.servePrunedWriter(
        in.toDF("query_id", "qv"), cellCodes, cb, cents,
        nprobe = 3, k = 10)(noopSink))
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
    val queries = quantized(spark, sfDir, math.min(floor, 5000))
    val nbrs = graft.queries.SimilarityQueries
      .filteredAssignedFrame(spark, sfDir).localCheckpoint()
    val cents = graft.queries.SimilarityQueries
      .trainedCentroidsFrame(spark, sfDir)
    section(spark, "fsearch", chunked(queries))(
      in => graft.streaming.StreamingSearch.serveFilteredWriter(
        in.toDF("query_id", "qv"), nbrs, cents, nprobe = 3, k = 10)(noopSink))
  }

  case class AnomalyIn(key: String, event_id: Long, ts: Timestamp, x: Long)

  /** Per-event-type rolling 2-sigma anomaly state over the events
    * fixture — the same frame/minN as the batch
    * `analytics_rolling_zscore`. */
  private def anomalySection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type").cast("string").as("key"),
        col("event_id").cast("long"),
        col("ts").cast("timestamp"),
        floor(col("value")).cast("long").as("x"))
      .as[AnomalyIn].collect().toIndexedSeq
    section(spark, "anomaly", chunked(evs))(
      in => noop(StreamingAnomaly.rollingZScoreStream(in.toDF()), "append"))
  }

  /** The TTL variant of the stateful enricher (`ProcessingTimeTimeout`):
    * completion by [[poll]]. Every event emits exactly one enriched or
    * miss row. The TTL is set far above the section's wall time so no
    * state evicts mid-measurement — this times the timeout-managed
    * state path's throughput, not eviction races. */
  private def enrichTtlSection(spark: SparkSession, sfDir: String): Section = {
    import spark.implicits._
    section(spark, "enrich_ttl", enrichChunks(spark, sfDir), lead = 1,
        polled = true)(in => noop(
      StatefulEnricher.enrich(in, stateTtlMs = Some(3600L * 1000)), "append"))
  }

  /** The TTL'd content-stats view (`StatefulViews.contentStatsTtl` —
    * `transformWithState` + RocksDB value state with per-key TTLConfig,
    * the Redis-EXPIRE analogue): the ONE stateful-operator class
    * (`transformWithState`) that previously had correctness pins but no
    * perf signal next to the flatMapGroupsWithState twins. Same
    * completion doctrine as [[enrichTtlSection]] ([[poll]]), and the
    * TTL sits far above the section's wall time so no state evicts
    * mid-measurement. Replicas keep the fixture's content keys (the
    * view's key space IS the content dimension; extra per-key updates
    * are exactly what the serving view absorbs) and mint fresh event
    * ids. */
  private def contentStatsSection(spark: SparkSession, sfDir: String,
      floor: Int): Section = {
    import spark.implicits._
    import graft.streaming.StatefulViews
    val events = replicate(graft.views.EngagementViews.validOnly(
        graft.queries.CdcMapping.enriched(spark, sfDir))
      .select(col("content_id").cast("string").as("content_id"),
        col("engagement_pct").cast("double").as("engagement_pct"),
        col("content_type").cast("string").as("content_type"),
        col("content_title").cast("string").as("content_title"),
        col("event_type").cast("string").as("event_type"),
        col("device").cast("string").as("device"),
        col("event_ts").cast("timestamp").as("event_ts"),
        col("event_id").cast("long").as("event_id"))
      .as[StatefulViews.StatIn], floor)(_.event_id)(
      (r, id, _) => r.copy(event_id = id))
    withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      section(spark, "content_stats", chunked(events), polled = true)(in => noop(
        StatefulViews.contentStatsTtl(in, java.time.Duration.ofHours(1)), "update"))
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
    // untimed warm-up: first streaming query pays micro-batch engine +
    // state-store + codegen init once
    try {
      section(spark, "warm", Seq((1 to 10).map(i => BudgetIn("w", i.toLong, 1L))))(
        in => noop(StreamingBudget.admitStream(in.toDF(), budget = 100L), "append"))
      ()
    } catch { case _: Throwable => () }
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
    // T6 parallelism mapping, section-wide: every section feeds ~12.5k-row
    // micro-batches, and a stateful stage at the session's 32
    // shuffle/state partitions pays 32 task schedules + 32 state-store
    // commits per batch for ~400-row partitions — commit overhead, not
    // operator work. Size the whole bench's streaming partitioning to
    // the micro-batch volume (8, the reference's setParallelism knob).
    // Map-only sections are unaffected (a MemoryStream batch has no
    // shuffle), stateful ones stop paying 4× the commit schedule.
    // No-data (watermark-advance) micro-batches OFF section-wide: under
    // the drained-after-each-chunk protocol every data batch was
    // followed by a ~0.3 s zero-row batch paying a full state-store
    // commit cycle (measured: ~1/3 of the intake section's wall clock)
    // — pure contention here, since the watermarked operators emit
    // admitted rows in the data batch itself and eviction just waits
    // for the next one. StreamingSpec's semantics pins run under the
    // session default, where eviction timing matters.
    // `only`: the dev filter from [[main]]'s argument; Bench passes
    // none, so the official metric line always times the full board
    try withConf(spark, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      sections.filter { case (n, _) => only.forall(_.contains(n)) }
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
      }
    } finally deleteTmpDirs()
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
