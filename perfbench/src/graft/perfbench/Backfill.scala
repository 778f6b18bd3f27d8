package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.enrich.Enrichment
import graft.ingest.DebeziumParser
import graft.streaming.StreamingPipeline
import graft.views.EngagementViews

/** The initial-snapshot part of `cdc_pipeline`. Generated Debezium messages
  * (raw JSON text files, written before the clock starts) go through
  * parse, enrichment, the four views and the hour-partitioned warehouse
  * (the warehouse writer run once with AvailableNow). One pass is one
  * unit of work. A run makes one warm pass, then about as many passes as
  * fit its seconds, and reports their median.
  */
final class Backfill(ctx: Ctx) extends Workload {
  import Backfill._

  private val gen = new CdcGen(ctx.seed)
  private val rawDir = ctx.work.resolve("backfill/raw")
  private var dim: DataFrame = _
  private var lastWarehouse: Path = _
  private var passes = 0

  /** Chronological text files, one per core, like a snapshot read in
    * primary-key order: each file holds a contiguous range of event times. */
  private def writeRaw(dir: Path, n: Long, span: Long): Unit = {
    Files.createDirectories(dir)
    val files = ctx.cpus
    (0 until files).foreach { f =>
      val from = n * f / files
      val until = n * (f + 1) / files
      val sb = new java.lang.StringBuilder(1 << 20)
      var s = from
      while (s < until) { sb.append(gen.message(s, Start + s * span / n)).append('\n'); s += 1 }
      Files.write(dir.resolve(f"part-$f%03d.json"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  def setup(spark: SparkSession): Unit = {
    Io.deleteTree(ctx.work.resolve("backfill"))
    writeRaw(rawDir, Messages, SpanMicros)
    dim = gen.contentFrame(spark).cache()
    dim.count()
  }

  /** Row count and the sum of per-row hashes: equal for equal multisets. */
  private def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), r.getString(1))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass; returns its wall seconds. */
  private def pass(spark: SparkSession, raw: Path, runId: String, t: Tracer): Double = {
    val out = ctx.work.resolve(s"backfill/out-$runId")
    val t0 = System.nanoTime()
    t.span("backfill.pass", runId) {
      val text = spark.read.text(raw.toString)
      val rows = t.span("ingest.parse", runId) {
        val r = DebeziumParser.parseEvents(text).rows.persist()
        r.count(); r
      }
      val enriched = t.span("enrich.join", runId) {
        val e = Enrichment.enrich(rows, dim).rows.persist()
        e.count(); e
      }
      t.span("views.leaderboard", runId) { EngagementViews.leaderboard(enriched).collect() }
      t.span("views.content_stats", runId) { noop(EngagementViews.contentStats(enriched)) }
      t.span("views.user_latest", runId) { noop(EngagementViews.userContentLatest(enriched)) }
      t.span("views.minute_windows", runId) { noop(EngagementViews.minuteWindows(enriched)) }
      t.span("sink.warehouse", runId) {
        val stream = spark.readStream.schema("value STRING").text(raw.toString)
        StreamingPipeline.runOnce(StreamingPipeline.warehouseWriter(
          StreamingPipeline.enrichStream(stream, dim),
          out.resolve("table").toString, out.resolve("checkpoint").toString,
          Trigger.AvailableNow()))
      }
      enriched.unpersist(); rows.unpersist()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (lastWarehouse != null) Io.deleteTree(lastWarehouse)
    lastWarehouse = out
    sec
  }

  def run(spark: SparkSession, seconds: Double, obs: Obs, tag: String): Segment = {
    val t = obs.tracer
    // The first pass is the warm-up (class loading, codegen, JIT) on the
    // same input. A smaller one left the first timed pass still compiling.
    // It is reported in the notes but not counted.
    val warm = pass(spark, rawDir, s"$tag-warm", new Tracer(false))
    val w = Passes.run(seconds, NominalPassS)(n => pass(spark, rawDir, s"$tag-pass$n", t))
    val n = w.size
    passes += n
    val e2e = Seq(
      "rate_per_s" -> Messages / Stats.median(w),
      "lat_p50_s" -> Stats.median(w),
      "lat_p90_s" -> Stats.quantile(w, 0.9))
    val layers =
      if (!t.enabled) Nil
      else {
        val files = Io.files(lastWarehouse.resolve("table")).filter(_.toString.endsWith(".parquet"))
        Seq(
          "ingest.parse_s" -> t.total("ingest.parse") / n,
          "enrich.join_s" -> t.total("enrich.join") / n,
          "views.leaderboard_s" -> t.total("views.leaderboard") / n,
          "views.content_stats_s" -> t.total("views.content_stats") / n,
          "views.user_latest_s" -> t.total("views.user_latest") / n,
          "views.minute_windows_s" -> t.total("views.minute_windows") / n,
          "sink.warehouse_s" -> t.total("sink.warehouse") / n,
          "sink.warehouse_files" -> files.size.toDouble,
          "sink.warehouse_bytes" -> files.map(f => Files.size(f).toDouble).sum)
      }
    Segment(e2e, layers, w.size,
      (s"$tag.warm_pass" -> warm) +: w.zipWithIndex.map { case (x, i) => s"$tag.pass$i" -> x })
  }

  def check(spark: SparkSession): Check = {
    val want = CdcGen.counts(gen, 0, Messages)
    val parsed = DebeziumParser.parseEvents(spark.read.text(rawDir.toString))
    val errors = parsed.errors.groupBy("error").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enriched = Enrichment.enrich(parsed.rows, dim)
    val rows = enriched.rows.persist()
    val nRows = rows.count()
    val nMiss = enriched.misses.count()
    val back = spark.read.parquet(lastWarehouse.resolve("table").toString).drop("event_hour")
      .select(rows.columns.map(col).toIndexedSeq: _*)
    // Order-insensitive digests first; the exact row diff only on a mismatch.
    val (lost, extra) =
      if (digest(rows) == digest(back)) (0L, 0L)
      else (rows.exceptAll(back).count(), back.exceptAll(rows).count())
    rows.unpersist()
    val channelDiff =
      math.abs(errors.getOrElse("json_error", 0L) - want.jsonError) +
        math.abs(errors.getOrElse("missing_after", 0L) - want.missingAfter) +
        math.abs(nMiss - want.miss) + math.abs(nRows - want.valid)
    Check(attempted = Messages, failed = math.min(Messages, math.max(lost, extra) + channelDiff),
      layers = Seq(
        "ingest.rows" -> (nRows + nMiss).toDouble,
        "ingest.error_rows" -> errors.values.sum.toDouble,
        "enrich.rows" -> nRows.toDouble,
        "enrich.miss_rows" -> nMiss.toDouble),
      notes = Seq("passes" -> passes.toDouble, "messages" -> Messages.toDouble,
        "json_error" -> errors.getOrElse("json_error", 0L).toDouble,
        "missing_after" -> errors.getOrElse("missing_after", 0L).toDouble,
        "warehouse_lost" -> lost.toDouble, "warehouse_extra" -> extra.toDouble))
  }
}

object Backfill {
  /** Messages per pass; event time spans `Hours` hours from 2024-01-01. */
  val Messages: Long = 120000L
  /** Seconds of the run's budget per timed pass: three passes at 10 s. A
    * pass takes about 6 s on a 4-core box; the median of three leaves out
    * a single slow pass, often the first. */
  val NominalPassS: Double = 10.0 / 3
  val Start: Long = 1704067200L * 1000000L
  val Hours: Long = 24L
  val SpanMicros: Long = Hours * 3600L * 1000000L
}
