package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.enrich.Enrichment
import graft.ingest.DebeziumParser
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{InMemoryKvSink, KvSink}
import graft.views.EngagementViews

/** KV sink wrapper that counts upserts and the time spent in them. The
  * counters are JVM-global because task closures carry copies of the sink. */
final class CountingKvSink(inner: InMemoryKvSink) extends KvSink {
  def upsert(view: String, key: String, value: String): Unit = {
    val t0 = System.nanoTime()
    inner.upsert(view, key, value)
    CountingKvSink.nanos.add(System.nanoTime() - t0)
    CountingKvSink.calls.increment()
  }
}

object CountingKvSink {
  val calls = new LongAdder
  val nanos = new LongAdder
  def reset(): Unit = { calls.reset(); nanos.reset() }
}

/** Latency accounting of an open-loop feed, kept free of Spark so that it
  * can be checked on a hand-built progress sequence.
  *
  * Event `seq` is due at `epochMs + seq * 1000 / rate`. A feed records one
  * `addData` call: the source offset it produced and the events it carried.
  * A commit records one micro-batch: the source offsets it read, (start,
  * end], and the wall time its commit finished. An event's latency runs
  * from its due time to the commit of the batch that read it.
  */
object StreamLatency {
  final case class Feed(offset: Long, from: Long, until: Long, sentMs: Double)
  final case class Commit(batchId: Long, startOffset: Long, endOffset: Long,
      startMs: Double, commitMs: Double)

  final case class Result(latencies: Array[Double], unseen: Long,
      perBatchMax: Seq[(Long, Double)], backlogMax: Long, lateMaxS: Double)

  def due(epochMs: Double, rate: Double, seq: Long): Double = epochMs + seq * 1000.0 / rate

  /** Commit of a progress record: batch start plus its trigger duration. */
  def commit(p: StreamingQueryProgress): Option[Commit] = {
    val src = p.sources.headOption
    val end = src.flatMap(s => Option(s.endOffset)).map(_.trim.toLong)
    end.filter(_ => p.numInputRows > 0).map { e =>
      val start = src.flatMap(s => Option(s.startOffset)).map(_.trim.toLong).getOrElse(-1L)
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Commit(p.batchId, start, e, t0,
        t0 + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    }
  }

  /** Latencies of the events numbered `fromSeq` and later. */
  def compute(epochMs: Double, rate: Double, fromSeq: Long, feeds: Seq[Feed],
      commits: Seq[Commit]): Result = {
    val sorted = commits.sortBy(_.endOffset)
    val measured = feeds.filter(_.until > fromSeq)
    val lat = Array.newBuilder[Double]
    var unseen = 0L
    val perBatch = scala.collection.mutable.LinkedHashMap[Long, Double]()
    measured.foreach { f =>
      val from = math.max(f.from, fromSeq)
      sorted.find(c => f.offset > c.startOffset && f.offset <= c.endOffset) match {
        case Some(c) =>
          var s = from
          while (s < f.until) {
            val l = (c.commitMs - due(epochMs, rate, s)) / 1000.0
            lat += l
            perBatch(c.batchId) = math.max(perBatch.getOrElse(c.batchId, Double.MinValue), l)
            s += 1
          }
        case None => unseen += f.until - from
      }
    }
    // Backlog at a batch's start: events already sent but not read by an
    // earlier batch.
    val windowStart = due(epochMs, rate, fromSeq)
    val backlog = sorted.filter(_.startMs >= windowStart).map { c =>
      feeds.filter(f => f.sentMs <= c.startMs && f.offset > c.startOffset)
        .map(f => f.until - f.from).sum
    }
    val late = measured.map(f => (f.sentMs - due(epochMs, rate, math.max(f.from, fromSeq))) / 1000.0)
    Result(lat.result(), unseen, perBatch.toSeq,
      if (backlog.isEmpty) 0L else backlog.max, if (late.isEmpty) 0.0 else late.max)
  }
}

/** The streaming tail of `cdc_pipeline`: one generator thread feeds a MemoryStream on a fixed
  * schedule (open loop; each event's `event_ts` is its due time). The
  * stream is parsed and enriched once per query, as in the reference
  * wiring. The KV views (a counting sink) consume it during the measured
  * window; the watermarked minute windows and the hour-partitioned
  * warehouse each consume the fed events once, after it.
  */
final class Stream(ctx: Ctx) extends Workload {
  import Stream._
  import StreamLatency._

  private val gen = new CdcGen(ctx.seed)
  private var dim: DataFrame = _
  private var segments = 0
  // State of the last timed segment, for the output checks.
  private var lastSink: InMemoryKvSink = _
  private var lastFeeds: Seq[Feed] = Nil
  private var lastCommits: Seq[Commit] = Nil
  private var lastEpochMs = 0.0
  private var lastLatencies: Array[Double] = Array.empty
  private var lastUnseen = 0L

  private final case class Queries(ins: Seq[MemoryStream[String]], sink: InMemoryKvSink,
      kv: StreamingQuery, dir: Path, tag: String) {
    /** Adds to every query's source; returns the kv source's offset. */
    def add(msgs: Seq[String]): Long = ins.map(_.addData(msgs).json().toLong).head
  }

  private def enriched(in: MemoryStream[String]): DataFrame =
    StreamingPipeline.enrichStream(in.toDF(), dim)

  /** Starts the one query of the measured window, the KV writer. With the
    * minute windows beside it, the two queries' batches competed for the
    * cores and a run settled in one of two regimes, about 1.3 s or 1.7 s
    * median latency, at random. */
  private def start(spark: SparkSession, tag: String): Queries = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir: Path = ctx.work.resolve(s"stream/$tag")
    // One source per query, as each query is its own consumer of the
    // topic: a MemoryStream takes commits from one reader only. Each batch
    // arrives in `cpus` partitions, like a topic with that many partitions
    // (by default a MemoryStream makes one partition per addData call).
    val ins = Seq.fill(3)(MemoryStream[String](ctx.cpus))
    val sink = new InMemoryKvSink
    val kv = StreamingPipeline.kvViewsWriter(enriched(ins(0)), new CountingKvSink(sink))(
      dir.resolve("kv").toString).queryName(s"kv_views_$tag").start()
    Queries(ins, sink, kv, dir, tag)
  }

  /** After the window, the minute windows and then the warehouse each
    * consume every fed event once. The warehouse writer's default 30 s
    * trigger ticks on wall-clock multiples of its interval, so inside a
    * window of a few seconds a flush would land at random or not at all;
    * it is run once instead. Returns the flush's seconds. */
  private def afterWindow(q: Queries): Double = {
    val windows = StreamingPipeline.minuteWindowsStream(enriched(q.ins(1)))
      .writeStream.queryName(s"minute_windows_${q.tag}").outputMode("update").format("noop")
      .option("checkpointLocation", q.dir.resolve("windows").toString).start()
    try windows.processAllAvailable() finally windows.stop()
    val t0 = System.nanoTime()
    StreamingPipeline.runOnce(StreamingPipeline.warehouseWriter(enriched(q.ins(2)),
      q.dir.resolve("warehouse").toString, q.dir.resolve("warehouse_ckpt").toString)
      .queryName(s"warehouse_${q.tag}"))
    (System.nanoTime() - t0) / 1e9
  }

  /** The stream's warm-up is the unmeasured lead-in of each segment. */
  def setup(spark: SparkSession): Unit = {
    Io.deleteTree(ctx.work.resolve("stream"))
    dim = gen.contentFrame(spark).cache()
    dim.count()
  }

  /** Stream events continue after the snapshot's: their ids are distinct. */
  private def message(seq: Long, dueMicros: Long): String = gen.message(SeqBase + seq, dueMicros)

  def run(spark: SparkSession, seconds: Double, obs: Obs, tag: String): Segment = {
    CountingKvSink.reset()
    if (lastSink != null) lastSink.close()
    // Start the tail from a collected heap, not from the snapshot's garbage.
    System.gc()
    val q = start(spark, s"$tag$segments")
    segments += 1
    val feeds = Vector.newBuilder[Feed]
    val t0 = System.nanoTime()
    val epochMs = System.currentTimeMillis().toDouble
    // The first LeadInS seconds of the feed let the new queries reach a
    // steady state; only events due after it are measured.
    val total = seconds + LeadInS
    var sent = 0L
    var drainS, flushS = 0.0
    try {
      var elapsed = 0.0
      while (elapsed < total) {
        val dueNow = math.min((elapsed * Rate).toLong + 1, (total * Rate).toLong)
        if (dueNow > sent) {
          val msgs = (sent until dueNow).map(s => message(s, (due(epochMs, Rate, s) * 1000).toLong))
          val off = q.add(msgs)
          feeds += Feed(off, sent, dueNow, System.currentTimeMillis().toDouble)
          sent = dueNow
        }
        val next = t0 + ((elapsed + TickS) * 1e9).toLong
        val sleep = (next - System.nanoTime()) / 1000000L
        if (sleep > 0) Thread.sleep(sleep)
        elapsed = (System.nanoTime() - t0) / 1e9
      }
      q.kv.processAllAvailable()
      drainS = (System.nanoTime() - t0) / 1e9 - total
      flushS = afterWindow(q)
    } finally q.kv.stop()
    val kvProgress = q.kv.recentProgress.toSeq
    val commits = kvProgress.flatMap(commit)
    val r = compute(epochMs, Rate, (LeadInS * Rate).toLong, feeds.result(), commits)
    lastSink = q.sink; lastFeeds = feeds.result(); lastCommits = commits
    lastEpochMs = epochMs; lastLatencies = r.latencies; lastUnseen = r.unseen
    val lat = r.latencies.toSeq
    val p90 = Stats.quantile(lat, 0.9)
    val lastCommit = commits.map(_.commitMs).max
    val e2e = Seq(
      "rate_per_s" -> lat.size / ((lastCommit - epochMs) / 1000.0 - LeadInS),
      "lat_p50_s" -> Stats.median(lat),
      "lat_p90_s" -> p90)
    val layers = obs.progress.toSeq.flatMap { pl =>
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def ms(p: StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
      val kvB = pl.of(q.kv.name).filter(_.numInputRows > 0)
      val winB = pl.of(s"minute_windows_${q.tag}").filter(_.numInputRows > 0)
      val whB = pl.of(s"warehouse_${q.tag}").filter(_.numInputRows > 0)
      val state = winB.lastOption.flatMap(_.stateOperators.headOption)
      Seq(
        "streaming.batches" -> kvB.size.toDouble,
        "streaming.batch_p50_s" -> p50(kvB.map(ms(_, "triggerExecution"))),
        "streaming.planning_p50_s" -> p50(kvB.map(ms(_, "queryPlanning"))),
        "streaming.commit_p50_s" -> p50(kvB.map(p => ms(p, "walCommit") + ms(p, "commitOffsets"))),
        "streaming.backlog_rows_max" -> r.backlogMax.toDouble,
        "gen.late_max_s" -> r.lateMaxS,
        "state.rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "state.commit_p50_s" -> p50(winB.flatMap(_.stateOperators.headOption)
          .map(_.commitTimeMs / 1000.0)),
        "views.kv_upserts" -> CountingKvSink.calls.sum.toDouble,
        "views.kv_upsert_s" -> CountingKvSink.nanos.sum / 1e9,
        "sink.flush_p50_s" -> p50(whB.map(ms(_, "addBatch"))),
        "stream.lat_samples" -> lat.size.toDouble,
        "stream.batches_beyond_p90" -> r.perBatchMax.count(_._2 > p90).toDouble)
    }
    Segment(e2e, layers, commits.size, Seq(
      s"$tag.events" -> lat.size.toDouble, s"$tag.batches" -> commits.size.toDouble,
      s"$tag.unseen" -> r.unseen.toDouble, s"$tag.drain_s" -> drainS, s"$tag.flush_s" -> flushS))
  }

  /** The final `content_stats` and `user_engagement` KV state must equal
    * the batch views over the same events. The KV writer recomputes the
    * views on each micro-batch's rows and the last write wins, so the
    * expected value of a key is the batch view over the last micro-batch
    * that held it. */
  def check(spark: SparkSession): Check = {
    import spark.implicits._
    val fed = for {
      c <- lastCommits
      f <- lastFeeds if f.offset > c.startOffset && f.offset <= c.endOffset
      s <- f.from until f.until
    } yield (message(s, (due(lastEpochMs, Rate, s) * 1000).toLong), gen.idBase + SeqBase + s, c.batchId)
    val batchOf = fed.map(m => (m._2, m._3)).toDF("event_id", "batch")
    val enriched = Enrichment.enrich(DebeziumParser.parseEvents(fed.map(_._1).toDF("value")).rows, dim)
      .rows.join(batchOf, "event_id").persist()
    // Each key's rows from the last micro-batch that upserted it: the view
    // over them equals that batch's view for the key.
    def lastWins(view: DataFrame => DataFrame, keys: Seq[String], key: Row => String,
        value: Row => String): Map[String, String] = {
      val last = EngagementViews.validOnly(enriched)
        .withColumn("__last", max(col("batch")).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("batch") === col("__last")).drop("__last")
      view(last).collect().map(r => key(r) -> value(r)).toMap
    }
    val wantStats = lastWins(EngagementViews.contentStats, Seq("content_id"),
      _.getAs[String]("content_id"),
      r => Seq("latest_engagement", "content_type", "content_title", "event_type", "device",
        "total_events").map(f => s"$f=${r.getAs[Any](f)}").mkString(","))
    val wantUser = lastWins(EngagementViews.userContentLatest, Seq("user_id", "content_id"),
      r => s"${r.getAs[String]("user_id")}:${r.getAs[String]("content_id")}",
      _.getAs[java.math.BigDecimal]("engagement_pct").toPlainString)
    enriched.unpersist()
    val store = lastSink.store.asScala.toMap
    def view(prefix: String) = store.collect {
      case (k, v) if k.startsWith(prefix + "/") => k.stripPrefix(prefix + "/") -> v
    }
    def diff(want: Map[String, String], got: Map[String, String]) =
      (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k)).toLong
    val badStats = diff(wantStats, view("content_stats"))
    val badUser = diff(wantUser, view("user_engagement"))
    val late = lastLatencies.count(_ > VisibleWithinS).toLong + lastUnseen
    val attempted = lastLatencies.length.toLong + lastUnseen
    Check(attempted, math.min(attempted, late + badStats + badUser),
      notes = Seq("kv_content_stats_keys" -> wantStats.size.toDouble,
        "kv_user_keys" -> wantUser.size.toDouble, "kv_mismatched" -> (badStats + badUser).toDouble,
        "events_late" -> late.toDouble))
  }
}

object Stream {
  /** Events per second: the project's throughput gate (BASELINE.md), half
    * the reference's 1M records per 5 minutes. At the full reference rate
    * the three queries fall behind on a 4-core box and the latency
    * measures the run's growing backlog instead of per-batch cost. */
  val Rate: Double = 1000000.0 / 600.0
  val TickS: Double = 0.05
  /** Unmeasured start of each timed segment's feed. */
  val LeadInS: Double = 8.0
  /** An event not visible in the KV views within this many seconds fails. */
  val VisibleWithinS: Double = 5.0
  /** Sequence number of the first stream event. */
  val SeqBase: Long = 1L << 32
}
