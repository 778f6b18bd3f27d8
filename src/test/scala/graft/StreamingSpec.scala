package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StatefulEnricher, StreamingFunnel, StreamingPipeline}

/** End-to-end Structured Streaming semantics over MemoryStream feeds:
  * CDC parse → enrich → views, watermarked windows, KV upserts, and the
  * reference-exact drop-on-miss stateful enricher. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StatefulEnricher._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def ts(s: String) = Timestamp.valueOf(s)

  private def eventMsg(id: Long, cid: String, durMs: Int, ts: String) =
    s"""{"payload":{"op":"c","after":{"id":$id,"content_id":"$cid",
       |"user_id":"u$id","event_type":"play","event_ts":"$ts",
       |"duration_ms":$durMs,"device":"ios","raw_payload":"{}"}}}"""
      .stripMargin.replace("\n", "")

  private lazy val contentDim = Seq(
    ("c1", "slug1", "Title1", "podcast", Some(100),
      Timestamp.valueOf("2025-08-01 00:00:00")))
    .toDF("id", "slug", "title", "content_type", "length_seconds", "publish_ts")

  test("stream-static enrichment + KV views via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(
      eventMsg(1, "c1", 30000, "2025-08-08T10:00:00.000000"),
      eventMsg(2, "c1", 90000, "2025-08-08T10:05:00.000000"),
      eventMsg(3, "cMISS", 1000, "2025-08-08T10:01:00.000000"))

    val enriched = StreamingPipeline.enrichStream(in.toDF(), contentDim)
    val sink = new StreamingPipeline.InMemoryKvSink
    StreamingPipeline.runOnce(
      StreamingPipeline.kvViewsWriter(enriched, sink)(tmp("ckpt-kv")))

    // c1's latest (event 2, 90s/100s = 90.00) wins the stats hash
    sink.get("content_stats", "c1").get should include("latest_engagement=90.00")
    sink.get("top_engagement", "c1:podcast:Title1") shouldBe Some("90.00")
    sink.get("user_engagement", "u2:c1") shouldBe Some("90.00")
    // the miss never reaches any view
    sink.store.keySet().forEach(k => assert(!k.contains("cMISS")))
    sink.close()
  }

  test("watermarked minute windows emit closed windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(
      eventMsg(1, "c1", 50000, "2025-08-08T10:00:10.000000"),
      eventMsg(2, "c1", 50000, "2025-08-08T10:00:40.000000"), // same triple → dedup
      eventMsg(3, "c1", 20000, "2025-08-08T10:01:10.000000"),
      // advances the watermark far past the windows above
      eventMsg(4, "c1", 10000, "2025-08-08T11:00:00.000000"))

    val enriched = StreamingPipeline.enrichStream(in.toDF(), contentDim)
    val out = StreamingPipeline.minuteWindowsStream(enriched)
    val q = out.writeStream.format("memory").queryName("mw")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("mw").orderBy("window_minute").collect()
    // 10:00 (deduped to one member, n=2) and 10:01 closed; 11:00 still open
    rows.length shouldBe 2
    rows(0).getAs[Long]("n_events") shouldBe 2L
    rows(1).getAs[Long]("n_events") shouldBe 1L
  }

  test("progress listener captures per-batch rows and watermark movement") {
    implicit val sqlCtx = spark.sqlContext
    val metrics = graft.streaming.StreamingMetrics.attach(spark)
    try {
      val in = MemoryStream[String]
      val enriched = StreamingPipeline.enrichStream(in.toDF(), contentDim)
      val q = StreamingPipeline.minuteWindowsStream(enriched)
        .writeStream.format("memory").queryName("obs")
        .outputMode("append").start()
      in.addData(eventMsg(1, "c1", 30000, "2025-08-08T10:00:00.000000"))
      q.processAllAvailable()
      in.addData(eventMsg(2, "c1", 30000, "2025-08-08T11:00:00.000000"))
      q.processAllAvailable()
      q.stop()
      // listener events are delivered asynchronously after the batch
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (metrics.totalInputRows("obs") < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      metrics.totalInputRows("obs") shouldBe 2L
      val withWm = metrics.batches.filter(b =>
        b.queryName == "obs" && b.eventTimeWatermark.exists(_ > "2025-08-08T09"))
      withWm should not be empty // the watermark advanced and was observable
    } finally spark.streams.removeListener(metrics)
  }

  test("late data beyond the watermark horizon is dropped (T4)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val enriched = StreamingPipeline.enrichStream(in.toDF(), contentDim)
    val out = StreamingPipeline.minuteWindowsStream(enriched)
    val q = out.writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    in.addData(
      eventMsg(1, "c1", 50000, "2025-08-08T10:00:10.000000"),
      eventMsg(2, "c1", 10000, "2025-08-08T11:00:00.000000")) // watermark → 10:50
    q.processAllAvailable()
    // 09:30 is 80 minutes behind the 10-minute watermark — dropped, and
    // the closed 10:00 window is NOT reopened or re-emitted
    in.addData(eventMsg(3, "c1", 30000, "2025-08-08T09:30:00.000000"))
    // advance the watermark further so everything closable closes
    in.addData(eventMsg(4, "c1", 10000, "2025-08-08T12:00:00.000000"))
    q.processAllAvailable()
    q.stop()
    val minutes = spark.table("late").collect()
      .map(_.getAs[java.sql.Timestamp]("window_minute").toString).sorted
    minutes shouldBe Array("2025-08-08 10:00:00.0", "2025-08-08 11:00:00.0")
  }

  test("hour-partitioned warehouse sink writes partition directories") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(
      eventMsg(1, "c1", 30000, "2025-08-08T10:59:00.000000"),
      eventMsg(2, "c1", 30000, "2025-08-08T11:01:00.000000"))
    val enriched = StreamingPipeline.enrichStream(in.toDF(), contentDim)
    val out = tmp("wh")
    StreamingPipeline.runOnce(
      StreamingPipeline.warehouseWriter(enriched, out, tmp("ckpt-wh")))
    val parts = new java.io.File(out).list().filter(_.startsWith("event_hour="))
    parts.toSet shouldBe Set("event_hour=2025-08-08-10", "event_hour=2025-08-08-11")
    spark.read.parquet(out).count() shouldBe 2
    // K3: an hour-filtered read-back prunes at the partition level — the
    // predicate lands in PartitionFilters, not a post-scan Filter, so at
    // 100 TB only the addressed hour's files are touched
    val pruned = spark.read.parquet(out)
      .filter(col("event_hour") === "2025-08-08-10")
    pruned.count() shouldBe 1
    val plan = pruned.queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [isnotnull(event_hour")
  }

  test("streaming exact dedup keeps first arrival per digest across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingPipeline.exactDedupStream(
      in.toDF().toDF("doc_id", "text", "ts"), "text", "ts")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    in.addData(
      (1L, "The quick fox", ts("2025-08-08 10:00:00")),
      (2L, "the  QUICK fox", ts("2025-08-08 10:00:30")), // same normalized text
      (3L, "other", ts("2025-08-08 10:01:00")))
    q.processAllAvailable()
    in.addData((4L, "THE QUICK  FOX", ts("2025-08-08 10:02:00"))) // dup, batch 2
    q.processAllAvailable()
    q.stop()
    spark.table("dedup").select("doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 3L) // one survivor per digest, state crossed batches
  }

  test("streaming changelog apply: latest op wins across batches, deletes tombstone") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Timestamp, String, Int)]
    val out = StreamingPipeline.applyChangelogStream(
      in.toDF().toDF("key", "seq", "ts", "op", "payload"),
      "key", "ts", "seq", "op")
    val q = out.writeStream.format("memory").queryName("chlog")
      .outputMode("update").start()
    in.addData(
      ("a", 1L, ts("2025-08-08 10:00:00"), "c", 10),
      ("a", 2L, ts("2025-08-08 10:01:00"), "u", 20),
      ("b", 3L, ts("2025-08-08 10:00:30"), "c", 30))
    q.processAllAvailable()
    in.addData(("b", 4L, ts("2025-08-08 10:02:00"), "d", 0)) // delete in batch 2
    q.processAllAvailable()
    q.stop()
    // update mode: take the LAST emitted row per key
    val state = spark.table("chlog").collect()
      .groupBy(_.getAs[String]("key"))
      .map { case (k, rows) => k -> rows.maxBy(_.getAs[Long]("seq")) }
    state("a").getAs[Int]("payload") shouldBe 20
    state("a").getAs[Boolean]("is_deleted") shouldBe false
    state("b").getAs[Boolean]("is_deleted") shouldBe true // state crossed batches
  }

  test("streaming curation: gates drop junk before dedup state, dups collapse") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val english = "the cat and the dog sit on the mat with it, as good friends do."
    val out = StreamingPipeline.curateStream(
      in.toDF().toDF("doc_id", "text", "ts"), "text", "ts")
    val q = out.writeStream.format("memory").queryName("curate")
      .outputMode("append").start()
    in.addData(
      (1L, english, ts("2025-08-08 10:00:00")),
      (2L, "zz qq ww ee rr tt yy uu ii oo pp", ts("2025-08-08 10:00:10")), // lang gate
      (3L, english.toUpperCase, ts("2025-08-08 10:00:20"))) // dup of 1 after normalize
    q.processAllAvailable()
    q.stop()
    spark.table("curate").select("doc_id").as[Long].collect().sorted shouldBe
      Array(1L)
  }

  test("streaming corpus-frequency scoring matches the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the cat sat", ts("2025-08-08 10:00:00")),
      (2L, "the the the", ts("2025-08-08 10:00:10")),
      (3L, "zz cat", ts("2025-08-08 10:00:20"))) // zz is out-of-vocab
    // vocabulary pinned from a corpus snapshot: the/4, cat/2, sat/1
    val vocab = Seq(("the", 4L), ("cat", 2L), ("sat", 1L))
      .toDF("tok", "corpus_freq")
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingPipeline.corpusFreqStream(
      in.toDF().toDF("doc_id", "text", "ts"), vocab, "text", "doc_id", "ts")
    val q = out.writeStream.format("memory").queryName("cfreq")
      .outputMode("update").start()
    val (b1, b2) = docs.splitAt(2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("cfreq").orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1: (4+2+1)/3; doc 2: 12/3; doc 3: (0+2)/2 — OOV counts 0
    got shouldBe Seq(
      (1L, 3L, 7L, 7.0 / 3),
      (2L, 3L, 12L, 4.0),
      (3L, 2L, 2L, 1.0))
  }

  test("streaming count-min sketch equals the batch sketch after full replay") {
    implicit val sqlCtx = spark.sqlContext
    // the sketch cells ARE the aggregation state (1,024 counters
    // regardless of volume) and cell-wise addition is the merge — so a
    // stream drained in chunks must land on exactly the batch frame
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Sketch.cmsSketch(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms_sketch")
      .outputMode("complete").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("cms_sketch").orderBy("r", "b")
      .as[(Long, Long, Long)].collect().toSeq
    val want = graft.operators.Sketch.cmsSketch(docs.toDF("doc_id", "text"))
      .orderBy("r", "b").as[(Long, Long, Long)].collect().toSeq
    got should not be empty
    got shouldBe want
  }

  test("streaming HLL register table equals the batch sketch after full replay") {
    implicit val sqlCtx = spark.sqlContext
    // the 256 registers ARE the aggregation state (constant at any
    // ingest volume) and register-wise MAX is the merge — idempotent,
    // so a stream drained in chunks (or replaying duplicates) lands on
    // exactly the batch register table
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Sketch.hllRegisters(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("hll_sketch")
      .outputMode("complete").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    in.addData(b1); q.processAllAvailable()
    // re-feed a duplicate slice: max-merge must absorb it with no drift
    in.addData(b2 ++ b1.take(3)); q.processAllAvailable()
    q.stop()
    val got = spark.table("hll_sketch").orderBy("bucket")
      .as[(Long, Long)].collect().toSeq
    val want = graft.operators.Sketch.hllRegisters(docs.toDF("doc_id", "text"))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    got should not be empty
    got shouldBe want
  }

  test("streaming KMV minima equal the batch sketch after full replay") {
    implicit val sqlCtx = spark.sqlContext
    // the ≤ k-value set IS the aggregation state (constant at any
    // ingest volume) and union-then-trim is the merge — set semantics,
    // so a stream drained in chunks (or replaying duplicates) lands on
    // exactly the batch value list
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Sketch.kmvMins(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("kmv_sketch")
      .outputMode("complete").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    in.addData(b1); q.processAllAvailable()
    // re-feed a duplicate slice: set semantics must absorb it, no drift
    in.addData(b2 ++ b1.take(3)); q.processAllAvailable()
    q.stop()
    val got = spark.table("kmv_sketch").orderBy("rk")
      .as[(Long, Long)].collect().toSeq
    val want = graft.operators.Sketch.kmvMins(docs.toDF("doc_id", "text"))
      .orderBy("rk").as[(Long, Long)].collect().toSeq
    got should not be empty
    got shouldBe want
  }

  test("streaming decontamination monitor equals the batch leak row after chunked replay") {
    implicit val sqlCtx = spark.sqlContext
    // the twin of curate_kmv_decontam's sketch half, running the SAME
    // Sketch.kmvDecontam kernel: two per-split KMV sketches ARE the
    // aggregation state (2 × ≤8 KB at any ingest volume); every
    // micro-batch emits the refreshed leak estimate, and after the full
    // corpus has streamed through — in chunks, with a duplicate slice
    // re-fed (at-least-once delivery is free under set semantics) —
    // the final row equals the batch kernel on the same documents,
    // column for column including the needs_scan gate bit.
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Sketch.kmvDecontam(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("kmv_decontam")
      .outputMode("complete").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    in.addData(b1); q.processAllAvailable()
    // mid-stream the monitor already serves a well-formed row
    spark.table("kmv_decontam").count() shouldBe 1L
    in.addData(b2 ++ b1.take(3)); q.processAllAvailable()
    q.stop()
    val got = spark.table("kmv_decontam")
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    val want = graft.operators.Sketch.kmvDecontam(
        docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    got.length shouldBe 1
    got shouldBe want
    // and the batch registered row's sketch half is this same kernel:
    // its (k_m, overlap, jac_est_bp, est_inter, needs_scan) columns
    // must match the twin's final row verbatim
    val reg = SparkEntry.queries("curate_kmv_decontam")(
        spark, "/root/testdata/sf0.001")
      .select(col("k_m"), col("overlap"), col("jac_est_bp"),
        col("est_inter"), col("needs_scan"))
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    reg shouldBe got
  }

  test("streaming quantile histogram equals the batch sketch after full replay") {
    implicit val sqlCtx = spark.sqlContext
    // the ≤ ~128 quarter-bit buckets ARE the aggregation state and
    // cell-wise addition is the merge (corpus_qhist_merge grades the
    // law in batch) — a stream drained in chunks lands on exactly the
    // batch histogram
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Sketch.qhistSketch(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qhist_sketch")
      .outputMode("complete").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("qhist_sketch").orderBy("bucket")
      .as[(Long, Long)].collect().toSeq
    val want = graft.operators.Sketch.qhistSketch(docs.toDF("doc_id", "text"))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    got should not be empty
    got shouldBe want
  }

  test("streaming DQ gate routes rows to clean vs quarantine with check names") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.lang.Long, java.lang.Double, Timestamp)]
    val (clean, bad) = StreamingPipeline.dqGateStream(
      in.toDF().toDF("key", "value", "ts"), "key", "value", 0.0, 100.0, "ts")
    val q1 = clean.writeStream.format("memory").queryName("dq_clean")
      .outputMode("append").start()
    val q2 = bad.writeStream.format("memory").queryName("dq_bad")
      .outputMode("append").start()
    in.addData(
      (1L: java.lang.Long, 50.0: java.lang.Double, ts("2025-08-08 10:00:00")),
      (null.asInstanceOf[java.lang.Long], 60.0: java.lang.Double, ts("2025-08-08 10:00:01")),
      (3L: java.lang.Long, 150.0: java.lang.Double, ts("2025-08-08 10:00:02")),
      (4L: java.lang.Long, null.asInstanceOf[java.lang.Double], ts("2025-08-08 10:00:03")))
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    spark.table("dq_clean").select("key").as[Long].collect() shouldBe Array(1L)
    val quarantined = spark.table("dq_bad").collect()
      .map(r => Option(r.getAs[java.lang.Long]("key")).map(_.toLong) ->
        r.getAs[scala.collection.Seq[String]]("failed_checks").toSeq).toMap
    quarantined(None) shouldBe Seq("null_key")
    quarantined(Some(3L)) shouldBe Seq("range_value")
    quarantined(Some(4L)) shouldBe Seq("range_value")
  }

  test("streaming funnel advances per-key state across batches, ignores regressions") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int, Timestamp)]
    val out = StreamingFunnel.funnelStream(
      in.toDF().toDF("key", "step", "ts"), nSteps = 3)
    val q = out.toDF().writeStream.format("memory").queryName("sfunnel")
      .outputMode("update").start()
    in.addData(
      ("u1", 0, ts("2025-08-08 10:00:00")),
      ("u1", 1, ts("2025-08-08 10:01:00")),
      ("u2", 1, ts("2025-08-08 10:00:00")), // click before any view: no entry
      ("u3", 0, ts("2025-08-08 10:00:30")))
    q.processAllAvailable()
    in.addData(
      ("u1", 2, ts("2025-08-08 10:05:00")), // completes across batches
      ("u3", 1, ts("2025-08-08 10:00:00"))) // earlier than u3's view: ignored
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("sfunnel").collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getInt(1)).max }
    latest shouldBe Map("u1" -> 3, "u3" -> 1)
  }

  test("stream-stream interval join pairs clicks with in-horizon views only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, String, Timestamp)]
    val views = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingPipeline.intervalJoinStreams(
      clicks.toDF().toDF("click_id", "user", "click_ts"), "user", "click_ts",
      views.toDF().toDF("view_id", "v_user", "view_ts"), "v_user", "view_ts",
      lookbackSeconds = 600L)
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    views.addData(
      (100L, "u1", ts("2025-08-08 10:00:00")), // in horizon for click 1
      (101L, "u1", ts("2025-08-08 09:40:00")), // too old (> 10 min before)
      (102L, "u2", ts("2025-08-08 10:01:00"))) // wrong user
    clicks.addData((1L, "u1", ts("2025-08-08 10:05:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj")
      .select("click_id", "view_id").as[(Long, Long)].collect()
    rows.toSet shouldBe Set((1L, 100L))
  }

  test("left-outer stream-stream join emits null matches once the watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, String, Timestamp)]
    val views = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingPipeline.intervalJoinStreams(
      clicks.toDF().toDF("click_id", "user", "click_ts"), "user", "click_ts",
      views.toDF().toDF("view_id", "v_user", "view_ts"), "v_user", "view_ts",
      lookbackSeconds = 600L, watermark = "1 minute", joinType = "leftOuter")
    val q = out.writeStream.format("memory").queryName("ssjo")
      .outputMode("append").start()
    views.addData((100L, "u1", ts("2025-08-08 10:00:00")))
    clicks.addData(
      (1L, "u1", ts("2025-08-08 10:05:00")), // matches view 100
      (2L, "u9", ts("2025-08-08 10:05:00"))) // never matches
    q.processAllAvailable()
    // advance both watermarks far past click 2's horizon so the unmatched
    // row can be finalized with a null match
    views.addData((900L, "uX", ts("2025-08-08 12:00:00")))
    clicks.addData((9L, "uX", ts("2025-08-08 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjo")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    rows(1L) shouldBe Some(100L)
    rows(2L) shouldBe None // emitted with nulls, not dropped
  }

  test("streaming session windows merge within the gap and close past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    in.addData(
      (1L, ts("2025-08-08 10:00:00")),
      (1L, ts("2025-08-08 10:10:00")), // merges: gap < 30 min
      (1L, ts("2025-08-08 11:30:00")), // new session
      (1L, ts("2025-08-08 15:00:00"))) // watermark driver; still open
    val out = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("sess").orderBy("session_window.start").collect()
    rows.map(_.getAs[Long]("count")) shouldBe Array(2L, 1L)
    rows(0).getAs[org.apache.spark.sql.Row]("session_window")
      .getAs[Timestamp]("end") shouldBe ts("2025-08-08 10:40:00")
  }

  test("warehouse sink is exactly-once across a checkpoint restart (T1/T5)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val out = tmp("wh-eo")
    val ckpt = tmp("ckpt-eo")

    in.addData(eventMsg(1, "c1", 30000, "2025-08-08T10:00:00.000000"))
    StreamingPipeline.runOnce(StreamingPipeline.warehouseWriter(
      StreamingPipeline.enrichStream(in.toDF(), contentDim), out, ckpt))

    // restart from the same checkpoint with more source data: only the
    // new offsets are processed — no duplicates of event 1
    in.addData(eventMsg(2, "c1", 40000, "2025-08-08T10:01:00.000000"))
    StreamingPipeline.runOnce(StreamingPipeline.warehouseWriter(
      StreamingPipeline.enrichStream(in.toDF(), contentDim), out, ckpt))

    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    ids shouldBe Array(1L, 2L)
  }

  test("stateful enricher: drop-on-miss before dim arrival, enrich after") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[EventRec]
    val content = MemoryStream[ContentRec]

    val enriched = StatefulEnricher.enrich(
      StatefulEnricher.union(events.toDS(), content.toDS()))
    val q = enriched.writeStream.format("memory").queryName("se")
      .outputMode("append").start()

    def ev(id: Long, cid: String) = EventRec(id, cid, s"u$id", "play",
      Timestamp.valueOf("2025-08-08 10:00:00"), Some(30000), "ios", "{}")

    // batch 1: event before its dimension row exists → miss
    events.addData(ev(1, "c9"))
    q.processAllAvailable()
    // batch 2: dimension arrives
    content.addData(ContentRec("c9", "s", "T", "video", Some(100),
      Timestamp.valueOf("2025-08-01 00:00:00")))
    q.processAllAvailable()
    // batch 3: same-key event now enriches; state held the dim row
    events.addData(ev(2, "c9"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("se").orderBy("event_id").collect()
    rows.map(_.getAs[Boolean]("matched")) shouldBe Array(false, true)
    rows(1).getAs[java.math.BigDecimal]("engagement_pct")
      .compareTo(new java.math.BigDecimal("30.00")) shouldBe 0
  }

  test("stateful enricher TTL: idle dimension state evicts, drop-on-miss resumes") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[EventRec]
    val content = MemoryStream[ContentRec]

    def ev(id: Long, cid: String) = EventRec(id, cid, s"u$id", "play",
      Timestamp.valueOf("2025-08-08 10:00:00"), Some(30000), "ios", "{}")

    // Both records added BEFORE start: batch 0 deterministically contains
    // the dimension row and its event (processGroup applies dimension
    // upserts first within a group), so the enrich happens inside one
    // batch — immune to the TTL clock between batches.
    content.addData(ContentRec("c9", "s", "T", "video", Some(100),
      Timestamp.valueOf("2025-08-01 00:00:00")))
    events.addData(ev(1, "c9"))

    val enriched = StatefulEnricher.enrich(
      StatefulEnricher.union(events.toDS(), content.toDS()),
      stateTtlMs = Some(1000L))
    val q = enriched.writeStream.format("memory").queryName("sett")
      .outputMode("append").start()

    // ProcessingTimeTimeout makes shouldRunAnotherBatch always true — the
    // engine keeps running (empty) batches to evaluate timeouts, so
    // `processAllAvailable` would never observe a no-new-data state and
    // block forever. Poll the sink for the expected row count instead.
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("sett").count() < n
        && System.currentTimeMillis() < deadline) Thread.sleep(50)
      spark.table("sett").count() shouldBe n
    }

    awaitRows(1)
    // idle past the TTL: the continuously-running timeout batches evict
    // c9's dimension row (any state access would have re-armed the
    // clock). A fixed sleep flakes under load — the eviction batch may
    // not have run yet — so poll the state-operator metrics until the
    // store actually reports zero live keys (eviction observed), with
    // the same bounded deadline the row polls use.
    locally {
      val deadline = System.currentTimeMillis() + 60000
      def stateRows: Option[Long] = Option(q.lastProgress)
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
      while (!stateRows.contains(0L)
        && System.currentTimeMillis() < deadline) Thread.sleep(50)
      stateRows shouldBe Some(0L)
    }
    // same-key event now misses — drop-on-miss channel resumed
    events.addData(ev(2, "c9"))
    awaitRows(2)
    q.stop()

    val rows = spark.table("sett").orderBy("event_id").collect()
    rows.map(r => (r.getAs[Long]("event_id"), r.getAs[Boolean]("matched"))) shouldBe
      Array((1L, true), (2L, false))
  }

  test("streaming rolling z-score flags the same rows as the batch window") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window

    // stable series with one spike; spans two micro-batches so the ring
    // buffer must survive the batch boundary to score the later rows.
    // Frame size matters: in an n-row frame the largest possible z-score
    // is (n−1)/√n, so 2-sigma detection of a lone spike needs n ≥ 7 —
    // frame = 8 here (the registered batch query uses 24).
    val data = Seq[(String, Long, String, Long)](
      ("a", 1L, "2025-08-08 10:00:00", 10), ("a", 2L, "2025-08-08 10:01:00", 11),
      ("a", 3L, "2025-08-08 10:02:00", 10), ("a", 4L, "2025-08-08 10:03:00", 9),
      ("a", 5L, "2025-08-08 10:04:00", 10), ("a", 6L, "2025-08-08 10:05:00", 11),
      ("a", 7L, "2025-08-08 10:06:00", 10), ("a", 8L, "2025-08-08 10:07:00", 100),
      ("a", 9L, "2025-08-08 10:08:00", 10), ("a", 10L, "2025-08-08 10:09:00", 11),
      ("a", 11L, "2025-08-08 10:10:00", 10))
    def toDf(rows: Seq[(String, Long, String, Long)]) = rows
      .map { case (k, id, t, x) => (k, id, Timestamp.valueOf(t), x) }
      .toDF("key", "event_id", "ts", "x")

    // batch oracle: same frame/minN over the full series via one window
    val w = Window.partitionBy("key").orderBy("ts", "event_id")
      .rowsBetween(-7, Window.currentRow)
    val expected = toDf(data)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("q", sum(col("x") * col("x")).over(w))
      .filter(col("n") >= 4 &&
        (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))
          > lit(4) * (col("n") * col("q") - col("s") * col("s")))
      .select("event_id").as[Long].collect().toSet

    val in = MemoryStream[(String, Long, Timestamp, Long)]
    val q = graft.streaming.StreamingAnomaly.rollingZScoreStream(
        in.toDF().toDF("key", "event_id", "ts", "x"), frame = 8, minN = 4)
      .writeStream.format("memory").queryName("anomaly")
      .outputMode("append").start()
    val (b1, b2) = data.splitAt(6)
    in.addData(b1.map { case (k, id, t, x) => (k, id, Timestamp.valueOf(t), x) })
    q.processAllAvailable()
    in.addData(b2.map { case (k, id, t, x) => (k, id, Timestamp.valueOf(t), x) })
    q.processAllAvailable()
    q.stop()

    val got = spark.table("anomaly").select("event_id").as[Long].collect().toSet
    got shouldBe expected
    expected should contain(8L) // the spike really is in the flagged set
  }

  test("streaming exact dedup admits only the first arrival of a digest") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.StreamingDedup.dedupStream(
        in.toDF().toDF("doc_id", "text", "ts"), "ts", "10 seconds")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    // normalization parity with the batch digest: case, interior
    // whitespace runs, and padding all collapse to one key
    in.addData(
      (1L, "Hello  World", Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, "hello world", Timestamp.valueOf("2024-01-01 00:00:02")),
      (3L, "another doc", Timestamp.valueOf("2024-01-01 00:00:03")))
    q.processAllAvailable()
    // a duplicate arriving in a LATER micro-batch inside the horizon is
    // still dropped (digest state persists across batches)
    in.addData(
      (4L, " HELLO WORLD ", Timestamp.valueOf("2024-01-01 00:00:04")),
      (5L, "fresh text", Timestamp.valueOf("2024-01-01 00:00:05")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
    got shouldBe Set(1L, 3L, 5L)
  }

  test("streaming dedup state is evicted past the watermark horizon (bounded-state trade)") {
    // the scale story ("state is horizon x arrival rate, not corpus
    // size") implies its trade: a duplicate arriving AFTER its digest's
    // entry aged out of the horizon is re-admitted. Pin the trade so a
    // future 'fix' can't silently make the state unbounded.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.StreamingDedup.dedupStream(
        in.toDF().toDF("doc_id", "text", "ts"), "ts", "5 seconds")
      .writeStream.format("memory").queryName("sdedup_ttl")
      .outputMode("append").start()
    in.addData((1L, "expiring doc", Timestamp.valueOf("2024-01-01 00:00:01")))
    q.processAllAvailable()
    // advance the watermark far past 00:00:01 + 5s with an unrelated doc
    in.addData((2L, "clock advancer", Timestamp.valueOf("2024-01-01 00:10:00")))
    q.processAllAvailable()
    // same digest as doc 1, but its state entry is beyond the horizon
    in.addData((3L, "EXPIRING  DOC", Timestamp.valueOf("2024-01-01 00:10:01")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sdedup_ttl").select("doc_id").as[Long].collect().toSet
    got shouldBe Set(1L, 2L, 3L)
  }

  test("composed intake: dedup gate and packer chain in one query, duplicates don't consume chunk space") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, String, Timestamp)]
    // ctx = 5 tokens; every doc below has 3 tokens
    val q = graft.streaming.StreamingIntake.intakeStream(
        in.toDF().toDF("source", "doc_id", "text", "ts"),
        "ts", "10 seconds", ctx = 5L)
      .writeStream.format("memory").queryName("intake")
      .outputMode("append").start()

    in.addData(
      ("web", 1L, "alpha beta gamma", Timestamp.valueOf("2024-01-01 00:00:01")),
      ("web", 2L, "delta epsilon zeta", Timestamp.valueOf("2024-01-01 00:00:02")))
    q.processAllAvailable()
    // doc 3 duplicates doc 1 (case/whitespace variant): the gate drops
    // it BEFORE the packer, so the source's token position stays at 6
    // and doc 4 starts there — pack-then-dedup would have put doc 4 at 9
    in.addData(
      ("web", 3L, "  ALPHA  beta GAMMA ", Timestamp.valueOf("2024-01-01 00:00:03")),
      ("web", 4L, "eta theta iota", Timestamp.valueOf("2024-01-01 00:00:04")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("intake")
      .select("doc_id", "first_chunk", "last_chunk", "straddles")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    rows shouldBe Seq(
      (1L, 0L, 0L, false), // tokens [0,3)
      (2L, 0L, 1L, true), // tokens [3,6) — straddles the 5-token boundary
      (4L, 1L, 1L, false)) // tokens [6,9): duplicate 3 consumed nothing
  }

  test("streaming chunk packing carries the token position across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.StreamingPack.packStream(
        in.toDF().toDF("source", "doc_id", "n_tokens"), ctx = 100L)
      .writeStream.format("memory").queryName("pack")
      .outputMode("append").start()

    // batch 1: 60 tokens fills [0,60) → chunk 0; 50 tokens spans
    // [60,110) → straddles the chunk-0/1 boundary
    in.addData(("web", 1L, 60L), ("web", 2L, 50L))
    q.processAllAvailable()
    // batch 2: the stream position (110) persists across batches —
    // 120 tokens spans [110,230) → chunks 1..2; a fresh source starts
    // its own stream at position 0
    in.addData(("web", 3L, 120L), ("books", 10L, 30L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("pack").orderBy("source", "doc_id")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
    rows shouldBe Seq(
      ("books", 10L, 30L, 0L, 0L, false),
      ("web", 1L, 60L, 0L, 0L, false),
      ("web", 2L, 50L, 0L, 1L, true),
      ("web", 3L, 120L, 1L, 2L, true))
  }

  test("streaming token budget admits per source until the quota fills") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.StreamingBudget.admitStream(
        in.toDF().toDF("source", "doc_id", "n_tokens"), budget = 100L)
      .writeStream.format("memory").queryName("budget")
      .outputMode("append").start()

    // batch 1: 60 + 50 admits both (second doc crosses the boundary and
    // is taken — fill-until-full); third is rejected, quota is spent
    in.addData(("web", 1L, 60L), ("web", 2L, 50L), ("web", 3L, 10L))
    q.processAllAvailable()
    // batch 2: web stays closed ACROSS batches (state persisted);
    // a fresh source starts its own quota
    in.addData(("web", 4L, 5L), ("books", 10L, 70L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("budget").orderBy("source", "doc_id")
      .as[(String, Long, Long, Long)].collect().toSeq
    rows shouldBe Seq(
      ("books", 10L, 70L, 70L),
      ("web", 1L, 60L, 60L), ("web", 2L, 50L, 110L))
  }

  test("streaming PPS sampler picks at step crossings with state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.StreamingSample.sampleStream(
        in.toDF().toDF("source", "doc_id", "w"), step = 100L)
      .writeStream.format("memory").queryName("pps")
      .outputMode("append").start()

    // batch 1: cum 60 (no crossing), 110 (crosses 100 → pick), 130
    in.addData(("web", 1L, 60L), ("web", 2L, 50L), ("web", 3L, 20L))
    q.processAllAvailable()
    // batch 2: web resumes at 130 — 130+80=210 crosses 200; a doc
    // heavier than the step always gets picked (spans ≥1 boundary)
    in.addData(("web", 4L, 80L), ("books", 10L, 250L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("pps").orderBy("source", "doc_id")
      .as[(String, Long, Long, Long)].collect().toSeq
    rows shouldBe Seq(
      ("books", 10L, 250L, 250L),
      ("web", 2L, 50L, 110L), ("web", 4L, 80L, 210L))
  }

  test("streaming PPS sampler equals its batch replay on the fixture") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextAnalysis
    // fixture sources hold ~1.2-1.7k tokens each → step 500 gives 2-3
    // crossings per source (step above a source's total would vacuously
    // pick nothing)
    val step = 500L
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source").cast("string"), col("doc_id").cast("long"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"))

    // batch replay: per-source running weight in doc_id order (= the
    // stream's arrival order below), same crossing rule
    val win = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = docs
      .withColumn("cum_weight", sum(col("w")).over(win))
      .filter(expr(s"cum_weight div $step") >
        expr(s"(cum_weight - w) div $step"))
      .select(col("source"), col("doc_id"), col("w"), col("cum_weight"))
      .as[(String, Long, Long, Long)].collect().toSet

    val in = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.StreamingSample.sampleStream(
        in.toDF().toDF("source", "doc_id", "w"), step)
      .writeStream.format("memory").queryName("pps_fixture")
      .outputMode("append").start()
    docs.as[(String, Long, Long)].collect().sortBy(_._2)
      .grouped(100).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    q.stop()

    val got = spark.table("pps_fixture")
      .as[(String, Long, Long, Long)].collect().toSet
    got should not be empty
    got shouldBe expected
  }

  test("streaming recipe (gate → dedup → split) equals its batch replay on the fixture") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Dedup, TextAnalysis}
    val docs = graft.ingest.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source").cast("string"), col("doc_id").cast("long"),
        col("text"))

    // batch replay of the streaming DAG over the fixture slice: NTILE
    // quality gate → keep-first-per-digest (the stream is fed in doc_id
    // order, so first arrival = min id) → hash split tag
    val gw = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    val dw = Window.partitionBy(md5(Dedup.normalize(col("text"))))
      .orderBy(col("doc_id"))
    val bucket = graft.functions.PortableHash.hash60(
      concat(col("doc_id").cast("string"), lit("|split"))) % 100
    val expected = docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("qt", ntile(4).over(gw)).filter(col("qt") === 1)
      .withColumn("rn", row_number().over(dw)).filter(col("rn") === 1)
      .select(col("source"), col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      .as[(String, Long, String)].collect().toSet

    val cutoffs = graft.streaming.StreamingIntake.qualityCutoffs(docs)
    val corpus = docs.as[(String, Long, String)].collect().sortBy(_._2)
    // the fixture has no duplicate digests (precondition of the exact
    // min-id pin: intra-batch keep-first order is not doc_id-ordered),
    // so the dedup stage is exercised by a SECOND full replay with
    // shifted ids — every replica either fails the gate (same quality,
    // id past the boundary) or reaches the gate's digest state and is
    // dropped; either way pass 2 must add nothing.
    val span = corpus.map(_._2).max + 1L
    val replay = corpus.map { case (s, id, t) => (s, id + span, t) }
    val in = MemoryStream[(String, Long, String, Timestamp)]
    val q = graft.streaming.StreamingIntake.recipeStream(
        in.toDF().toDF("source", "doc_id", "text", "ts"),
        cutoffs, "ts", "1 hour")
      .writeStream.format("memory").queryName("srecipe")
      .outputMode("append").start()
    (corpus ++ replay).grouped(250).foreach { chunk =>
      in.addData(chunk.map { case (s, id, t) =>
        (s, id, t, new Timestamp(1704067200000L + (id % span) * 1000L)) })
      q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("srecipe").select("source", "doc_id", "split")
      .as[(String, Long, String)].collect().toSet
    got should not be empty
    got shouldBe expected
    // the gate really gates (top quartile, not everything) and every
    // split shows up in the admitted set
    got.size should be < 500
    got.map(_._3) shouldBe Set("train", "val", "test")
  }

  test("streaming ANN index maintenance equals the batch index build row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    // the batch capstone over the fixture — trained centroids/codebook
    val expected = SparkEntry.queries("sim_index_build")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    expected should not be empty

    val vecs = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val cents = graft.queries.SimilarityQueries.trainedCentroidRows(spark, d)
    val cb = graft.queries.SimilarityQueries.trainedCodebookRows(spark, d)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingIndex.indexStream(
        in.toDF().toDF("vec_id", "qv"), cents, cb)
      .writeStream.format("memory").queryName("sindex")
      .outputMode("append").start()
    vecs.grouped(100).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    q.stop()

    val got = spark.table("sindex")
      .as[(Long, Long, Long, Long)].collect().toSet
    got shouldBe expected
  }

  test("streaming ADC serving equals the batch PQ search on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("sim_pq_adc")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    expected should not be empty

    val qvecs = graft.ingest.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val codes = graft.queries.SimilarityQueries.pqCodesFrame(spark, d)
      .localCheckpoint()
    val cb = graft.queries.SimilarityQueries.trainedCodebookFrame(spark, d)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveWriter(
        in.toDF().toDF("query_id", "qv"), codes, cb, 10) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-adc")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("streaming probe-pruned serving equals the batch IVF-PQ search on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("sim_ivfpq_search")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    expected should not be empty

    val qvecs = graft.ingest.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val cellCodes = graft.queries.SimilarityQueries.indexedCodes(spark, d)
      .localCheckpoint()
    val cb = graft.queries.SimilarityQueries.trainedCodebookFrame(spark, d)
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.servePrunedWriter(
        in.toDF().toDF("query_id", "qv"), cellCodes, cb, cents,
        nprobe = 3, k = 10) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-ivfpq")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("index hot-swap: pre-swap serves the stale generation, post-swap the retrained one") {
    // the serving half of the drift → retrain loop (sim_index_drift
    // measures the trigger, sim_index_retrain closes the fit gap): the
    // SAME streaming query answers from the stale (drift-cohort) index
    // until the operator swaps the AtomicReference, and from the
    // retrained index afterwards — both phases pinned row-identical to
    // their generation's batch search
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val SQ = graft.queries.SimilarityQueries
    val qvecsDf = graft.ingest.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("query_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val qvecs = qvecsDf.as[(Long, Seq[Double])].collect().toIndexedSeq
    val cb = SQ.trainedCodebookFrame(spark, d)
    val stale = graft.streaming.StreamingSearch.IvfPqIndex(
      SQ.indexedCodesUnder(spark, d, SQ.cohortCentroids(spark, d))
        .localCheckpoint(),
      cb, SQ.cohortCentroids(spark, d))
    val retrained = graft.streaming.StreamingSearch.IvfPqIndex(
      SQ.indexedCodes(spark, d).localCheckpoint(), cb,
      SQ.trainedCentroidsFrame(spark, d))
    def batchOf(ix: graft.streaming.StreamingSearch.IvfPqIndex) =
      graft.operators.Similarity.ivfPqSearch(
          qvecsDf, ix.cellCodes, ix.cb, ix.cents, 3, 10)
        .as[(Long, Long, Long, Long)].collect().toSet
    val staleExpected = batchOf(stale)
    val retrainedExpected = batchOf(retrained)
    staleExpected should not be empty
    retrainedExpected should not be empty

    val ref = new java.util.concurrent.atomic.AtomicReference(stale)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.servePrunedSwappableWriter(
        in.toDF().toDF("query_id", "qv"), ref, nprobe = 3, k = 10) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-swap")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    val preSwap = buf.synchronized { val s = buf.toSet; buf.clear(); s }
    ref.set(retrained) // THE SWAP — no restart, next batch probes gen 1
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    preSwap shouldBe staleExpected
    buf.toSet shouldBe retrainedExpected
  }

  test("index ADD path: admitted delta is searchable next batch, zero downtime") {
    // the lifecycle beat BETWEEN retrains: the serving query keeps
    // answering from the offline-built base while the ADD path assigns
    // arrivals against the SAME stale-generation centroids and swaps
    // base ∪ delta in — the next batch searches the admitted vectors,
    // both phases pinned row-identical to their searchable-side's
    // batch kernel (the batch twin sim_index_serve_delta grades the
    // union against a full rebuild)
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val cents = graft.queries.SimilarityQueries.cohortCentroids(spark, d)
      .localCheckpoint()
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val (baseAsg, _) = graft.operators.Similarity.ivfAssignCentroids(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "qv", cents, 1)
    val (deltaAsg, _) = graft.operators.Similarity.ivfAssignCentroids(
      e.filter(col("vec_id") % 2 =!= 0), "vec_id", "qv", cents, 1)
    val base = baseAsg.localCheckpoint()
    val union = base.unionByName(deltaAsg.localCheckpoint())
    val qvecsDf = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("qv"))
    val qvecs = qvecsDf.as[(Long, Seq[Double])].collect().toIndexedSeq
    def batchOf(asg: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.knnIvfFilteredQueries(qvecsDf,
          "query_id", "qv", 10, asg, cents, nprobe = 3,
          excludeSelfId = false)
        .as[(Long, Long, Int, Double)].collect()
        .map { case (q, n, r, c) => (q, n, r.toLong, c) }.toSet
    val preExpected = batchOf(base)
    val postExpected = batchOf(union)
    preExpected should not be empty
    // the admit must CHANGE answers (delta neighbors enter shortlists)
    postExpected should not be preExpected

    val ref = new java.util.concurrent.atomic.AtomicReference(base)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveAssignedSwappableWriter(
        in.toDF().toDF("query_id", "qv"), ref, cents,
        nprobe = 3, k = 10) { out =>
        buf.synchronized {
          buf ++= out.as[(Long, Long, Int, Double)].collect()
            .map { case (qi, n, r, c) => (qi, n, r.toLong, c) }
        }
      }
      .option("checkpointLocation", tmp("ckpt-admit")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    val preAdmit = buf.synchronized { val s = buf.toSet; buf.clear(); s }
    ref.set(union) // THE ADMIT — no restart, next batch sees the delta
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    preAdmit shouldBe preExpected
    buf.toSet shouldBe postExpected
  }

  test("streaming refined serving equals the batch IVFADC+R re-rank on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("sim_ivfpq_rerank")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    expected should not be empty

    val corpus = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val qvecs = corpus.filter(col("vec_id") % 50 === 0)
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val resCodes = graft.queries.SimilarityQueries
      .residualCellCodes(spark, d).localCheckpoint()
    val resCb = graft.queries.SimilarityQueries
      .trainedResCodebookFrame(spark, d)
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveRerankWriter(
        in.toDF().toDF("query_id", "qv"), resCodes, resCb, cents,
        corpus.localCheckpoint(), nprobe = 3, rWidth = 30, k = 10) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-rerank")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("streaming filtered serving equals the batch filtered search on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("sim_filtered_search")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSet
    expected should not be empty

    val qvecs = graft.ingest.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val nbrs = graft.queries.SimilarityQueries
      .filteredAssignedFrame(spark, d).localCheckpoint()
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveFilteredWriter(
        in.toDF().toDF("query_id", "qv"), nbrs, cents,
        nprobe = 3, k = 10) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Double)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-filt")).start()
    qvecs.grouped(10).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("graph ADD path: admitted delta reachable next batch, edge list untouched") {
    // the graph index's lifecycle beat between rebuilds: edges stay
    // the offline BASE build; the admit swaps base ∪ delta into the
    // serve-side assignment only, and the next query batch reaches
    // delta vectors through the entry-cell scan (the batch twin
    // sim_graph_serve_delta grades this composition against its
    // oracle)
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val (baseAsg, _) = graft.operators.Similarity.ivfAssignCentroids(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "qv", cents, 1)
    val (deltaAsg, _) = graft.operators.Similarity.ivfAssignCentroids(
      e.filter(col("vec_id") % 2 =!= 0), "vec_id", "qv", cents, 1)
    val base = baseAsg.localCheckpoint()
    val union = base.unionByName(deltaAsg.localCheckpoint())
    val edges = graft.queries.SimilarityQueries.nnGraphEdgesBase(spark, d)
    val qvecsDf = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("qv"))
    val qvecs = qvecsDf.as[(Long, Seq[Double])].collect().toIndexedSeq
    def batchOf(asg: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.graphSearchQueries(qvecsDf, cents, asg,
          edges, hops = 2, beam = 10, k = 10, excludeSelfId = false)
        .as[(Long, Long, Long, Long)].collect().toSet
    val preExpected = batchOf(base)
    val postExpected = batchOf(union)
    preExpected should not be empty
    // the admit must CHANGE answers: delta (odd-id) neighbors enter
    // served top-10s only after the swap
    postExpected should not be preExpected
    preExpected.map(_._2).forall(_ % 2 == 0) shouldBe true
    postExpected.map(_._2).exists(_ % 2 != 0) shouldBe true

    val ref = new java.util.concurrent.atomic.AtomicReference(base)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveGraphSwappableWriter(
        in.toDF().toDF("query_id", "qv"), ref, cents, edges,
        hops = 2, beam = 10, k = 10, excludeSelfId = false) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-gadmit")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    val preAdmit = buf.synchronized { val s = buf.toSet; buf.clear(); s }
    ref.set(union) // THE ADMIT — no restart, no edge-list rebuild
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    preAdmit shouldBe preExpected
    buf.toSet shouldBe postExpected
  }

  test("graph REBUILD hot-swap: fresh edges serve the next batch, zero downtime") {
    // the lifecycle beat sim_graph_delta_drift prices: serving runs on
    // the STALE generation (base-cohort edges + grown assignment)
    // until the offline rebuild lands; one reference-set swaps BOTH
    // index sides and the next query batch traverses the fresh edges
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val (unionAsg0, probes) = graft.operators.Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, 2)
    val unionAsg = unionAsg0.localCheckpoint()
    val edgesStale = graft.queries.SimilarityQueries.nnGraphEdgesBase(spark, d)
    // the rebuilt generation: fresh edges over the FULL corpus (what
    // the offline build ships after the drift trigger fires)
    val edgesFresh = graft.operators.Similarity.nnGraph(
      probes.select(col("query_id").as("id"), col("cell_id")),
      e.select(col("vec_id"), col("qv").as("v")), 6).localCheckpoint()
    val qvecsDf = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("qv"))
    val qvecs = qvecsDf.as[(Long, Seq[Double])].collect().toIndexedSeq
    def batchOf(edges: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.graphSearchQueries(qvecsDf, cents,
          unionAsg, edges, hops = 2, beam = 10, k = 10,
          excludeSelfId = false)
        .as[(Long, Long, Long, Long)].collect().toSet
    val preExpected = batchOf(edgesStale)
    val postExpected = batchOf(edgesFresh)
    preExpected should not be empty
    // the rebuild must CHANGE answers (the drift row's whole point)
    postExpected should not be preExpected

    val ref = new java.util.concurrent.atomic.AtomicReference(
      graft.streaming.StreamingSearch.GraphIndex(unionAsg, edgesStale))
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveGraphRebuildSwappableWriter(
        in.toDF().toDF("query_id", "qv"), ref, cents,
        hops = 2, beam = 10, k = 10, excludeSelfId = false) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-grebuild")).start()
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    val preSwap = buf.synchronized { val s = buf.toSet; buf.clear(); s }
    ref.set(graft.streaming.StreamingSearch.GraphIndex(
      unionAsg, edgesFresh)) // THE REBUILD SWAP — no restart
    qvecs.grouped(4).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    preSwap shouldBe preExpected
    buf.toSet shouldBe postExpected
  }

  test("streaming span decontamination equals the batch strip and the oracle-green rollup") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    import graft.functions.PortableHash
    def split(c: org.apache.spark.sql.Column) = {
      val b = PortableHash.hash60(
        concat(c.cast("string"), lit("|split"))) % 100
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    val docs0 = graft.ingest.Tables.documents(spark, d)
    // the trained artifact: the held-out (test) corpus's capped gram
    // index, built once and checkpointed
    val refGrams = graft.operators.SpanDedup.cappedGrams(
      docs0.filter(split(col("doc_id")) === "test"),
      "doc_id", "text", k = 8, occCap = 32).localCheckpoint()
    val train = docs0.filter(split(col("doc_id")) === "train")
      .select(col("doc_id"), col("text"))
    val expected = graft.operators.SpanDedup.stripSpans(
        train, "doc_id", "text",
        graft.operators.SpanDedup.spansAgainst(
          refGrams, train, "doc_id", "text", k = 8, minLen = 10))
      .as[(Long, Long, Long, String)].collect().toSet
    expected should not be empty
    expected.count(_._3 > 0) should be > 0 // the fixture leaks (379 tokens)

    val rows = train.as[(Long, String)].collect().toIndexedSeq.sortBy(_._1)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val in = MemoryStream[(Long, String)]
    // serve through the PRODUCTION path: the Bloom gram pre-filter
    // built offline next to the index (the bench's xstrip shape) —
    // the batch `expected` above runs bare, so this equality also
    // re-proves sketch-transparency end to end
    val sketch = graft.operators.SpanDedup.refGramSketch(refGrams)
    sketch should not be empty
    val q = graft.streaming.StreamingSpanDedup.decontamStripWriter(
        in.toDF().toDF("doc_id", "text"), refGrams,
        "doc_id", "text", k = 8, minLen = 10, sketch) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, String)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-spandc")).start()
    // three chunks: each batch strips statelessly against the static index
    rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { c =>
      in.addData(c); q.processAllAvailable()
    }
    q.stop()
    buf.toSet shouldBe expected

    // and the streamed output's per-source rollup IS the oracle-green
    // batch row — the twin serves exactly what the gate verified
    val got = buf.toSeq.toDF("doc_id", "n_toks", "n_removed", "clean_text")
      .join(docs0.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("n_removed")).as("n_removed"),
        count(when(col("n_removed") > 0, 1)).as("n_docs_hit"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batchRow = SparkEntry.queries("curate_substring_decontam")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    got shouldBe batchRow
  }

  test("streaming graph-traversal serving equals the batch beam search on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("sim_graph_search")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSet
    expected should not be empty

    val qvecs = graft.ingest.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val cents = graft.queries.SimilarityQueries.trainedCentroidsFrame(spark, d)
    val e = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv"))
    val (assigned, _) = graft.operators.Similarity.ivfAssignCentroids(
      e, "vec_id", "qv", cents, nprobe = 1)
    val asg = assigned.localCheckpoint()
    val edges = graft.queries.SimilarityQueries.nnGraphEdges(spark, d)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingSearch.serveGraphWriter(
        in.toDF().toDF("query_id", "qv"), cents, asg, edges,
        hops = 2, beam = 10, k = 10, excludeSelfId = true) { out =>
        buf.synchronized { buf ++= out.as[(Long, Long, Long, Long)].collect() }
      }
      .option("checkpointLocation", tmp("ckpt-graph")).start()
    // two chunks: the second batch proves the static sides (assignment,
    // edge list) serve every arrival batch identically
    qvecs.grouped(math.max(1, qvecs.length / 2 + 1)).foreach { c =>
      in.addData(c); q.processAllAvailable()
    }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("streaming hybrid serving equals the batch RRF fusion on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("corpus_hybrid_rrf")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    expected should not be empty

    val ix0 = graft.queries.TextQueries.lexIndex(spark, d)
    val ix = ix0.copy(tf = ix0.tf.localCheckpoint(),
      df = ix0.df.localCheckpoint(), dl = ix0.dl.localCheckpoint())
    val corpusVecs = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv")).localCheckpoint()
    val qdocs = graft.ingest.Tables.documents(spark, d)
      .filter(col("doc_id") % 100 === 0)
      .join(corpusVecs.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("qv"))
      .as[(Long, String, Option[Seq[Double]])].collect().toIndexedSeq
    val buf =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, String, Option[Seq[Double]])]
    val q = graft.streaming.StreamingHybrid.serveWriter(
        in.toDF().toDF("query_doc", "text", "qv"), ix, corpusVecs) { out =>
        buf.synchronized {
          buf ++= out.as[(Long, Long, Long, Long, Long, Long)].collect()
        }
      }
      .option("checkpointLocation", tmp("ckpt-hyb")).start()
    qdocs.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("streaming graph-RRF recommendation equals the batch fusion on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("corpus_graph_rrf")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    expected should not be empty
    // both single-branch shapes must occur for the pin to mean much
    expected.count(_._4 == 0L) should be > 0 // dense-only survivors
    expected.count(_._5 == 0L) should be > 0 // graph-only survivors

    // static once-built serving structures, checkpointed (LexIndex
    // doctrine): the adjacency, the converged PPR table, the corpus
    val edges = graft.queries.AnalyticsQueries
      .lpaEdges(spark, d).localCheckpoint()
    val ppr = graft.queries.AnalyticsQueries
      .pprRankTrace(spark, d).last.localCheckpoint()
    val corpusVecs = graft.ingest.Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => round(x.cast("double") * 1000))
          .as("qv")).localCheckpoint()
    val qvecs = corpusVecs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_doc"), col("qv"))
      .as[(Long, Seq[Double])].collect().toIndexedSeq
    val buf =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingHybrid.serveGraphRrfWriter(
        in.toDF().toDF("query_doc", "qv"), edges, ppr, corpusVecs) { out =>
        buf.synchronized {
          buf ++= out.as[(Long, Long, Long, Long, Long, Long)].collect()
        }
      }
      .option("checkpointLocation", tmp("ckpt-grrf")).start()
    qvecs.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("streaming cross-modal serving equals the batch mm fusion on the same query set") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("mm_hybrid_rrf")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    expected should not be empty
    // both single-branch shapes must occur for the pin to mean much
    expected.count(_._4 == 0L) should be > 0 // feature-only survivors
    expected.count(_._5 == 0L) should be > 0 // lexical-only survivors

    // static once-built serving structures, checkpointed (LexIndex
    // doctrine): the lexical index and the decoded signature corpus
    val ix0 = graft.queries.TextQueries.lexIndex(spark, d)
    val ix = ix0.copy(tf = ix0.tf.localCheckpoint(),
      df = ix0.df.localCheckpoint(), dl = ix0.dl.localCheckpoint())
    val featCorpus = graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.fakeMediaFromDocuments(
          graft.ingest.Tables.documents(spark, d)),
        new graft.operators.Multimodal.FakeDecoder(8)).toDF()
      .select(col("media_id").as("vec_id"),
        transform(col("features"), x => round(x.cast("double") * 1000))
          .as("qv")).localCheckpoint()
    // each arriving query carries its document text AND its decoded
    // feature vector — the media item as the serving path sees it
    val qdocs = graft.ingest.Tables.documents(spark, d)
      .filter(col("doc_id") % 25 === 0)
      .join(featCorpus.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("qv"))
      .as[(Long, String, Seq[Double])].collect().toIndexedSeq
    qdocs should not be empty
    val buf =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long)]()
    val in = MemoryStream[(Long, String, Seq[Double])]
    val q = graft.streaming.StreamingHybrid.serveMediaRrfWriter(
        in.toDF().toDF("query_doc", "text", "qv"), ix, featCorpus) { out =>
        buf.synchronized {
          buf ++= out.as[(Long, Long, Long, Long, Long, Long)].collect()
        }
      }
      .option("checkpointLocation", tmp("ckpt-mmrrf")).start()
    qdocs.grouped(2).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    buf.toSet shouldBe expected
  }

  test("streaming DSIR scoring equals the batch importance weights row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("curate_dsir_weights")(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    expected should not be empty

    // the trained weight table ships to the scorer as 64 longs
    val weights = graft.queries.DedupQueries.dsirWeightArray(spark, d)
    weights.length shouldBe 64
    val docs = graft.ingest.Tables.documents(spark, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toIndexedSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingScore.scoreStream(
        in.toDF().toDF("doc_id", "text"), weights)
      .writeStream.format("memory").queryName("sdsir")
      .outputMode("append").start()
    docs.grouped(20).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()

    spark.table("sdsir").as[(Long, Long, Long)].collect().toSet shouldBe expected
  }

  test("streaming LM scoring equals the batch perplexity scores row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("text_lm_score")(spark, d)
      .as[(Long, String, Long, Long)].collect().toSet
    expected should not be empty

    // the trained grid ships to the scorer as 65,536 longs (512 KB —
    // still broadcast-to-writers index metadata)
    val wbits = graft.queries.TextQueries.lmWeightArray(spark, d)
    wbits.length shouldBe 65536
    val docs = graft.ingest.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toIndexedSeq
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingScore.lmScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), wbits)
      .writeStream.format("memory").queryName("slm")
      .outputMode("append").start()
    docs.grouped(20).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()

    spark.table("slm").as[(Long, String, Long, Long)].collect()
      .toSet shouldBe expected
  }

  test("streaming ratio scoring equals the batch target+background scores") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("text_lm_ratio_score")(spark, d)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    expected should not be empty

    val wT = graft.queries.TextQueries.lmWeightArray(spark, d)
    val wB = graft.queries.TextQueries.lmBgWeightArray(spark, d)
    val docs = graft.ingest.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toIndexedSeq
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingScore.lmRatioScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), wT, wB)
      .writeStream.format("memory").queryName("slmr")
      .outputMode("append").start()
    docs.grouped(20).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()

    spark.table("slmr").as[(Long, String, Long, Long, Long)].collect()
      .toSet shouldBe expected
  }

  test("streaming NB classification equals the batch argmax row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("text_nb_score")(spark, d)
      .as[(Long, String, Long, String, Long)].collect().toSet
    expected should not be empty

    val meta = graft.queries.TextQueries.nbClassMeta(spark, d)
    val docs = graft.ingest.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toIndexedSeq
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingScore.nbScoreStream(
        in.toDF().toDF("doc_id", "lang", "text"), meta)
      .writeStream.format("memory").queryName("snb")
      .outputMode("append").start()
    docs.grouped(20).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()

    spark.table("snb").as[(Long, String, Long, String, Long)].collect()
      .toSet shouldBe expected
  }

  test("sharded resampler decomposes into per-hash-slice global samplers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingIntake
    import graft.functions.PortableHash
    // synthetic weighted docs: enough mass that every shard crosses
    val step = 1000L
    val docs = (1L to 400L).map { id =>
      StreamingIntake.PipeDoc(s"src${id % 4}", id, id % 50 + 1,
        w = (PortableHash.seedLong(s"w$id") % 90L).abs + 10L)
    }
    def ord(id: Long): Long = PortableHash.seedLong(s"$id|dsir")
    def run(shards: Int, chunks: Seq[Seq[StreamingIntake.PipeDoc]]): Set[Long] = {
      val in = MemoryStream[StreamingIntake.PipeDoc]
      val q = StreamingIntake.resampleStream(in.toDS(), step, shards)
        .writeStream.format("memory").queryName(s"rs$shards")
        .outputMode("append")
        .option("checkpointLocation", tmp(s"ckpt-rs$shards")).start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      spark.table(s"rs$shards").as[StreamingIntake.PipeDoc]
        .collect().map(_.doc_id).toSet
    }
    // (1) the 4-sharded run IS the union of the 1-shard (exact global)
    // sampler run over each hash-slice separately — stratification
    // changes WHICH strata exist, not the sampler's arithmetic.
    // (One batch on both sides: batching changes the walk ORDER — cum
    // carries across batches but each batch re-sorts only its own
    // rows — which moves pick positions identically for any shard
    // count; the decomposition pin isolates the sharding itself.)
    val sharded = run(4, Seq(docs))
    val bySlice = (0 until 4).map { s =>
      val slice = docs.filter(d => ord(d.doc_id) % 4 == s)
      run(1, Seq(slice))
    }.reduce(_ union _)
    sharded shouldBe bySlice
    // (2) every shard finds signal at this mass, and the stratified
    // total stays within one step-remainder per shard of the global
    val global = run(1, Seq(docs))
    val totalW = docs.map(_.w).sum
    sharded should not be empty
    math.abs(sharded.size - global.size) should be <= 4
    global.size.toLong shouldBe totalW / step
  }

  test("streaming pipeline equals the batch capstone manifest on a one-batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("curate_pipeline")(spark, d)
      .as[(String, String, Long, Long)].collect().toSet
    expected should not be empty

    // trained/broadcast metadata, computed batch-side: quality cutoffs
    // over the exact-dedup keepers (== the corpus here — the fixture
    // has no exact duplicates), the semantic drop list, the LM grid,
    // and the DSIR weight table
    val docs0 = graft.ingest.Tables.documents(spark, d)
    val cutoffs = graft.streaming.StreamingIntake.qualityCutoffs(
      docs0.select(col("source"), col("doc_id"), col("text")))
      .localCheckpoint()
    val semDrops = graft.queries.SimilarityQueries.semDroppedIds(spark, d)
      .localCheckpoint()
    val lmW = graft.queries.TextQueries.lmWeightArray(spark, d)
    val dsirW = graft.queries.DedupQueries.dsirWeightArray(spark, d)

    val docs = docs0
      .select(col("source"), col("doc_id"), col("lang"), col("text"))
      .as[(String, Long, String, String)].collect().toIndexedSeq
      .sortBy(_._2)
    val in = MemoryStream[(String, Long, String, String)]
    val stream = in.toDF().toDF("source", "doc_id", "lang", "text")
      .withColumn("ts", (lit(1704067200L) + col("doc_id")).cast("timestamp"))
    val lmBg = graft.queries.TextQueries.lmBgWeightArray(spark, d)
    val lmTheta = graft.queries.TextQueries.lmCalibTheta(spark, d)
    val q = graft.streaming.StreamingIntake.pipelineStream(
        stream, cutoffs, semDrops, lmW, lmBg, lmTheta, dsirW,
        graft.queries.DedupQueries.PipelineStep, "ts", "10 minutes")
      .writeStream.format("memory").queryName("spipe")
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt-pipe")).start()
    // ONE batch: the resampler's within-batch sort reproduces the
    // batch capstone's global (bucket, hash, id) order exactly
    in.addData(docs)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("spipe").as[(String, Long, Long, String)].collect()
    val manifest = got.groupBy(r => (r._1, r._4)).map {
      case ((src, split), rs) =>
        (src, split, rs.length.toLong, rs.map(_._3).sum)
    }.toSet
    manifest shouldBe expected
  }
}
