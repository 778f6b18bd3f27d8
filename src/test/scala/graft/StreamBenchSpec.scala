package graft

/** The streaming bench's fault isolation (a section that throws is
  * dropped with a warning so it can't zero the others' signal) has a
  * flip side: a silently-broken section would just vanish from the
  * artifact. This spec pins that every section actually runs to
  * completion at the smallest fixture — a missing name or a zero row
  * count is a harness regression, caught by `sbt test` instead of a
  * reviewer diffing bench_detail.json across rounds. */
class StreamBenchSpec extends SparkSpec {

  test("a section whose second query fails to start leaves nothing running") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    var starts = 0
    val counter = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = starts += 1
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(counter)
    try {
      an[org.apache.spark.sql.AnalysisException] should be thrownBy
        StreamBench.withConf(spark, key ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          StreamBench.section(spark, "leak", Seq(IndexedSeq(1L, 2L)))(
            _.writeStream.format("noop"),
            // a batch frame cannot stream: this start throws
            _ => spark.range(1).writeStream)
        }
    } finally spark.streams.removeListener(counter)
    // the first query did start, and the failed second start stopped it
    starts shouldBe 1
    spark.streams.active shouldBe empty
    spark.conf.getOption(key) shouldBe prior
  }

  test("every stream bench section runs and fully drains at sf0.001") {
    // small volume floor: exercises the replication path (sf0.001 has
    // ~50 docs, so the doc sections must replicate to reach it) without
    // the bench's 100k-row default dominating `sbt test` wall time
    val floor = 500
    val sections = StreamBench.run(spark, "/root/testdata/sf0.001", floor)
    val byName = sections.map(s => s.name -> s).toMap
    byName.keySet shouldBe Set(
      "pipeline", "enrich_state", "enrich_ttl", "funnel", "budget", "pack",
      "dedup", "intake", "index", "search", "fsearch", "pps_sample",
      "content_stats",
      "score", "cms", "hll", "decontam", "xstrip", "lm_score", "lm_ratio",
      "nb_score", "media", "curation", "anomaly")
    sections.foreach { s =>
      withClue(s"section ${s.name}: ") {
        s.rows should be > 0L
        s.sec should be > 0.0
        s.batches should be > 0
      }
    }
    // the enricher twins measure the SAME input, and the TTL variant
    // must have drained every event (its completion signal is the
    // offset high-water mark — a tracking bug shows up as a short count)
    byName("enrich_ttl").rows shouldBe byName("enrich_state").rows
    // the pipeline's throughput unit is the full event volume
    byName("pipeline").rows shouldBe byName("enrich_state").rows
    // the document sections replicate to the volume floor — a section
    // quietly falling back to the raw fixture would reintroduce the
    // scheduling-overhead-dominated rps this floor exists to fix
    for (n <- Seq("budget", "pack", "dedup", "intake", "index",
        "pps_sample", "content_stats", "score", "cms", "decontam",
        "lm_score", "lm_ratio", "nb_score", "media", "curation"))
      withClue(s"section $n: ") {
        byName(n).rows should be >= floor.toLong
      }
    // `search` caps its query volume at min(floor, 5000) by per-query
    // cost (see StreamBench.searchSection) — assert against the capped
    // floor so raising the spec floor past the cap can't fail spuriously
    byName("search").rows should be >= math.min(floor, 5000).toLong
    byName("fsearch").rows should be >= math.min(floor, 5000).toLong
  }

  test("each section's clock is its per-chunk walls; TTL sections poll") {
    // The timed window: per chunk, add → processAllAvailable on the
    // clock, the ambient probe off it. So `sec` is exactly the sum of
    // the chunk walls, and every chunk carries its rows and its probe.
    // The TTL sections complete by polling and carry no chunk fields.
    val sections = StreamBench.run(spark, "/root/testdata/sf0.001", 500)
    sections should have size 24
    val polled = Set("enrich_ttl", "content_stats")
    sections.foreach { s =>
      withClue(s"section ${s.name}: ") {
        if (polled(s.name)) {
          s.chunkSec shouldBe empty
          s.chunkRows shouldBe empty
          s.chunkCalib shouldBe empty
        } else {
          s.chunkSec should not be empty
          s.chunkRows should have size s.chunkSec.size.toLong
          s.chunkCalib should have size s.chunkSec.size.toLong
          s.sec shouldBe s.chunkSec.sum +- 1e-9
          // enrich_state's first chunk is the dimension snapshot, fed
          // but not counted in the section's event rows
          val counted =
            if (s.name == "enrich_state") s.chunkRows.tail else s.chunkRows
          counted.sum shouldBe s.rows
        }
      }
    }
  }
}
