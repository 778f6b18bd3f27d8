package graft.perfbench

import org.apache.spark.sql.SparkSession

/** `cdc_pipeline`: the reference pipeline's life cycle in one run. First
  * the initial snapshot ([[Backfill]]: bulk parse, enrich, views and the
  * warehouse, which sets `rate_per_s`), then the streaming tail ([[Stream]]:
  * open-loop micro-batches into the KV views, the minute windows and the
  * warehouse, which set `lat_p50_s` and `lat_p90_s`).
  */
final class Pipeline(ctx: Ctx) extends Workload {
  private val backfill = new Backfill(ctx)
  private val stream = new Stream(ctx)

  def setup(spark: SparkSession): Unit = {
    backfill.setup(spark)
    stream.setup(spark)
  }

  def run(spark: SparkSession, seconds: Double, obs: Obs, tag: String): Segment = {
    val b = backfill.run(spark, seconds, obs, tag)
    val s = stream.run(spark, seconds, obs, tag)
    val e2e = b.e2e.filter(_._1 == "rate_per_s") ++ s.e2e.filter(_._1 != "rate_per_s")
    Segment(e2e, b.layers ++ s.layers, b.units + s.units,
      b.notes ++ s.notes ++ Seq(s"$tag.backfill_lat_p50_s" -> b.e2e.toMap.apply("lat_p50_s"),
        s"$tag.stream_rate_per_s" -> s.e2e.toMap.apply("rate_per_s")))
  }

  def check(spark: SparkSession): Check = {
    val b = backfill.check(spark)
    val s = stream.check(spark)
    Check(b.attempted + s.attempted, b.failed + s.failed, b.layers ++ s.layers,
      b.notes ++ s.notes ++ Seq("backfill_failed" -> b.failed.toDouble,
        "stream_failed" -> s.failed.toDouble))
  }
}
