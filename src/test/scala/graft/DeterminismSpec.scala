package graft

import org.apache.spark.sql.functions._

/** Run-to-run determinism sweep: every registered query, executed
  * twice, must produce identical content (order-independent hash over
  * all columns). This is the invariant the whole oracle doctrine rests
  * on — a query whose result depends on partition count, merge order or
  * float summation order would be flaky at cluster scale even if one
  * lucky run hash-matched DuckDB.
  *
  * `adv_approx_sketches` is included since round 5: its output is the
  * error-bound BOOLEANS, not the raw estimates — percentile_approx's
  * merge-order sensitivity is orders of magnitude below the 5% gate, so
  * the visible result is stable.
  */
class DeterminismSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("every registered query is run-to-run deterministic") {
    SparkEntry.queries.toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        def contentHash(): (Any, Long) = {
          // cold shared frames per run — otherwise the second run of the
          // near-dup queries reads the first run's localCheckpoint and
          // the pin compares the cache to itself (vacuous)
          graft.queries.FrameCache.clearAll()
          val df = fn(spark, d)
          val cols = df.columns.sorted
            .map(c => coalesce(col(c).cast("string"), lit("␀")))
          df.select(xxhash64(concat_ws("", cols: _*)).as("h"))
            .agg(expr("bit_xor(h)").as("s"), count(lit(1)).as("n"))
            .collect().map(r => (r.get(0), r.getLong(1))).head
        }
        withClue(s"$name: ") { contentHash() shouldBe contentHash() }
      }
  }
}
