package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.queries.FrameCache

/** `query_board`: a fixed list of registry queries, in a fixed order, over
  * fixture tables generated from the seed. Each pass starts from an empty
  * shared-frame memo, so the first consumer of a memo pays for it; the
  * first pass also pays each query's codegen and JIT, as a fresh session
  * does.
  * (A seeded order would move whole memo builds between queries from run
  * to run, and the per-query percentiles would measure the order.)
  * Each query is timed as build (the QueryDef builder, memo builds
  * included), planning (the physical plan of its QueryExecution) and
  * execution (collect on the same QueryExecution).
  */
final class Board(ctx: Ctx) extends Workload {
  import Board._

  private val dir = ctx.fixture.getOrElse(
    throw new IllegalArgumentException("query_board needs a fixture directory")).toString
  private var lastRows: Map[String, (StructType, Array[Row])] = Map.empty
  private var lastFailed: Map[String, String] = Map.empty

  def setup(spark: SparkSession): Unit = {
    // Untimed warm-up: session, codegen and fixture footers.
    SparkEntry.queries(WarmUp)(spark, dir).collect()
    FrameCache.clearAll()
  }

  private final case class Timed(name: String, build: Double, memo: Double,
      plan: Double, exec: Double) {
    def wall: Double = build + plan + exec
  }

  private def memoTotal: Double = FrameCache.buildSeconds.map(_._2).sum

  private def pass(spark: SparkSession, n: Int, obs: Obs, tag: String): Seq[Timed] = {
    val t = obs.tracer
    FrameCache.clearAll()
    val rows = Map.newBuilder[String, (StructType, Array[Row])]
    val failed = Map.newBuilder[String, String]
    val timed = Queries.flatMap { name =>
      val runId = s"$tag$n.$name"
      try {
        t.span("board.query", runId) {
          val m0 = memoTotal
          val t0 = System.nanoTime()
          val df = t.span("queries.build", runId) { SparkEntry.queries(name)(spark, dir) }
          val t1 = System.nanoTime()
          val m1 = memoTotal
          val qe = df.queryExecution
          t.span("planning.plan", runId) { qe.executedPlan }
          val t2 = System.nanoTime()
          val out = t.span("exec.exec", runId) { df.collect() }
          val t3 = System.nanoTime()
          rows += name -> (df.schema, out)
          Some(Timed(name, (t1 - t0) / 1e9, m1 - m0, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
        }
      } catch {
        case e: Throwable =>
          failed += name -> String.valueOf(e.getMessage).take(300)
          None
      }
    }
    lastRows = rows.result()
    lastFailed = failed.result()
    timed
  }

  def run(spark: SparkSession, seconds: Double, obs: Obs, tag: String): Segment = {
    val ps = Passes.run(seconds, NominalPassS)(n => pass(spark, n, obs, tag))
    val n = ps.size
    val totals = ps.map(_.map(_.wall).sum)
    val walls = ps.flatten.map(_.wall)
    val e2e = Seq(
      "rate_per_s" -> Queries.size / Stats.median(totals),
      "lat_p50_s" -> Stats.median(walls),
      "lat_p90_s" -> Stats.quantile(walls, 0.9))
    val all = ps.flatten
    def perPass(f: Timed => Double) = all.map(f).sum / n
    val layers =
      if (!obs.tracer.enabled) Nil
      else Seq(
        "queries.build_s" -> perPass(q => q.build - q.memo),
        "frame_cache.build_s" -> perPass(_.memo),
        "frame_cache.frames" -> FrameCache.buildSeconds.size.toDouble,
        "planning.plan_s" -> perPass(_.plan),
        "exec.exec_s" -> perPass(_.exec)) ++
        Families.map(f => s"board.${f}_s" -> perPass(q => if (family(q.name) == f) q.wall else 0.0))
    Segment(e2e, layers, n, Seq(s"$tag.passes" -> n.toDouble, s"$tag.board_s" -> Stats.median(totals)) ++
      ps.head.map(q => s"$tag.q.${q.name}_s" -> q.wall))
  }

  /** Writes each query's rows for the oracle comparison made outside the
    * JVM; a query that threw counts as failed here. */
  def check(spark: SparkSession): Check = {
    val out = ctx.work.resolve("board/out")
    Io.deleteTree(out)
    lastRows.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(name).toString)
    }
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"), Json.obj(Queries.flatMap(n =>
      oracle.get(n).map(sql => n -> Json.str(sql)))).getBytes(StandardCharsets.UTF_8))
    lastFailed.foreach { case (n, e) => System.err.println(s"query_board: $n failed: $e") }
    Check(Queries.size.toLong, lastFailed.size.toLong,
      notes = Seq("queries" -> Queries.size.toDouble))
  }
}

object Board {
  /** Headline queries of every family, few enough that one cold pass
    * fits a run on a 4-core box. */
  val Queries: Seq[String] = Seq(
    "cdc_enrich", "cdc_leaderboard", "cdc_content_stats",
    "rel_pricing_summary", "op_pps_sample",
    "dedup_exact", "dedup_minhash_pairs", "curate_recipe",
    "sim_knn_brute", "text_bpe_train", "corpus_hll_card",
    "graph_skew_mitigated", "mm_hybrid_rrf")

  val Families: Seq[String] =
    Seq("cdc", "rel", "op", "dedup", "curate", "sim", "text", "corpus", "graph", "mm")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** About the seconds one pass takes on a 4-core box; sets the pass count. */
  val NominalPassS: Double = 15.0

  /** The untimed warm-up query; it is not on the board. */
  val WarmUp = "cdc_enrich_miss"
}
