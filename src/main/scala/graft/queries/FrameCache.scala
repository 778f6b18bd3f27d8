package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared intermediate-frame memo for the query registry.
  *
  * A real pipeline run computes an expensive intermediate (the MinHash
  * pair graph, the co-purchase pair frame) ONCE and every downstream
  * report reads it; the registry's one-query-one-DataFrame contract
  * would otherwise force each consumer to recompute the subtree. Frames
  * are `localCheckpoint`ed (eager, lineage severed) and memoized per
  * (session, sfDir, kind); entries of stopped sessions are dropped so
  * test suites that cycle sessions don't pin dead plans. The cache
  * assumes fixture data under `sfDir` is immutable for the session
  * lifetime — regenerating parquet in place requires [[clearAll]].
  *
  * Timing fairness: [[graft.Bench]]/[[graft.Profile]] call
  * [[clearAll]] at pass start so each bench pass PAYS every shared
  * computation exactly once — min-over-passes can never discard the
  * compute cost entirely.
  *
  * NOTE: do not nest [[memo]] calls directly — resolve inner frames
  * BEFORE entering the outer memo (a nested computeIfAbsent on the same
  * map is a recursive update and throws).
  */
private[graft] object FrameCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]

  // Wall seconds each memo build cost since the last [[clearAll]] —
  // `localCheckpoint` is eager, so the build's full compute lands inside
  // the timed window. Bench reads this to itemize shared-frame cost as
  // its own line item instead of letting the first consumer absorb it.
  private val buildSec =
    new java.util.concurrent.ConcurrentHashMap[String, Double]

  def memo(s: SparkSession, d: String, kind: String)(
      build: => DataFrame): DataFrame = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, d, kind)
    // get → build → putIfAbsent, NEVER computeIfAbsent: a build that
    // reaches another memo (directly or through a helper several calls
    // deep) would re-enter the map while a bin lock is held, and
    // ConcurrentHashMap only DETECTS the recursion ("Recursive update")
    // when both keys happen to hash into the same bin — identity-hashed
    // session keys made that a per-JVM coin flip (r16 hit it: one bench
    // run's prewarm died where every previous run of the same code
    // passed). Building outside the lock makes nested memo resolution
    // safe by construction; the cost is a benign possible double-build
    // under concurrent first access (the bench and the suites drive
    // each session single-threaded).
    val existing = cache.get(key)
    if (existing != null) existing
    else {
      val t0 = System.nanoTime()
      val df = build.localCheckpoint()
      buildSec.put(kind, (System.nanoTime() - t0) / 1e9)
      val prev = cache.putIfAbsent(key, df)
      if (prev != null) prev else df
    }
  }

  /** Cache probe WITHOUT a build closure — for callers whose frame
    * CONSTRUCTION is itself eager (e.g. a builder chain containing its
    * own `localCheckpoint`): `memo`'s by-name argument only defers
    * evaluation to the miss path when the caller can construct lazily;
    * when it can't (the no-nesting rule forces pre-resolution), probe
    * with [[get]] first and construct only on a miss. */
  def get(s: SparkSession, d: String, kind: String): Option[DataFrame] =
    Option(cache.get((s, d, kind)))

  /** kind → build seconds for every memo built since the last
    * [[clearAll]], in stable (sorted) order. */
  def buildSeconds: Seq[(String, Double)] = {
    val it = buildSec.entrySet().iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    buf.sortBy(_._1).toSeq
  }

  /** Drop all memoized frames and best-effort unpersist their RDD
    * blocks (they are pairs-scale — kilobytes-to-megabytes — but
    * repeated bench passes shouldn't wait on the ContextCleaner). */
  def clearAll(): Unit = {
    cache.values.forEach { df =>
      try df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))
      catch { case _: Throwable => () }
    }
    cache.clear()
    buildSec.clear()
  }
}
