package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed two-level prefix sum — the reusable kernel behind every
  * running-total operator in the engine (token-budget admission, chunk
  * packing, systematic PPS sampling; future operators should call this
  * instead of re-deriving the shape).
  *
  * A running sum over a deterministic global order is the textbook case
  * where a naive plan dies at scale: `SUM(...) OVER (ORDER BY ...)` with
  * no partition key collapses the whole table into ONE task. The kernel
  * decomposes it:
  *
  *   1. rows carry a hash bucket (`bktCol`, caller-derived from the same
  *      hash that defines the traversal order, so bucket ranges are
  *      contiguous in that order);
  *   2. per-(partition, bucket) LOCAL cumsums run in parallel — each a
  *      bounded slice, never a whole partition;
  *   3. per-bucket totals aggregate to a rows=buckets frame whose own
  *      running sum (the only single-task window — `buckets` rows by
  *      construction) yields each bucket's starting offset;
  *   4. offsets broadcast back and local + offset = global cumsum. No
  *      task ever scans a partition end-to-end, nothing shuffles twice.
  *
  * Since r17 the per-bucket totals (step 3) are read off the SAME
  * windowed frame as the local cumsums — the bucket total is a second
  * window expression over the identical (partition, order) spec, and the
  * offsets branch aggregates the window output (which already satisfies
  * the aggregation's required hashpartitioning). Both branches therefore
  * share ONE exchange over ONE scan (ReusedExchange); the previous shape
  * re-scanned the input — and re-computed the caller's scan-side hash
  * projections, the expensive part of every caller's plan — a second
  * time just to build the 64-row offsets frame.
  *
  * Correctness is oracle-proven by the callers: their DuckDB oracles
  * compute the same totals as ONE flat sequential window and the rows
  * hash-match — the decomposition is exactly the sequential semantics.
  *
  * `orderCols` must be a total order within each (partition, bucket) —
  * include a unique id tiebreaker — and `(bktCol, orderCols)` must sort
  * identically to the intended global order (true when the bucket is
  * `hash % buckets` and the first order column is that same hash).
  */
object PrefixSum {

  private def windowed(df: DataFrame, partCols: Seq[String],
      bktCol: String, orderCols: Seq[Column], valueCol: String): DataFrame = {
    val partBy = partCols.map(col)
    val spec = Window.partitionBy(partBy :+ col(bktCol): _*)
      .orderBy(orderCols: _*)
    df
      // explicit non-null bucket filter: the final offsets join adds
      // isnotnull(bkt) to the MAIN branch by join-key inference, which
      // (without this) pushed below the window on one branch only and
      // broke the two branches' canonical equality — the offsets
      // exchange re-planned (and re-scanned) instead of reusing. Every
      // caller derives the bucket as `hash % buckets` of a non-null
      // key, and null-bucket rows could never survive the kernel's
      // inner offsets join anyway.
      .filter(col(bktCol).isNotNull)
      .withColumn("__local_cum", sum(col(valueCol)).over(
        spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // the bucket total as a full-frame window over the SAME
      // (partition, order) spec: one Window node computes both columns,
      // and consumers that need only totals still plan the identical
      // exchange subtree underneath (the ReusedExchange contract)
      .withColumn("__bkt_sum", sum(col(valueCol)).over(
        spec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** The per-(partition, bucket) totals frame the kernel's offsets
    * derive from — one row per bucket, columns (partCols..., bktCol,
    * __bkt_sum). Exposed so callers needing a corpus/partition total
    * (e.g. [[ShardExport.shardPlan]]'s 1-row denominator) can aggregate
    * THIS frame and share the kernel's one exchange (ReusedExchange)
    * instead of paying another scan of the input. */
  def bucketTotals(df: DataFrame, partCols: Seq[String],
      bktCol: String, orderCols: Seq[Column], valueCol: String): DataFrame = {
    val partBy = partCols.map(col)
    windowed(df, partCols, bktCol, orderCols, valueCol)
      // every row of a (partition, bucket) group carries the same
      // __bkt_sum; max picks that value deterministically
      .groupBy(partBy :+ col(bktCol): _*)
      .agg(max(col("__bkt_sum")).as("__bkt_sum"))
  }

  /** Appends `cumCol` = running sum of `valueCol` over the global order
    * `(bktCol, orderCols)` within each `partCols` group (empty = one
    * global stream). `df` must already carry `bktCol`. */
  def bucketedRunningSum(df: DataFrame, partCols: Seq[String],
      bktCol: String, orderCols: Seq[Column], valueCol: String,
      cumCol: String): DataFrame = {
    val partBy = partCols.map(col)
    // bucket offsets: rows = buckets (per partition) — the single-task
    // window here is `buckets` rows by construction, not data-sized.
    // Spark's "WindowExec: No Partition Defined" warning on this node
    // is expected and safe: it fires on row COUNT it can't see, and
    // the count is the fixed bucket fan-out, never the corpus.
    val acrossBuckets = (if (partBy.isEmpty) Window.orderBy(col(bktCol))
      else Window.partitionBy(partBy: _*).orderBy(col(bktCol)))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals(df, partCols, bktCol, orderCols, valueCol)
      .withColumn("__offset",
        coalesce(sum(col("__bkt_sum")).over(acrossBuckets), lit(0L)))
      .select(partBy :+ col(bktCol) :+ col("__offset"): _*)
    windowed(df, partCols, bktCol, orderCols, valueCol)
      .join(broadcast(offsets), partCols :+ bktCol)
      .withColumn(cumCol,
        (col("__local_cum") + col("__offset")).cast("long"))
      .drop("__local_cum", "__bkt_sum", "__offset")
  }

  /** Hash buckets of the hash-ordered entry points below; the oracles'
    * `OracleSql.hashOrderSql` prints the same modulus. */
  val Buckets = 64

  /** Appends the hash order the kernel needs: `bktCol` = hash % Buckets,
    * `ordCol` = hash, so `(bktCol, ordCol)` sorts as the hash does. */
  def hashOrdered(df: DataFrame, hash: Column, bktCol: String = "bkt",
      ordCol: String = "ord"): DataFrame =
    df.withColumn(bktCol, hash % Buckets).withColumn(ordCol, hash)

  /** [[bucketedRunningSum]] over the pseudo-random order `hash` defines
    * (a salted [[graft.functions.PortableHash]] of the row's id), ties
    * broken by `ids`, which must make the order total. */
  def hashOrderedRunningSum(df: DataFrame, hash: Column,
      partCols: Seq[String], ids: Seq[Column], valueCol: String,
      cumCol: String): DataFrame =
    bucketedRunningSum(hashOrdered(df, hash), partCols, "bkt",
      col("ord") +: ids, valueCol, cumCol)
}
