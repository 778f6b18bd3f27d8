package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Deterministic shard export — the TERMINAL stage of a training-data
  * pipeline: assign the curated corpus to `nShards` training shards
  * with (a) a reproducible, seed-free global interleave and (b)
  * near-perfectly balanced per-shard token counts. Everything upstream
  * (curation, packing, budgeting, mixing) computes up to the shard
  * boundary; this operator computes the boundary itself — the
  * manifest a 100 TB run hands to the trainer.
  *
  * Construction (pure relational, no rand(), no driver loop):
  *
  *   1. interleave order: each unit (document or chunk) is ranked by a
  *      [[PortableHash]] of its id — the codebase's replayable-
  *      randomness doctrine. Same input ⇒ byte-identical order, on any
  *      partitioning, any cluster, any engine version (the DuckDB
  *      oracle replays it bit-exactly).
  *   2. global token prefix sum over that order via the distributed
  *      two-level kernel ([[PrefixSum.bucketedRunningSum]] — 64
  *      bucket-local cumsums in parallel, one rows=buckets offsets
  *      window; no task ever scans the corpus end-to-end).
  *   3. shard = floor(start_offset · nShards / total_tokens) — each
  *      shard owns one CONTIGUOUS total/nShards-token slice of the
  *      interleaved stream (a prefix-sum bin, not round-robin), so
  *      per-shard token sums deviate from the ideal total/nShards by
  *      less than one maximal unit: the greedy token-balanced
  *      assignment, closed-form. The total rides a 1-row broadcast
  *      (the scalar-cross doctrine), never a second corpus window.
  *
  * Within a shard the write order is `cum_tokens` — the plan IS the
  * ordered assignment, so N writers can each stream their slice
  * independently and reproducibly.
  *
  * Scale: one corpus shuffle (the prefix-sum bucketing), one 1-row
  * broadcast, map-only arithmetic after. Overflow-safe by
  * construction: `start · nShards` stays under int64 for any corpus
  * below ~9·10¹⁸/nShards tokens (at 2.5·10¹³ tokens — 100 TB of text —
  * and 1,024 shards the product is ~2.6·10¹⁶).
  */
object ShardExport {

  /** Column names the kernel appends or uses internally: a pre-existing
    * column with one of these names would silently collide with the
    * kernel's own (`cum_tokens` in particular would be overwritten by
    * the prefix sum), so [[shardPlan]] rejects such inputs loudly. */
  private val ReservedCols =
    Seq("cum_tokens", "shard", "__bkt", "__ord", "__start", "__total")

  /** The per-unit shard assignment: input columns plus
    * `cum_tokens` (global running token count in the interleave
    * order, inclusive) and `shard` (0-based). `idCol` must be unique;
    * `tokCol` the unit's token count (≥ 0). */
  def shardPlan(units: DataFrame, idCol: String, tokCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val clash = units.columns.filter(c =>
      ReservedCols.contains(c) && c != idCol && c != tokCol)
    require(clash.isEmpty,
      s"shardPlan reserved column name(s) already present in input: " +
        clash.mkString(", "))
    require(!ReservedCols.contains(idCol) && !ReservedCols.contains(tokCol),
      s"idCol/tokCol must not use a reserved kernel name " +
        s"(${ReservedCols.mkString(", ")})")
    val base = PrefixSum.hashOrdered(units,
      PortableHash.salted(col(idCol), "|shard"), "__bkt", "__ord")
    val cum = PrefixSum.bucketedRunningSum(base, Seq.empty, "__bkt",
      Seq(col("__ord"), col(idCol)), tokCol, "cum_tokens")
    // the corpus-total scalar: summed from the SAME per-bucket totals
    // frame the prefix-sum kernel builds its offsets from
    // ([[PrefixSum.bucketTotals]] — byte-identical subtree), so the
    // planner reuses the kernel's one exchange (ReusedExchange) instead
    // of paying another corpus scan for a 1-row total. greatest(·,1)
    // guards the degenerate all-empty corpus.
    val total = PrefixSum.bucketTotals(base, Seq.empty, "__bkt",
        Seq(col("__ord"), col(idCol)), tokCol)
      .agg(greatest(sum(col("__bkt_sum")), lit(1L)).cast("long")
        .as("__total"))
    cum
      .crossJoin(broadcast(total))
      // the unit's start offset via the Column API (no raw SQL over the
      // caller-supplied tokCol name — a name needing backticks would
      // misparse an interpolated expr); the bin index itself needs
      // exact INTEGER division (double `/` loses bits past 2^53 —
      // real at 100 TB token counts), so the one `expr` runs over
      // kernel-internal names only.
      .withColumn("__start",
        (col("cum_tokens") - col(tokCol)) * lit(nShards.toLong))
      .withColumn("shard",
        expr("__start div __total").cast("long"))
      .drop("__bkt", "__ord", "__start", "__total")
  }

  /** Multi-epoch deterministic interleave — the trainer-side
    * requirement on top of [[shardPlan]]: a run consumes the same
    * shards for MANY epochs and wants a DIFFERENT reproducible order
    * each epoch, without the shard membership churning (re-sharding
    * per epoch would re-shuffle corpus-sized data every epoch and
    * invalidate every per-shard manifest/cache; re-ORDERING within
    * the fixed shards is a per-shard sort of already-local data).
    *
    * Construction: cross the plan with the epoch ids (a broadcast of
    * `nEpochs` rows — never a corpus re-scan per epoch) and give each
    * (unit, epoch) an `epoch_ord` = [[PortableHash.hash60]] of
    * `id|"|shard|"|epoch` — the same salt family as the interleave
    * hash, so epoch 0 is just another member of it (NOT the
    * `cum_tokens` write order: the assignment hash is `id|"|shard"`,
    * no epoch suffix, so no epoch accidentally replays the assignment
    * order). Within a shard the epoch's write order is `(epoch_ord,
    * id)`; the shard column is untouched, so same-shards-across-
    * epochs holds by construction (ShardExportSpec pins it, plus
    * per-epoch determinism and cross-epoch order divergence).
    *
    * Returns one row per (unit, epoch): the plan's columns plus
    * `epoch` and `epoch_ord`. */
  def epochOrder(plan: DataFrame, idCol: String, nEpochs: Int): DataFrame = {
    require(nEpochs >= 1, s"nEpochs must be >= 1, got $nEpochs")
    val clash = plan.columns.filter(Seq("epoch", "epoch_ord").contains)
    require(clash.isEmpty,
      s"epochOrder output column name(s) already present in input: " +
        clash.mkString(", "))
    val epochs = plan.sparkSession.range(nEpochs)
      .select(col("id").as("epoch"))
    plan
      .crossJoin(broadcast(epochs))
      .withColumn("epoch_ord", PortableHash.hash60(
        concat(col(idCol).cast("string"), lit("|shard|"),
          col("epoch").cast("string"))))
  }

  /** The per-shard audit manifest a run ships with: row counts, token
    * sums, source mix width, and the shard's [start_pos, end_pos)
    * token-offset slice of the interleaved stream. `plan` is
    * [[shardPlan]] output carrying a `source` column. */
  def shardManifest(plan: DataFrame, tokCol: String): DataFrame =
    plan
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_units"),
        sum(col(tokCol)).cast("long").as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        min(col("cum_tokens") - col(tokCol)).cast("long").as("start_pos"),
        max(col("cum_tokens")).cast("long").as("end_pos"))
}
