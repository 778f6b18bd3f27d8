package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All reads go through here so
  * that scan options (and, at cluster scale, bucketing / file-index
  * strategies) are controlled in one place. Column pruning and predicate
  * pushdown are left to Catalyst — callers express plain
  * `select`/`filter` and the parquet scan receives `ReadSchema` /
  * `PushedFilters` automatically.
  *
  * `events.ts` is normalized to the session TIMESTAMP type regardless of
  * how the fixture was written. Drivers have shipped it as
  * TIMESTAMP(NANOS) (needing the `nanosAsLong` legacy flag plus a ns→µs
  * truncation) and as plain TIMESTAMP(MICROS) (which Spark 4 surfaces as
  * TIMESTAMP_NTZ); both land here as a session-timezone TIMESTAMP so
  * every downstream query sees one stable type. The
  * `spark.sql.legacy.parquet.nanosAsLong=true` flag is set session-wide
  * on EVERY events read regardless of which fixture generation is on
  * disk — the ts type is only knowable after the read succeeds, the flag
  * has no per-read DataFrameReader option, and because DataFrames are
  * lazy a restore-after-build could race the actual scan. It is inert
  * for micros fixtures (no nanos column exists to reinterpret).
  *
  * The NTZ branch casts wall-clock values in the session timezone, so
  * every entry point that reads events pins
  * `spark.sql.session.timeZone=UTC` ([[graft.LocalSession]] for the
  * entry points, SparkSpec for the test harness) — the invariant stated
  * in Schemas.scala.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved DataFrame handles per (session, sfDir, table) — METADATA
    * caching, not data caching: `spark.read.parquet` runs a
    * schema-inference job per call, and with ten fixture tables a
    * `registerAll` consumer paid ~10 driver jobs (~0.5 s at
    * `local[32]`) of pure plan construction per query (r16 measured it
    * with the batch profiler, [[graft.Profile]]). A catalog-backed
    * production table resolves its schema from the metastore exactly
    * once; this map is that. The frames stay lazy scans — no rows are
    * materialized — so the pay-once-per-pass compute model is untouched
    * (FrameCache clears do not apply to schema handles). Entries of
    * stopped sessions are dropped like FrameCache's. */
  private val handles = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    handles.keySet.removeIf(k => k._1.sparkContext.isStopped)
    handles.computeIfAbsent((spark, sfDir, name),
      _ => resolve(spark, sfDir, name))
  }

  private def resolve(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // Fixture generations differ: ts has been TIMESTAMP(NANOS) (Spark 4
      // refuses it unless read as long nanos, then truncated to µs the way
      // DuckDB/Arrow narrow ns → µs) and plain TIMESTAMP(MICROS) (read as
      // TIMESTAMP_NTZ). Normalize both to session-tz TIMESTAMP (UTC here).
      // A THIRD drift (string ts, int64 micros, …) must fail loudly, not
      // silently cast into nulls or misread instants.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampType => raw
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case other => throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other — extend Tables.table " +
            "with an explicit, loud normalization for this fixture generation")
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Register every fixture table as a temp view (for spark.sql users).
    *
    * Deliberately NO input-parallelism emulation here (contrast
    * `CdcMapping.fact`, which stands in for a multi-partition Kafka
    * source): for the SQL surface the scan→partial-aggregate fusion on
    * the pruned, pushed-down parquet read beats paying a full-width
    * round-robin exchange at fixture sizes — measured, not assumed. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
