package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All reads go through here so
  * that scan options are controlled in one place; pruning and pushdown
  * are left to Catalyst.
  *
  * Opening a table runs no Spark job. `spark.read.parquet` infers the
  * schema with a job (30–55 ms on a 4-core host), so a file's schema is
  * read from its footer on the driver, as that job reads it: the schema
  * Spark's writer stored there, else the parquet schema through Spark's
  * converter under the session conf.
  *
  * `events.ts` is normalized to the session TIMESTAMP type regardless of
  * how the fixture was written: TIMESTAMP(NANOS) (read as long nanos
  * under the `spark.sql.legacy.parquet.nanosAsLong` flag, then truncated
  * to µs) or TIMESTAMP(MICROS) (which Spark 4 surfaces as
  * TIMESTAMP_NTZ). The flag is set session-wide before EVERY events
  * schema conversion — the ts type is only knowable after it, the flag
  * has no per-read option, and a restore-after-build could race the lazy
  * scan. It is inert for micros fixtures. The NTZ branch casts in the
  * session timezone, so every entry point pins
  * `spark.sql.session.timeZone=UTC` ([[graft.LocalSession]], SparkSpec)
  * — the invariant stated in Schemas.scala.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved DataFrame handles per (session, sfDir, table) — METADATA
    * caching, not data caching, as a metastore resolves a table once.
    * The frames stay lazy scans (FrameCache clears do not apply).
    * Entries of stopped sessions are dropped like FrameCache's. */
  private val handles = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    handles.keySet.removeIf(k => k._1.sparkContext.isStopped)
    handles.computeIfAbsent((spark, sfDir, name),
      _ => resolve(spark, sfDir, name))
  }

  private def resolve(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = open(spark, s"$sfDir/$name.parquet")
    // A THIRD ts drift (string ts, int64 micros, …) must fail loudly, not
    // silently cast into nulls or misread instants.
    if (name != "events") raw else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet type $other — extend Tables.table " +
          "with an explicit, loud normalization for this fixture generation")
    }
  }

  /** A parquet file as a lazy scan, its schema read from its footer. A
    * missing file throws FileNotFoundException. */
  private def open(spark: SparkSession, path: String): DataFrame = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val schema = Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    spark.read.schema(schema).parquet(path)
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The fixture tables `text` names as a whole word, in any case. A
    * real reference always matches; a false one (an alias spelled like a
    * table) only registers an extra view. */
  private[graft] def named(text: String): Seq[String] =
    all.filter(n => s"(?i)\\b$n\\b".r.findFirstIn(text).isDefined)

  /** Run a SQL statement over the fixture tables it names, each
    * registered as a temp view. NO input-parallelism emulation (contrast
    * `CdcMapping.fact`): the fused scan→partial-aggregate on the pruned
    * parquet read beats a round-robin exchange at fixture sizes —
    * measured, not assumed. */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame = {
    named(text).foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
    spark.sql(text)
  }
}
