package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ingest.DebeziumParser.Parsed

/** The declarative form of `DebeziumParser.parse` that the compiled
  * envelope kernel replaced: one `from_json` into a merged schema (both
  * message shapes, the `__source_*` metadata and a corrupt-record
  * marker), then the `payload.after`-else-flat choice and the error tag
  * as column expressions. Kept as the reference the kernel is pinned
  * against; slow (the optimizer copies the `from_json` into every field
  * read), which does not matter at test sizes. */
object FromJsonParse {

  /** Debezium envelope (unflattened shape) around a row payload. The
    * reference parser expects `payload.after`
    * (`EngagementStreamingJob.java:219-227`). */
  def envelope(row: StructType): StructType = StructType(Seq(
    StructField("payload", StructType(Seq(
      StructField("before", row, nullable = true),
      StructField("after", row, nullable = true),
      StructField("op", StringType, nullable = true),
      StructField("ts_ms", LongType, nullable = true))), nullable = true)))

  /** Flattened shape emitted by the unwrap SMT
    * (`debezium/postgres-connector.json:28-32`): row fields at top level
    * plus `__op`/`__source_*` metadata. */
  def flattened(row: StructType): StructType = StructType(
    row.fields ++ Seq(
      StructField("__op", StringType, nullable = true),
      StructField("__source_ts_ms", LongType, nullable = true),
      StructField("__source_db", StringType, nullable = true),
      StructField("__source_table", StringType, nullable = true)))

  /** `df` plus `__after` (the row struct, or null) and `__error`. */
  def tag(df: DataFrame, rowSchema: StructType, valueCol: String = "value"): DataFrame = {
    val v = col(valueCol).cast(StringType)
    val merged = StructType(
      envelope(rowSchema).fields ++ flattened(rowSchema).fields :+
        StructField("__corrupt", StringType, nullable = true))
    val p = from_json(v, merged,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "__corrupt"))
    val tagged0 = df.withColumn("__p", p)
    val q = col("__p")
    val flatRow = struct(rowSchema.fieldNames.map(f => q.getField(f).as(f)).toSeq: _*)
    val flatPresent = rowSchema.fieldNames.map(f => q.getField(f).isNotNull).reduce(_ || _)
    val isJson = v.isNotNull && q.getField("__corrupt").isNull
    val envAfter = q.getField("payload").getField("after")
    val after = when(envAfter.isNotNull, envAfter)
      .when(q.getField("payload").isNull && flatPresent, flatRow)
    tagged0
      .withColumn("__after", after)
      .withColumn("__error",
        when(!isJson, lit("json_error"))
          .when(after.isNull, lit("missing_after")))
      .drop("__p")
  }

  def parse(df: DataFrame, rowSchema: StructType, valueCol: String = "value"): Parsed = {
    val tagged = tag(df, rowSchema, valueCol)
    Parsed(
      tagged.filter(col("__error").isNull)
        .select(rowSchema.fieldNames.map(f => col("__after").getField(f).as(f)).toSeq: _*),
      tagged.filter(col("__error").isNotNull)
        .select(col(valueCol).cast(StringType).as("value"), col("__error").as("error")))
  }
}
