package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

import graft.schemas.Schemas

/** Debezium CDC message normalization (reference operators P1/P2).
  *
  * The reference's connector config and its parser disagree on message
  * shape (SURVEY.md §1.4): the unwrap SMT emits *flattened* records
  * (`debezium/postgres-connector.json:28-32`) while the Flink parser reads
  * the *envelope* `payload.after` (`EngagementStreamingJob.java:219-227`).
  * We accept both shapes behind one normalization step, and we turn every
  * silent-drop path of the reference into an explicit, countable error
  * channel (SURVEY.md §7.4.6):
  *
  *   - `json_error`    — value is not parseable JSON (reference: side
  *                       output, `EngagementStreamingJob.java:254-257`)
  *   - `missing_after` — valid JSON but no row payload in either shape
  *                       (reference: silently dropped,
  *                       `EngagementStreamingJob.java:222-225`; includes
  *                       envelope-shaped DELETEs, which the insert-only
  *                       pipeline discards)
  *
  * The parse is one compiled pass over each message's bytes
  * ([[DebeziumEnvelope]]): it materializes only the declared row fields
  * of whichever shape carries the row, and tags the error channel in the
  * same pass. The tagged row is computed once per message and read by
  * both outputs.
  */
object DebeziumParser {

  /** Result of parsing: one clean typed DataFrame, one error DataFrame
    * with columns (`value`, `error`).
    */
  final case class Parsed(rows: DataFrame, errors: DataFrame)

  /** Normalize a DataFrame holding raw message text in `valueCol` into the
    * given row schema (fields of type BIGINT, INT or STRING). Timestamp
    * fields should be declared as StringType and converted afterwards with
    * [[parseTimestampMicros]] (the reference keeps timestamps as strings
    * until a hard-coded micro-precision parse; we parse tolerantly).
    *
    * ONE parse per message, as in the reference (Jackson `readTree`,
    * `EngagementStreamingJob.java:219`): this is the hot path of the whole
    * CDC pipeline.
    */
  def parse(df: DataFrame, rowSchema: StructType, valueCol: String = "value"): Parsed = {
    val v = col(valueCol).cast(StringType)
    val p = col("__p")
    val error = p.getField(DebeziumEnvelope.ErrorField)
    val tagged = df.withColumn("__p",
      CatalystBridge.column(DebeziumEnvelope(CatalystBridge.expression(v), rowSchema)))
    val rows = tagged
      .filter(error.isNull)
      .select(rowSchema.fieldNames.map(f => p.getField(f).as(f)).toSeq: _*)
    val errors = tagged
      .filter(error.isNotNull)
      .select(v.as("value"), error.as("error"))
    Parsed(rows, errors)
  }

  /** Parse engagement-event messages (P1). */
  def parseEvents(df: DataFrame, valueCol: String = "value"): Parsed = {
    val p = parse(df, Schemas.engagementEvents, valueCol)
    p.copy(rows = p.rows.withColumn("event_ts", parseTimestampMicros(col("event_ts"))))
  }

  /** Parse content-dimension messages (P2). */
  def parseContent(df: DataFrame, valueCol: String = "value"): Parsed = {
    val stringly = StructType(Schemas.content.fields.map {
      case f if f.dataType == TimestampType => f.copy(dataType = StringType)
      case f => f
    })
    val p = parse(df, stringly, valueCol)
    p.copy(rows = p.rows.withColumn("publish_ts", parseTimestampMicros(col("publish_ts"))))
  }

  /** Tolerant micro-precision timestamp parse (P9).
    *
    * The reference hard-codes `yyyy-MM-dd'T'HH:mm:ss.SSSSSS`
    * (`EngagementStreamingJob.java:237-239`) and throws on anything else —
    * e.g. Postgres NOW() values with fewer fraction digits. We parse that
    * pattern first, then fall back to Spark's ISO parser, keeping
    * microsecond precision and never raising (ANSI-safe `try_to_timestamp`).
    */
  def parseTimestampMicros(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
    try_to_timestamp(c))
}
