package graft.schemas

import org.apache.spark.sql.types._

/** Fixed schemas of the CDC domain.
  *
  * The reference declares these three times (Postgres DDL
  * `sql/init.sql:9-28`, the Jackson model POJOs, warehouse DDL
  * `BigQuerySink.java:104-120`); here they are declared once as Spark
  * `StructType`s and reused by the parser, the enrichment, and the sinks.
  *
  * UUIDs are strings (Debezium serializes them as text), timestamps are
  * `TimestampType` (session time zone pinned to UTC), and the opaque JSON
  * payload stays a JSON string column — accessible via
  * `get_json_object`/`from_json` rather than a fixed struct.
  */
object Schemas {

  /** `content` dimension — reference `sql/init.sql:9-16`. */
  val content: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("slug", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("content_type", StringType, nullable = true),   // enum: podcast|newsletter|video
    StructField("length_seconds", IntegerType, nullable = true),
    StructField("publish_ts", TimestampType, nullable = false)))

  /** `engagement_events` fact — reference `sql/init.sql:19-28`. */
  val engagementEvents: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("content_id", StringType, nullable = true),
    StructField("user_id", StringType, nullable = true),
    StructField("event_type", StringType, nullable = true),     // enum: play|pause|finish|click
    StructField("event_ts", StringType, nullable = true),       // parsed tolerantly later (§1.4)
    StructField("duration_ms", IntegerType, nullable = true),
    StructField("device", StringType, nullable = true),         // NULLs possible (generator off-by-one)
    StructField("raw_payload", StringType, nullable = true)))   // opaque JSON

  /** Enriched output of the J1 join + P3/P4 derived columns — 15 columns
    * mirroring `model/EnrichedEvent.java:17-64` / `BigQuerySink.java:104-120`.
    */
  val enriched: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("content_id", StringType, nullable = true),
    StructField("user_id", StringType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("event_ts", TimestampType, nullable = true),
    StructField("duration_ms", IntegerType, nullable = true),
    StructField("device", StringType, nullable = true),
    StructField("raw_payload", StringType, nullable = true),
    StructField("content_slug", StringType, nullable = true),
    StructField("content_title", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("length_seconds", IntegerType, nullable = true),
    StructField("publish_ts", TimestampType, nullable = true),
    StructField("engagement_seconds", IntegerType, nullable = true),
    StructField("engagement_pct", DecimalType(12, 2), nullable = true)))
}
