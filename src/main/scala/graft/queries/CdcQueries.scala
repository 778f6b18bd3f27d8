package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.enrich.Enrichment
import graft.ingest.DebeziumParser
import graft.views.EngagementViews

/** The reference pipeline's operator inventory (SURVEY.md §2) as
  * verifiable queries over the fixtures, each paired with its DuckDB
  * oracle. Decimal columns are surfaced as DOUBLE at the query edge (the
  * underlying values are exact integers/100, so decimal→double and
  * int→double/100 agree bit-for-bit across engines).
  */
object CdcQueries {

  private def pctAsDouble(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.dataType.isInstanceOf[DecimalType] =>
        d.withColumn(f.name, col(f.name).cast(DoubleType))
      case (d, _) => d
    }

  private val with_ = (cte: String, body: String) => s"WITH $cte\n$body"
  private def withEnriched(body: String) = with_(CdcMapping.enrichedSql, body)
  private val validSql =
    s"""WITH ${CdcMapping.enrichedSql},
       |valid AS (SELECT * FROM enriched
       |          WHERE engagement_pct IS NOT NULL AND engagement_pct >= 0)""".stripMargin

  /** Top-100 members by latest valid engagement: the oracle of both
    * leaderboard rows. */
  private val leaderboardSql =
    s"""$validSql,
       |member_latest AS (
       |  SELECT member, engagement_pct AS score FROM (
       |    SELECT concat_ws(':', coalesce(content_id, 'null'), coalesce(content_type, 'null'), coalesce(content_title, 'null')) AS member,
       |           engagement_pct,
       |           ROW_NUMBER() OVER (
       |             PARTITION BY concat_ws(':', coalesce(content_id, 'null'), coalesce(content_type, 'null'), coalesce(content_title, 'null'))
       |             ORDER BY event_ts DESC, event_id DESC) AS rn
       |    FROM valid) t WHERE rn = 1)
       |SELECT member, score FROM (
       |  SELECT member, score,
       |         ROW_NUMBER() OVER (ORDER BY score DESC, member ASC) AS rk
       |  FROM member_latest) t WHERE rk <= 100""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // J1 + P3 + P4 + P5 — the full 15-column enrichment.
    "cdc_enrich" -> QueryDef(
      (s, d) => pctAsDouble(CdcMapping.enriched(s, d)),
      withEnriched("SELECT * FROM enriched")),

    // J1 miss channel — events whose FK has no dimension row (left_anti).
    // The dimension is thinned (id % 7 <> 3) to manufacture misses.
    "cdc_enrich_miss" -> QueryDef(
      (s, d) => {
        val thinned = CdcMapping.dim(s, d).filter(pmod(col("id"), lit(7)) =!= 3)
        Enrichment.enrich(CdcMapping.fact(s, d), thinned).misses
          .withColumnRenamed("id", "event_id")
      },
      with_(CdcMapping.factSql,
        """SELECT f.id AS event_id, f.content_id, f.user_id, f.event_type,
          |       f.event_ts, f.duration_ms, f.device, f.raw_payload
          |FROM fact f
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM customer c
          |  WHERE c.c_custkey = f.content_id AND c.c_custkey % 7 <> 3)""".stripMargin)),

    // Changelog APPLY — the CDC semantics the reference never exercises
    // (its stream is insert-only): ops c/u/d per key materialize to the
    // key's CURRENT state — the latest row by (event_ts, id) wins, and
    // a final 'd' removes the key. One max_by pass per key (single
    // shuffle, map-side partials), the same shape as the latest-value
    // views. Ops are synthesized deterministically from the row id.
    "cdc_apply_changelog" -> QueryDef(
      (s, d) => {
        val f = CdcMapping.fact(s, d).withColumn("op",
          when(pmod(col("id"), lit(10)) === 9, "d")
            .when(pmod(col("id"), lit(10)) >= 7, "u")
            .otherwise("c"))
        f.groupBy(col("content_id"))
          .agg(max_by(
            struct(col("op"), col("id"), col("user_id"), col("event_type"),
              col("event_ts"), col("duration_ms")),
            struct(col("event_ts"), col("id"))).as("last"))
          .filter(col("last.op") =!= "d")
          .select(col("content_id"), col("last.op").as("op"),
            col("last.id").as("event_id"), col("last.user_id").as("user_id"),
            col("last.event_type").as("event_type"),
            col("last.event_ts").as("event_ts"),
            col("last.duration_ms").as("duration_ms"))
      },
      with_(CdcMapping.factSql,
        """SELECT content_id, op, event_id, user_id, event_type, event_ts,
          |       duration_ms
          |FROM (
          |  SELECT content_id,
          |    CASE WHEN id % 10 = 9 THEN 'd'
          |         WHEN id % 10 >= 7 THEN 'u' ELSE 'c' END AS op,
          |    id AS event_id, user_id, event_type, event_ts, duration_ms,
          |    row_number() OVER (PARTITION BY content_id
          |                       ORDER BY event_ts DESC, id DESC) AS rn
          |  FROM fact)
          |WHERE rn = 1 AND op <> 'd'""".stripMargin)),

    // A1 — top-100 leaderboard of latest engagement per member.
    "cdc_leaderboard" -> QueryDef(
      (s, d) => pctAsDouble(EngagementViews.leaderboard(CdcMapping.enriched(s, d), 100)),
      leaderboardSql),

    // A1 via the incremental top-K UDAF (functions.TopKAggregator):
    // identical contract to cdc_leaderboard, maintained by a k-bounded
    // associative merge buffer instead of sort-limit — the shape a
    // streaming update-mode leaderboard needs. Scores as double.
    "cdc_leaderboard_agg" -> QueryDef(
      (s, d) => {
        val latest = EngagementViews.validOnly(CdcMapping.enriched(s, d))
          .withColumn("member", EngagementViews.member)
          .groupBy(col("member"))
          .agg(max_by(col("engagement_pct"), struct(col("event_ts"), col("event_id")))
            .cast("double").as("score"))
        latest
          .agg(graft.functions.TopKAggregator.topK(100)(
            col("member"), col("score")).as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e._1").as("member"), col("e._2").as("score"))
      },
      leaderboardSql),

    // A2 — per-content stats: six last-value fields + valid-event count.
    "cdc_content_stats" -> QueryDef(
      (s, d) => pctAsDouble(EngagementViews.contentStats(CdcMapping.enriched(s, d))),
      s"""$validSql,
         |lastrow AS (
         |  SELECT content_id, engagement_pct AS latest_engagement, content_type,
         |         content_title, event_ts AS last_updated, event_type, device
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY content_id
         |                  ORDER BY event_ts DESC, event_id DESC) AS rn
         |        FROM valid) t WHERE rn = 1)
         |SELECT l.content_id, l.latest_engagement, l.content_type, l.content_title,
         |       l.last_updated, l.event_type, l.device, s.total_events
         |FROM lastrow l
         |JOIN (SELECT content_id, count(*) AS total_events FROM valid
         |      GROUP BY content_id) s USING (content_id)""".stripMargin),

    // A3 — latest engagement per (user, content).
    "cdc_user_latest" -> QueryDef(
      (s, d) => pctAsDouble(EngagementViews.userContentLatest(CdcMapping.enriched(s, d))),
      s"""$validSql
         |SELECT user_id, content_id, engagement_pct, last_updated FROM (
         |  SELECT user_id, content_id, engagement_pct, event_ts AS last_updated,
         |         ROW_NUMBER() OVER (PARTITION BY user_id, content_id
         |                            ORDER BY event_ts DESC, event_id DESC) AS rn
         |  FROM valid) t WHERE rn = 1""".stripMargin),

    // A4 — distinct (event-time minute, content, pct) window entries.
    "cdc_minute_windows" -> QueryDef(
      (s, d) => pctAsDouble(EngagementViews.minuteWindows(CdcMapping.enriched(s, d))),
      s"""$validSql
         |SELECT DISTINCT date_trunc('minute', event_ts) AS window_minute,
         |       content_id, engagement_pct
         |FROM valid""".stripMargin),

    // K2/K3 — warehouse projection with the hour partition column.
    "cdc_warehouse_hour" -> QueryDef(
      (s, d) => pctAsDouble(CdcMapping.enriched(s, d).select(
        date_trunc("hour", col("event_ts")).as("event_hour"),
        col("event_id"), col("content_id"), col("event_type"),
        col("content_type"), col("engagement_pct"))),
      withEnriched(
        """SELECT date_trunc('hour', event_ts) AS event_hour,
          |       event_id, content_id, event_type, content_type, engagement_pct
          |FROM enriched""".stripMargin)),

    // P6/P7 — validity gate and high-engagement predicate, as counts.
    "cdc_valid_gate" -> QueryDef(
      (s, d) => CdcMapping.enriched(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(when(Enrichment.hasValidEngagement(col("engagement_pct")), 1)).as("n_valid"),
          count(when(Enrichment.isHighEngagement(col("engagement_pct")), 1)).as("n_high")),
      withEnriched(
        """SELECT event_type, count(*) AS n_events,
          |       count(CASE WHEN engagement_pct IS NOT NULL AND engagement_pct >= 0
          |             THEN 1 END) AS n_valid,
          |       count(CASE WHEN engagement_pct >= 50 THEN 1 END) AS n_high
          |FROM enriched GROUP BY event_type""".stripMargin)),

    // P1/P2 + §1.4 — Debezium dual-shape normalization: fixture rows are
    // serialized to JSON (even ids → envelope shape, odd ids → flattened
    // SMT shape), parsed back, and must round-trip exactly.
    "cdc_parse_roundtrip" -> QueryDef(
      (s, d) => {
        val f = CdcMapping.fact(s, d)
        val parsed = DebeziumParser.parse(jsonMessages(f), fixtureRowSchema).rows
        parsed
          .withColumn("event_ts", DebeziumParser.parseTimestampMicros(col("event_ts")))
          .withColumnRenamed("id", "event_id")
      },
      with_(CdcMapping.factSql,
        """SELECT id AS event_id, content_id, user_id, event_type, event_ts,
          |       duration_ms, device, raw_payload FROM fact""".stripMargin)),

    // P1 error channels — malformed JSON and payload-less envelopes land
    // in explicit, counted error streams (reference: silent drops).
    "cdc_parse_errors" -> QueryDef(
      (s, d) => {
        val f = CdcMapping.fact(s, d)
        val mangled = f.select(
          when(pmod(col("id"), lit(10)) === 0, lit("{oops"))
            .when(pmod(col("id"), lit(10)) === 1,
              to_json(struct(struct(lit("d").as("op")).as("payload"))))
            .otherwise(messageCol(f)).as("value"))
        DebeziumParser.parse(mangled, fixtureRowSchema)
          .errors.groupBy(col("error")).agg(count(lit(1)).as("n"))
      },
      """SELECT error, n FROM (
        |  SELECT 'json_error' AS error, count(*) AS n FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT 'missing_after' AS error, count(*) AS n FROM events WHERE event_id % 10 = 1
        |) t""".stripMargin))

  /** Fixture-fact row schema as seen inside a CDC message (timestamps are
    * strings until [[DebeziumParser.parseTimestampMicros]]). */
  val fixtureRowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("content_id", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("event_ts", StringType), StructField("duration_ms", IntegerType),
    StructField("device", StringType), StructField("raw_payload", StringType)))

  /** Serialize fixture-fact rows as CDC messages: even ids get the
    * unflattened Debezium envelope, odd ids the flattened SMT shape —
    * both of which the parser must accept (SURVEY.md §1.4). Micro-second
    * timestamp format matches the reference POJOs
    * (`model/EngagementEvent.java:27`).
    */
  def messageCol(f: DataFrame): org.apache.spark.sql.Column = {
    val opts = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    val rowCols = f.columns.map(col).toSeq
    val envJson = to_json(
      struct(struct(struct(rowCols: _*).as("after"), lit("c").as("op")).as("payload")), opts)
    val flatJson = to_json(
      struct(rowCols :+ lit("c").as("__op"): _*), opts)
    when(pmod(col("id"), lit(2)) === 0, envJson).otherwise(flatJson)
  }

  def jsonMessages(f: DataFrame): DataFrame =
    f.select(messageCol(f).as("value"))
}
