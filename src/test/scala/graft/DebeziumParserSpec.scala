package graft

import org.apache.spark.sql.functions._

import graft.ingest.DebeziumParser

/** P1/P2 envelope normalization: both message shapes (SURVEY.md §1.4),
  * explicit error channels for every silent-drop path of the reference. */
class DebeziumParserSpec extends SparkSpec {
  import spark.implicits._

  private val envelopeMsg =
    """{"payload":{"op":"c","after":{"id":1,"content_id":"c1","user_id":"u1",
      |"event_type":"play","event_ts":"2025-08-08T10:00:00.123456",
      |"duration_ms":30000,"device":"ios","raw_payload":"{\"source\":\"app\"}"}}}"""
      .stripMargin.replace("\n", "")

  private val flattenedMsg =
    """{"id":2,"content_id":"c2","user_id":"u2","event_type":"click",
      |"event_ts":"2025-08-08T10:01:00.000001","duration_ms":null,
      |"device":"web","raw_payload":"{}","__op":"c","__source_ts_ms":123}"""
      .stripMargin.replace("\n", "")

  private val deleteMsg = """{"payload":{"op":"d","before":{"id":3},"after":null}}"""
  private val junkMsg = "not json at all"

  test("accepts both envelope and flattened shapes behind one normalization") {
    val p = DebeziumParser.parseEvents(
      Seq(envelopeMsg, flattenedMsg).toDF("value"))
    val rows = p.rows.orderBy("id").collect()
    rows.map(_.getAs[Long]("id")) shouldBe Array(1L, 2L)
    rows.map(_.getAs[String]("event_type")) shouldBe Array("play", "click")
    p.errors.count() shouldBe 0
    // micro precision survives
    rows(0).getAs[java.sql.Timestamp]("event_ts").getNanos shouldBe 123456000
  }

  test("null-after (DELETE) and non-JSON land in distinct error channels") {
    val p = DebeziumParser.parseEvents(Seq(deleteMsg, junkMsg).toDF("value"))
    p.rows.count() shouldBe 0
    p.errors.select("error").as[String].collect().sorted shouldBe
      Array("json_error", "missing_after")
  }

  test("empty and whitespace-only values are not JSON: json_error") {
    val p = DebeziumParser.parseEvents(Seq("", "  ", " \t\r\n").toDF("value"))
    p.rows.count() shouldBe 0
    p.errors.select("error").as[String].collect() shouldBe Array.fill(3)("json_error")
  }

  test("timestamp parse is tolerant of fraction-digit count (P9 fragility)") {
    val df = Seq(
      "2025-08-08T10:00:00.123456", // the reference's only accepted shape
      "2025-08-08 10:00:00.123456", // space-separated
      "2025-08-08T10:00:00"         // reference would throw here
    ).toDF("s").select(DebeziumParser.parseTimestampMicros(col("s")).as("ts"))
    df.collect().foreach(r => assert(!r.isNullAt(0), r.toString))
  }

  test("content-dimension messages parse with typed publish_ts (P2)") {
    val msg =
      """{"payload":{"after":{"id":"c1","slug":"s","title":"T","content_type":
        |"video","length_seconds":60,"publish_ts":"2025-08-01T00:00:00.000000"}}}"""
        .stripMargin.replace("\n", "")
    val p = DebeziumParser.parseContent(Seq(msg).toDF("value"))
    val r = p.rows.head()
    r.getAs[String]("id") shouldBe "c1"
    r.getAs[java.sql.Timestamp]("publish_ts") should not be null
  }
}
