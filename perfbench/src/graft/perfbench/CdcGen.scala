package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.schemas.Schemas

/** Seeded generator of Debezium CDC messages for the engagement pipeline.
  *
  * It follows the reference load generator's distributions (the same ones
  * `graft.operators.DataGen` encodes), but lives in the benchmark so that
  * the program under test only ever sees the generated bytes:
  *
  *  - event types play .45 / pause .25 / click .20 / finish .10;
  *  - duration_ms null for click, else a uniform share of the content
  *    length (play 5-95 %, pause 10-80 %, finish 85-100 %);
  *  - uniform content, a pool of 10k users, six devices plus a null one
  *    time in seven;
  *  - a nested JSON `raw_payload` with per-type extras;
  *  - both message shapes: the `payload.after` envelope and the flattened
  *    unwrap-SMT record, half each.
  *
  * A fixed share of messages is broken on purpose, so each error channel
  * has a known expected count: truncated JSON (`json_error`), delete
  * envelopes without an `after` row (`missing_after`) and rows whose
  * content id is not in the dimension (enrichment misses).
  *
  * Every message is a pure function of (seed, sequence number, event
  * time), so the same seed gives byte-identical inputs.
  */
final class CdcGen(val seed: Long) {
  import CdcGen._

  /** An independent generator per stream number (a message's sequence
    * number, or a negative number for the dimension and user tables). The
    * seed and stream are hashed: SplittableRandom seeds that differ by its
    * own increment would give the same sequence shifted by one. */
  private def rng(stream: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) + stream))

  /** Event ids start at a seed-dependent base: a different seed gives
    * different ids. */
  val idBase: Long = 1000000L + (rng(-1).nextLong(1L << 40) / 1000000L) * 1000000L

  private def uuid(r: SplittableRandom): String = {
    val a = r.nextLong(); val b = r.nextLong()
    f"${a >>> 32}%08x-${(a >>> 16) & 0xffff}%04x-4${a & 0xfff}%03x-" +
      f"${0x8000 | ((b >>> 48) & 0x3fff)}%04x-${b & 0xffffffffffffL}%012x"
  }

  /** The content dimension: `ContentRows` rows with seed-dependent ids. */
  val content: IndexedSeq[ContentRow] = {
    val r = rng(-2)
    (0 until ContentRows).map { i =>
      val kind = ContentTypes(r.nextInt(ContentTypes.length))
      // One title in ten carries ':' (leaderboard members must not split).
      val title = if (i % 10 == 3) s"Episode $i: part ${r.nextInt(9) + 1}"
        else s"${kind.capitalize} $i"
      // A small share of null lengths exercises the engagement_pct guard.
      val len = if (r.nextInt(50) == 0) None else Some(180 + r.nextInt(5400 - 180 + 1))
      ContentRow(uuid(r), s"$kind-$i-${seed & 0xffff}", title, kind, len,
        1700000000000L + r.nextLong(86400000L * 365))
    }
  }

  private val users: IndexedSeq[String] = {
    val r = rng(-3)
    IndexedSeq.fill(UserPool)(uuid(r))
  }

  def contentFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(content.map(c => Row(c.id, c.slug, c.title, c.kind,
        c.lengthSeconds.map(Int.box).orNull,
        new java.sql.Timestamp(c.publishMs))): _*),
      Schemas.content)

  /** The kind of message `seq` is: decided by the seed alone. */
  def kindOf(seq: Long): Kind = {
    val r = rng(seq)
    val u = r.nextInt(1000)
    if (u < JsonErrorPermille) JsonError
    else if (u < JsonErrorPermille + MissingAfterPermille) MissingAfter
    else if (u < JsonErrorPermille + MissingAfterPermille + MissPermille) Miss
    else Valid
  }

  /** Message `seq` with the given event time (epoch microseconds). */
  def message(seq: Long, eventTsMicros: Long): String = {
    val r = rng(seq)
    val u = r.nextInt(1000)
    val id = idBase + seq
    val missing = u >= JsonErrorPermille + MissingAfterPermille &&
      u < JsonErrorPermille + MissingAfterPermille + MissPermille
    val c = content(r.nextInt(ContentRows))
    val contentId = if (missing) uuid(r) else c.id
    val lenSec = c.lengthSeconds.getOrElse(600)
    val e = r.nextInt(100)
    val etype = if (e < 45) "play" else if (e < 70) "pause" else if (e < 90) "click" else "finish"
    val duration: Option[Int] = etype match {
      case "click" => None
      case "play" => Some((lenSec * 1000L * (50 + r.nextInt(901)) / 1000).toInt)
      case "pause" => Some((lenSec * 1000L * (100 + r.nextInt(701)) / 1000).toInt)
      case _ => Some((lenSec * 1000L * (850 + r.nextInt(151)) / 1000).toInt)
    }
    val d = r.nextInt(7)
    val device = if (d == 6) None else Some(Devices(d))
    val user = users(r.nextInt(UserPool))
    val payload = rawPayload(r, etype)
    val ts = formatMicros(eventTsMicros)
    val row = new StringBuilder(256)
    row.append("{\"id\":").append(id)
      .append(",\"content_id\":\"").append(contentId)
      .append("\",\"user_id\":\"").append(user)
      .append("\",\"event_type\":\"").append(etype)
      .append("\",\"event_ts\":\"").append(ts).append('"')
      .append(",\"duration_ms\":").append(duration.map(_.toString).getOrElse("null"))
      .append(",\"device\":").append(device.map(x => "\"" + x + "\"").getOrElse("null"))
      .append(",\"raw_payload\":\"").append(payload.replace("\"", "\\\"")).append('"')
    val sourceMs = eventTsMicros / 1000
    val envelope = r.nextBoolean()
    val msg =
      if (u < JsonErrorPermille + MissingAfterPermille && u >= JsonErrorPermille)
        s"""{"payload":{"before":${row}},"after":null,"op":"d","ts_ms":$sourceMs}}"""
      else if (envelope)
        s"""{"payload":{"before":null,"after":${row}},"op":"c","ts_ms":$sourceMs}}"""
      else
        row.append(",\"__op\":\"c\",\"__source_ts_ms\":").append(sourceMs)
          .append(",\"__source_db\":\"engagement\",\"__source_table\":\"engagement_events\"}")
          .toString
    if (u < JsonErrorPermille) msg.substring(0, msg.length / 2) else msg
  }

  private def rawPayload(r: SplittableRandom, etype: String): String = {
    val base = new StringBuilder(160)
    base.append("{\"source\":\"app\",\"version\":\"2.").append(r.nextInt(10))
      .append("\",\"session_id\":\"s").append(100000 + r.nextInt(900000))
      .append("\",\"ip_address\":\"10.").append(r.nextInt(256)).append('.')
      .append(r.nextInt(256)).append('.').append(r.nextInt(256))
      .append("\",\"user_agent\":\"Mozilla/5.0\"")
    etype match {
      case "play" => base.append(",\"quality\":\"").append((1 + r.nextInt(4)) * 240)
        .append("p\",\"autoplay\":").append(r.nextBoolean())
      case "finish" => base.append(",\"completion_rate\":0.").append(85 + r.nextInt(15))
        .append(",\"rating\":").append(if (r.nextInt(3) == 0) "null" else (1 + r.nextInt(5)).toString)
      case "click" => base.append(",\"coordinates\":{\"x\":").append(r.nextInt(1921))
        .append(",\"y\":").append(r.nextInt(1081)).append('}')
      case _ => base.append(",\"position_ms\":").append(r.nextInt(3600000))
    }
    base.append('}').toString
  }
}

object CdcGen {
  /** MurmurHash3's 64-bit finalizer. */
  def mix(x: Long): Long = {
    var z = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  sealed trait Kind
  case object Valid extends Kind
  case object JsonError extends Kind
  case object MissingAfter extends Kind
  case object Miss extends Kind

  final case class ContentRow(id: String, slug: String, title: String,
      kind: String, lengthSeconds: Option[Int], publishMs: Long)

  val ContentRows = 500
  val UserPool = 10000
  val JsonErrorPermille = 5
  val MissingAfterPermille = 5
  val MissPermille = 10
  val ContentTypes: IndexedSeq[String] = IndexedSeq("podcast", "newsletter", "video")
  val Devices: IndexedSeq[String] =
    IndexedSeq("ios", "android", "web-chrome", "web-safari", "web-firefox", "desktop")

  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def formatMicros(micros: Long): String =
    TsFormat.format(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L))

  /** Expected channel counts of a generated range. */
  final case class Counts(valid: Long, jsonError: Long, missingAfter: Long, miss: Long) {
    def parsed: Long = valid + miss
  }

  def counts(gen: CdcGen, from: Long, until: Long): Counts = {
    var v, j, m, x = 0L
    var s = from
    while (s < until) {
      gen.kindOf(s) match {
        case Valid => v += 1
        case JsonError => j += 1
        case MissingAfter => m += 1
        case Miss => x += 1
      }
      s += 1
    }
    Counts(v, j, m, x)
  }
}
