package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Reference-exact J1 semantics (SURVEY.md §2.3 option (c)): the Flink
  * job holds the dimension in per-key `MapState` and does a point lookup
  * per event — **match → enrich, miss → dropped to a side output, never
  * buffered or retried** (`EngagementStreamingJob.java:308-349`).
  *
  * Spark equivalent: union both streams into one keyed stream and run
  * `flatMapGroupsWithState` over groups keyed by content id. State is the
  * latest dimension row (last-write-wins upsert). Within one micro-batch
  * a group sees content upserts before events (documented determinism
  * choice — Flink's interleaving is arrival-order nondeterminism we
  * cannot and should not reproduce).
  *
  * This operator exists for semantic parity; the default path is the
  * broadcast stream-static join in [[StreamingPipeline.enrichStream]] —
  * at 100 TB the stateful shuffle on content_id is strictly worse than a
  * broadcast of a dimension-sized table. Misses are emitted with
  * `matched = false` (a countable error channel, SURVEY.md §7.4.6)
  * rather than silently dropped.
  */
object StatefulEnricher {

  case class EventRec(id: Long, content_id: String, user_id: String,
      event_type: String, event_ts: Timestamp, duration_ms: Option[Int],
      device: String, raw_payload: String)

  case class ContentRec(id: String, slug: String, title: String,
      content_type: String, length_seconds: Option[Int], publish_ts: Timestamp)

  /** Union element: exactly one of `event` / `content` is set. */
  case class CdcRecord(key: String, event: Option[EventRec],
      content: Option[ContentRec])

  case class EnrichedRec(event_id: Long, content_id: String, user_id: String,
      event_type: String, event_ts: Timestamp, duration_ms: Option[Int],
      device: String, raw_payload: String, content_slug: String,
      content_title: String, content_type: String,
      length_seconds: Option[Int], publish_ts: Timestamp,
      engagement_seconds: Option[Int], engagement_pct: Option[BigDecimal],
      matched: Boolean)

  /** P3/P4 in driver-side arithmetic — the reference's Java formula
    * verbatim (`model/EnrichedEvent.java:93-106`); column-expression twin
    * in [[graft.enrich.Enrichment]], pinned equal by EnrichmentSpec. */
  private[streaming] def derive(durationMs: Option[Int], lengthSeconds: Option[Int])
      : (Option[Int], Option[BigDecimal]) = {
    val es = durationMs.map(_ / 1000)
    val pct = for {
      e <- es; l <- lengthSeconds if l > 0
    } yield BigDecimal(new JBigDecimal(e)
      .divide(new JBigDecimal(l), 4, RoundingMode.HALF_UP)
      .multiply(new JBigDecimal(100)).setScale(2, RoundingMode.HALF_UP))
    (es, pct)
  }

  private def enrichOne(e: EventRec, c: ContentRec): EnrichedRec = {
    val (es, pct) = derive(e.duration_ms, c.length_seconds)
    EnrichedRec(e.id, e.content_id, e.user_id, e.event_type, e.event_ts,
      e.duration_ms, e.device, e.raw_payload, c.slug, c.title,
      c.content_type, c.length_seconds, c.publish_ts, es, pct, matched = true)
  }

  private def missOne(e: EventRec): EnrichedRec =
    EnrichedRec(e.id, e.content_id, e.user_id, e.event_type, e.event_ts,
      e.duration_ms, e.device, e.raw_payload, null, null, null, None, null,
      None, None, matched = false)

  private def processGroup(key: String, records: Iterator[CdcRecord],
      state: GroupState[ContentRec]): Iterator[EnrichedRec] = {
    val (contents, events) = records.toSeq.partition(_.content.isDefined)
    // dimension upserts first: last-write-wins on the content row
    contents.flatMap(_.content).lastOption.foreach(state.update)
    val dim = state.getOption
    events.flatMap(_.event).iterator.map { e =>
      dim.map(enrichOne(e, _)).getOrElse(missOne(e))
    }
  }

  /** TTL twin of [[processGroup]]: a key whose timeout fired has its
    * dimension row evicted (drop-on-miss resumes for later events); any
    * live access re-arms the clock, so the TTL is idle time, not age. */
  private def processGroupTtl(ttlMs: Long)(key: String,
      records: Iterator[CdcRecord], state: GroupState[ContentRec])
      : Iterator[EnrichedRec] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = processGroup(key, records, state)
      if (state.exists) state.setTimeoutDuration(ttlMs)
      out
    }
  }

  /** Build the keyed union from typed event/content streams. */
  def union(events: Dataset[EventRec], content: Dataset[ContentRec])
      : Dataset[CdcRecord] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.map(e => CdcRecord(e.content_id, Some(e), None))
      .unionByName(content.map(c => CdcRecord(c.id, None, Some(c))))
  }

  /** The stateful enrichment stream: Append-mode `flatMapGroupsWithState`
    * keyed by content id.
    *
    * `stateTtlMs = None` (default) matches the reference exactly — its
    * MapState never expires (SURVEY.md §2.7 T3), so unbounded dimension
    * growth is faithful parity behavior. `Some(ttl)` is the production
    * bound: a key idle for `ttl` of processing time has its dimension row
    * evicted (`ProcessingTimeTimeout`), after which events on that key
    * fall back to the drop-on-miss channel until the dimension is
    * re-upserted — state size becomes O(active dimension keys within the
    * TTL horizon) instead of O(all keys ever seen). */
  def enrich(records: Dataset[CdcRecord],
      stateTtlMs: Option[Long] = None): Dataset[EnrichedRec] = {
    val spark = records.sparkSession
    import spark.implicits._
    val grouped = records.groupByKey(_.key)
    stateTtlMs match {
      case None => grouped.flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(processGroup)
      case Some(ttl) => grouped.flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout())(processGroupTtl(ttl))
    }
  }
}
