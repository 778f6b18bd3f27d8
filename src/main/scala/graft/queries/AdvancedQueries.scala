package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.Tables

/** Beyond-the-reference relational surface (SURVEY.md §2.9): CUBE /
  * GROUPING SETS, session windows, JSON path extraction, explode/unnest
  * lateral fan-out, skew-salted aggregation, and approximate sketches.
  *
  * Where Spark SQL and DuckDB share a dialect the query is one SQL text
  * run on both; otherwise the Spark side is DataFrame API with a
  * hand-matched oracle.
  */
object AdvancedQueries {
  import OracleSql.tokens
  import QueryDef.sqlBoth

  private def cubeSql(table: String) =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       |  COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
       |FROM $table
       |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // CUBE: all 4 grouping combinations in one pass (Expand + hash agg).
    // The Spark side reads through a round-robin exchange: CUBE's Expand
    // multiplies per-row work 4x, which flips the fused-scan trade-off on
    // the unsplittable 1-row-group fixture (measured 1.5x faster; a real
    // multi-split table arrives pre-parallel and needs no exchange).
    "adv_cube" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .createOrReplaceTempView("lineitem_par")
        s.sql(cubeSql("lineitem_par"))
      },
      cubeSql("lineitem")),

    // Explicit GROUPING SETS with mixed arities.
    "adv_grouping_sets" -> sqlBoth(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |                        (o_orderstatus, o_orderpriority), ())""".stripMargin),

    // Event-time session windows (30-minute inactivity gap) per user.
    // Spark: native session_window aggregation (merging-window state at
    // streaming scale). Oracle: classic gaps-and-islands SQL. Sessions
    // merge only on STRICT overlap (a gap of exactly 30:00 starts a new
    // session in Spark), so the oracle's continuation predicate is `<`.
    "adv_session_windows" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events")),
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL 30 MINUTE
        |         THEN 0 ELSE 1 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // LATERAL correlated subquery (same text on both engines).
    "adv_lateral" -> sqlBoth(
      """SELECT o_orderkey, o_orderstatus, t.max_qty, t.n_items
        |FROM orders, LATERAL (
        |  SELECT MAX(l_quantity) AS max_qty, COUNT(*) AS n_items
        |  FROM lineitem WHERE l_orderkey = o_orderkey) t
        |WHERE o_orderkey % 50 = 0""".stripMargin),

    // Sliding event-time windows (10-minute width, 5-minute slide):
    // each event lands in width/slide windows. Oracle expands the
    // membership by unnesting the two aligned window starts.
    "adv_sliding_windows" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n")),
      """SELECT make_timestamp(CAST(s * 1000000 AS BIGINT)) AS window_start,
        |       event_type, COUNT(*) AS n
        |FROM (
        |  SELECT event_type,
        |    unnest([floor(epoch(ts) / 300) * 300,
        |            floor(epoch(ts) / 300) * 300 - 300]) AS s
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin),

    // JSON path extraction over constructed nested documents (the
    // fixture payload is flat; nesting is built deterministically by
    // string concat so both engines see identical text).
    "adv_json_path" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .withColumn("doc", concat(
          lit("{\"meta\":{\"type\":\""), col("event_type"),
          lit("\",\"ids\":["), col("event_id"), lit(","), col("user_id"),
          lit("]},\"payload\":"), col("props"), lit("}")))
        .select(col("event_id"),
          get_json_object(col("doc"), "$.meta.type").as("j_type"),
          get_json_object(col("doc"), "$.meta.ids[1]").as("j_user"),
          get_json_object(col("doc"), "$.payload.k").as("j_k")),
      """SELECT event_id,
        |  json_extract_string(doc, '$.meta.type') AS j_type,
        |  json_extract_string(doc, '$.meta.ids[1]') AS j_user,
        |  json_extract_string(doc, '$.payload.k') AS j_k
        |FROM (
        |  SELECT event_id,
        |    '{"meta":{"type":"' || event_type || '","ids":[' || event_id || ','
        |      || user_id || ']},"payload":' || props || '}' AS doc
        |  FROM events)""".stripMargin),

    // Lateral fan-out: one row per normalized token (explode ≈ unnest).
    // Bounded to a sample — fan-out ~100× per doc.
    "adv_explode_tokens" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "token"),
      """SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS w
        |      FROM documents WHERE doc_id % 20 = 0) t""".stripMargin),

    // Skew-salted two-phase aggregation: the group key has ~5 distinct
    // values (pathological skew at cluster scale — 5 reducers own all
    // data). Phase 1 pre-aggregates on (key, salt-of-16) spreading each
    // hot key over 16 reducers; phase 2 merges the 80 partials. Results
    // are identical to a plain GROUP BY (the oracle) by construction —
    // sums in DECIMAL so re-association is exact.
    "adv_skew_salted_agg" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .withColumn("__salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("__salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(18,6)")).as("pv"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n_events"),
          sum(col("pv")).cast("decimal(38,6)").cast("double").as("sum_value")),
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),

    // Higher-order array functions (transform / filter / aggregate /
    // zip_with) over the token arrays — all integer arithmetic, so the
    // lambda pipelines are value-identical cross-engine.
    "adv_higher_order" -> QueryDef(
      (s, d) => {
        val w = split(graft.operators.Dedup.normalize(col("text")), " ")
        val lens = transform(w, t => length(t))
        Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"),
            size(w).cast("long").as("n_tokens"),
            aggregate(lens, lit(0), (acc, x) => acc + x)
              .cast("long").as("total_chars"),
            size(filter(w, t => length(t) >= 5)).cast("long").as("n_long"),
            aggregate(zip_with(lens, sequence(lit(1), size(w)), (l, i) => l * i),
              lit(0), (acc, x) => acc + x).cast("long").as("weighted_len"))
      }, {
        val toks = tokens("text")
        s"""SELECT doc_id,
           |  CAST(len(w) AS BIGINT) AS n_tokens,
           |  CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS total_chars,
           |  CAST(len(list_filter(w, t -> length(t) >= 5)) AS BIGINT) AS n_long,
           |  CAST(list_sum(list_transform(generate_series(1, len(w)),
           |    i -> length(w[i]) * i)) AS BIGINT) AS weighted_len
           |FROM (SELECT doc_id, $toks AS w FROM documents WHERE doc_id % 3 = 0)""".stripMargin
      }),

    // Map-typed columns: construction (map_from_arrays), lookup
    // (element_at), and the map higher-order function surface
    // (map_filter) — per-cohort event-type count maps with hot-key
    // extraction. The oracle computes the same scalars without the map
    // detour (DuckDB 1.0 map extraction returns lists — the values are
    // what must agree, not the container).
    "adv_map_funcs" -> QueryDef(
      (s, d) => {
        val types = Seq("view", "click", "purchase", "signup", "error")
        val counts = types.map(t =>
          count(when(col("event_type") === t, 1)).as(s"c_$t"))
        Tables.events(s, d)
          .groupBy(pmod(col("user_id"), lit(10)).as("cohort"))
          .agg(counts.head, counts.tail: _*)
          .select(col("cohort"),
            map_from_arrays(
              array(types.map(lit): _*),
              array(types.map(t => col(s"c_$t")): _*)).as("m"))
          .select(col("cohort"),
            element_at(col("m"), "view").as("n_view"),
            element_at(col("m"), "purchase").as("n_purchase"),
            size(map_filter(col("m"), (_, v) => v > 100)).cast("long").as("n_hot"),
            size(col("m")).cast("long").as("n_keys"))
      },
      """SELECT user_id % 10 AS cohort,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  (CASE WHEN COUNT(CASE WHEN event_type = 'view' THEN 1 END) > 100 THEN 1 ELSE 0 END
        |   + CASE WHEN COUNT(CASE WHEN event_type = 'click' THEN 1 END) > 100 THEN 1 ELSE 0 END
        |   + CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 100 THEN 1 ELSE 0 END
        |   + CASE WHEN COUNT(CASE WHEN event_type = 'signup' THEN 1 END) > 100 THEN 1 ELSE 0 END
        |   + CASE WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) > 100 THEN 1 ELSE 0 END
        |  )::BIGINT AS n_hot,
        |  CAST(5 AS BIGINT) AS n_keys
        |FROM events GROUP BY user_id % 10""".stripMargin),

    // Approximate sketches (HLL++ distinct count, quantile sketch): the
    // ESTIMATES are engine-specific and can't cross-engine hash-match, but
    // the error BOUND can — the query emits, per event type, the exact
    // distinct count plus booleans asserting each sketch landed within
    // bounds (computed Spark-side); the DuckDB oracle emits the same exact
    // counts with literal TRUE, so the row goes red if an estimator
    // drifts. Bounds are verified WITHOUT materializing exact order
    // statistics (an exact per-group median buffers every value — O(n)
    // state, the very cost sketches exist to avoid, and 8s of this
    // query's 9s at sf0.1): the HLL++ estimate (rsd 0.01, 5-sigma margin
    // on a 5% gate) checks against an exact distinct count (O(distinct)
    // hash agg), and the quantile estimate checks by RANK — the count of
    // values ≤ the estimate must land within 45–55% of the group, a
    // one-pass conditional count after broadcasting the 5-row sketch
    // table back onto events. Both passes are pure hash aggregation.
    "adv_approx_sketches" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
        val sketches = ev.groupBy(col("event_type"))
          .agg(
            approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
            percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median"))
        ev.join(broadcast(sketches), "event_type")
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("n_exact"),
            first(col("approx_users")).as("approx_users"),
            count(when(col("value") <= col("approx_median"), 1)).as("n_le"),
            count(col("value")).as("n_val"))
          .select(col("event_type"), col("n_exact"),
            (abs(col("approx_users") - col("n_exact"))
              <= col("n_exact") * lit(0.05)).as("users_within_bounds"),
            (col("n_le") >= col("n_val") * lit(0.45)
              && col("n_le") <= col("n_val") * lit(0.55)).as("median_within_bounds"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS users_within_bounds, TRUE AS median_within_bounds
        |FROM events GROUP BY event_type""".stripMargin)))
}
