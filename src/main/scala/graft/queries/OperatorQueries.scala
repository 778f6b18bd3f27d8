package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.operators.{AsOfJoin, RangeJoin}

/** Queries for the operators Spark lacks natively (as-of join, interval
  * join) and for DataFrame-API-only surfaces (pivot/unpivot, stratified
  * sampling). Oracles use DuckDB-specific SQL (ASOF JOIN, nested-loop
  * range join) — cheap at oracle SF, while the Spark side uses the
  * scale-path implementation.
  */
object OperatorQueries {

  /** `op_pps_sample`'s systematic step: one row kept per 4,096 units of
    * running weight. */
  private val PpsStep = 4096L

  private val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_buy
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
      |       (SELECT COUNT(*) FROM c) AS n_clicked_after,
      |       (SELECT COUNT(*) FROM p) AS n_purchased_after""".stripMargin

  /** 16-bit-per-dimension Morton (z-order) key as portable arithmetic:
    * bit i of v is `CASE WHEN v % 2^(i+1) >= 2^i THEN 1 END`, placed at
    * even positions for x and odd for y. `dayDiff` is the dialect's
    * day-difference expression (the one non-shared fragment). */
  private def zorderSql(dayDiff: String): String = {
    def bits(v: String, offset: Int) = (0 until 16).map { i =>
      val p1 = 1L << i; val p2 = 1L << (i + 1)
      val w = 1L << (2 * i + offset)
      // CAST (not a dialect literal suffix): every term BIGINT in both
      // engines, so no intermediate-width edge cases in the 32-term sum
      s"(CASE WHEN $v % $p2 >= $p1 THEN CAST($w AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    val z = s"${bits("x", 0)} + ${bits("y", 1)}"
    s"""WITH dims AS (
       |  SELECT CAST(o_custkey % 65536 AS BIGINT) AS x,
       |         CAST(($dayDiff) % 65536 AS BIGINT) AS y
       |  FROM orders),
       |keyed AS (SELECT x, y, $z AS z FROM dims)
       |SELECT CAST((z - z % 4096) / 4096 AS BIGINT) AS zbucket,
       |  COUNT(*) AS n,
       |  MIN(x) AS min_x, MAX(x) AS max_x,
       |  MIN(y) AS min_y, MAX(y) AS max_y
       |FROM keyed GROUP BY 1""".stripMargin
  }

  /** The as-of rows' two sides: click events, and per (user, ts) the
    * latest view event id. */
  private def clicksViews(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .agg(max(col("event_id")).as("view_event_id"))
    (clicks, views)
  }

  /** [[clicksViews]] as the oracle's two CTEs. */
  private val clicksViewsSql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT user_id AS v_user, ts AS view_ts, MAX(event_id) AS view_event_id
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Backward as-of join: each click is matched to the user's latest
    // preceding (or simultaneous) view.
    "op_asof_join" -> QueryDef(
      (s, d) => {
        val (clicks, views) = clicksViews(s, d)
        AsOfJoin.backward(clicks, "user_id", "ts", views, "v_user", "view_ts")
          .select("event_id", "user_id", "ts", "view_event_id", "view_ts")
      },
      s"""$clicksViewsSql
        |SELECT c.event_id, c.user_id, c.ts, v.view_event_id, v.view_ts
        |FROM clicks c
        |ASOF LEFT JOIN views v ON c.user_id = v.v_user AND c.ts >= v.view_ts""".stripMargin),

    // Binned interval join: events counted into 2-hour windows anchored
    // at a subset of signup events (half-open [start, end)).
    "op_range_join" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d)
        val points = e.select(col("event_id").as("p_event_id"), col("ts").as("p_ts"))
        val wins = e
          .filter(col("event_type") === "signup" && pmod(col("event_id"), lit(20)) === 0)
          .select(col("event_id").as("win_id"), col("ts").as("start_ts"),
            (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
        val pairs = RangeJoin.binned(points, "p_ts", wins, "start_ts", "end_ts", 3600L)
        wins.join(pairs.groupBy("win_id").agg(count(lit(1)).as("n")), Seq("win_id"), "left")
          .select(col("win_id"), coalesce(col("n"), lit(0L)).as("n_events"))
      },
      """WITH wins AS (
        |  SELECT event_id AS win_id, ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
        |  FROM events WHERE event_type = 'signup' AND event_id % 20 = 0)
        |SELECT w.win_id, COUNT(e.ts) AS n_events
        |FROM wins w LEFT JOIN events e ON e.ts >= w.start_ts AND e.ts < w.end_ts
        |GROUP BY w.win_id""".stripMargin),

    // Backward as-of with a tolerance horizon: matches older than 30
    // minutes before the click are discarded (left-outer nulls). The
    // oracle nulls the ASOF match by the same horizon — correct by
    // construction on both sides (the carried row is the LATEST
    // preceding one, so out-of-horizon implies no candidate qualifies).
    "op_asof_tolerance" -> QueryDef(
      (s, d) => {
        val (clicks, views) = clicksViews(s, d)
        AsOfJoin.backwardWithin(clicks, "user_id", "ts",
            views, "v_user", "view_ts", toleranceSeconds = 1800L)
          .select("event_id", "user_id", "ts", "view_event_id", "view_ts")
      },
      s"""$clicksViewsSql
        |SELECT c.event_id, c.user_id, c.ts,
        |  CASE WHEN v.view_ts >= c.ts - INTERVAL 30 MINUTE
        |       THEN v.view_event_id END AS view_event_id,
        |  CASE WHEN v.view_ts >= c.ts - INTERVAL 30 MINUTE
        |       THEN v.view_ts END AS view_ts
        |FROM clicks c
        |ASOF LEFT JOIN views v ON c.user_id = v.v_user AND c.ts >= v.view_ts""".stripMargin),

    // Unpivot (wide → long): the four lineitem measures melted into
    // (metric, value) rows — Spark's Dataset.unpivot vs a UNION ALL
    // oracle. Values cast to DOUBLE at the edge (decimal rendering).
    "op_unpivot" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .filter(pmod(col("l_orderkey"), lit(7)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"),
          col("l_tax").cast("double").as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "metric", "value"),
      """SELECT l_orderkey, l_linenumber, m.metric,
        |  CASE m.metric
        |    WHEN 'quantity' THEN CAST(l_quantity AS DOUBLE)
        |    WHEN 'extendedprice' THEN CAST(l_extendedprice AS DOUBLE)
        |    WHEN 'discount' THEN CAST(l_discount AS DOUBLE)
        |    ELSE CAST(l_tax AS DOUBLE) END AS value
        |FROM lineitem,
        |  (SELECT unnest(['quantity','extendedprice','discount','tax']) AS metric) m
        |WHERE l_orderkey % 7 = 0""".stripMargin),

    // Deterministic stratified sampling: per-stratum Bernoulli rates
    // keyed on a portable hash of the row id — reproducible across
    // engines AND across retried/replayed tasks (unlike rand()-based
    // TABLESAMPLE, which cannot be replay-safe on a cluster).
    "op_stratified_sample" -> QueryDef(
      (s, d) => {
        val rate = when(col("event_type") === "view", 10)
          .when(col("event_type") === "click", 50)
          .when(col("event_type") === "purchase", 25)
          .otherwise(100)
        Tables.events(s, d)
          .filter(pmod(graft.functions.PortableHash.hash60(
            col("event_id").cast("string")), lit(100)) < rate)
          .select(col("event_id"), col("event_type"), col("user_id"))
      },
      s"""SELECT event_id, event_type, user_id FROM events
         |WHERE ${graft.functions.PortableHash.hash60Sql("CAST(event_id AS VARCHAR)")} % 100 <
         |  CASE event_type WHEN 'view' THEN 10 WHEN 'click' THEN 50
         |       WHEN 'purchase' THEN 25 ELSE 100 END""".stripMargin),

    // Column profiling (the ANALYZE TABLE surface): null count,
    // null count, distinct count, min/max per column: one pruned
    // single-column scan per column, unioned. On a columnar store the
    // five scans read DISJOINT column chunks — total bytes = one
    // five-column scan — while each branch keeps a plain two-phase
    // distinct aggregate. The alternative (one scan, five COUNT
    // DISTINCTs in one aggregate) plans an Expand that replicates every
    // row 6x before the shuffle; measured 3.7x slower. Branches run as
    // parallel stages of one job.
    // Doubles are excluded from min/max stringification (engines format
    // them differently); ints/strings/timestamps render identically.
    "op_profile" -> QueryDef(
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderdate", "o_orderpriority")
        cols.map { c =>
          Tables.orders(s, d).select(col(c))
            .agg(count(when(col(c).isNull, 1)).as("n_nulls"),
              countDistinct(col(c)).as("n_distinct"),
              min(col(c)).cast("string").as("min_s"),
              max(col(c)).cast("string").as("max_s"))
            .select(lit(c).as("column_name"), col("n_nulls"),
              col("n_distinct"), col("min_s"), col("max_s"))
        }.reduce(_ unionAll _)
      },
      """SELECT 'o_orderkey' AS column_name,
        |  COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |UNION ALL
        |SELECT 'o_custkey', COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
        |  COUNT(DISTINCT o_custkey),
        |  CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
        |  COUNT(DISTINCT o_orderstatus),
        |  CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END),
        |  COUNT(DISTINCT o_orderdate),
        |  CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END),
        |  COUNT(DISTINCT o_orderpriority),
        |  CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders""".stripMargin),

    // Ordered funnel: users who viewed, then clicked AFTER the first
    // view, then purchased AFTER that first click — sequential-pattern
    // analytics as three keyed min-aggregations chained by time
    // predicates (each stage one shuffle on user_id; no window sort,
    // no self-cartesian). Same SQL text on both engines.
    "op_funnel" -> QueryDef.sqlBoth(funnelSql),

    // GROUPED top-K via the incremental UDAF: top-3 users by exact
    // integer-quantized engagement per event type, each group maintained
    // in a k-bounded associative buffer (map-side partials carry ≤ k
    // entries per group — the shuffle never sees the full table; a
    // window-rank would sort every group's rows). Scores made unique by
    // a (value, user) composite so the (score DESC, member ASC) order is
    // total on both engines.
    "op_topk_grouped" -> QueryDef(
      (s, d) => {
        val scored = Tables.events(s, d)
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("score_i"))
          .select(col("event_type"), col("user_id").cast("string").as("member"),
            col("score_i").cast("double").as("score"))
        scored.groupBy(col("event_type"))
          .agg(graft.functions.TopKAggregator.topK(3)(
            col("member"), col("score")).as("tk"))
          .select(col("event_type"), explode(col("tk")).as("e"))
          .select(col("event_type"), col("e._1").as("member"),
            col("e._2").as("score"))
      },
      """WITH scored AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS member,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS DOUBLE) AS score
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type, member, score FROM (
        |  SELECT event_type, member, score,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY score DESC, member ASC) AS rk
        |  FROM scored) t WHERE rk <= 3""".stripMargin),

    // Fixed-size-per-group sample (the reservoir shape, made replay-safe):
    // rank rows within each group by a portable hash of the row id and
    // keep the first K — a deterministic uniform-without-replacement
    // sample that any retried task reproduces. Spark plans the rank
    // filter as WindowGroupLimit (PlanSpec pins it): each map task keeps
    // only its local top-K per group BEFORE the shuffle, so the
    // exchange carries O(groups × K) rows, not the table.
    "op_reservoir_sample" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(graft.functions.PortableHash.hash60(
            concat(col("event_id").cast("string"), lit("|rsv"))),
            col("event_id"))
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("user_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 100)
          .select(col("event_type"), col("event_id"), col("user_id"),
            col("rn").cast("long").as("rn"))
      },
      s"""SELECT event_type, event_id, user_id, CAST(rn AS BIGINT) AS rn
         |FROM (
         |  SELECT event_type, event_id, user_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY ${graft.functions.PortableHash.hash60Sql(
                  "CAST(event_id AS VARCHAR) || '|rsv'")}, event_id) AS rn
         |  FROM events)
         |WHERE rn <= 100""".stripMargin),

    // Systematic probability-proportional-to-size (PPS) sampling — the
    // weighted complement of op_reservoir_sample: a row with weight w is
    // selected iff the interval (cum-w, cum] of the global running
    // weight contains a multiple of the step, so inclusion probability
    // is w/step (for w < step) with a FIXED expected sample size of
    // total/step — the estimator survey sampling and size-weighted data
    // selection both build on. Everything is int64 arithmetic on a
    // deterministic portable-hash order (replay/retry-safe, no rand()),
    // and the GLOBAL running sum is the shared distributed two-level
    // prefix-sum kernel ([[graft.operators.PrefixSum]]): 64 hash-bucket
    // cumsums in parallel, bucket offsets from a 64-row aggregate
    // broadcast back — no single task scans the table, unlike the naive
    // one-partition window. The oracle's flat sequential window
    // hash-proves the decomposition.
    "op_pps_sample" -> QueryDef(
      (s, d) => {
        import graft.functions.PortableHash
        import graft.operators.PrefixSum
        val h = PortableHash.hash60(concat(
          col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string"), lit("|pps")))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("w"))
        PrefixSum.hashOrderedRunningSum(base, h, Seq.empty,
            Seq(col("l_orderkey"), col("l_linenumber")), "w", "cum_weight")
          .filter(expr(s"cum_weight div $PpsStep") >
            expr(s"(cum_weight - w) div $PpsStep"))
          .select(col("l_orderkey"), col("l_linenumber").cast("long")
            .as("l_linenumber"), col("w").as("weight"), col("cum_weight"))
      }, {
        import graft.functions.PortableHash
        val hSql = PortableHash.hash60Sql(
          "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|pps'")
        s"""WITH t AS (
           |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |    CAST(l_quantity AS BIGINT) AS w,
           |    ${OracleSql.hashOrderSql(hSql)}
           |  FROM lineitem),
           |c AS (
           |  SELECT l_orderkey, l_linenumber, w,
           |    ${OracleSql.runningSumSql("w", "l_orderkey, l_linenumber")} AS cum_weight
           |  FROM t)
           |SELECT l_orderkey, l_linenumber, w AS weight, cum_weight
           |FROM c
           |WHERE cum_weight // $PpsStep > (cum_weight - w) // $PpsStep""".stripMargin
      }),

    // Z-order layout: interleave the bits of two clustering dimensions
    // (customer key, order date) into one Morton key, range-bucket on
    // it, and report each bucket's bounding box. The point of the curve:
    // buckets are tight in BOTH dimensions at once, so a scan filtered
    // on either column can skip most buckets (min/max pruning) — the
    // multi-dimensional generalization of sort-by-one-column, and the
    // standard layout trick for 100 TB fact tables queried on several
    // keys. Bit extraction is pure +/%/>= arithmetic (identical in both
    // engines; no dialect bit operators), dates via a day-difference
    // term that is the only dialect-specific fragment. ZOrderSpec pins
    // the locality claim itself (bucket boxes ≪ global box).
    "op_zorder_layout" -> QueryDef(
      (s, d) => {
        // Spark side: the native bit-twiddling Morton expression (whole-
        // stage codegen) — bit-identical to the oracle's 32-term CASE
        // arithmetic, pinned by MortonSpec
        val dims = Tables.orders(s, d).select(
          (col("o_custkey") % 65536).cast("long").as("x"),
          (datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            % 65536).cast("long").as("y"))
        dims
          .withColumn("z", graft.functions.MortonFunctions
            .mortonInterleave16(col("x"), col("y")))
          .groupBy(((col("z") - col("z") % 4096) / 4096).cast("long")
            .as("zbucket"))
          .agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
      },
      zorderSql("DATEDIFF('day', DATE '1992-01-01', o_orderdate)")),

    // Co-located join over bucketed layout: both tables are written ONCE
    // bucketed+sorted by the join key, so the join itself plans with NO
    // exchange on either side (PlanSpec pins this) — at 100 TB this is
    // the difference between shuffling the fact table on every join and
    // shuffling it once at layout time. The only remaining exchange is
    // the tiny post-join rollup. Money in exact cents (FLOOR(x*100) is a
    // single IEEE multiply, bit-identical across engines).
    "op_bucket_join" -> QueryDef(
      (s, d) => {
        val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
        val base = s"${sys.props("java.io.tmpdir")}/graft_buckets/$tag"
        graft.operators.Bucketing.writeBucketed(s, Tables.orders(s, d),
          s"g_orders$tag", s"$base/orders", 8, "o_custkey")
        graft.operators.Bucketing.writeBucketed(s, Tables.customer(s, d),
          s"g_cust$tag", s"$base/customer", 8, "c_custkey")
        s.table(s"g_orders$tag")
          .join(s.table(s"g_cust$tag").hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      },
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // Fuzzy (edit-distance) entity matching over the part-name
    // dictionary. The 100 TB shape: dedupe to DISTINCT values first
    // (a dictionary is bounded by vocabulary, not by row count), block
    // candidates on a cheap key (shared last token) so the self-join is
    // an equi-join, and run Levenshtein only on within-block candidate
    // pairs — never all-pairs. Both engines share the identical
    // block + distance semantics, so the SQL text is the oracle.
    "op_fuzzy_join" -> QueryDef(
      (s, d) => {
        val names = Tables.part(s, d).select("p_name").distinct()
          .withColumn("blk", regexp_extract(col("p_name"), "(\\S+)$", 1))
        val a = names.select(col("p_name").as("name_a"), col("blk"))
        val b = names.select(col("p_name").as("name_b"), col("blk"))
        a.join(b, "blk")
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist",
            levenshtein(col("name_a"), col("name_b")).cast("long"))
          .filter(col("dist") <= 4)
          .select("name_a", "name_b", "dist")
      },
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name,
        |        regexp_extract(p_name, '(\S+)$', 1) AS blk FROM names)
        |SELECT a.p_name AS name_a, b2.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b2.p_name) AS BIGINT) AS dist
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name
        |WHERE levenshtein(a.p_name, b2.p_name) <= 4""".stripMargin),

    // The same funnel through the custom FunnelMatch operator (logical
    // node + strategy + sorted-sweep exec): ONE shuffle + sort of the
    // fact table for any step count, vs one aggregation+join per step
    // in op_funnel's composed form. Same oracle — the operators must
    // agree row-for-row.
    "op_funnel_native" -> QueryDef(
      (s, d) => {
        val f = graft.plans.Funnel.funnel(
          Tables.events(s, d), "user_id", "ts", Seq(
            col("event_type") === "view",
            col("event_type") === "click",
            col("event_type") === "purchase"))
        f.agg(count(col("step0_ts")).as("n_viewed"),
          count(col("step1_ts")).as("n_clicked_after"),
          count(col("step2_ts")).as("n_purchased_after"))
      },
      funnelSql),

    // DataFrame pivot (explicit value list ⇒ stable schema at any SF).
    "op_pivot" -> QueryDef(
      (s, d) => {
        val types = Seq("view", "click", "purchase", "signup", "error")
        val p = Tables.events(s, d)
          .withColumn("cohort", pmod(col("user_id"), lit(10)))
          .groupBy("cohort").pivot("event_type", types).count()
        p.select(col("cohort") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      },
      """SELECT user_id % 10 AS cohort,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
        |FROM events GROUP BY user_id % 10""".stripMargin))
}
