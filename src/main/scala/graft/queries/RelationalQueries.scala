package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.Tables

/** The relational operator surface (SURVEY.md §2.9's "explicit absences"
  * — our engine gets these from Spark built-ins and must expose them):
  * aggregation with decimal exactness, multi-way joins, window functions,
  * distinct aggregation, rollup/grouping sets, set operations, semi/anti
  * joins, correlated subqueries, and the scalar function inventory
  * (string/date/math/conditional/JSON).
  *
  * Most queries here are written once in the SQL dialect common to Spark
  * SQL and DuckDB and executed with `spark.sql` over temp views — the
  * oracle is the *same text*, which eliminates drift by construction.
  * Cross-engine float determinism: aggregates go through DECIMAL (exact),
  * doubles are only passed through or combined with single IEEE ops, and
  * no transcendental functions (libm results are not portable).
  */
object RelationalQueries {

  import QueryDef.sqlBoth

  val defs: Map[String, QueryDef] = Map(

    // TPC-H Q1-style pricing summary: hash aggregate with map-side partial
    // aggregation; all money math in DECIMAL so sums are exact at any SF.
    // Decimal sums cast to DOUBLE at the query edge on BOTH engines: the
    // interior arithmetic stays exact, and decimal->double is a single
    // correctly-rounded conversion of the same exact value on each side,
    // so the rendered values agree (Spark and DuckDB print decimal
    // trailing zeros differently, which breaks the value hash otherwise).
    "rel_pricing_summary" -> sqlBoth(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |           * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Top-K with deterministic tie-break: plans as TakeOrderedAndProject
    // (no global sort even at 100 TB).
    "rel_top_orders" -> sqlBoth(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin),

    // TPC-H Q3-style: 3-way join + filtered aggregate + top-K by revenue.
    "rel_order_revenue" -> sqlBoth(
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin),

    // TPC-H Q5-style: 6-way star join; the small sides (region, nation,
    // supplier, customer) broadcast under AQE, lineitem never repartitions
    // more than once.
    "rel_nation_revenue" -> sqlBoth(
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('AMERICA', 'ASIA')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin),

    // Window-function inventory: ranking, offset, and frame aggregates
    // with a total order inside each partition (determinism at any SF).
    "rel_window_funcs" -> sqlBoth(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |  CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS BIGINT) AS status_rank,
        |  LAG(o_orderkey) OVER w AS prev_orderkey,
        |  LEAD(o_orderkey) OVER w AS next_orderkey,
        |  COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS running_spend,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin),

    // Analytic-frame inventory: RANGE frames over an integer order key,
    // ntile/percent_rank/cume_dist/dense_rank/nth_value. Ratio functions
    // are single IEEE divisions of exact integers (portable); ranks
    // pinned to BIGINT.
    "rel_window_frames" -> sqlBoth(
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pct_rank,
        |  CAST(CUME_DIST() OVER w AS DOUBLE) AS cume,
        |  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key,
        |  COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1k
        |FROM orders
        |WHERE o_orderkey % 5 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)""".stripMargin),

    // Regex function inventory. Patterns stay in the portable subset
    // (character classes, anchors, bounded quantifiers) — identical
    // semantics in Java regex (Spark) and RE2 (DuckDB). No shared text:
    // the APIs differ (rlike vs regexp_matches), oracle is hand-matched.
    "rel_regex_funcs" -> QueryDef(
      (s, d) => Tables.part(s, d)
        .filter(pmod(col("p_partkey"), lit(3)) === 0)
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_upper"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
          col("p_name").rlike("^[a-z]+ [a-z]+").as("two_words"),
          length(regexp_replace(col("p_name"), "[^ ]", "")).cast("long").as("n_spaces")),
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) AS last_upper,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  regexp_matches(p_name, '^[a-z]+ [a-z]+') AS two_words,
        |  CAST(length(regexp_replace(p_name, '[^ ]', '', 'g')) AS BIGINT) AS n_spaces
        |FROM part WHERE p_partkey % 3 = 0""".stripMargin),

    // Distinct aggregation (expand + two-phase aggregate in Spark).
    "rel_distinct_agg" -> sqlBoth(
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS n_custs,
        |  COUNT(DISTINCT o_orderpriority) AS n_prios,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin),

    // ROLLUP + GROUPING(): multi-level aggregates in one pass.
    "rel_rollup" -> sqlBoth(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    // Set operations: INTERSECT / EXCEPT (hash-distinct based).
    "rel_setops" -> sqlBoth(
      """SELECT 'with_orders' AS tag, c_custkey AS custkey FROM
        |  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders) a
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey AS custkey FROM
        |  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) b""".stripMargin),

    // Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL keep
    // duplicate multiplicity (hash-based multiplicity counting, not
    // distinct), the complement of rel_setops' set semantics.
    "rel_setops_all" -> sqlBoth(
      """SELECT 'both' AS tag, x FROM (
        |  SELECT o_custkey AS x FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a
        |UNION ALL
        |SELECT 'only_open' AS tag, x FROM (
        |  SELECT o_custkey AS x FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') b""".stripMargin),

    // Null-handling semantics, pinned explicitly: aggregates skip nulls
    // (count(col) vs count(*)), grouping keeps a NULL group, and
    // ordered output declares NULLS FIRST (Spark and DuckDB have
    // different defaults — portable SQL must say which it wants).
    "rel_null_semantics" -> sqlBoth(
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |            ELSE o_orderstatus END AS status_or_null,
        |  COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |             ELSE o_orderstatus END) AS n_nonnull,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio
        |FROM orders
        |GROUP BY 1
        |ORDER BY status_or_null NULLS FIRST""".stripMargin),

    // Semi / anti joins via EXISTS / NOT EXISTS (planned as
    // LeftSemi/LeftAnti broadcast or shuffled hash joins).
    "rel_semi_anti" -> sqlBoth(
      """SELECT c_custkey, c_name, 1 AS has_urgent FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT c_custkey, c_name, 0 AS has_urgent FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // Full-outer join: customers without orders AND orphaned order keys
    // both survive, with null-safe key coalescing.
    "rel_full_outer" -> sqlBoth(
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
        |  c.c_name,
        |  COUNT(o.o_orderkey) AS n_orders
        |FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2""".stripMargin),

    // Cross join of two bounded dimensions (5 regions × 25 nations):
    // the legitimate cartesian — both sides are dimension-sized, the
    // product is the point. PlanSpec whitelists it as bounded-by-design.
    "rel_cross_small" -> sqlBoth(
      """SELECT r.r_name, n.n_name,
        |  (CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END) AS is_home
        |FROM region r CROSS JOIN nation n""".stripMargin),

    // Correlated scalar subquery (decorrelated to an aggregate + join).
    "rel_scalar_subquery" -> sqlBoth(
      """SELECT o_orderstatus, o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_orderstatus = o.o_orderstatus)""".stripMargin),

    // String function inventory.
    "rel_string_funcs" -> sqlBoth(
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  LOWER(p_brand) AS brand_lower,
        |  LENGTH(p_name) AS name_len,
        |  SUBSTRING(p_name, 1, 8) AS name_prefix,
        |  REPLACE(p_name, ' ', '_') AS name_snake,
        |  CONCAT_WS('-', p_brand, p_type) AS brand_type,
        |  TRIM(CONCAT('  ', p_brand, '  ')) AS brand_trim,
        |  LPAD(p_brand, 12, '*') AS brand_pad,
        |  REVERSE(p_brand) AS brand_rev,
        |  CONTAINS(p_type, 'BRUSHED') AS is_brushed,
        |  (p_name LIKE 'a%') AS starts_a,
        |  SPLIT_PART(p_type, ' ', 1) AS type_head
        |FROM part""".stripMargin),

    // Date/time function inventory (common dialect subset).
    "rel_date_funcs" -> sqlBoth(
      """SELECT o_orderkey,
        |  YEAR(o_orderdate) AS y,
        |  MONTH(o_orderdate) AS m,
        |  DAY(o_orderdate) AS d,
        |  DAYOFYEAR(o_orderdate) AS doy,
        |  QUARTER(o_orderdate) AS q,
        |  DATE_TRUNC('month', o_orderdate) AS month_start,
        |  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
        |  o_orderdate + INTERVAL '30' DAY AS due_date,
        |  EXTRACT(YEAR FROM o_orderdate) AS y2
        |FROM orders
        |WHERE o_orderkey % 7 = 0""".stripMargin),

    // Math function inventory (no transcendentals: libm is not portable;
    // SQRT is IEEE-exact, the rest is integer/decimal arithmetic).
    "rel_math_funcs" -> sqlBoth(
      """SELECT p_partkey,
        |  ABS(p_size - 25) AS size_dev,
        |  CAST(CEIL(CAST(p_retailprice AS DECIMAL(12,2)) / 10) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(CAST(p_retailprice AS DECIMAL(12,2)) / 10) AS BIGINT) AS price_floor,
        |  MOD(p_partkey, 13) AS pk_mod,
        |  CAST(SIGN(p_size - 25) AS INTEGER) AS size_sign,
        |  GREATEST(p_size, 10) AS size_hi,
        |  LEAST(p_size, 40) AS size_lo,
        |  SQRT(CAST(p_size AS DOUBLE)) AS size_sqrt,
        |  CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,2)) * 3, 1) AS DOUBLE) AS price_x3
        |FROM part""".stripMargin),

    // String aggregation (the LISTAGG surface) — made deterministic by
    // construction: collect_list order is partition-dependent, so the
    // portable form is sorted-distinct-then-join. Same doctrine as every
    // "latest": an aggregate must not depend on arrival order.
    "rel_string_agg" -> QueryDef.sql(
      """SELECT o_orderstatus,
        |  array_join(array_sort(collect_set(o_orderpriority)), '|') AS prios,
        |  COUNT(DISTINCT o_orderpriority) AS n_prios
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS prios,
        |  COUNT(DISTINCT o_orderpriority) AS n_prios
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    // Exact percentiles (correctness twin of adv_approx_sketches'
    // estimators): continuous-interpolation quantiles over an INTEGER
    // metric at quarter points — pos = p·(n−1) and the interpolation
    // a + (b−a)·frac are exact in double for integer data and quarter
    // fractions, so Spark's percentile and DuckDB's quantile_cont agree
    // bit-for-bit. Exact percentile buffers whole groups (memory ∝ group
    // size) — at 100 TB the scale path is the sketch; this is the
    // baseline it is judged against.
    "rel_percentiles" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .withColumn("m", floor(col("value") * 1000).cast("long"))
        .groupBy(col("event_type"))
        .agg(expr("percentile(m, 0.5)").as("p50"),
          expr("percentile(m, 0.25)").as("p25"),
          expr("percentile(m, 0.75)").as("p75"),
          count(lit(1)).as("n")),
      """SELECT event_type,
        |  quantile_cont(m, 0.5) AS p50,
        |  quantile_cont(m, 0.25) AS p25,
        |  quantile_cont(m, 0.75) AS p75,
        |  COUNT(*) AS n
        |FROM (SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS m
        |      FROM events)
        |GROUP BY event_type""".stripMargin),

    // Conditional expressions.
    "rel_case_funcs" -> sqlBoth(
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity >= 30 THEN 'bulk'
        |       WHEN l_quantity >= 10 THEN 'mid'
        |       ELSE 'small' END AS qty_band,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
        |  IFNULL(NULLIF(l_linestatus, 'O'), 'open') AS status_or_open,
        |  CASE l_linestatus WHEN 'O' THEN 0 ELSE 1 END AS is_final
        |FROM lineitem
        |WHERE l_orderkey % 11 = 0""".stripMargin))
}
