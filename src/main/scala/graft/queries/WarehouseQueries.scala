package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.operators.Dedup

/** Warehouse-maintenance operators a CDC consumer runs downstream of the
  * reference pipeline (SURVEY.md §2.6-§2.7 extensions): SCD Type-2
  * history materialization, MERGE upsert application, gap-based
  * sessionization, histogramming, relational division — plus the
  * containment twin of the Jaccard near-dup family.
  *
  * Portability doctrine as everywhere: shared SQL text where the dialect
  * overlaps, exact integer arithmetic or single IEEE ops elsewhere, and
  * DECIMAL cast to DOUBLE at the query edge on both engines.
  */
object WarehouseQueries {

  import QueryDef.sqlBoth

  // MERGE INTO's source batch: updates for every 10th order key, inserts
  // (keys beyond the existing range) derived from every 17th. The offset
  // keeps inserted keys disjoint from the snapshot at any SF.
  private val mergeSourceSql =
    """src AS (
      |  SELECT o_orderkey AS k, 'UPDATED' AS new_status FROM orders
      |  WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000 AS k, 'NEW' AS new_status FROM orders
      |  WHERE o_orderkey % 17 = 0)""".stripMargin

  // Gap-based sessionization over the event stream: a session breaks
  // after 30 idle minutes. Boundary flags via LAG, session numbering via
  // a running sum — two window passes over ONE shuffle on user_id (both
  // windows share the partition key), then a hash aggregation.
  private val sessionizeSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |              OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts, event_id,
      |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |  COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM numbered
      |GROUP BY user_id, session_no""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Snapshot diff — classify every key as added / removed / changed
    // between two table versions (the audit primitive behind CDC
    // reconciliation and time-travel diffs). One full-outer join
    // shuffling both snapshots on the key; unchanged keys are dropped
    // post-join. At 100 TB the join keys on the table's natural key, so
    // AQE handles skew and partition-pruned snapshots (diff only touched
    // partitions) keep the shuffle proportional to the delta, not the
    // table. Snapshots are derived deterministically from `orders` so
    // the oracle rebuilds the identical pair.
    "wh_snapshot_diff" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        val old = o.filter(pmod(col("o_orderkey"), lit(19)) =!= 3)
          .select(col("o_orderkey"), col("o_orderstatus").as("old_status"))
        val neu = o.filter(pmod(col("o_orderkey"), lit(23)) =!= 5)
          .select(col("o_orderkey"),
            when(pmod(col("o_orderkey"), lit(7)) === 0, lit("X"))
              .otherwise(col("o_orderstatus")).as("new_status"))
        old.join(neu, Seq("o_orderkey"), "full_outer")
          .withColumn("change_type",
            when(col("old_status").isNull, "added")
              .when(col("new_status").isNull, "removed")
              .when(col("old_status") =!= col("new_status"), "changed"))
          .filter(col("change_type").isNotNull)
          .select("o_orderkey", "change_type", "old_status", "new_status")
      },
      """WITH olds AS (
        |  SELECT o_orderkey, o_orderstatus AS old_status FROM orders
        |  WHERE o_orderkey % 19 <> 3),
        |news AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS new_status
        |  FROM orders WHERE o_orderkey % 23 <> 5),
        |j AS (
        |  SELECT COALESCE(olds.o_orderkey, news.o_orderkey) AS o_orderkey,
        |    old_status, new_status,
        |    CASE WHEN olds.o_orderkey IS NULL THEN 'added'
        |         WHEN news.o_orderkey IS NULL THEN 'removed'
        |         WHEN old_status <> new_status THEN 'changed' END AS change_type
        |  FROM olds FULL OUTER JOIN news ON olds.o_orderkey = news.o_orderkey)
        |SELECT o_orderkey, change_type, old_status, new_status
        |FROM j WHERE change_type IS NOT NULL""".stripMargin),

    // Compaction planning — the small-files problem at 100 TB: pack
    // files (here: documents as (id, size) stand-ins) into target-sized
    // output bins by running size, per source partition. One window
    // cumsum over a shuffle on `source` (bounded partitions), then a
    // hash aggregation; the plan rows are per-bin, so the output is
    // tiny at any SF. Shared SQL text — the running sum, FLOOR division
    // and aggregates are dialect-portable.
    "wh_compaction_plan" -> sqlBoth(
      """WITH f AS (
        |  SELECT source, doc_id, n_chars,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM documents)
        |SELECT source, CAST(FLOOR(cum_before / 4000) AS BIGINT) AS bin,
        |  COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS bin_bytes,
        |  MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
        |FROM f GROUP BY 1, 2""".stripMargin),

    // SCD Type-2 history from the CDC changelog: each change row of a key
    // becomes a version with [valid_from, valid_to) bounds; the open
    // version is current. One shuffle on the key, one in-partition sort —
    // the standard warehouse materialization of exactly the change stream
    // the reference pipeline delivers (insert-only appends in the
    // reference; see cdc_apply_changelog for the c/u/d variant).
    "cdc_scd2" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("content_id"))
          .orderBy(col("event_ts"), col("id"))
        CdcMapping.fact(s, d)
          .select(col("content_id"), col("id").as("version_id"),
            col("event_type"), col("device"),
            col("event_ts").as("valid_from"),
            lead(col("event_ts"), 1).over(w).as("valid_to"))
          .withColumn("is_current", col("valid_to").isNull)
      },
      s"""WITH ${CdcMapping.factSql}
         |SELECT content_id, id AS version_id, event_type, device,
         |  event_ts AS valid_from,
         |  LEAD(event_ts) OVER w AS valid_to,
         |  (LEAD(event_ts) OVER w IS NULL) AS is_current
         |FROM fact
         |WINDOW w AS (PARTITION BY content_id ORDER BY event_ts, id)""".stripMargin),

    // MERGE upsert application (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    // INSERT / else keep), expressed as one full-outer join on the key —
    // the shape that scales: both sides shuffle-partition on the merge
    // key, AQE broadcasts the delta when it is small. Decimal price cast
    // to DOUBLE at the edge.
    "op_merge_upsert" -> sqlBoth(
      s"""WITH $mergeSourceSql
         |SELECT COALESCE(t.o_orderkey, s.k) AS k,
         |  CASE WHEN t.o_orderkey IS NULL THEN 'insert'
         |       WHEN s.k IS NULL THEN 'keep'
         |       ELSE 'update' END AS action,
         |  COALESCE(s.new_status, t.o_orderstatus) AS status,
         |  CAST(t.o_totalprice AS DOUBLE) AS totalprice
         |FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.k""".stripMargin),

    // Gap-based sessions (the window-composition counterpart of
    // adv_session_windows' session_window aggregation).
    "op_sessionize" -> sqlBoth(sessionizeSql),

    // Fixed-width histogram: 20 buckets of 25 over the value measure,
    // top bucket clamped. Bucket id = single IEEE division + floor of
    // the same double on both engines — portable bit-for-bit. Map-side
    // partial aggregation makes this one tiny shuffle at any scale.
    "op_histogram" -> sqlBoth(
      """SELECT event_type,
        |  CAST(LEAST(FLOOR(value / 25), 19) AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY 1, 2""".stripMargin),

    // Equi-depth (quantile) binning — op_histogram's fixed-width twin
    // and the standard feature-bucketization step: NTILE(4) per event
    // type over a deterministic (value, event_id) total order, emitting
    // each bin's population and value range. Standard-SQL NTILE
    // semantics (first n mod k bins take the extra row) match across
    // engines; min/max pass the raw doubles through untouched. One
    // shuffle on the partition key; at 100 TB you'd bin against sampled
    // quantile cut points instead of a global sort — op_histogram and
    // adv_approx_sketches' percentile path cover that shape.
    "op_quantile_bin" -> sqlBoth(
      """SELECT event_type, bin, COUNT(*) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM (
        |  SELECT event_type, value,
        |    CAST(NTILE(4) OVER (
        |      PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL)
        |GROUP BY event_type, bin""".stripMargin),

    // Relational division: customers whose orders cover ALL priority
    // classes — the classic "for all" query, as a distinct-count
    // comparison against an uncorrelated scalar subquery (no
    // per-candidate anti-join blowup; two aggregations total).
    "rel_division" -> sqlBoth(
      """SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_prios
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(DISTINCT o_orderpriority) =
        |  (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)""".stripMargin),

    // Data-quality constraint suite (the Deequ/expectations surface):
    // completeness, key uniqueness, range, and referential checks as ONE
    // metrics pass over the fact table plus one anti-join branch for the
    // foreign key. The Spark side computes the scan metrics in a single
    // aggregate row and unpivots it with stack — a 100 TB table is
    // scanned once, not once per check (a WITH-CTE oracle re-inlines per
    // reference, which DuckDB can afford at oracle SF). Referential
    // integrity is a left-anti join: broadcast-able key side here; at
    // dimension scale the bloom semi-join (BloomJoin) is the same shape.
    "wh_dq_checks" -> QueryDef(
      (s, d) => {
        val m = Tables.orders(s, d).agg(
          count(lit(1)).as("n_rows"),
          count(when(col("o_custkey").isNull, 1)).as("null_cust"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
          count(when(col("o_totalprice") <= 0, 1)).as("nonpos_price"),
          count(when(col("o_orderdate") < lit("1992-01-01").cast("date") ||
            col("o_orderdate") > lit("1998-12-31").cast("date"), 1))
            .as("date_oob"))
        val orph = Tables.orders(s, d).filter(col("o_custkey").isNotNull)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
        m.crossJoin(orph).selectExpr(
          """stack(6,
            |  'completeness_custkey', null_cust,
            |  'uniqueness_orderkey', dup_keys,
            |  'range_totalprice_positive', nonpos_price,
            |  'range_orderdate_1992_1998', date_oob,
            |  'referential_custkey', orphans,
            |  'row_count_nonzero', CAST(IF(n_rows > 0, 0, 1) AS BIGINT)
            |) AS (check_name, violations)""".stripMargin)
      },
      """WITH m AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_cust,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
        |    COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS nonpos_price,
        |    COUNT(CASE WHEN o_orderdate < DATE '1992-01-01'
        |                 OR o_orderdate > DATE '1998-12-31' THEN 1 END) AS date_oob
        |  FROM orders),
        |orph AS (
        |  SELECT COUNT(*) AS orphans FROM orders o
        |  WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT 'completeness_custkey' AS check_name,
        |       CAST(null_cust AS BIGINT) AS violations FROM m
        |UNION ALL SELECT 'uniqueness_orderkey', CAST(dup_keys AS BIGINT) FROM m
        |UNION ALL SELECT 'range_totalprice_positive', CAST(nonpos_price AS BIGINT) FROM m
        |UNION ALL SELECT 'range_orderdate_1992_1998', CAST(date_oob AS BIGINT) FROM m
        |UNION ALL SELECT 'referential_custkey', CAST(orphans AS BIGINT) FROM orph
        |UNION ALL SELECT 'row_count_nonzero',
        |  CAST(CASE WHEN n_rows > 0 THEN 0 ELSE 1 END AS BIGINT) FROM m""".stripMargin),

    // Incremental aggregate maintenance: a materialized per-type rollup
    // is refreshed by MERGING algebraic partial states (count/sum/min/
    // max — and avg as final sum/count), never by rescanning history.
    // The Spark side computes per-(type, before/after-split) partials
    // and merges them — exactly what a warehouse does with yesterday's
    // stored partials plus today's delta; the oracle aggregates the
    // whole table directly, proving merge == recompute. Measure is the
    // exact integer millis-quantized value; avg is one IEEE division.
    "wh_incremental_merge" -> QueryDef(
      (s, d) => {
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        val partials = Tables.events(s, d)
          .withColumn("m", floor(col("value") * 1000).cast("long"))
          .withColumn("part", when(col("ts") < split, 0).otherwise(1))
          .groupBy("event_type", "part")
          .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
            min(col("m")).as("mn"), max(col("m")).as("mx"))
        partials.groupBy("event_type")
          .agg(sum(col("n")).cast("long").as("n_events"),
            sum(col("s")).cast("long").as("sum_m"),
            min(col("mn")).as("min_m"), max(col("mx")).as("max_m"))
          .withColumn("avg_m",
            col("sum_m").cast("double") / col("n_events").cast("double"))
      },
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_m,
        |  MIN(CAST(FLOOR(value * 1000) AS BIGINT)) AS min_m,
        |  MAX(CAST(FLOOR(value * 1000) AS BIGINT)) AS max_m,
        |  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS avg_m
        |FROM events GROUP BY event_type""".stripMargin),

    // Containment near-dup pairs: |A∩B| / min(|A|,|B|) over hashed
    // 2-gram shingles — catches subset-style duplication (a short doc
    // embedded in a longer one) that Jaccard's union denominator hides.
    // Same scale-safe blocked self-join shape as dedup_ngram_jaccard:
    // block on source, deterministic 64-doc cap, plain shuffled
    // equi-join, merge-scan intersect on candidates only.
    "dedup_containment" -> QueryDef(
      (s, d) => Dedup.blockedContainmentPairs(
        Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), col("source"),
            Dedup.hashedShingles(col("text"), 2).as("sh2")),
        "doc_id", "source", "sh2", cap = 64, threshold = 0.2), {
        import OracleSql._
        s"""WITH sh AS (
           |  SELECT doc_id, source,
           |    ${hashedShinglesSql(2)} AS sh2
           |  FROM documents WHERE doc_id % 3 = 0),
           |capped AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           |    FROM sh)
           |  WHERE rn <= 64)
           |SELECT x.doc_id AS a, y.doc_id AS b,
           |  (len(list_intersect(x.sh2, y.sh2)) / least(len(x.sh2), len(y.sh2))) AS containment
           |FROM capped x JOIN capped y ON x.source = y.source AND x.doc_id < y.doc_id
           |WHERE (len(list_intersect(x.sh2, y.sh2)) / least(len(x.sh2), len(y.sh2))) >= 0.2""".stripMargin
      }))
}
