package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract: the query registry.
  *
  * [[specs]] is the one place to add a face. Each [[QuerySpec]] names a
  * query over an sf dir of parquet tables, builds it, gives its DuckDB
  * oracle, and says whether `Bench` times it; `queries`, `oracleSql` and
  * `Bench.headline` are derived from it. Column names and value
  * determinism (decimal-exact sums, explicit ORDER BY, rounded doubles) are
  * aligned between both sides — see `graft.ops.Tables.dsum` for the
  * float-determinism strategy.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qAggGroupby(spark, "/root/testdata/sf0.001")

  /** One face: `build` runs it over an sf dir, `oracle` is its DuckDB SQL
    * over the same tables registered by name, `headline` puts it in the
    * `Bench` timing set. */
  final case class QuerySpec(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: () => Option[String],
      headline: Boolean = false)

  /** Static oracle SQL, evaluated when `oracleSql` is read. */
  private def sql(text: => String): () => Option[String] = () => Some(text)

  /** Oracle SQL that replays a persisted artifact: `text` gets the path
    * `ArtifactStore.recorded` holds for it, and there is no oracle until
    * the face has built (and recorded) the artifact in this JVM. Verify
    * runs every query before it dumps oracle_sql.json. */
  private def replay(artifact: String)(text: String => String): () => Option[String] =
    () => ArtifactStore.recorded(artifact).map(text)

  val specs: Seq[QuerySpec] = Seq(
    // relational surface (SURVEY §2b)
    QuerySpec("q_scan", Relational.qScan, sql("SELECT * FROM nation ORDER BY n_nationkey")),
    QuerySpec("q_multifile_scan", Relational.qMultifileScan, sql(
      """SELECT c_custkey, count(*) AS n_copies FROM
        |(SELECT * FROM customer UNION ALL SELECT * FROM customer)
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_count", Relational.qCount, sql("SELECT count(*) AS n_rows FROM lineitem")),
    QuerySpec("q_limit_provenance", Relational.qLimitProvenance, sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |'orders' AS __table__ FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q_union_by_name", Relational.qUnionByName, sql(
      """SELECT id, name, acctbal, nationkey FROM (
        |  SELECT c_custkey AS id, c_name AS name, CAST(c_acctbal AS DOUBLE) AS acctbal FROM customer
        |  UNION ALL BY NAME
        |  SELECT s_suppkey AS id, s_name AS name, CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        |) ORDER BY name""".stripMargin)),
    QuerySpec("q_join_orders_customer", Relational.qJoinOrdersCustomer, sql(
      s"""SELECT c_mktsegment, count(*) AS n_orders, $dsumP AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin), headline = true),
    QuerySpec("q_join3_revenue", Relational.qJoin3Revenue, sql(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin), headline = true),
    QuerySpec("q_explode_tokens", Relational.qExplodeTokens, sql(
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 50),
        |e AS (SELECT doc_id,
        |  unnest(list_transform(range(len(toks)), i -> {pos: i, tok: toks[i+1]})) AS u FROM d)
        |SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok
        |FROM e ORDER BY doc_id, pos""".stripMargin)),
    QuerySpec("q_null_safe_eq", Relational.qNullSafeEq, sql(
      """SELECT o_orderpriority,
        |CAST(sum(CASE WHEN nullif(o_orderstatus,'O') IS NOT DISTINCT FROM 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |CAST(sum(CASE WHEN nullif(o_orderstatus,'O') IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_eq,
        |CAST(sum(CASE WHEN nullif(o_orderstatus,'O') = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f_plain
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("q_filter_numeric", Relational.qFilterNumeric, sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin), headline = true),
    QuerySpec("q_filter_daterange", Relational.qFilterDaterange, sql(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_filter_string_eq", Relational.qFilterStringEq, sql(
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_agg_global", Relational.qAggGlobal, sql(
      """SELECT count(*) AS n_rows, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount) AS avg_disc
        |FROM lineitem""".stripMargin)),
    QuerySpec("q_agg_groupby", Relational.qAggGroupby, sql(
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        |CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin), headline = true),
    QuerySpec("q_sort", Relational.qSort, sql(
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_acctbal DESC, s_suppkey ASC")),
    QuerySpec("q_topk", Relational.qTopk, sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin), headline = true),
    QuerySpec("q_null_handling", Relational.qNullHandling, sql(
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |count(nullif(o_orderstatus, 'O')) AS n_nonnull,
        |count(DISTINCT coalesce(nullif(o_orderstatus, 'O'), 'OPEN')) AS n_distinct_coalesced
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("q_distinct", Relational.qDistinct, sql(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin), headline = true),
    QuerySpec("q_count_distinct", Relational.qCountDistinct, sql(
      """SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
        |count(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin), headline = true),
    // checked contract: the HLL estimate is engine-specific, so the query
    // emits the exact count + an in-plan bound verdict; the oracle asserts
    // the verdict is literally TRUE (see Relational.qApproxCountDistinct)
    QuerySpec("q_approx_count_distinct", Relational.qApproxCountDistinct, sql(
      """SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS within_3rsd
        |FROM lineitem""".stripMargin)),
    QuerySpec("q_month_groupby", Relational.qMonthGroupby, sql(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mon,
        |count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mon""".stripMargin), headline = true),
    QuerySpec("q_pivot_month", Relational.qPivotMonth, sql(
      s"SELECT o_orderpriority, $pivotCols FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),
    QuerySpec("q_except_semi", Relational.qExceptSemi, sql(
      """SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN
        |(SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_rollup", Relational.qRollup, sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),
    QuerySpec("q_grouping_sets", Relational.qGroupingSets, sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),
    QuerySpec("q_histogram", Relational.qHistogram, sql(
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
        |count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)),
    QuerySpec("q_percentiles", Relational.qPercentiles, sql(
      """SELECT l_returnflag,
        |CAST(round(quantile_cont(l_quantity, 0.5) * 1000000, 0) AS BIGINT) AS med_qty_e6,
        |CAST(round(quantile_cont(l_extendedprice, 0.25) * 1000000, 0) AS BIGINT) AS p25_price_e6,
        |CAST(round(quantile_cont(l_extendedprice, 0.9) * 1000000, 0) AS BIGINT) AS p90_price_e6
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_stats_moments", Relational.qStatsMoments, sql(
      """WITH s AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sqq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS spp,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sqp
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows AS n,
        |CAST(round((sq / n) * 1000000, 0) AS BIGINT) AS mean_qty_e6,
        |CAST(round(((sqq - sq * sq / n) / (n - 1)) * 1000, 0) AS BIGINT) AS var_qty_e3,
        |CAST(round(sqrt((sqq - sq * sq / n) / (n - 1)) * 1000000, 0) AS BIGINT) AS sd_qty_e6,
        |CAST(round(sqrt((spp - sp * sp / n) / (n - 1)) * 100, 0) AS BIGINT) AS sd_price_e2,
        |CAST(round(((sqp - sq * sp / n) / (n - 1)) /
        |  (sqrt((sqq - sq * sq / n) / (n - 1)) * sqrt((spp - sp * sp / n) / (n - 1))) * 1000000, 0) AS BIGINT) AS corr_e6
        |FROM s ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("q_intersect", Relational.qIntersect, sql(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
        |ORDER BY o_custkey""".stripMargin)),
    QuerySpec("q_window_rank", Relational.qWindowRank, sql(
      """SELECT c_mktsegment, rn, rnk, drnk, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
        |    rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS drnk
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin), headline = true),
    // scalar suites (SURVEY §2c)
    QuerySpec("q_string_funcs", Relational.qStringFuncs, sql(
      """SELECT c_custkey, upper(c_name) AS up_name, lower(c_mktsegment) AS lo_seg,
        |substring(c_name, 1, 8) AS name_prefix, CAST(length(c_name) AS BIGINT) AS name_len,
        |concat_ws('-', c_mktsegment, c_name) AS seg_name,
        |replace(c_name, 'Customer', 'Cust') AS short_name,
        |CAST(CASE WHEN c_name LIKE '%001%' THEN 1 ELSE 0 END AS BIGINT) AS has_001
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    QuerySpec("q_date_funcs", Relational.qDateFuncs, sql(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mon,
        |CAST(day(o_orderdate) AS BIGINT) AS dom, CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |strftime(o_orderdate, '%Y-%m') AS ym,
        |CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch0,
        |CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS d_plus_30,
        |last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("q_math_funcs", Relational.qMathFuncs, sql(
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS disc_price,
        |abs(l_discount - CAST(0.05 AS DOUBLE)) AS abs_dev,
        |pow(l_quantity, 2) AS qty_sq, sqrt(l_quantity) AS qty_sqrt,
        |round(ln(l_extendedprice), 6) AS ln_price,
        |CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |l_orderkey % 7 AS key_mod7
        |FROM lineitem WHERE l_orderkey <= 1500 ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q_json_extract", EventOps.qJsonExtract, sql(
      """SELECT event_id, event_type, json_extract_string(props, '$.k') AS k_str,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin)),
    // events / windows (SURVEY §2e)
    QuerySpec("q_tumbling_window", EventOps.qTumblingWindow, sql(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin), headline = true),
    QuerySpec("q_session_like_gap", EventOps.qSessionLikeGap, sql(
      """WITH x AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts FROM events)
        |SELECT user_id, count(*) AS n_events,
        |CAST(sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin), headline = true),
    QuerySpec("q_window_running_sum", EventOps.qWindowRunningSum, sql(
      """SELECT user_id, event_id, value,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
        |FROM events WHERE user_id < 50 ORDER BY user_id, event_id""".stripMargin)),
    // funnel: timestamps compared as exact integer micros on both sides —
    // Spark's events reader truncates ns → µs, so the oracle floors the
    // native ns value identically before any min/chaining comparison
    QuerySpec("q_funnel_steps", EventOps.qFunnelSteps, sql(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |v AS (SELECT user_id, min(tus) AS t_view_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.tus) AS t_click_us FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.tus > v.t_view_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.tus) AS t_purchase_us FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus > c.t_click_us GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view_us, c.t_click_us, p.t_purchase_us,
        |CAST(1 + (CASE WHEN c.t_click_us IS NOT NULL THEN 1 ELSE 0 END)
        |       + (CASE WHEN p.t_purchase_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin), headline = true),
    QuerySpec("q_asof_join", TemporalJoinOps.qAsofJoin, sql(
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |epoch_us(p.ts) AS ts_us, c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
        |epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin), headline = true),
    // the blocked variant is semantically identical — same oracle
    QuerySpec("q_asof_join_blocked", TemporalJoinOps.qAsofJoinBlocked, sql(
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |epoch_us(p.ts) AS ts_us, c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
        |epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin), headline = true),
    QuerySpec("q_range_join_windows", TemporalJoinOps.qRangeJoinWindows, sql(
      """WITH iv AS (
        |  SELECT et.event_type, d.win_day,
        |    TIMESTAMP '2024-01-01 00:00:00' + (d.win_day - 1) * INTERVAL 1 DAY AS w_start,
        |    TIMESTAMP '2024-01-01 00:00:00' + (d.win_day - 1) * INTERVAL 1 DAY + INTERVAL 36 HOUR AS w_end
        |  FROM (SELECT DISTINCT event_type FROM events) et
        |  CROSS JOIN (SELECT CAST(unnest([1, 8, 15, 22]) AS BIGINT) AS win_day) d)
        |SELECT iv.event_type, iv.win_day, count(e.event_id) AS n_events,
        |CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM iv LEFT JOIN events e
        |  ON e.event_type = iv.event_type AND e.ts >= iv.w_start AND e.ts < iv.w_end
        |GROUP BY iv.event_type, iv.win_day
        |ORDER BY iv.event_type, iv.win_day""".stripMargin), headline = true),
    // catalog / profiling / ingestion (SURVEY §2a, V10)
    QuerySpec("q_describe", ProfileOps.qDescribe, sql(
      """SELECT column_name,
        |CASE WHEN column_type LIKE 'TIMESTAMP%' THEN 'TIMESTAMP' ELSE column_type END AS column_type
        |FROM (DESCRIBE SELECT * FROM lineitem) ORDER BY column_name""".stripMargin)),
    QuerySpec("q_profile_stats", ProfileOps.qProfileStats, sql(profileUnion)),
    QuerySpec("q_clean_columns", IngestOps.qCleanColumns, sql(
      """SELECT o_orderkey AS order_key, o_totalprice AS total_price,
        |o_orderstatus AS status, o_orderpriority AS status_1
        |FROM orders ORDER BY order_key""".stripMargin)),
    QuerySpec("q_ingest_csv_roundtrip", IngestOps.qIngestCsvRoundtrip, sql(
      """SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |count(DISTINCT o_orderstatus) AS n_status FROM orders""".stripMargin)),
    QuerySpec("q_ingest_tsv_roundtrip", IngestOps.qIngestTsvRoundtrip, sql(
      """SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |count(DISTINCT o_orderstatus) AS n_status FROM orders""".stripMargin)),
    QuerySpec("q_ingest_json_roundtrip", IngestOps.qIngestJsonRoundtrip, sql(
      """SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |count(DISTINCT o_orderstatus) AS n_status FROM orders""".stripMargin)),
    QuerySpec("q_ingest_orc_roundtrip", IngestOps.qIngestOrcRoundtrip, sql(
      """SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |count(DISTINCT o_orderstatus) AS n_status FROM orders""".stripMargin)),
    QuerySpec("q_partitioned_roundtrip", IngestOps.qPartitionedRoundtrip, sql(
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |count(DISTINCT source) AS n_sources FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    // text / vector / dedup (SURVEY §2d + north star)
    QuerySpec("q_chunk_rows", TextOps.qChunkRows, sql(
      """WITH r AS (SELECT source, doc_id,
        |  '[index ' || doc_id || '] ' || 'doc_id:' || doc_id || ' | text:' || text ||
        |  ' | lang:' || lang || ' | source:' || source || ' | n_chars:' || n_chars AS row_text
        |  FROM documents),
        |l AS (SELECT source, doc_id, row_text, CAST(length(row_text) AS BIGINT) AS len FROM r),
        |c AS (SELECT source, doc_id, row_text, len,
        |  CAST(floor((sum(len) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len) / 1000.0) AS BIGINT) AS chunk_id
        |  FROM l)
        |SELECT source, chunk_id, count(*) AS n_rows, CAST(sum(len) AS BIGINT) AS chunk_chars,
        |min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |md5(string_agg(row_text, chr(10) ORDER BY doc_id)) AS chunk_md5
        |FROM c GROUP BY source, chunk_id ORDER BY source, chunk_id""".stripMargin), headline = true),
    QuerySpec("q_text_tokens", TextOps.qTextTokens, sql(
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin), headline = true),
    QuerySpec("q_token_bpe", TextOps.qTokenBpe, sql(
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        |CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    QuerySpec("q_ngram_jaccard_pairs", DedupOps.qNgramJaccardPairs, sql(
      """WITH t0 AS (SELECT doc_id, source,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, source,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t0),
        |p AS (SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000, 0) AS BIGINT) AS jaccard_e6
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT source, id_a, id_b, jaccard_e6 FROM p WHERE jaccard_e6 >= 400000
        |ORDER BY id_a, id_b""".stripMargin), headline = true),
    QuerySpec("q_quality_score", TextOps.qQualityScore, sql(
      """WITH x AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS alnum FROM documents),
        |y AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop_cnt,
        |  alnum FROM x),
        |z AS (SELECT doc_id, n_tokens,
        |  CAST(round(stop_cnt / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS stop_ratio_e6,
        |  CAST(round(alnum / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS avg_word_len_e6 FROM y)
        |SELECT doc_id, n_tokens, stop_ratio_e6, avg_word_len_e6,
        |CAST(round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |  CAST(0.5 AS DOUBLE) + CAST(0.05 AS DOUBLE) * (CAST(avg_word_len_e6 AS DOUBLE) / 1000000.0)
        |  - CAST(0.8 AS DOUBLE) * (CAST(stop_ratio_e6 AS DOUBLE) / 1000000.0))) * 1000000, 0) AS BIGINT) AS quality_e6
        |FROM z ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_doc_fingerprint", TextOps.qDocFingerprint, sql(
      """WITH n AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp, md5(substring(norm, 1, 64)) AS prefix_fp,
        |CAST(length(norm) AS BIGINT) AS norm_len FROM n ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_exact_dedup", TextOps.qExactDedup, sql(
      """SELECT source, count(*) AS n_rows, count(DISTINCT md5(text)) AS n_unique,
        |count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    // checked: integer-evidence language-ID (hit counts share the doc's
    // token-count denominator, so the argmax is integer arithmetic — see
    // TextOps.qLangId); the marker table is inlined as VALUES
    QuerySpec("q_lang_id", TextOps.qLangId, sql {
      val markerValues = graft.ops.TextOps.langMarkers.toSeq.sortBy(_._1)
        .flatMap { case (lg, ws) => ws.map(w => s"('$lg','$w')") }
        .mkString(", ")
      s"""WITH toks AS (SELECT doc_id, lang AS label_lang,
         |  string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
         |m(lang, tok) AS (VALUES $markerValues),
         |langs AS (SELECT DISTINCT lang FROM m),
         |flat AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |counts AS (SELECT f.doc_id, m.lang, count(*) AS hits
         |  FROM flat f JOIN m ON f.tok = m.tok GROUP BY 1, 2),
         |scored AS (SELECT t.doc_id, t.label_lang, len(t.tk) AS n_tokens, l.lang,
         |  coalesce(c.hits, 0) AS hits
         |  FROM toks t CROSS JOIN langs l
         |  LEFT JOIN counts c ON c.doc_id = t.doc_id AND c.lang = l.lang),
         |best AS (SELECT doc_id, label_lang, n_tokens,
         |  max(struct_pack(h := hits, l := lang)) AS b
         |  FROM scored GROUP BY 1, 2, 3)
         |SELECT doc_id, label_lang, b.l AS pred_lang,
         |  CAST(b.h AS BIGINT) AS n_marker_hits,
         |  CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM best ORDER BY doc_id""".stripMargin
    }),
    // checked since r11: NB scores are e6-quantized integer sums (the
    // q_bigram_lm micro-int pattern), so training, scoring, and the
    // (score, lang) argmax reproduce exactly in DuckDB
    QuerySpec("q_lang_id_nb", TextOps.qLangIdNb, sql(
      """WITH train AS (SELECT lang, text FROM documents WHERE doc_id % 10 < 8),
        |test AS (SELECT doc_id, lang AS label_lang, text FROM documents WHERE doc_id % 10 >= 8),
        |ttok AS (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM train),
        |counts AS (SELECT lang, tok, count(*) AS n FROM ttok GROUP BY 1, 2),
        |totals AS (SELECT lang, count(*) AS total FROM ttok GROUP BY 1),
        |voc AS (SELECT count(DISTINCT tok) AS v FROM ttok),
        |prof AS (SELECT c.lang, c.tok,
        |  CAST(round(ln((c.n + 1) / CAST(t.total + voc.v + 1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS logp_e6
        |  FROM counts c JOIN totals t ON c.lang = t.lang CROSS JOIN voc),
        |unseen AS (SELECT t.lang,
        |  CAST(round(ln(1.0 / CAST(t.total + voc.v + 1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS unseen_e6
        |  FROM totals t CROSS JOIN voc),
        |dtok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM test),
        |dlen AS (SELECT doc_id, count(*) AS len FROM dtok GROUP BY 1),
        |hits AS (SELECT d.doc_id, p.lang, sum(p.logp_e6) AS hit_score, count(*) AS n_hit
        |  FROM dtok d JOIN prof p ON d.tok = p.tok GROUP BY 1, 2),
        |scored AS (SELECT h.doc_id, h.lang,
        |  h.hit_score + (l.len - h.n_hit) * u.unseen_e6 AS score_e6
        |  FROM hits h JOIN dlen l ON h.doc_id = l.doc_id JOIN unseen u ON h.lang = u.lang),
        |best AS (SELECT doc_id, max(struct_pack(s := score_e6, l := lang)) AS b
        |  FROM scored GROUP BY 1)
        |SELECT t.doc_id, b.b.l AS pred_lang, t.label_lang,
        |  CAST(b.b.s AS BIGINT) AS score_e6,
        |  CAST(CASE WHEN b.b.l = t.label_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM test t JOIN best b ON t.doc_id = b.doc_id ORDER BY t.doc_id""".stripMargin)),
    // X27 checked contract: exact distinct-token count + TRUE verdict that
    // the distributed explode+groupBy simhash equals an independent
    // per-row HOF formulation (the signature value itself is xxhash64-
    // based and has no DuckDB twin)
    QuerySpec("q_simhash", TextOps.qSimhash, sql(
      """SELECT doc_id,
        |CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
        |  AS n_distinct_tok,
        |TRUE AS formulations_agree
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // X27b checked contract — a DETERMINISTIC recall floor: docs sharing a
    // distinct-token set have equal signatures, hence hamming 0 and a
    // shared band, so every such pair MUST be found; the pair list itself
    // is exactly SQL-computable
    QuerySpec("q_simhash_neardup", TextOps.qSimhashNeardup, sql(
      """WITH tset AS (SELECT doc_id,
        |  list_sort(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS ts
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM tset a JOIN tset b ON a.ts = b.ts AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),
    // X28 checked contract: the kernel at w=1 emits the distinct k-gram
    // hash set, whose SIZE DuckDB recomputes character-for-character from
    // the same normalization; selection-subset + nonempty are in-plan
    // TRUE verdicts (SIGMOD'03 invariants)
    QuerySpec("q_winnow_fingerprint", TextOps.qWinnowFingerprint, sql(
      """WITH nt AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id,
        |CAST(CASE WHEN length(norm) < 12 THEN 1
        |  ELSE len(list_distinct([substring(norm, i, 12)
        |    for i in range(1, length(norm) - 10)])) END AS BIGINT)
        |  AS n_distinct_kgrams,
        |TRUE AS subset_ok, TRUE AS nonempty
        |FROM nt ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_vocab_top", TextOps.qVocabTop, sql(
      """WITH f AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents),
        |g AS (SELECT token, count(*) AS n FROM f GROUP BY token
        |  ORDER BY n DESC, token ASC LIMIT 100)
        |SELECT token, n,
        |CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS BIGINT) AS token_id
        |FROM g ORDER BY token_id""".stripMargin)),
    QuerySpec("q_repetition", CorpusOps.qRepetition, sql(
      """WITH t0 AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM t0),
        |u AS (SELECT doc_id, unnest(toks) AS tok FROM t0),
        |uc AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt FROM
        |  (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok) GROUP BY doc_id),
        |bgr AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
        |  i -> toks[i+1] || ' ' || toks[i+2])) AS bg FROM t0 WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bi FROM
        |  (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY doc_id, bg) GROUP BY doc_id)
        |SELECT b.doc_id, n_tok,
        |CAST(round(CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) * 1000000, 0) AS BIGINT) AS top_tok_e6,
        |CAST(round(CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) * 1000000, 0) AS BIGINT) AS distinct_ratio_e6,
        |CASE WHEN n_tok >= 2 THEN
        |  CAST(round(CAST(COALESCE(top_bi, 0) AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE) * 1000000, 0) AS BIGINT)
        |ELSE 0 END AS top_bigram_e6
        |FROM b JOIN uc USING (doc_id) LEFT JOIN bc USING (doc_id)
        |ORDER BY doc_id""".stripMargin), headline = true),
    QuerySpec("q_pii_redact", CorpusOps.qPiiRedact, sql(
      """WITH a AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@mail-' || source || '.example.com' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN ' cc admin@example.org' ELSE '' END) ||
        |  ' call +1-555-' || (doc_id % 10000) ||
        |  ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) || '.4' AS aug
        |  FROM documents)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(aug, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
        |CAST(len(regexp_extract_all(aug, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}')) AS BIGINT) AS n_phone,
        |CAST(len(regexp_extract_all(aug, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
        |md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |  '\+[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}', '<PHONE>', 'g'),
        |  '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5,
        |CAST(length(regexp_replace(regexp_replace(regexp_replace(aug,
        |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |  '\+[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}', '<PHONE>', 'g'),
        |  '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS BIGINT) AS redacted_len
        |FROM a ORDER BY doc_id""".stripMargin)),
    QuerySpec("q_split_stratified", CorpusOps.qSplitStratified, sql(
      """WITH s AS (SELECT lang, doc_id, n_chars,
        |  CASE WHEN substring(md5(doc_id || ':split'), 1, 1) < 'c' THEN 'train'
        |       WHEN substring(md5(doc_id || ':split'), 1, 1) < 'e' THEN 'dev'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin)),
    // greedy packing is a sequential scan with reset state — the honest
    // SQL formulation is a recursive CTE advancing one row at a time
    QuerySpec("q_pack_sequences", CorpusOps.qPackSequences, sql(
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT rn, doc_id, n_tok, CAST(0 AS BIGINT) AS pack_id, n_tok AS acc
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.rn, t.doc_id, t.n_tok,
        |    CASE WHEN g.acc + t.n_tok <= 128 THEN g.pack_id ELSE g.pack_id + 1 END,
        |    CASE WHEN g.acc + t.n_tok <= 128 THEN g.acc + t.n_tok ELSE t.n_tok END
        |  FROM t JOIN g ON t.rn = g.rn + 1)
        |SELECT doc_id, pack_id, n_tok FROM g ORDER BY doc_id""".stripMargin), headline = true),
    // weighted-mixing sampler: arithmetic association mirrors the Spark
    // expression exactly (IEEE double ops are deterministic given the same
    // order), bucket compare over 3 hex digits vs printf('%03x')
    QuerySpec("q_mix_sources", CorpusOps.qMixSources, sql(
      """WITH vol AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_s FROM documents GROUP BY source),
        |r AS (SELECT *, CAST(dense_rank() OVER (ORDER BY source) AS BIGINT) AS rank FROM vol),
        |t AS (SELECT CAST(sum(chars_s) AS BIGINT) AS total_chars,
        |  CAST(sum(rank) AS BIGINT) AS sum_ranks FROM r),
        |thr AS (SELECT source, n_docs,
        |  CAST(floor((0.4 * CAST(total_chars AS DOUBLE) * CAST(rank AS DOUBLE) * 4096.0)
        |    / (CAST(sum_ranks AS DOUBLE) * CAST(chars_s AS DOUBLE))) AS BIGINT) AS thr
        |  FROM r, t),
        |k AS (SELECT d.source, d.n_chars, t.n_docs, t.thr,
        |  (t.thr >= 4096 OR substring(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 3)
        |     < printf('%03x', t.thr)) AS keep
        |  FROM documents d JOIN thr t USING (source))
        |SELECT source, min(n_docs) AS n_docs,
        |CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
        |min(thr) AS thr
        |FROM k GROUP BY source ORDER BY source""".stripMargin)),
    QuerySpec("q_contamination", CorpusOps.qContamination, sql(
      """WITH t0 AS (SELECT doc_id, source,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, source,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t0),
        |bk AS (SELECT DISTINCT unnest(sh) AS key FROM d WHERE doc_id % 97 = 0),
        |ck AS (SELECT doc_id, unnest(sh) AS key FROM d WHERE doc_id % 97 <> 0),
        |c AS (SELECT DISTINCT doc_id FROM ck WHERE key IN (SELECT key FROM bk))
        |SELECT source, count(*) AS n_docs,
        |CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM c) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_contaminated
        |FROM documents WHERE doc_id % 97 <> 0
        |GROUP BY source ORDER BY source""".stripMargin)),
    QuerySpec("q_quality_filter", CorpusOps.qQualityFilter, sql(
      """WITH x AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS alnum FROM documents),
        |y AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop_cnt,
        |  alnum FROM x),
        |z AS (SELECT doc_id,
        |  CAST(round(stop_cnt / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS stop_ratio_e6,
        |  CAST(round(alnum / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS avg_word_len_e6 FROM y),
        |q AS (SELECT d.lang, z.doc_id,
        |  CAST(round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE) + CAST(0.05 AS DOUBLE) * (CAST(avg_word_len_e6 AS DOUBLE) / 1000000.0)
        |    - CAST(0.8 AS DOUBLE) * (CAST(stop_ratio_e6 AS DOUBLE) / 1000000.0))) * 1000000, 0) AS BIGINT) AS quality_e6
        |  FROM z JOIN documents d USING (doc_id)),
        |m AS (SELECT lang, quantile_cont(quality_e6, 0.5) AS med_quality FROM q GROUP BY lang)
        |SELECT q.lang, count(*) AS n_docs,
        |CAST(sum(CASE WHEN q.quality_e6 >= m.med_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |round(any_value(m.med_quality), 1) AS med_quality
        |FROM q JOIN m USING (lang) GROUP BY q.lang ORDER BY q.lang""".stripMargin), headline = true),
    // checked contract: the MinHash face emits the SAME same-source pair
    // list as the exact prefix-filter pipeline (precision 1 by exact
    // verify; recall measured 1.0 at every tested SF), so the oracle is the
    // identical all-pairs SQL — a hash match certifies recall, not just
    // shape (see DedupOps.qMinhashNeardup)
    QuerySpec("q_minhash_neardup", DedupOps.qMinhashNeardup, sql(
      """WITH t0 AS (SELECT doc_id, source,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, source,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t0),
        |p AS (SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000, 0) AS BIGINT) AS jaccard_e6
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT source, id_a, id_b, jaccard_e6 FROM p WHERE jaccard_e6 >= 400000
        |ORDER BY id_a, id_b""".stripMargin), headline = true),
    QuerySpec("q_dedup_clusters", DedupOps.qDedupClusters, sql(
      """WITH RECURSIVE t0 AS (SELECT doc_id, source,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dd AS (SELECT doc_id, source,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t0),
        |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000, 0) AS BIGINT) AS jaccard_e6
        |  FROM dd a JOIN dd b ON a.source = b.source AND a.doc_id < b.doc_id),
        |e AS (SELECT id_a AS es, id_b AS ed FROM pp WHERE jaccard_e6 >= 400000
        |  UNION ALL SELECT id_b, id_a FROM pp WHERE jaccard_e6 >= 400000),
        |r(rs, rd) AS (SELECT es, ed FROM e
        |  UNION SELECT r.rs, e.ed FROM r JOIN e ON r.rd = e.es),
        |lab AS (SELECT rs AS node, least(rs, min(rd)) AS label FROM r GROUP BY rs)
        |SELECT label AS cluster_rep, count(*) AS n_members, max(node) AS max_member
        |FROM lab GROUP BY label HAVING count(*) >= 2 ORDER BY cluster_rep""".stripMargin), headline = true),
    // X61: the incremental twin shares the from-scratch closure oracle —
    // label maintenance must be invisible in the cluster report
    QuerySpec("q_dedup_clusters_incremental", DedupOps.qDedupClustersIncremental, sql(
      """WITH RECURSIVE t0 AS (SELECT doc_id, source,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dd AS (SELECT doc_id, source,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t0),
        |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1000000, 0) AS BIGINT) AS jaccard_e6
        |  FROM dd a JOIN dd b ON a.source = b.source AND a.doc_id < b.doc_id),
        |e AS (SELECT id_a AS es, id_b AS ed FROM pp WHERE jaccard_e6 >= 400000
        |  UNION ALL SELECT id_b, id_a FROM pp WHERE jaccard_e6 >= 400000),
        |r(rs, rd) AS (SELECT es, ed FROM e
        |  UNION SELECT r.rs, e.ed FROM r JOIN e ON r.rd = e.es),
        |lab AS (SELECT rs AS node, least(rs, min(rd)) AS label FROM r GROUP BY rs)
        |SELECT label AS cluster_rep, count(*) AS n_members, max(node) AS max_member
        |FROM lab GROUP BY label HAVING count(*) >= 2 ORDER BY cluster_rep""".stripMargin), headline = true),
    // X26 semantic dedup: transitive closure over the SAME band-blocked
    // exact-cosine pair graph as q_embed_neardup_pairs, so the cluster
    // fixpoint itself is hash-verified (mirrors the q_dedup_clusters
    // recursive-CTE discipline on the embedding side)
    QuerySpec("q_semantic_dedup", DedupOps.qSemanticDedup, sql(
      s"""WITH RECURSIVE s AS (SELECT vec_id, label, embedding,
         |  ${cmpBandSql(32, 4).zipWithIndex
               .map { case (b, i) => s"($b) AS band$i" }.mkString(",\n  ")}
         |  FROM embeddings),
         |c AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${e6(cosSql("a.embedding", "b.embedding"))} AS sim_e6
         |  FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
         |   AND (a.band0 = b.band0 OR a.band1 = b.band1 OR
         |        a.band2 = b.band2 OR a.band3 = b.band3)),
         |pp AS (SELECT id_a, id_b FROM c WHERE sim_e6 >= 300000),
         |eg AS (SELECT id_a AS es, id_b AS ed FROM pp
         |  UNION ALL SELECT id_b, id_a FROM pp),
         |r(rs, rd) AS (SELECT es, ed FROM eg
         |  UNION SELECT r.rs, eg.ed FROM r JOIN eg ON r.rd = eg.es),
         |lab AS (SELECT rs AS node, least(rs, min(rd)) AS comp FROM r GROUP BY rs),
         |att AS (SELECT emb.label AS coll, lab.comp FROM lab
         |  JOIN embeddings emb ON emb.vec_id = lab.node),
         |ds AS (SELECT coll, count(*) AS n_clustered,
         |  count(DISTINCT comp) AS n_clusters FROM att GROUP BY coll),
         |tot AS (SELECT label AS coll, count(*) AS n_vecs FROM embeddings GROUP BY label)
         |SELECT tot.coll AS label, tot.n_vecs,
         |CAST(COALESCE(ds.n_clustered, 0) AS BIGINT) AS n_in_dup_clusters,
         |CAST(COALESCE(ds.n_clusters, 0) AS BIGINT) AS n_clusters,
         |CAST(tot.n_vecs - COALESCE(ds.n_clustered - ds.n_clusters, 0) AS BIGINT) AS n_kept
         |FROM tot LEFT JOIN ds ON tot.coll = ds.coll ORDER BY label""".stripMargin), headline = true),
    // X27: same word-3-shingle construction as the dedup family, then
    // corpus-wide duplicate-shingle detection keyed on the shingle
    QuerySpec("q_dup_ngram_spans", CorpusOps.qDupNgramSpans, sql(
      """WITH t0 AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dd AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM t0),
        |ex AS (SELECT doc_id, unnest(sh) AS key FROM dd),
        |dk AS (SELECT key FROM ex GROUP BY key HAVING count(DISTINCT doc_id) >= 2),
        |pd AS (SELECT ex.doc_id, count(*) AS n_dup FROM ex
        |  JOIN dk ON ex.key = dk.key GROUP BY ex.doc_id),
        |ns AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY doc_id)
        |SELECT ns.doc_id, ns.n_shingles,
        |CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup_shingles,
        |CAST(round(CAST(COALESCE(pd.n_dup, 0) AS DOUBLE) / ns.n_shingles * 1000000, 0) AS BIGINT) AS dup_frac_e6
        |FROM ns LEFT JOIN pd ON ns.doc_id = pd.doc_id ORDER BY ns.doc_id""".stripMargin), headline = true),
    // X78: span-level duplicate removal — full replay of the positional
    // chain: positional 3-shingles, min-doc_id keep rule, gaps-and-islands
    // run merge (runs >= 5 shingles), interval union, word surgery
    QuerySpec("q_dedup_spans", CorpusOps.qDedupSpans, sql(
      """WITH t0 AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |t1 AS (SELECT doc_id, list_transform(toks, w -> lower(w)) AS lt
        |  FROM t0 WHERE len(toks) >= 3),
        |e2 AS (SELECT doc_id, u['p'] AS p, u['k'] AS key FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(lt) - 2), i ->
        |    {'p': i, 'k': lt[i+1] || ' ' || lt[i+2] || ' ' || lt[i+3]})) AS u
        |  FROM t1)),
        |dk AS (SELECT key, min(doc_id) AS keeper, count(DISTINCT doc_id) AS df
        |  FROM e2 GROUP BY key),
        |fl AS (SELECT e2.doc_id, e2.p FROM e2 JOIN dk ON e2.key = dk.key
        |  WHERE dk.df >= 2 AND e2.doc_id > dk.keeper),
        |rn AS (SELECT doc_id, p,
        |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM fl),
        |runs AS (SELECT doc_id, min(p) AS s, max(p) + 2 AS e FROM rn
        |  GROUP BY doc_id, grp HAVING count(*) >= 5),
        |iv AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s, e) AS ivs,
        |  count(*) AS n_spans FROM runs GROUP BY doc_id),
        |o AS (SELECT t0.doc_id, len(t0.toks) AS n_words,
        |  COALESCE(iv.n_spans, 0) AS n_spans, t0.toks AS toks,
        |  CASE WHEN iv.doc_id IS NULL THEN range(len(t0.toks))
        |       ELSE list_filter(range(len(t0.toks)), i ->
        |         len(list_filter(iv.ivs, v -> i >= v['s'] AND i <= v['e'])) = 0)
        |  END AS keep
        |  FROM t0 LEFT JOIN iv ON t0.doc_id = iv.doc_id)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_words - len(keep) AS BIGINT) AS n_removed,
        |  CAST(n_spans AS BIGINT) AS n_spans,
        |  COALESCE(array_to_string(list_transform(keep, i -> toks[i+1]), ' '),
        |    '') AS text_clean
        |FROM o ORDER BY doc_id""".stripMargin), headline = true),
    // X29 curation funnel: each stage CTE reuses the formulation already
    // verified standalone (md5 fingerprint dedup, shingle-overlap
    // decontamination, micro-int quality score), chained per doc
    QuerySpec("q_curation_funnel", CorpusOps.qCurationFunnel, sql(
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        |bt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id % 97 = 0),
        |bk AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END) AS key FROM bt),
        |ctk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM corpus),
        |cex AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END) AS key FROM ctk),
        |contaminated AS (SELECT DISTINCT cex.doc_id FROM cex JOIN bk ON cex.key = bk.key),
        |qx AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS alnum FROM corpus),
        |qy AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop_cnt,
        |  alnum FROM qx),
        |qz AS (SELECT doc_id,
        |  CAST(round(stop_cnt / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS stop_ratio_e6,
        |  CAST(round(alnum / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS avg_word_len_e6 FROM qy),
        |qual AS (SELECT doc_id FROM qz WHERE
        |  CAST(round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE) + CAST(0.05 AS DOUBLE) * (CAST(avg_word_len_e6 AS DOUBLE) / 1000000.0)
        |    - CAST(0.8 AS DOUBLE) * (CAST(stop_ratio_e6 AS DOUBLE) / 1000000.0))) * 1000000, 0) AS BIGINT) >= 500000)
        |SELECT c.source, count(*) AS n_raw,
        |CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
        |CAST(sum(CASE WHEN k.doc_id IS NOT NULL AND ct.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam,
        |CAST(sum(CASE WHEN k.doc_id IS NOT NULL AND ct.doc_id IS NULL AND q.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
        |CAST(sum(CASE WHEN k.doc_id IS NOT NULL AND ct.doc_id IS NULL AND q.doc_id IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT) AS chars_final
        |FROM corpus c LEFT JOIN keep k ON c.doc_id = k.doc_id
        |LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
        |LEFT JOIN qual q ON c.doc_id = q.doc_id
        |GROUP BY c.source ORDER BY c.source""".stripMargin), headline = true),
    // X63: per-doc lineage shares the funnel's verified stage CTEs;
    // only the final SELECT changes (reason CASE instead of counts)
    QuerySpec("q_drop_reasons", CorpusOps.qDropReasons, sql(
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        |bt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id % 97 = 0),
        |bk AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END) AS key FROM bt),
        |ctk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM corpus),
        |cex AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(len(toks) - 2), i ->
        |      toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |  ELSE [array_to_string(toks, ' ')] END) AS key FROM ctk),
        |contaminated AS (SELECT DISTINCT cex.doc_id FROM cex JOIN bk ON cex.key = bk.key),
        |qx AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS alnum FROM corpus),
        |qy AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS stop_cnt,
        |  alnum FROM qx),
        |qz AS (SELECT doc_id,
        |  CAST(round(stop_cnt / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS stop_ratio_e6,
        |  CAST(round(alnum / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS avg_word_len_e6 FROM qy),
        |qual AS (SELECT doc_id FROM qz WHERE
        |  CAST(round(least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE) + CAST(0.05 AS DOUBLE) * (CAST(avg_word_len_e6 AS DOUBLE) / 1000000.0)
        |    - CAST(0.8 AS DOUBLE) * (CAST(stop_ratio_e6 AS DOUBLE) / 1000000.0))) * 1000000, 0) AS BIGINT) >= 500000)
        |SELECT c.doc_id, c.source,
        |CASE WHEN k.doc_id IS NULL THEN 'duplicate'
        |     WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
        |     WHEN q.doc_id IS NULL THEN 'low_quality'
        |     ELSE 'kept' END AS reason
        |FROM corpus c LEFT JOIN keep k ON c.doc_id = k.doc_id
        |LEFT JOIN contaminated ct ON c.doc_id = ct.doc_id
        |LEFT JOIN qual q ON c.doc_id = q.doc_id
        |ORDER BY c.doc_id""".stripMargin), headline = true),
    // X65: one double ratio inside one ln, mirrored exactly (a*b*c is
    // left-to-right in both engines)
    QuerySpec("q_pmi_collocations", CorpusOps.qPmiCollocations, sql(
      """WITH tk AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM tk),
        |un AS (SELECT tok, count(*) AS n FROM uni GROUP BY tok),
        |ut AS (SELECT sum(n) AS n_uni FROM un),
        |bg AS (SELECT unnest(list_transform(range(len(t) - 1),
        |  i -> struct_pack(a := t[i+1], b := t[i+2]))) AS p FROM tk WHERE len(t) >= 2),
        |bn AS (SELECT p.a AS a, p.b AS b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
        |bt AS (SELECT sum(n_ab) AS n_bi FROM bn)
        |SELECT bn.a, bn.b, bn.n_ab,
        |CAST(round(ln((CAST(bn.n_ab AS DOUBLE) * ut.n_uni * ut.n_uni) /
        |  (CAST(bt.n_bi AS DOUBLE) * na.n * nb.n)) * 1000000, 0) AS BIGINT) AS pmi_e6
        |FROM bn JOIN un na ON bn.a = na.tok JOIN un nb ON bn.b = nb.tok
        |CROSS JOIN ut CROSS JOIN bt
        |WHERE bn.n_ab >= 5
        |ORDER BY pmi_e6 DESC, bn.a ASC, bn.b ASC LIMIT 30""".stripMargin), headline = true),
    // X64: the oracle runs the quadratic formulation outright — the hash
    // match proves the deletion-neighborhood blocking dropped no pair
    QuerySpec("q_fuzzy_join", FuzzyOps.qFuzzyJoin, sql(
      """SELECT a.c_custkey AS id_a, a.c_name AS name_a,
        |b.c_custkey AS id_b, b.c_name AS name_b,
        |CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin), headline = true),
    QuerySpec("q_binary_meta", MultimodalOps.qBinaryMeta, sql(
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |md5(text) AS digest FROM documents ORDER BY doc_id""".stripMargin)),
    // X14b media decode, checked contract: the synthesized-WAV payload's
    // exact integer sample checksum (Σ|byte−128|·256) replayed from the
    // raw UTF-8 bytes via hex-nibble extraction — certifies container
    // synthesis + sniff routing + the real RIFF decode end to end; the
    // float feature vector contributes only a bounded-verdict
    QuerySpec("q_media_decode", MultimodalOps.qMediaDecode, sql(
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n,
        |  hex(encode(text)) AS hx FROM documents),
        |s AS (SELECT doc_id, n,
        |  [ (position(substring(hx, i*2+1, 1) IN '0123456789ABCDEF')-1)*16
        |   + (position(substring(hx, i*2+2, 1) IN '0123456789ABCDEF')-1)
        |   for i in range(0, length(hx)//2)] AS bytes FROM b)
        |SELECT doc_id, 'wav' AS format, CAST(44 + n AS BIGINT) AS n_bytes,
        |CAST(coalesce(list_sum(list_transform(bytes, x -> abs(x - 128) * 256)), 0)
        |  AS BIGINT) AS content_sum,
        |TRUE AS features_bounded
        |FROM s ORDER BY doc_id""".stripMargin), headline = true),
    QuerySpec("q_cosine_topk", VectorOps.qCosineTopk, sql(
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${e6(cosSql("embedding", "qv"))} AS score_e6
         |FROM embeddings, q ORDER BY score_e6 DESC, vec_id ASC LIMIT 10""".stripMargin), headline = true),
    QuerySpec("q_collection_routing", VectorOps.qCollectionRouting, sql(
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT label, ${cosSql("embedding", "qv")} AS s FROM embeddings, q)
         |SELECT label, ${e6("max(s)")} AS score_e6 FROM s GROUP BY label
         |HAVING ${e6("max(s)")} >= 500000
         |ORDER BY score_e6 DESC, label ASC LIMIT 10""".stripMargin)),
    QuerySpec("q_cross_collection_merge", VectorOps.qCrossCollectionMerge, sql(
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT vec_id, label, ${cosSql("embedding", "qv")} AS s FROM embeddings, q),
         |r AS (SELECT vec_id, label, s,
         |  row_number() OVER (PARTITION BY label ORDER BY s DESC, vec_id ASC) AS rn FROM s)
         |SELECT vec_id, 'collection_' || label AS source_collection,
         |${e6("s")} AS score_e6
         |FROM r WHERE rn <= 3 ORDER BY score_e6 DESC, vec_id ASC LIMIT 10""".stripMargin)),
    QuerySpec("q_embed_neardup_pairs", VectorOps.qEmbedNeardupPairs, sql(
      s"""WITH s AS (SELECT vec_id, label, embedding,
         |  ${cmpBandSql(32, 4).zipWithIndex
               .map { case (b, i) => s"($b) AS band$i" }.mkString(",\n  ")}
         |  FROM embeddings),
         |c AS (SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${e6(cosSql("a.embedding", "b.embedding"))} AS sim_e6
         |  FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
         |   AND (a.band0 = b.band0 OR a.band1 = b.band1 OR
         |        a.band2 = b.band2 OR a.band3 = b.band3))
         |SELECT label, id_a, id_b, sim_e6 FROM c WHERE sim_e6 >= 300000
         |ORDER BY id_a, id_b""".stripMargin), headline = true),
    // hyperplane-LSH near-dup: the planes are deterministic and the dot
    // sums replay in identical IEEE order, so unlike classic seeded LSH
    // the WHOLE pipeline (bands, bucket cap, pair join, exact cosine
    // re-score) is oracle-reproducible
    QuerySpec("q_embed_neardup_lsh", VectorOps.qEmbedNeardupLsh, sql(
      s"""WITH s AS (SELECT vec_id,
         |  ${lshBandSql(16, 4).zipWithIndex
             .map { case (b, i) => s"($b) AS band$i" }.mkString(",\n  ")}
         |  FROM embeddings),
         |x AS (${(0 until 4)
             .map(b => s"SELECT vec_id, $b AS band, band$b AS bkey FROM s")
             .mkString("\n  UNION ALL ")}),
         |ok AS (SELECT band, bkey FROM x GROUP BY band, bkey
         |  HAVING count(*) BETWEEN 2 AND 10000),
         |xo AS (SELECT x.vec_id, x.band, x.bkey FROM x JOIN ok USING (band, bkey)),
         |pp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM xo a JOIN xo b ON a.band = b.band AND a.bkey = b.bkey
         |   AND a.vec_id < b.vec_id),
         |c AS (SELECT id_a, id_b,
         |  ${e6(cosSql("ea.embedding", "eb.embedding"))} AS sim_e6
         |  FROM pp JOIN embeddings ea ON ea.vec_id = pp.id_a
         |   JOIN embeddings eb ON eb.vec_id = pp.id_b)
         |SELECT id_a, id_b, sim_e6 FROM c WHERE sim_e6 >= 300000
         |ORDER BY id_a, id_b""".stripMargin)),
    // IVF and PQ probes replay their persisted index artifacts (see
    // ivfProbedSql and pqAdcCtes)
    QuerySpec("q_ivf_topk", VectorOps.qIvfTopk, replay("ivf_centroids")(p =>
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT label, centroid FROM read_parquet('$p/*.parquet')),
         |probed AS (${ivfProbedSql(3)})
         |SELECT e.vec_id, e.label, ${e6(cosSql("embedding", "qv"))} AS score_e6
         |FROM embeddings e JOIN probed USING (label) CROSS JOIN q
         |ORDER BY score_e6 DESC, vec_id ASC LIMIT 10""".stripMargin), headline = true),
    QuerySpec("q_ivf_topk_batch", VectorOps.qIvfTopkBatch, replay("ivf_trained_batch")(p =>
      s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |c AS (SELECT label, centroid FROM read_parquet('$p/centroids/*.parquet')),
         |a AS (SELECT vec_id, label FROM read_parquet('$p/assign/*.parquet')),
         |ev AS (SELECT vec_id, embedding FROM embeddings),
         |probes AS (SELECT query_id, qv, label FROM qs CROSS JOIN c
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY ${cosSql("centroid", "qv")} DESC, label ASC) <= 3),
         |cand AS (SELECT p.query_id, e.vec_id,
         |    ${e6(cosSql("embedding", "qv"))} AS score_e6
         |  FROM ev e JOIN a USING (vec_id) JOIN probes p USING (label))
         |SELECT query_id, vec_id, score_e6 FROM cand
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY score_e6 DESC, vec_id ASC) <= 5
         |ORDER BY query_id ASC, score_e6 DESC, vec_id ASC""".stripMargin), headline = true),
    QuerySpec("q_ivf_trained_topk", VectorOps.qIvfTrainedTopk, replay("ivf_trained")(p =>
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT label, centroid FROM read_parquet('$p/centroids/*.parquet')),
         |a AS (SELECT vec_id, label FROM read_parquet('$p/assign/*.parquet')),
         |ev AS (SELECT vec_id, embedding FROM embeddings),
         |probed AS (${ivfProbedSql(3)})
         |SELECT e.vec_id, a.label, ${e6(cosSql("embedding", "qv"))} AS score_e6
         |FROM ev e JOIN a USING (vec_id) JOIN probed USING (label)
         |CROSS JOIN q
         |ORDER BY score_e6 DESC, vec_id ASC LIMIT 10""".stripMargin), headline = true),
    QuerySpec("q_pq_topk", PqOps.qPqTopk, replay("pq")(pq =>
      s"""WITH ${pqAdcCtes(pq)},
         |sc AS (SELECT vec_id, sum(pd_e6) AS adc
         |  FROM ex JOIN adc USING (sub, code) GROUP BY vec_id),
         |short AS (SELECT vec_id FROM sc
         |  ORDER BY adc ASC, vec_id ASC LIMIT ${PqOps.SHORTLIST})
         |$pqRerankSql""".stripMargin), headline = true),
    QuerySpec("q_ivfpq_topk", PqOps.qIvfPqTopk, () =>
      for (pq <- ArtifactStore.recorded("pq"); ivf <- ArtifactStore.recorded("ivf_trained"))
      yield s"""WITH ${pqAdcCtes(pq)},
         |c AS (SELECT label, centroid AS lc
         |  FROM read_parquet('$ivf/centroids/*.parquet')),
         |asg AS (SELECT vec_id, label FROM read_parquet('$ivf/assign/*.parquet')),
         |probed AS (SELECT label FROM c CROSS JOIN q
         |  ORDER BY ${cosSql("lc", "qv")} DESC, label ASC LIMIT 3),
         |sc AS (SELECT vec_id, sum(pd_e6) AS adc
         |  FROM ex JOIN asg USING (vec_id) JOIN probed USING (label)
         |  JOIN adc USING (sub, code) GROUP BY vec_id),
         |short AS (SELECT vec_id FROM sc
         |  ORDER BY adc ASC, vec_id ASC LIMIT ${PqOps.SHORTLIST})
         |$pqRerankSql""".stripMargin, headline = true),
    QuerySpec("q_salted_agg", SkewOps.qSaltedAgg, sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin), headline = true),
    QuerySpec("q_upsert_merge", MergeOps.qUpsertMerge, sql(
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(0 AS BIGINT) AS version FROM orders),
        |upd AS (SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |  CAST(1 AS BIGINT) AS version FROM base WHERE o_orderkey % 7 = 0),
        |ins AS (SELECT -(o_orderkey + 1) AS o_orderkey, 'N' AS o_orderstatus, o_totalprice,
        |  CAST(1 AS BIGINT) AS version FROM base WHERE o_orderkey % 97 = 0),
        |merged AS (
        |  SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1)
        |SELECT o_orderkey, o_orderstatus, o_totalprice, version FROM merged
        |WHERE o_orderkey % 13 = 0 ORDER BY o_orderkey""".stripMargin), headline = true),
    // X7b SCD2: validity intervals from the purchase change feed — exact
    // integer micros on both sides, lead() tie-broken on event_id
    QuerySpec("q_scd2_history", MergeOps.qScd2History, sql(
      """WITH p AS (SELECT user_id, event_id, value,
        |  epoch_ns(ts) // 1000 AS valid_from_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id, value, valid_from_us,
        |lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us, event_id) AS valid_to_us,
        |(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us, event_id) IS NULL) AS is_current
        |FROM p ORDER BY user_id, valid_from_us, event_id""".stripMargin), headline = true),
    QuerySpec("q_dedup_incremental", MergeOps.qDedupIncremental, sql(dedupIncrementalSql)),
    // the Bloom-pruned admission must be EXACTLY the exact anti-join — ONE
    // shared oracle string, so the two references can never drift apart and
    // the pruning cascade stays hash-verified end-to-end
    QuerySpec("q_dedup_incremental_bloom", MergeOps.qDedupIncrementalBloom, sql(
      dedupIncrementalSql)),
    // lexical retrieval + statistical text models (SURVEY §2g X19-X22)
    QuerySpec("q_bm25_topk", SearchOps.qBm25Topk, sql(bm25OracleSql), headline = true),
    // BM25: per-term micro-scores (idf·tfn collapsed to BIGINT before any
    // sum) keep the per-doc aggregate an order-independent integer sum.
    // The indexed variant probes the persisted inverted index but computes
    // the same counts and arithmetic — it shares this oracle verbatim.
    QuerySpec("q_bm25_index_topk", SearchOps.qBm25IndexTopk, sql(bm25OracleSql), headline = true),
    // batch BM25: the corpus-side tf/df CTEs are shared by all queries of
    // the batch, exactly like the Spark plan
    QuerySpec("q_bm25_batch", SearchOps.qBm25Batch, sql(
      """WITH qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, term FROM (VALUES
        |  (0,'vector'),(0,'join'),(0,'fast'),
        |  (1,'table'),(1,'scan'),
        |  (2,'hash'),(2,'merge'),(2,'sort'),
        |  (3,'spark'),(3,'stream'),(3,'window'),
        |  (4,'customer'),(4,'query'),(4,'big')) AS v(query_id, term)),
        |d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
        |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.term,
        |  CAST(round((ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
        |    * 1000000, 0) AS BIGINT) AS s_e6
        |  FROM tf JOIN dfq USING (term), st),
        |pq AS (SELECT qt.query_id, sc.doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6
        |  FROM sc JOIN qt USING (term) GROUP BY qt.query_id, sc.doc_id),
        |r AS (SELECT query_id, doc_id, bm25_e6, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY bm25_e6 DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM pq)
        |SELECT query_id, rk, doc_id, bm25_e6 FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin), headline = true),
    // phrase match: the oracle is an INDEPENDENT formulation (token-
    // boundary-safe substring containment), shared by the positional-chain
    // and positional-index variants; the 3-term rows exercise the
    // multi-hop fold (one more chained join / array-intersection hop)
    QuerySpec("q_phrase_match", SearchOps.qPhraseMatch, sql(
      phraseOracleSql("hash join")), headline = true),
    QuerySpec("q_phrase_match_index", SearchOps.qPhraseMatchIndex, sql(
      phraseOracleSql("hash join")), headline = true),
    QuerySpec("q_phrase_match3", SearchOps.qPhraseMatch3, sql(
      phraseOracleSql("hash join fast")), headline = true),
    QuerySpec("q_phrase_match3_index", SearchOps.qPhraseMatch3Index, sql(
      phraseOracleSql("hash join fast"))),
    // hybrid RRF: the indexed variant's lexical side probes the persisted
    // inverted index but bm25IndexScores is bit-identical to bm25Scores,
    // so both variants share this one SQL
    QuerySpec("q_hybrid_rrf", SearchOps.qHybridRrf, sql(hybridRrfOracleSql), headline = true),
    QuerySpec("q_hybrid_rrf_index", SearchOps.qHybridRrfIndex, sql(
      hybridRrfOracleSql), headline = true),
    QuerySpec("q_tfidf_keywords", SearchOps.qTfidfKeywords, sql(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok
        |  WHERE term NOT IN ('the','a','of','and','to','in','is','it')),
        |st AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok2),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY term),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        |  WHERE doc_id < 20 GROUP BY doc_id, term),
        |sc AS (SELECT tf.doc_id, tf.term,
        |  CAST(round((tf.tf * ln((st.n_docs + 1.0) / (dft.df + 1.0)))
        |    * 1000000, 0) AS BIGINT) AS tfidf_e6
        |  FROM tf JOIN dft USING (term), st),
        |r AS (SELECT doc_id, term, tfidf_e6, CAST(row_number() OVER
        |  (PARTITION BY doc_id ORDER BY tfidf_e6 DESC, term ASC) AS BIGINT) AS rk
        |  FROM sc)
        |SELECT doc_id, rk, term, tfidf_e6 FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin), headline = true),
    // bigrams via generate_subscripts + lead (DuckDB's row-wise formulation
    // of Spark's zip_with(slice,slice)); per-bigram log-probs are micro-ints
    // before the per-doc sum
    QuerySpec("q_bigram_lm", SearchOps.qBigramLm, sql(
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |tp AS (SELECT doc_id, unnest(toks) AS w,
        |  generate_subscripts(toks, 1) AS pos FROM d),
        |bg AS (SELECT doc_id, w AS w1,
        |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tp),
        |bg2 AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |uni AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |c1 AS (SELECT w AS w1, count(*) AS c1 FROM uni GROUP BY w),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM uni),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg2 GROUP BY w1, w2),
        |lp AS (SELECT bg2.doc_id,
        |  CAST(round(ln((cb.cb + 1.0) / (c1.c1 + vocab.v)) * 1000000, 0) AS BIGINT) AS lp_e6
        |  FROM bg2 JOIN cb USING (w1, w2) JOIN c1 USING (w1), vocab)
        |SELECT doc_id, count(*) AS n_bigrams,
        |CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6,
        |CAST(CAST(sum(lp_e6) AS BIGINT) AS DOUBLE) / count(*) AS avg_lp_e6
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin), headline = true),
    // RM3 expansion: the feedback set is the BM25 oracle's own top-10; term
    // weight = Σ over feedback docs of tf·bm25_e6, expressed as "each token
    // occurrence contributes its doc's micro-int score once" — an exact
    // integer sum in both engines. Query terms + stopwords excluded.
    QuerySpec("q_rm3_expansion", SearchOps.qRm3Expansion, sql(
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
        |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN ('vector','join','fast') GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  CAST(round((ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
        |    * 1000000, 0) AS BIGINT) AS s_e6
        |  FROM tf JOIN dfq USING (term), st),
        |fb AS (SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6 FROM sc
        |  GROUP BY doc_id ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 10),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |w AS (SELECT term, CAST(sum(bm25_e6) AS BIGINT) AS w_e6
        |  FROM tok JOIN fb USING (doc_id)
        |  WHERE term NOT IN ('vector','join','fast',
        |    'the','a','of','and','to','in','is','it')
        |  GROUP BY term)
        |SELECT CAST(row_number() OVER (ORDER BY w_e6 DESC, term ASC) AS BIGINT) AS rk,
        |  term, w_e6 FROM w ORDER BY w_e6 DESC, term ASC LIMIT 8""".stripMargin), headline = true),
    // RM3 re-retrieval: the expanded weighted query re-scores the corpus.
    // Weights are exact integers (expansion = RM1 w_e6; originals =
    // 2*max(w_e6)), so sum(s_e6*wt) is order-free in both engines.
    QuerySpec("q_rm3_rescore", SearchOps.qRm3Rescore, sql(
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
        |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN ('vector','join','fast') GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id,
        |  CAST(round((ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
        |    * 1000000, 0) AS BIGINT) AS s_e6
        |  FROM tf JOIN dfq USING (term), st),
        |fb AS (SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6 FROM sc
        |  GROUP BY doc_id ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 10),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |w AS (SELECT term, CAST(sum(bm25_e6) AS BIGINT) AS w_e6
        |  FROM tok JOIN fb USING (doc_id)
        |  WHERE term NOT IN ('vector','join','fast',
        |    'the','a','of','and','to','in','is','it')
        |  GROUP BY term),
        |exp AS (SELECT term, w_e6 FROM w
        |  ORDER BY w_e6 DESC, term ASC LIMIT 8),
        |wmax AS (SELECT max(w_e6) AS wmax FROM exp),
        |tw AS (SELECT term, w_e6 AS wt FROM exp
        |  UNION ALL SELECT v.term, 2 * wmax.wmax FROM
        |  (VALUES ('vector'),('join'),('fast')) AS v(term), wmax),
        |tf2 AS (SELECT doc_id, dl, term, count(*) AS tf FROM
        |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN (SELECT term FROM tw) GROUP BY doc_id, dl, term),
        |df2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf2 GROUP BY term),
        |sc2 AS (SELECT tf2.doc_id, tf2.term,
        |  CAST(round((ln((st.n_docs - df2.df + 0.5) / (df2.df + 0.5) + 1.0) *
        |    ((tf2.tf * 2.2) / (tf2.tf + 1.2 * (0.25 + 0.75 * tf2.dl / st.avgdl))))
        |    * 1000000, 0) AS BIGINT) AS s_e6
        |  FROM tf2 JOIN df2 USING (term), st)
        |SELECT sc2.doc_id, CAST(sum(sc2.s_e6 * tw.wt) AS BIGINT) AS rm3_e6,
        |count(*) AS n_terms
        |FROM sc2 JOIN tw USING (term)
        |GROUP BY sc2.doc_id ORDER BY rm3_e6 DESC, doc_id ASC LIMIT 15""".stripMargin), headline = true),
    // training-mixture sampling + contrastive mining (SURVEY §2g X30-X34)
    // X30 per-source cap: same md5 order key + cap=15; the oracle derives
    // the kept set with ONE plain window — proving the Spark side's salted
    // two-level selection equals the single-window formulation exactly
    QuerySpec("q_source_cap", SampleOps.qSourceCap, sql(
      """WITH base AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |  md5(CAST(doc_id AS VARCHAR) || ':cap') AS ord FROM documents),
        |k AS (SELECT * FROM (SELECT base.*,
        |    row_number() OVER (PARTITION BY source ORDER BY ord, doc_id) AS rn
        |  FROM base) WHERE rn <= 15),
        |raw AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total FROM base GROUP BY source),
        |kept AS (SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
        |  min(doc_id) AS first_kept FROM k GROUP BY source)
        |SELECT r.source, r.n_docs, COALESCE(k.n_kept, 0) AS n_kept,
        |r.n_docs - COALESCE(k.n_kept, 0) AS n_dropped,
        |r.chars_total, COALESCE(k.chars_kept, 0) AS chars_kept, k.first_kept
        |FROM raw r LEFT JOIN kept k USING (source) ORDER BY r.source""".stripMargin), headline = true),
    // X31 temperature mixture: the only cross-row float reduction (the
    // normalizer) is collapsed to micro-ints before summing on BOTH sides,
    // so every downstream double is a fixed single-association chain
    QuerySpec("q_mixture_weights", SampleOps.qMixtureWeights, sql(
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
        |  AS w_e6 FROM per),
        |t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS wsum_e6 FROM w)
        |SELECT source, n_docs, n_tokens, w_e6,
        |CAST(round(CAST(w_e6 AS DOUBLE) / CAST(wsum_e6 AS DOUBLE) * 1000000, 0) AS BIGINT) AS p_e6,
        |CAST(round(CAST(w_e6 AS DOUBLE) / CAST(wsum_e6 AS DOUBLE) * 10000000, 0) AS BIGINT) AS expected_tokens,
        |CAST(round(CAST(w_e6 AS DOUBLE) / CAST(wsum_e6 AS DOUBLE) * 10000000
        |  / CAST(n_tokens AS DOUBLE) * 1000000, 0) AS BIGINT) AS epochs_e6
        |FROM w, t ORDER BY source""".stripMargin), headline = true),
    // X34 shard assignment: independent hex-digit decode (strpos vs the
    // Spark side's conv base-16) + string_agg re-derives the per-shard
    // order hash from scratch
    QuerySpec("q_shard_assign", SampleOps.qShardAssign, sql(
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |  md5(CAST(doc_id AS VARCHAR) || ':ord') AS ord FROM documents),
        |s AS (SELECT *, CAST((strpos('0123456789abcdef', substring(ord, 1, 1)) - 1) % 8
        |  AS BIGINT) AS shard FROM d)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord, doc_id)) AS order_md5
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin), headline = true),
    // X33 hard negatives: exact cosine (sequential double fold, micro-int
    // scores) so the ranked negative set is hash-checkable
    QuerySpec("q_hard_negatives", VectorOps.qHardNegatives, sql(
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.q_id, e.vec_id, e.label,
         |  ${e6(cosSql("e.embedding", "q.qv"))} AS score_e6
         |  FROM embeddings e, q WHERE e.label <> q.q_label),
         |r AS (SELECT *, CAST(row_number() OVER
         |  (PARTITION BY q_id ORDER BY score_e6 DESC, vec_id ASC) AS BIGINT) AS "rank"
         |  FROM s)
         |SELECT q_id, vec_id, label, score_e6, "rank" FROM r WHERE "rank" <= 8
         |ORDER BY q_id, "rank"""".stripMargin), headline = true),
    // X32 label centroids: micro-int element collapse before the per-dim
    // integer sums (order-free), then the same sequential cosine fold
    QuerySpec("q_label_centroids", VectorOps.qLabelCentroids, sql(
      s"""WITH v AS (SELECT vec_id, label,
         |  list_transform(embedding, x ->
         |    CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
         |  FROM embeddings),
         |ex AS (SELECT label, u.dim AS dim, u.val AS val FROM
         |  (SELECT label, unnest(list_transform(range(len(v)),
         |    i -> {dim: i, val: v[i+1]})) AS u FROM v)),
         |cd AS (SELECT label, dim, CAST(sum(val) AS BIGINT) AS sv
         |  FROM ex GROUP BY label, dim),
         |c AS (SELECT label, list(sv ORDER BY dim) AS cent FROM cd GROUP BY label),
         |sc AS (SELECT v.label, ${e6(cosSql("v.v", "c.cent"))} AS cos_e6
         |  FROM v JOIN c USING (label))
         |SELECT label, count(*) AS n_vecs,
         |CAST(round(CAST(sum(cos_e6) AS DOUBLE) / count(*), 0) AS BIGINT) AS avg_cos_e6,
         |min(cos_e6) AS min_cos_e6, max(cos_e6) AS max_cos_e6
         |FROM sc GROUP BY label ORDER BY label""".stripMargin), headline = true),
    // X35 CCNet-style perplexity thirds: same LM CTEs as q_bigram_lm, then
    // integer rank-thirds (rn*3 <= n) over identical window semantics —
    // interpolated quantiles at fractional (n-1)·⅓ positions are
    // engine-unstable by an ulp and flip boundary docs
    QuerySpec("q_perplexity_filter", SearchOps.qPerplexityFilter, sql(
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        |tp AS (SELECT doc_id, unnest(toks) AS w,
        |  generate_subscripts(toks, 1) AS pos FROM d),
        |bg AS (SELECT doc_id, w AS w1,
        |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tp),
        |bg2 AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |uni AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |c1 AS (SELECT w AS w1, count(*) AS c1 FROM uni GROUP BY w),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM uni),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg2 GROUP BY w1, w2),
        |lp AS (SELECT bg2.doc_id,
        |  CAST(round(ln((cb.cb + 1.0) / (c1.c1 + vocab.v)) * 1000000, 0) AS BIGINT) AS lp_e6
        |  FROM bg2 JOIN cb USING (w1, w2) JOIN c1 USING (w1), vocab),
        |ds AS (SELECT doc_id,
        |  CAST(round(CAST(CAST(sum(lp_e6) AS BIGINT) AS DOUBLE) / count(*), 0) AS BIGINT)
        |    AS score_e6 FROM lp GROUP BY doc_id),
        |sc AS (SELECT ds.doc_id, ds.score_e6, doc.source
        |  FROM ds JOIN documents doc USING (doc_id)),
        |rk AS (SELECT source, score_e6,
        |  row_number() OVER (PARTITION BY source ORDER BY score_e6 DESC, doc_id ASC) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n FROM sc),
        |b AS (SELECT source,
        |  CASE WHEN rn * 3 <= n THEN 'head'
        |       WHEN rn * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket, score_e6
        |  FROM rk)
        |SELECT source, bucket, count(*) AS n_docs,
        |min(score_e6) AS min_score_e6, max(score_e6) AS max_score_e6,
        |CAST(round(CAST(CAST(sum(score_e6) AS BIGINT) AS DOUBLE) / count(*), 0) AS BIGINT)
        |  AS avg_score_e6
        |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin), headline = true),
    // X31b mixture draw: the keep rule is a pure-integer cross-multiply
    // (HUGEINT here, DECIMAL(38,0) on the Spark side) so no engine ever
    // divides — boundary docs can't flip on an ulp
    QuerySpec("q_mixture_draw", SampleOps.qMixtureDraw, sql(
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |  md5(CAST(doc_id AS VARCHAR) || ':draw') AS h FROM documents),
        |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000) AS BIGINT) AS w_e6
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS wsum_e6 FROM per),
        |u AS (SELECT d.*,
        |  CAST((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) AS BIGINT) * 268435456
        |  + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16777216
        |  + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 1048576
        |  + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 65536
        |  + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substring(h, 8, 1)) - 1) AS u32 FROM d),
        |k AS (SELECT u.source, u.n_tok, per.n_tokens,
        |  CASE WHEN CAST(u.u32 AS HUGEINT) * CAST(t.wsum_e6 AS HUGEINT)
        |      * CAST(per.n_tokens AS HUGEINT)
        |    < CAST(5000 AS HUGEINT) * CAST(per.w_e6 AS HUGEINT)
        |      * CAST(4294967296 AS HUGEINT) THEN 1 ELSE 0 END AS kept
        |  FROM u JOIN per USING (source) CROSS JOIN t)
        |SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
        |max(n_tokens) AS n_tokens,
        |CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin), headline = true),
    // frequency sketches + data-skipping scans (SURVEY §2g X36-X37)
    // X36 heavy hitters: one SQL, two Spark formulations (exact shuffle
    // vs Misra-Gries candidates + recount) — the sketch must be invisible
    QuerySpec("q_heavy_hitters", SketchOps.qHeavyHitters, sql(heavyHittersSql), headline = true),
    QuerySpec("q_heavy_hitters_mg", SketchOps.qHeavyHittersMg, sql(
      heavyHittersSql), headline = true),
    // X37 pruned scan: the oracle reads the ORIGINAL unpartitioned table —
    // file-level pruning must be invisible in the result. One SQL, two
    // Spark faces: the opt-in prunedScan call and the optimizer-rule
    // rewrite of a plain filtered scan (StatsPruneRule)
    QuerySpec("q_pruned_scan", StatsOps.qPrunedScan, sql(prunedScanSql), headline = true),
    QuerySpec("q_pruned_scan_rule", StatsOps.qPrunedScanRule, sql(prunedScanSql), headline = true),
    // X40 salted join: the salt must be invisible — same oracle shape as a
    // plain equi-join + rollup
    QuerySpec("q_salted_join", SkewOps.qSaltedJoin, sql(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin), headline = true),
    // grouped-subtotal + outer-join completions, window/event family (r9)
    QuerySpec("q_cube", Relational.qCube, sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin), headline = true),
    QuerySpec("q_full_outer", Relational.qFullOuter, sql(
      """WITH a AS (SELECT o_custkey, count(*) AS n_1995 FROM orders
        |  WHERE year(o_orderdate) = 1995 GROUP BY o_custkey),
        |b AS (SELECT o_custkey, count(*) AS n_1996 FROM orders
        |  WHERE year(o_orderdate) = 1996 GROUP BY o_custkey)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
        |COALESCE(a.n_1995, 0) AS n_1995, COALESCE(b.n_1996, 0) AS n_1996,
        |CAST(CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL
        |  THEN 1 ELSE 0 END AS BIGINT) AS in_both
        |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY custkey""".stripMargin), headline = true),
    // lag/lead move raw doubles (no reduction); the one delta is a single
    // IEEE subtraction — bit-identical across engines
    QuerySpec("q_window_lag_lead", EventOps.qWindowLagLead, sql(
      """SELECT user_id, event_id, value,
        |lag(value) OVER w AS prev_value, lead(value) OVER w AS next_value,
        |value - lag(value) OVER w AS delta_prev
        |FROM events WHERE user_id < 30
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin)),
    // trailing 1h frame on exact integer micros; RANGE peers (tied tus)
    // are included by both engines; epoch_ns//1000 floors ns → µs exactly
    // the way the Spark reader does, layout-robustly
    QuerySpec("q_rolling_window", EventOps.qRollingWindow, sql(
      """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus,
        |count(*) OVER w AS n_1h,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin), headline = true),
    // hopping 10-min/5-min: an event at µs e belongs to exactly the two
    // slide-aligned starts floor(e/slide)*slide - {0,1}*slide (size=2*slide),
    // reproduced with pure integer µs arithmetic
    QuerySpec("q_hopping_window", EventOps.qHoppingWindow, sql(
      """WITH w AS (SELECT ((epoch_ns(ts) // 1000) // 300000000 - k.i) * 300000000 AS ws_us,
        |  event_type, value FROM events CROSS JOIN (VALUES (0), (1)) k(i))
        |SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin), headline = true),
    // the bounded-heap aggregator's contract IS the window formulation
    QuerySpec("q_topk_per_type", EventOps.qTopkPerType, sql(
      """SELECT event_type, CAST(rn AS BIGINT) AS rnk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY event_type, rnk""".stripMargin), headline = true),
    // merged mergeable partials must equal the from-scratch aggregate
    QuerySpec("q_incr_agg_merge", MergeOps.qIncrAggMerge, sql(
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_value,
        |CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin), headline = true),
    // resample: union+tag+running-last LOCF — grid rows (is_grid=1) order
    // AFTER same-instant observations; NULL event_id only ever occurs in
    // singleton (tus, is_grid) groups, so engine NULL-ordering differences
    // can't reorder anything
    QuerySpec("q_resample_ffill", EventOps.qResampleFfill, sql(
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id, value
        |  FROM events WHERE user_id < 20),
        |b AS (SELECT user_id, (min(tus) // 900000000) * 900000000 AS gs,
        |  (max(tus) // 900000000) * 900000000 AS ge FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(gs, ge, 900000000)) AS tus FROM b),
        |u AS (SELECT user_id, tus, 1 AS is_grid, CAST(NULL AS BIGINT) AS event_id,
        |    CAST(NULL AS DOUBLE) AS value FROM g
        |  UNION ALL SELECT user_id, tus, 0, event_id, value FROM e),
        |f AS (SELECT user_id, tus, is_grid,
        |  last_value(value IGNORE NULLS) OVER w AS ffill_value,
        |  last_value(event_id IGNORE NULLS) OVER w AS ffill_event FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, is_grid, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, tus AS grid_us, ffill_event, ffill_value FROM f
        |WHERE is_grid = 1 ORDER BY user_id, grid_us""".stripMargin), headline = true),
    // checksum: 15 hex chars of md5 parse identically via conv(…,16,10) /
    // CAST('0x…' AS BIGINT); XOR and the modular sum are order-independent
    QuerySpec("q_table_checksum", ProfileOps.qTableChecksum, sql(
      """WITH h AS (SELECT source,
        |  CAST(concat('0x', substring(md5(concat_ws(chr(1),
        |    CAST(doc_id AS VARCHAR), source, text)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_rows,
        |CAST(sum(h % 1000000007) AS BIGINT) AS checksum_sum,
        |bit_xor(h) AS checksum_xor, max(h) AS h_max
        |FROM h GROUP BY source ORDER BY source""".stripMargin), headline = true),
    // total ordering (balance desc, custkey asc) → no peer groups → both
    // stats are single integer divisions, engine-exact
    QuerySpec("q_percent_rank", Relational.qPercentRank, sql(
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin), headline = true),
    // session_window merges [ts, ts+gap) intervals: an event at exactly
    // prev+gap starts a NEW session (>= flag); window end = last ts + gap
    QuerySpec("q_session_window", EventOps.qSessionWindow, sql(
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events),
        |x AS (SELECT user_id, tus, value,
        |  CASE WHEN lag(tus) OVER pw IS NULL
        |    OR tus - lag(tus) OVER pw >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY tus)),
        |y AS (SELECT user_id, tus, value, sum(new_s) OVER (PARTITION BY user_id
        |  ORDER BY tus ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
        |SELECT user_id, min(tus) AS session_start_us,
        |max(tus) + 1800000000 AS session_end_us, count(*) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin), headline = true),
    // transition bigrams: one lag window then a bounded (from,to) agg
    QuerySpec("q_event_transitions", EventOps.qEventTransitions, sql(
      """WITH x AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n,
        |count(DISTINCT user_id) AS n_users
        |FROM x WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin), headline = true),
    // retention: integer epoch-day arithmetic on both sides (µs - µs%day)
    QuerySpec("q_retention_cohorts", EventOps.qRetentionCohorts, sql(
      """WITH e AS (SELECT DISTINCT user_id,
        |  (epoch_ns(ts) // 1000) // 86400000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY user_id)
        |SELECT f.cohort_d, e.d - f.cohort_d AS day_offset,
        |count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_d, day_offset""".stripMargin), headline = true),
    // unpivot: metric names ARE the source column names in both engines;
    // values are moved doubles
    QuerySpec("q_unpivot", Relational.qUnpivot, sql(
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |           l_extendedprice, l_discount, l_tax
        |           FROM lineitem WHERE l_orderkey <= 1500)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME metric VALUE value)
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin), headline = true),
    // patterns stay in the Java∩RE2 common subset; both engines return ''
    // for a no-match extract
    QuerySpec("q_regex_funcs", Relational.qRegexFuncs, sql(
      """SELECT doc_id,
        |regexp_extract(text, '[0-9]+') AS first_num,
        |length(regexp_replace(text, '[0-9]', '#', 'g')) AS len_masked,
        |CAST(CASE WHEN regexp_matches(text, '[aeiou]{3}') THEN 1 ELSE 0 END AS BIGINT) AS has_tri_vowel,
        |regexp_extract(text, '([a-z]+)ing', 1) AS ing_stem
        |FROM documents ORDER BY doc_id""".stripMargin), headline = true),
    // higher-order list ops; scalar outputs keep the comparison exact
    QuerySpec("q_array_funcs", Relational.qArrayFuncs, sql(
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |array_to_string(list_sort(toks[1:5]), ',') AS head_sorted,
        |CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
        |CAST(list_reduce(list_transform(toks, x -> length(x)), (a, b) -> a + b) AS BIGINT) AS sum_len
        |FROM d ORDER BY doc_id""".stripMargin), headline = true),
    // grouped analytics widening (round 10)
    QuerySpec("q_mode_median", GroupAnalytics.qModeMedian, sql(
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |  ORDER BY n DESC, l_quantity ASC) AS rn FROM c),
        |med AS (SELECT l_returnflag,
        |  CAST(round(quantile_cont(l_quantity, 0.5) * 1000000, 0) AS BIGINT)
        |    AS med_qty_e6 FROM lineitem GROUP BY 1)
        |SELECT r.l_returnflag, r.n AS mode_n, r.l_quantity AS mode_qty,
        |med.med_qty_e6
        |FROM r JOIN med USING (l_returnflag) WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin), headline = true),
    // one SQL, two Spark formulations (global window vs range-partitioned
    // rank composition) — the scalable path must be invisible
    QuerySpec("q_ntile", GroupAnalytics.qNtile, sql(ntileSql), headline = true),
    QuerySpec("q_string_agg", GroupAnalytics.qStringAgg, sql(
      """SELECT r_name, count(*) AS n_nations,
        |string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QuerySpec("q_conditional_agg", GroupAnalytics.qConditionalAgg, sql(
      """SELECT o_orderpriority, count(*) AS n,
        |CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |CAST(sum(CASE WHEN o_orderstatus = 'O'
        |  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_open,
        |CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > 200000
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("q_above_avg", GroupAnalytics.qAboveAvg, sql(
      """WITH s AS (SELECT o_custkey, count(*) AS n_ord,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS cust_sum
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_orderpriority, count(*) AS n_above,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
        |FROM orders JOIN s USING (o_custkey)
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n_ord > cust_sum
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin), headline = true),
    QuerySpec("q_arg_max", GroupAnalytics.qArgMax, sql(
      """SELECT event_type, value AS max_value, event_id AS at_event,
        |user_id AS by_user FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin), headline = true),
    QuerySpec("q_event_runs", GroupAnalytics.qEventRuns, sql(
      """WITH f AS (SELECT user_id, event_type, ts, event_id,
        |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS DISTINCT FROM event_type
        |    THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |r AS (SELECT user_id, event_type,
        |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM f),
        |runs AS (SELECT user_id, run_id, event_type, count(*) AS len
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT event_type, count(*) AS n_runs, max(len) AS max_len,
        |CAST(sum(len) AS BIGINT) AS n_events
        |FROM runs GROUP BY event_type ORDER BY event_type""".stripMargin), headline = true),
    QuerySpec("q_mad_outliers", GroupAnalytics.qMadOutliers, sql(
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type,
        |CAST(round(max(d.med) * 1000000, 0) AS BIGINT) AS med_e6,
        |CAST(round(max(m.mad) * 1000000, 0) AS BIGINT) AS mad_e6,
        |CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_out
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin), headline = true),
    QuerySpec("q_bitwise_agg", GroupAnalytics.qBitwiseAgg, sql(
      """SELECT event_type, bit_and(event_id) AS id_and,
        |bit_or(event_id) AS id_or, bit_xor(event_id) AS id_xor,
        |count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // X58 OHLC bars: open/close re-derived with rank-1 windows — the
    // associative min/max(struct) formulation must be invisible
    QuerySpec("q_ohlc_bars", GroupAnalytics.qOhlcBars, sql(
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type, ts,
        |  event_id, value FROM events),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY h, event_type
        |    ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY h, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e),
        |agg AS (SELECT h, event_type, min(value) AS low, max(value) AS high,
        |  count(*) AS n FROM e GROUP BY 1, 2),
        |oc AS (SELECT h, event_type,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close
        |  FROM r GROUP BY 1, 2)
        |SELECT strftime(a.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |a.event_type, oc.open, a.high, a.low, oc.close, a.n
        |FROM agg a JOIN oc USING (h, event_type)
        |ORDER BY hour_start, event_type""".stripMargin), headline = true),
    // checked contract: exact count + two in-plan verdicts (shard-merge ==
    // single-pass estimate; estimate within 3·rsd) — see SketchOps.qHllUnion
    QuerySpec("q_hll_union", SketchOps.qHllUnion, sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |TRUE AS merge_consistent, TRUE AS within_3rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin), headline = true),
    // X60 checked contract: exact count + TRUE rank-error verdicts
    QuerySpec("q_approx_percentiles", SketchOps.qApproxPercentiles, sql(
      """SELECT count(*) AS n, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
        |FROM lineitem""".stripMargin), headline = true),
    // X52b checked contract: exact per-window distinct + TRUE bound verdict
    QuerySpec("q_window_distinct_sketch", SketchOps.qWindowDistinctSketch, sql(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |event_type, count(DISTINCT user_id) AS exact_users, TRUE AS within_3rsd
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin), headline = true),
    // X53 class balance: the oracle re-derives the salted two-level
    // selection with ONE plain window — the salting must be invisible
    QuerySpec("q_class_balance", SampleOps.qClassBalance, sql(
      """WITH c AS (SELECT label, count(*) AS n_total FROM embeddings
        |  GROUP BY label),
        |cap AS (SELECT min(n_total) AS cap FROM c),
        |r AS (SELECT label, vec_id,
        |  row_number() OVER (PARTITION BY label
        |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':bal'), vec_id) AS rn
        |  FROM embeddings),
        |k AS (SELECT label, count(*) AS n_kept,
        |  CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
        |  FROM r WHERE rn <= (SELECT cap FROM cap) GROUP BY label)
        |SELECT CAST(k.label AS BIGINT) AS label, c.n_total, k.n_kept,
        |k.kept_id_sum
        |FROM k JOIN c USING (label) ORDER BY label""".stripMargin), headline = true),
    // X54 BPE tokenizer training — oracle-checked since r13: DuckDB
    // replays the WHOLE train loop as a recursive CTE over the vocab
    // state (see bpeTrainSql); BpeSpec additionally pins the merge
    // sequence to the published algorithm's reference impl
    QuerySpec("q_bpe_merges", BpeOps.qBpeMerges, sql(bpeTrainSql +
      """SELECT DISTINCT CAST(it AS BIGINT) AS rank, l AS "left",
        |  r AS "right", l || r AS merged, n
        |FROM t WHERE it >= 1 ORDER BY rank""".stripMargin), headline = true),
    QuerySpec("q_bpe_vocab", BpeOps.qBpeVocab, sql(bpeTrainSql +
      """SELECT token, CAST(sum(freq) AS BIGINT) AS n FROM (
        |  SELECT freq, unnest(string_split(s[2:len(s)-1], chr(2) || chr(1))) AS token
        |  FROM t WHERE it = (SELECT max(it) FROM t))
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 30""".stripMargin)),
    // X54c: DuckDB replays the encode against the PERSISTED merge table —
    // the same word sample (20 smallest vocab words + 10×10 OOV compounds),
    // char-split + '</w>', then each merge rank applied as a left-to-right
    // non-overlapping fold: a recursive CTE stepping (word, rank, position)
    // with the accumulator list as state, exactly `encodeWords`' semantics
    QuerySpec("q_bpe_encode", BpeOps.qBpeEncode, replay("bpe_tokenizer")(p =>
      s"""WITH RECURSIVE
         |m AS (SELECT rank AS mrank, "left" AS l, "right" AS r
         |  FROM read_parquet('$p/*.parquet')),
         |mx AS (SELECT max(mrank) AS mr FROM m),
         |wv AS (SELECT DISTINCT word FROM (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |  FROM documents) WHERE length(word) > 0),
         |w10 AS (SELECT word FROM wv ORDER BY word LIMIT 10),
         |oov AS (SELECT a.word || b.word AS word FROM w10 a CROSS JOIN w10 b),
         |sample AS (SELECT DISTINCT word FROM (
         |  SELECT word FROM (SELECT word FROM wv ORDER BY word LIMIT 20)
         |  UNION ALL SELECT word FROM oov)),
         |init AS (SELECT word,
         |  list_append(list_filter(string_split(word, ''), x -> x <> ''), '</w>')
         |    AS syms FROM sample),
         |enc AS (
         |  SELECT word, 1 AS rk, 1 AS pos, CAST([] AS VARCHAR[]) AS acc, syms
         |  FROM init
         |  UNION ALL
         |  SELECT enc.word,
         |    CASE WHEN enc.pos <= len(enc.syms) THEN enc.rk ELSE enc.rk + 1 END,
         |    CASE WHEN enc.pos <= len(enc.syms) THEN enc.pos + 1 ELSE 1 END,
         |    CASE WHEN enc.pos <= len(enc.syms) THEN
         |      CASE WHEN len(enc.acc) > 0 AND enc.acc[-1] = m.l
         |        AND enc.syms[enc.pos] = m.r
         |        THEN list_append(enc.acc[1:len(enc.acc)-1], m.l || m.r)
         |        ELSE list_append(enc.acc, enc.syms[enc.pos]) END
         |      ELSE CAST([] AS VARCHAR[]) END,
         |    CASE WHEN enc.pos <= len(enc.syms) THEN enc.syms ELSE enc.acc END
         |  FROM enc JOIN m ON m.mrank = enc.rk, mx
         |  WHERE enc.pos <= len(enc.syms) OR enc.rk < mx.mr + 1)
         |SELECT word, CAST(len(syms) AS BIGINT) AS n_pieces,
         |  array_to_string(syms, ' ') AS tokens
         |FROM enc, mx WHERE rk = mx.mr + 1 AND pos = 1
         |ORDER BY word""".stripMargin)),
    // X55-X56 snapshot audit + data-quality expectations
    // X55 snapshot diff: the "new" version is derived deterministically
    // from the same corpus, so the oracle rebuilds both sides
    QuerySpec("q_snapshot_diff", MergeOps.qSnapshotDiff, sql(
      """WITH oldv AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        |newv AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 3
        |    THEN text || ' v2' ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(text) FROM documents
        |  WHERE doc_id % 13 = 5)
        |SELECT CASE WHEN h_old IS NULL THEN 'added'
        |  WHEN h_new IS NULL THEN 'removed'
        |  WHEN h_old <> h_new THEN 'changed'
        |  ELSE 'unchanged' END AS status, count(*) AS n
        |FROM oldv FULL OUTER JOIN newv USING (doc_id)
        |GROUP BY 1 ORDER BY status""".stripMargin), headline = true),
    // X56 expectations: per-constraint violation counts
    QuerySpec("q_expectations", ProfileOps.qExpectations, sql(
      """WITH o AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |  count(*) - count(DISTINCT o_orderkey) AS v_uniq,
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_enum
        |  FROM orders),
        |l AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        |  CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v_date
        |  FROM lineitem),
        |fk AS (SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) AS nv,
        |  (SELECT count(*) FROM lineitem) AS n)
        |SELECT * FROM (
        |  SELECT 'o_custkey_not_null' AS rule, v_null AS n_violations, n AS n_checked FROM o
        |  UNION ALL SELECT 'o_orderkey_unique', v_uniq, n FROM o
        |  UNION ALL SELECT 'o_orderstatus_enum', v_enum, n FROM o
        |  UNION ALL SELECT 'l_quantity_range', v_qty, n FROM l
        |  UNION ALL SELECT 'l_discount_range', v_disc, n FROM l
        |  UNION ALL SELECT 'l_shipdate_recent', v_date, n FROM l
        |  UNION ALL SELECT 'lineitem_orders_fk', nv, n FROM fk)
        |ORDER BY rule""".stripMargin), headline = true),
    // X66-X69 Count-Min sketch, retrieval-eval metrics, Z-order kernel,
    // SQ8 scalar-quantized ANN
    // X66 Count-Min sketch: the d salted-md5 hash rows are bit-identical
    // in both engines (conv(hex,16,10) == CAST('0x'|| AS BIGINT)), so
    // DuckDB replays the ENTIRE sketch — every counter and every min-cell
    // estimate — not just a contract
    QuerySpec("q_cm_sketch", SketchOps.qCmSketch, sql(
      """WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tok),
        |freq AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |hh AS (SELECT token, CAST(n AS BIGINT) AS exact_n FROM freq, tot
        |  WHERE n >= n_total // 2000 + 1),
        |js AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS v(j)),
        |cells AS (SELECT j,
        |  CAST(CONCAT('0x', substring(md5('cm:' || token), 1 + 8 * j, 8)) AS BIGINT) % 2048 AS cell
        |  FROM tok, js),
        |sketch AS (SELECT j, cell, count(*) AS cnt FROM cells GROUP BY j, cell),
        |probes AS (SELECT hh.token, hh.exact_n, j,
        |  CAST(CONCAT('0x', substring(md5('cm:' || hh.token), 1 + 8 * j, 8)) AS BIGINT) % 2048 AS cell
        |  FROM hh, js)
        |SELECT token, exact_n, CAST(min(cnt) AS BIGINT) AS est_n,
        |  CAST(min(cnt) AS BIGINT) >= exact_n AS overestimate_ok
        |FROM probes JOIN sketch USING (j, cell)
        |GROUP BY token, exact_n ORDER BY token""".stripMargin), headline = true),
    // X67 retrieval-eval metrics: integer-exact recall@k + MRR·2520 over
    // the deterministic self-retrieval benchmark (query = the doc's first
    // three tokens, relevant = the doc itself, eval set = doc_id < 100)
    QuerySpec("q_retrieval_metrics", SearchOps.qRetrievalMetrics, sql(
      """WITH d AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |qt AS (SELECT doc_id AS query_id, unnest(toks[1:3]) AS term FROM d
        |  WHERE doc_id < 100),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
        |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.term,
        |  CAST(round((ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
        |    * 1000000, 0) AS BIGINT) AS s_e6
        |  FROM tf JOIN dfq USING (term), st),
        |pq AS (SELECT qt.query_id, sc.doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6
        |  FROM sc JOIN qt USING (term) GROUP BY qt.query_id, sc.doc_id),
        |r AS (SELECT query_id, doc_id, CAST(row_number() OVER
        |  (PARTITION BY query_id ORDER BY bm25_e6 DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM pq),
        |rel AS (SELECT query_id, rk FROM r WHERE doc_id = query_id),
        |qids AS (SELECT DISTINCT query_id FROM qt)
        |SELECT count(*) AS n_queries,
        |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
        |  CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_5,
        |  CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10,
        |  CAST(sum(CASE WHEN rk <= 10 THEN 2520 // rk ELSE 0 END) AS BIGINT) AS mrr_x2520
        |FROM qids LEFT JOIN rel USING (query_id)""".stripMargin), headline = true),
    // X38b Z-order kernel: DuckDB replays the 16-term bit interleave
    QuerySpec("q_zorder_values", LayoutOps.qZorderValues, sql(
      s"""WITH pts AS (SELECT DISTINCT l_partkey, l_suppkey,
         |  l_partkey % 65536 AS p, l_suppkey % 65536 AS s FROM lineitem)
         |SELECT l_partkey, l_suppkey, CAST($zInterleaveSql AS BIGINT) AS zval
         |FROM pts ORDER BY zval DESC, l_partkey ASC, l_suppkey ASC
         |LIMIT 100""".stripMargin), headline = true),
    // X69 SQ8: integer code dot over the PERSISTED SQ8 code table, top-50
    // shortlist, exact micro-int cosine re-rank over the raw embeddings —
    // the normalize/scale/quantize passes live in the artifact (pure
    // projections of the data), the probe over it is exact. Codes are int8
    // in parquet; both engines widen to 64-bit inside the dot
    QuerySpec("q_sq8_topk", VectorOps.qSq8Topk, replay("sq8_codes")(p =>
      s"""WITH c AS (SELECT vec_id, codes FROM read_parquet('$p/*.parquet')),
         |qc AS (SELECT codes AS qcodes FROM c WHERE vec_id = 0),
         |dots AS (SELECT vec_id, CAST(list_reduce(list_transform(
         |    list_zip(codes, qcodes),
         |    z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT)),
         |    (acc, v) -> acc + v) AS BIGINT) AS dot
         |  FROM c CROSS JOIN qc),
         |short AS (SELECT vec_id FROM dots
         |  ORDER BY dot DESC, vec_id ASC LIMIT 50),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, ${e6(cosSql("embedding", "qv"))} AS score_e6
         |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY score_e6 DESC, vec_id ASC LIMIT 10""".stripMargin), headline = true),
    // X70 CM join-size estimation: the AMS/CM inner product, replayed
    // exactly — Carter–Wegman integer hash rows on the NATIVE long key
    // (r14; lockstep constants from SketchOps.cmCwValuesSql), pure int64
    // arithmetic on both engines; the exact side is the group-count
    // product sum — no row-level join on either engine
    QuerySpec("q_cm_join_est", SketchOps.qCmJoinEst, sql(
      s"""WITH la AS (SELECT l_orderkey AS k FROM lineitem),
        |ob AS (SELECT o_orderkey AS k FROM orders),
        |js AS (SELECT * FROM (VALUES ${graft.ops.SketchOps.cmCwValuesSql})
        |  AS v(j, a, b)),
        |ska AS (SELECT j, cell, count(*) AS ca FROM (SELECT j,
        |  (((k % 2147483647 + 2147483647) % 2147483647) * a + b) % 2147483647 % 2048 AS cell
        |  FROM la, js) GROUP BY j, cell),
        |skb AS (SELECT j, cell, count(*) AS cb FROM (SELECT j,
        |  (((k % 2147483647 + 2147483647) % 2147483647) * a + b) % 2147483647 % 2048 AS cell
        |  FROM ob, js) GROUP BY j, cell),
        |est AS (SELECT CAST(min(ip) AS BIGINT) AS est_n FROM (
        |  SELECT j, sum(ca * cb) AS ip FROM ska JOIN skb USING (j, cell)
        |  GROUP BY j)),
        |ex AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS exact_n FROM
        |  (SELECT k, count(*) AS na FROM la GROUP BY k) a
        |  JOIN (SELECT k, count(*) AS nb FROM ob GROUP BY k) b
        |  USING (k))
        |SELECT exact_n, est_n, est_n >= exact_n AS overestimate_ok,
        |  (est_n * 100) // greatest(exact_n, 1) AS ratio_pct
        |FROM ex CROSS JOIN est""".stripMargin), headline = true),
    // X71 key-skew diagnostics: exact per-key count distribution + the
    // hot-key/mean percent that decides salting — all integer/e6
    QuerySpec("q_skew_profile", SkewOps.qSkewProfile, sql(
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        |SELECT count(*) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(max(n) AS BIGINT) AS max_n,
        |  CAST(round(quantile_cont(n, 0.5) * 1000000, 0) AS BIGINT) AS p50_e6,
        |  CAST(round(quantile_cont(n, 0.99) * 1000000, 0) AS BIGINT) AS p99_e6,
        |  (CAST(max(n) AS BIGINT) * 100 * count(*)) // CAST(sum(n) AS BIGINT)
        |    AS hot_pct_of_mean
        |FROM c""".stripMargin), headline = true),
    // X72 the closed planner loop: CM join estimate + skew profile DRIVE
    // a broadcast/salt/shuffle choice. DuckDB replays all three measurements
    // (build count, hot-key percent, the Carter–Wegman long-key CM join
    // estimate — the q_cm_join_est hash rows), re-derives the SAME
    // decision, and checks the routed join's aggregate against the plain
    // equi-join — the decision column and routing-invisibility are
    // hash-gated
    QuerySpec("q_planned_skew_join", SkewOps.qPlannedSkewJoin, sql(
      s"""WITH ev AS (SELECT CASE WHEN event_type = 'view' THEN 0 ELSE user_id END
        |    AS uid, value FROM events),
        |cu AS (SELECT c_custkey, c_mktsegment FROM customer),
        |bc AS (SELECT count(*) AS build_rows FROM cu),
        |prof AS (SELECT CAST(coalesce((max(n) * 100 * count(*)) // sum(n), 0)
        |    AS BIGINT) AS hot_pct
        |  FROM (SELECT uid, count(*) AS n FROM ev GROUP BY uid)),
        |js AS (SELECT * FROM (VALUES ${graft.ops.SketchOps.cmCwValuesSql})
        |  AS v(j, a, b)),
        |ska AS (SELECT j, cell, count(*) AS ca FROM (SELECT j,
        |  (((uid % 2147483647 + 2147483647) % 2147483647) * a + b) % 2147483647 % 2048 AS cell
        |  FROM ev, js) GROUP BY j, cell),
        |skb AS (SELECT j, cell, count(*) AS cb FROM (SELECT j,
        |  (((c_custkey % 2147483647 + 2147483647) % 2147483647) * a + b) % 2147483647 % 2048 AS cell
        |  FROM cu, js) GROUP BY j, cell),
        |est AS (SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS est_n FROM (
        |  SELECT j, sum(ca * cb) AS ip FROM ska JOIN skb USING (j, cell)
        |  GROUP BY j)),
        |dec AS (SELECT CASE WHEN build_rows <= 1000 THEN 'broadcast'
        |    WHEN est_n >= 5000 AND hot_pct >= 300 THEN 'salt'
        |    ELSE 'shuffle' END AS decision,
        |  CAST(build_rows AS BIGINT) AS build_rows, est_n, hot_pct
        |  FROM bc, est, prof)
        |SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  decision, build_rows, est_n AS est_join_rows,
        |  hot_pct AS hot_pct_of_mean
        |FROM ev JOIN cu ON uid = c_custkey, dec
        |GROUP BY c_mktsegment, decision, build_rows, est_n, hot_pct
        |ORDER BY c_mktsegment""".stripMargin), headline = true),
    // X75 the aggregation mirror: skew profile drives salted/plain groupBy.
    // DuckDB replays the 1-row skew profile (rows + hot-key percent),
    // re-derives the SAME salted/plain decision, and checks the routed
    // aggregate against the plain groupBy — two-phase salting must be
    // invisible in the result
    QuerySpec("q_planned_skew_agg", SkewOps.qPlannedSkewAgg, sql(
      """WITH ev AS (SELECT CASE WHEN event_type = 'view' THEN 0 ELSE user_id END
        |    AS uid, value FROM events),
        |prof AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
        |    CAST(coalesce((max(n) * 100 * count(*)) // sum(n), 0) AS BIGINT)
        |      AS hot_pct
        |  FROM (SELECT uid, count(*) AS n FROM ev GROUP BY uid)),
        |agg AS (SELECT uid, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM ev GROUP BY uid)
        |SELECT uid, n, sum_value,
        |  CASE WHEN n_rows >= 5000 AND hot_pct >= 300 THEN 'salted'
        |       ELSE 'plain' END AS decision,
        |  n_rows, hot_pct AS hot_pct_of_mean
        |FROM agg, prof
        |ORDER BY n DESC, uid ASC LIMIT 10""".stripMargin), headline = true),
    // X73/X74 leakage-safe group split + token-budget source cap
    // X73: DuckDB replays the salted-md5 split draw over SOURCE and the
    // leak-free equality verdict
    QuerySpec("q_group_split", SampleOps.qGroupSplit, sql(
      """WITH d AS (SELECT source, n_chars,
        |  CASE WHEN substring(md5(source || ':split'), 1, 1) < 'c' THEN 'train'
        |       WHEN substring(md5(source || ':split'), 1, 1) < 'e' THEN 'dev'
        |       ELSE 'test' END AS split FROM documents),
        |ps AS (SELECT split, count(*) AS n_docs,
        |    count(DISTINCT source) AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM d GROUP BY split),
        |tot AS (SELECT count(DISTINCT source) AS n_total FROM documents),
        |ss AS (SELECT CAST(sum(n_sources) AS BIGINT) AS sum_sources FROM ps)
        |SELECT split, n_docs, n_sources, sum_chars,
        |  sum_sources = n_total AS leak_free
        |FROM ps, tot, ss ORDER BY split""".stripMargin), headline = true),
    // X74 token-budget cap: the window cumsum + prefix-keep semantics,
    // token counting per q_token_bpe's whitespace convention
    QuerySpec("q_token_budget_cap", SampleOps.qTokenBudgetCap, sql(
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN cum <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN cum <= 500 THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS tokens_kept,
        |  CAST(500 AS BIGINT) AS budget
        |FROM c GROUP BY source ORDER BY source""".stripMargin), headline = true),
    // V9 driver faces (r14): the REAL NL→SQL front end over the warehouse
    // catalog — each oracle is the exact SQL the generator emits for the
    // question (FuzzGrammarSpec pins generator == this string), so the
    // DuckDB gate certifies engine-parity of the generated dialect;
    // COUNT/MAX only, so values are exact
    QuerySpec("q_nl_count_group",
      nlQuery("how many orders and customer per orderstatus"), sql(
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus ASC""".stripMargin)),
    QuerySpec("q_nl_max_filter_group",
      nlQuery("highest totalprice per mktsegment for orders and customer " +
        "where acctbal over 1000"), sql(
      """SELECT c_mktsegment, MAX(o_totalprice) AS max_o_totalprice
        |FROM customer JOIN orders ON customer.c_custkey = orders.o_custkey
        |WHERE c_acctbal > 1000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment ASC""".stripMargin)),
    QuerySpec("q_nl_topk_group",
      nlQuery("how many orders and customer per orderpriority top 3"), sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
        |GROUP BY o_orderpriority
        |ORDER BY n DESC, o_orderpriority ASC LIMIT 3""".stripMargin)),
    // V9 grounding loop (r15): misspelled value → semantic retrieval →
    // case-exact grounded WHERE → SQL answer, through QueryPipeline.run.
    // DuckDB re-scores EVERY persisted chunk against the persisted question
    // vector with the bit-exact sequential-double cosine, re-derives the
    // best-scoring top-10 hit whose text carries the grounded cell
    // (`:NATION_14` — the chunker's own `col:value` serialization), and
    // runs the grounded SQL the generator is pinned (QueryPipelineSpec) to
    // emit — retrieval order, value provenance, and the final grounded
    // answer in one hash
    QuerySpec("q_nl_semantic_ground", GroundOps.qNlSemanticGround, replay("nl_ground") { p =>
      val v = GroundOps.groundedValue
      s"""WITH coll AS (SELECT chunk_id, text, embedding
         |  FROM read_parquet('$p/chunks/*.parquet')),
         |q AS (SELECT qv FROM read_parquet('$p/qvec/*.parquet')),
         |scored AS (SELECT chunk_id, text,
         |    ${e6(cosSql("embedding", "qv"))} AS score_e6
         |  FROM coll CROSS JOIN q),
         |top AS (SELECT * FROM scored
         |  ORDER BY score_e6 DESC, chunk_id ASC LIMIT 10),
         |ev AS (SELECT chunk_id, score_e6 FROM top
         |  WHERE contains(text, ':$v')
         |  ORDER BY score_e6 DESC, chunk_id ASC LIMIT 1)
         |SELECT n.*, ev.chunk_id, ev.score_e6, '$v' AS grounded_value
         |FROM (SELECT * FROM nation WHERE n_name = '$v' LIMIT 20) n
         |CROSS JOIN ev""".stripMargin
    }),
    // V9 extended grammar faces (r15): HAVING and OR-disjunction; the
    // oracle IS the generated SQL (FuzzGrammarSpec pins the strings)
    QuerySpec("q_nl_having_group",
      nlQuery("how many orders and customer per orderstatus " +
        "having count over 100"), sql(
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
        |GROUP BY o_orderstatus HAVING count(*) > 100
        |ORDER BY o_orderstatus ASC""".stripMargin)),
    QuerySpec("q_nl_or_filter",
      nlQuery("how many orders where totalprice under 5000 " +
        "or totalprice over 100000"), sql(
      """SELECT count(*) AS n FROM orders
        |WHERE (o_totalprice < 5000 OR o_totalprice > 100000)""".stripMargin)),
    // ... and the other two r15 grammar rules, negation + closed ranges
    // negation on a numeric value: the grammar's tokens are lowercased, so
    // a string value's case is only recoverable via the grounding loop
    // (q_nl_semantic_ground) — the plain-grammar face stays numeric-exact
    QuerySpec("q_nl_not_filter",
      nlQuery("how many orders where custkey is not 1"), sql(
      """SELECT count(*) AS n FROM orders WHERE o_custkey <> 1""")),
    QuerySpec("q_nl_range_filter",
      nlQuery("how many orders where totalprice from 1000 to 5000"), sql(
      """SELECT count(*) AS n FROM orders
        |WHERE o_totalprice BETWEEN 1000 AND 5000""".stripMargin)),
    // derived-measure expression — the TPC-H net-revenue idiom
    // price × (1 − discount) as a grammar-parsed measure phrase; the oracle
    // IS the generated SQL (pinned by FuzzGrammarSpec's derived-measure
    // cases); MAX of an IEEE-identical double expression is order-free, so
    // values hash-match exactly
    QuerySpec("q_nl_expr_measure",
      nlQueryOn(Seq("lineitem"),
        "highest extendedprice times one minus discount for lineitem " +
          "per returnflag"), sql(
      """SELECT l_returnflag,
        |MAX((l_extendedprice * (1 - l_discount))) AS max_net_extendedprice_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin)),
    // network family (r15): S6 streamed-GET URL source, V2 executor-side
    // batch-POST embedder, S9 streamed-PUT blob sink — real wire code
    // against the in-process loopback fixture (ops/NetOps.scala). They stay
    // out of the headline: loopback-IO-bound by design, not engine work
    // S6: the table went over real HTTP (loopback) and back — the oracle
    // is the same aggregate over the original table it was served from
    QuerySpec("q_url_ingest", NetOps.qUrlIngest, sql(
      """SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |count(DISTINCT o_orderstatus) AS n_status FROM orders""".stripMargin)),
    // V2: the loopback endpoint's vectors are a pinned integer formula of
    // the embedded text (= doc_id rendered as a string); the constants are
    // emitted from the ONE Scala source of truth (NetOps.LoopbackHttp), and
    // doc_id >= 0 keeps Spark's floorMod and DuckDB's % aligned (the
    // cmCellKey non-negative-key precondition, ADVICE r14)
    QuerySpec("q_http_embed", NetOps.qHttpEmbed, sql {
      import graft.ops.NetOps.LoopbackHttp._
      s"""SELECT doc_id, $Dim AS n_dims,
         |CAST(list_sum(list_transform(range($Dim),
         |  i -> (doc_id * $A + i * $B) % $P - $OFF)) AS BIGINT) AS vsum
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    // S9: the aggregate's parquet artifact was PUT to the blob store and
    // fetched back; matching the aggregate certifies a byte-true roundtrip
    QuerySpec("q_blob_put_roundtrip", NetOps.qBlobPutRoundtrip, sql(
      """SELECT o_orderstatus, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    // X77 delta embedding refresh: re-embed only changed chunks, reuse
    // persisted vectors, drop vanished rows; the reused/embedded/dropped
    // partition of the key space is decided by md5 content fingerprints —
    // bit-replayable in DuckDB
    QuerySpec("q_embed_delta_refresh", EmbedMaintOps.qEmbedDeltaRefresh, sql(
      """WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |fresh AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 11 <> 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN n.doc_id IS NULL THEN 'dropped'
        |         WHEN o.doc_id IS NULL OR o.fp <> n.fp THEN 'embedded'
        |         ELSE 'reused' END AS action
        |  FROM old o FULL OUTER JOIN fresh n ON o.doc_id = n.doc_id)
        |SELECT action, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM j GROUP BY action ORDER BY action""".stripMargin), headline = true),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  /** Evaluated on each read: artifact-replayed entries appear once their
    * artifact is recorded. */
  def oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle().map(s.name -> _)).toMap

  /** V9 end to end for the driver: profile the cataloged tables from the
    * sf dir (the pipeline's own catalog builder), render SQL with the
    * deterministic template generator, execute over temp views — the
    * reference's NL→SQL→result loop (`langgraph_pipeline.py:461-492`)
    * with the LLM seam bound to its deterministic default. Questions are
    * chosen COUNT/MAX-only so every output value is exact (no double
    * sums to drift between engines). */
  private def nlQueryOn(tables: Seq[String], question: String)(
      s: SparkSession, sfDir: String): DataFrame = {
    val catalog = tables.map(CatalogOps.profileTable(s, sfDir, _))
    graft.pipeline.QueryPipeline.registerViews(s, catalog)
    val text = catalog.map(_.describe).mkString("\n")
    s.sql(graft.planner.TemplateSqlGenerator.generate(question, text)
      .getOrElse(sys.error(s"template generator returned no SQL for: $question")))
  }

  private def nlQuery(question: String)(s: SparkSession, sfDir: String): DataFrame =
    nlQueryOn(Seq("orders", "customer"), question)(s, sfDir)

  // ---- oracle SQL (DuckDB dialect, same tables registered by name) ----

  private val dsumP  = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"

  /** Shared by `q_dedup_incremental` and `q_dedup_incremental_bloom`: the
    * bloom path must equal the exact anti-join byte-for-byte. */
  private val dedupIncrementalSql =
    """WITH corpus AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 4),
      |inc AS (SELECT source, text FROM documents WHERE doc_id % 5 = 4),
      |adm AS (SELECT source, count(*) AS n_admitted FROM inc
      |  WHERE md5(text) NOT IN (SELECT fp FROM corpus) GROUP BY source)
      |SELECT i.source, i.n_incoming, COALESCE(a.n_admitted, 0) AS n_admitted,
      |i.n_incoming - COALESCE(a.n_admitted, 0) AS n_dropped
      |FROM (SELECT source, count(*) AS n_incoming FROM inc GROUP BY source) i
      |LEFT JOIN adm a USING (source) ORDER BY i.source""".stripMargin

  /** DuckDB cosine matching the Spark HOF bit-for-bit: sequential double
    * fold (DuckDB's builtin `list_cosine_similarity` accumulates in float32
    * and differs in the 7th decimal). */
  private def cosSql(a: String, b: String): String = {
    def sq(v: String) =
      s"list_reduce(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)"
    s"(list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, x) -> acc + x)" +
      s" / (sqrt(${sq(a)}) * sqrt(${sq(b)})))"
  }

  private def e6(expr: String): String = s"CAST(round($expr * 1000000, 0) AS BIGINT)"

  /** Shared by `q_bm25_topk` and `q_bm25_index_topk`: the indexed variant
    * probes the persisted inverted index but computes the same counts and
    * the same arithmetic, so both hash-match this one SQL. */
  private val bm25OracleSql: String =
    """WITH d AS (SELECT doc_id,
      |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
      |st AS (SELECT count(*) AS n_docs,
      |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
      |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
      |  WHERE term IN ('vector','join','fast') GROUP BY doc_id, dl, term),
      |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id,
      |  CAST(round((ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
      |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
      |    * 1000000, 0) AS BIGINT) AS s_e6
      |  FROM tf JOIN dfq USING (term), st)
      |SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6,
      |count(*) AS n_terms FROM sc GROUP BY doc_id
      |ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 15""".stripMargin

  /** Shared by `q_hybrid_rrf` and `q_hybrid_rrf_index`: the indexed
    * variant's lexical ranking probes the persisted inverted index, but
    * `bm25IndexScores` is bit-identical to `bm25Scores`, so the fused
    * result hashes against this one SQL for both. */
  private lazy val hybridRrfOracleSql: String =
    s"""WITH d AS (SELECT doc_id,
       |  string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |st AS (SELECT count(*) AS n_docs,
       |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
       |  (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
       |  WHERE term IN ('vector','join','fast') GROUP BY doc_id, dl, term),
       |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |  CAST(round((ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
       |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))))
       |    * 1000000, 0) AS BIGINT) AS s_e6
       |  FROM tf JOIN dfq USING (term), st),
       |bm AS (SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6 FROM sc
       |  GROUP BY doc_id ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 50),
       |lex AS (SELECT doc_id, CAST(row_number() OVER
       |  (ORDER BY bm25_e6 DESC, doc_id ASC) AS BIGINT) AS lex_rank FROM bm),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |den0 AS (SELECT vec_id, ${e6(cosSql("embedding", "qv"))} AS score_e6
       |  FROM embeddings, q ORDER BY score_e6 DESC, vec_id ASC LIMIT 50),
       |den AS (SELECT vec_id, CAST(row_number() OVER
       |  (ORDER BY score_e6 DESC, vec_id ASC) AS BIGINT) AS dense_rank FROM den0)
       |SELECT COALESCE(lex.doc_id, den.vec_id) AS id,
       |CAST(round((COALESCE(1.0 / (60 + lex_rank), 0.0) +
       |            COALESCE(1.0 / (60 + dense_rank), 0.0)) * 1000000, 0) AS BIGINT)
       |  AS rrf_e6,
       |lex_rank, dense_rank
       |FROM lex FULL OUTER JOIN den ON lex.doc_id = den.vec_id
       |ORDER BY rrf_e6 DESC, id ASC LIMIT 15""".stripMargin

  /** Shared by the direct and index variants of each phrase query: the
    * Spark sides intersect positional posting lists; the oracle instead
    * checks token-boundary-safe substring containment of the normalized
    * token stream — an independent formulation of "contains the phrase". */
  private def phraseOracleSql(phraseText: String): String =
    s"""SELECT source, count(*) AS n_docs FROM documents
       |WHERE ' ' || array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ') || ' '
       |  LIKE '% $phraseText %'
       |GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB replay of `VectorOps.lshCandidatePairs`' signature bands:
    * identical deterministic hyperplanes (`VectorOps.planeSign`) and the
    * identical left-to-right dot-product summation order, so every sign
    * bit — and therefore the candidate set — reproduces bit-for-bit (the
    * same IEEE-754 double ops in the same order on both engines; Catalyst
    * does not re-associate floating-point adds). */
  private def lshBandSql(bits: Int, bands: Int): Seq[String] = {
    val per = bits / bands
    (0 until bands).map { b =>
      (0 until per).map { j =>
        val bit = b * per + j
        val dot = (0 until 64).map { d =>
          s"CAST(embedding[${d + 1}] AS DOUBLE) * ${VectorOps.planeSign(bit, d)}"
        }.mkString(" + ")
        s"(CASE WHEN ($dot) >= 0 THEN ${1L << (bit % 60)} ELSE 0 END)"
      }.mkString(" + ")
    }
  }

  /** DuckDB mirror of `VectorOps.cmpBandKeys` — identical bit layout (bit i
    * = `embedding[2i+1] >= embedding[2i+2]`, 1-indexed; bands of bits/bands
    * bits), so the candidate set of `q_embed_neardup_pairs` is itself
    * oracle-verified, term for term. */
  private def cmpBandSql(bits: Int, bands: Int): Seq[String] = {
    val per = bits / bands
    (0 until bands).map { b =>
      (0 until per).map { j =>
        val i = b * per + j
        s"(CASE WHEN embedding[${2 * i + 1}] >= embedding[${2 * i + 2}] " +
          s"THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    }
  }

  private def profileUnion: String =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .map(c => s"SELECT '$c' AS column_name, CAST(count(*) - count($c) AS BIGINT) AS n_nulls, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders")
      .mkString("", " UNION ALL ", " ORDER BY column_name")

  private def pivotCols: String =
    (1 to 12).map(m =>
      f"COALESCE(CAST(sum(CASE WHEN month(o_orderdate) = $m THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS m$m%02d")
      .mkString(", ")

  /** X54a/X54b oracles (since r13): the TRAINING loop itself, replayed in
    * DuckDB. A recursive CTE carries the full word-frequency vocab as
    * per-iteration state; each step computes the global pair-count argmax
    * over the PREVIOUS iteration's rows (tie-break n DESC, l ASC, r ASC —
    * the same total order `learnBpe` collects) and applies the winning
    * merge to every word. The left-to-right NON-OVERLAPPING fold is
    * expressed as a plain string `replace` over a delimiter-wrapped symbol
    * string (chr(1)·sym·chr(2) per symbol): `replace` scans left to right
    * and continues AFTER each replacement, which is exactly the fold's
    * greedy-non-overlapping semantics, and the per-symbol wrapping keeps
    * adjacent matches from sharing delimiter characters (a single-space
    * join would drop every second merge in an `a a a a` run). The merge
    * table is read back as the DISTINCT (iteration, l, r, n) rows — every
    * vocab row of an iteration carries the merge that produced it — and
    * the vocab face re-reads the FINAL iteration's symbolization (which
    * equals encode-with-all-merges; BpeSpec proves trained-state ≡
    * re-encode). Verified to reproduce the persisted artifact
    * byte-for-byte at sf0.001/0.01/0.1. */
  private val bpeTrainSql: String =
    """WITH RECURSIVE
      |wv AS (SELECT word, count(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |    FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |init AS (SELECT word, freq,
      |    chr(1) || array_to_string(
      |      list_append(list_filter(string_split(word, ''), x -> x <> ''), '</w>'),
      |      chr(2) || chr(1)) || chr(2) AS s
      |  FROM wv),
      |t AS (
      |  SELECT 0 AS it, word, freq, s,
      |    CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
      |    CAST(NULL AS BIGINT) AS n
      |  FROM init
      |  UNION ALL
      |  SELECT t.it + 1, t.word, t.freq,
      |    replace(t.s, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
      |      chr(1) || b.l || b.r || chr(2)) AS s,
      |    b.l, b.r, b.n
      |  FROM t, (
      |    SELECT z[1] AS l, z[2] AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
      |      SELECT freq, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
      |      FROM (SELECT freq,
      |        string_split(s[2:len(s)-1], chr(2) || chr(1)) AS toks FROM t)
      |    ) q(freq, z)
      |    GROUP BY z[1], z[2]
      |    ORDER BY n DESC, l ASC, r ASC LIMIT 1
      |  ) b
      |  WHERE t.it < 20 AND b.n >= 2
      |)
      |""".stripMargin

  /** The Morton interleave as DuckDB SQL — the same 16 shift/mask/or
    * triples `LayoutOps.zValue` builds as Column expressions. */
  private def zInterleaveSql: String = (0 until 16).map(i =>
    s"((((p >> $i) & 1) << ${2 * i + 1}) | (((s >> $i) & 1) << ${2 * i}))")
    .mkString(" | ")

  /** IVF probe replays (since r12): the probe queries are PURE FUNCTIONS
    * of the persisted index artifacts (label centroids / trained
    * centroids+assignments), so DuckDB replays them end to end — centroid
    * ranking with the identical left-to-right IEEE double fold
    * ([[cosSql]], proven bit-compatible by `q_cosine_topk`), probed-list
    * pruning via the artifact's assignment, and the micro-int cosine over
    * probed rows. The k-means float iteration seeded the ARTIFACT, but
    * every probe over it is deterministic — approximation lives in the
    * index, not the query, so the hash gate applies. */
  private def ivfProbedSql(nprobe: Int): String =
    s"""SELECT label FROM c CROSS JOIN q
       |  ORDER BY ${cosSql("centroid", "qv")} DESC, label ASC LIMIT $nprobe"""
      .stripMargin

  /** PQ probe replays (since r12): ADC scores are order-free integer sums
    * of per-(subspace, code) micro-int partials, themselves pure functions
    * of the persisted codebooks and the query vector — so the full
    * ADC-shortlist → exact-re-rank pipeline replays in SQL. The query is
    * unit-normalized with the same sequential double fold; each partial is
    * the squared L2 between a codebook centroid and the query's 2-dim
    * subvector (list slice), micro-int-collapsed BEFORE the per-vector sum
    * exactly as `PqOps.adcTable` does. */
  private def pqAdcCtes(pq: String): String = {
    val dsub = PqOps.DSUB
    // squared-L2 between the codebook centroid and the query subvector for
    // this row's subspace — identical zip/transform/fold order as Spark's
    // l2(centroid, slice(nq, sub*DSUB+1, DSUB))
    val pdE6 =
      s"""CAST(round(list_reduce(list_transform(
         |    list_zip(centroid, nq[sub*$dsub+1 : sub*$dsub+$dsub]),
         |    z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
         |       * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
         |  (acc, x) -> acc + x) * 1000000, 0) AS BIGINT)""".stripMargin
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |nd AS (SELECT list_transform(qv, x -> CAST(x AS DOUBLE)) AS d FROM q),
       |nv AS (SELECT list_transform(d, x -> x / sqrt(
       |    list_reduce(list_transform(d, y -> y * y), (a, y) -> a + y)))
       |  AS nq FROM nd),
       |bk AS (SELECT sub, code, centroid
       |  FROM read_parquet('$pq/codebooks/*.parquet')),
       |adc AS (SELECT sub, code, $pdE6 AS pd_e6 FROM bk CROSS JOIN nv),
       |cd AS (SELECT vec_id, codes FROM read_parquet('$pq/codes/*.parquet')),
       |ex AS (SELECT vec_id, s.sub AS sub, codes[s.sub + 1] AS code
       |  FROM cd CROSS JOIN (SELECT unnest(range(${PqOps.M})) AS sub) s)"""
      .stripMargin
  }

  /** The PQ faces' exact re-rank of the `short` ADC shortlist. */
  private def pqRerankSql: String =
    s"""SELECT e.vec_id, ${e6(cosSql("embedding", "qv"))} AS score_e6
       |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
       |ORDER BY score_e6 DESC, vec_id ASC LIMIT 10""".stripMargin

  private def prunedScanSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-07-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private def ntileSql: String =
    """WITH b AS (SELECT o_totalprice,
      |  CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
      |    AS bucket FROM orders)
      |SELECT bucket, count(*) AS n,
      |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  private def heavyHittersSql: String =
    """WITH f AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |t AS (SELECT count(*) AS n_total FROM f),
      |g AS (SELECT token, count(*) AS n FROM f GROUP BY token)
      |SELECT token, n, (SELECT n_total // 2000 + 1 FROM t) AS thresh
      |FROM g WHERE n >= (SELECT n_total // 2000 + 1 FROM t)
      |ORDER BY n DESC, token ASC""".stripMargin
}
