package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, LongType}
import Tables._

/** Grouped-analytics widening of the delegated-SQL surface (SURVEY §2b/§2c):
  * mode/median, quantile bucketing, ordered string aggregation, FILTER-style
  * conditional aggregates, correlated above-average subquery shape, argmax,
  * run-length encoding of event streams, robust (MAD) outlier counts, and
  * bitwise aggregates. The reference executes whatever SQL its prompt surface
  * yields via DuckDB (`duckdb_util.py:234-243`); these are the remaining SQL
  * shapes the prompts in `langgraph_pipeline.py:461-492` admit that the
  * engine had not yet exercised as first-class operators.
  *
  * Scale notes per operator are on each method; the shared principle is
  * two-phase aggregation (partial per partition, merge on the group key) so
  * nothing here shuffles more than once per group key, and mode/argmax use
  * `max(struct(...))` — an associative, partial-aggregable formulation —
  * instead of a window over the full input.
  */
object GroupAnalytics {

  /** Mode (most frequent value, ties → smallest) + exact interpolated median
    * per group. Mode is two chained hash aggregations — (group, value) counts
    * then an associative `max(struct(count, -value))` per group — which
    * partial-aggregates on both sides of the shuffle; no window, no sort of
    * the full input. At 100 TB the (group, value) cardinality bounds the
    * intermediate, not the row count. */
  def qModeMedian(s: SparkSession, sf: String): DataFrame = {
    // (r18: a tWide widening was tried here and measured 2.3x SLOWER —
    // the exact-percentile buffers pay more in 32-way partial merges than
    // the serial scan costs; the narrow scan stays)
    val li = t(s, sf, "lineitem")
    val counts = li.groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
    val mode = counts.groupBy("l_returnflag")
      .agg(max(struct(col("n"), negate(col("l_quantity")).as("neg"))).as("m"))
      .select(col("l_returnflag"), col("m.n").as("mode_n"),
        negate(col("m.neg")).as("mode_qty"))
    val med = li.groupBy("l_returnflag")
      .agg(round(expr("percentile(l_quantity, 0.5)") * 1000000, 0)
        .cast("long").as("med_qty_e6"))
    mode.join(med, "l_returnflag").orderBy("l_returnflag")
  }

  /** NTILE quantile bucketing over a global order — bucket membership counts
    * and exact per-bucket price ranges. The registered face executes via
    * [[qNtileScalable]] (range-partitioned exact ranks from [[globalRanks]],
    * integer ntile arithmetic): a no-PARTITION-BY `ntile().over(window)`
    * lands the whole table on one task, which is exactly the plan that must
    * not exist at 100 TB. The single-partition window formulation survives
    * only as [[qNtileWindow]], the spec-side twin GroupAnalyticsSpec proves
    * bit-identical — the same twin-collapse as the heavy-hitter family. */
  def qNtile(s: SparkSession, sf: String): DataFrame = qNtileScalable(s, sf)

  /** The naive unpartitioned-window ntile — SPEC ONLY (one-task global
    * sort; 11.6× superlinear at 16× data). Kept solely as the semantic
    * reference [[qNtileScalable]] is proven identical to; never registered. */
  def qNtileWindow(s: SparkSession, sf: String): DataFrame = {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, sf, "orders")
      .withColumn("bucket", ntile(4).over(w).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice"), 2).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("bucket")
  }

  /** Exact global rank over a strict total order WITHOUT a single-partition
    * window — the 100 TB path for ntile/rank/row_number with no PARTITION
    * BY. Shape: range-partition on the sort key (Spark's sampled range
    * exchange — the same machinery a global `orderBy` uses) into `parts`
    * partitions (default: the session's `spark.sql.shuffle.partitions`,
    * the width any sort uses), sort within each partition, and number the
    * rows with `RDD.zipWithIndex`: one job counts each partition, the
    * driver turns the counts into start offsets, and the index pass adds
    * them. Both passes run on the one RDD whose range shuffle is already
    * written, so they read the same partition order and no checkpoint is
    * needed to pin it; the total is one more count over the same files.
    * Nothing global ever lands on one task. `sortCols` must be a strict
    * total order (include a unique tiebreak), otherwise rows tied on the
    * key could rank nondeterministically. */
  def globalRanks(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      parts: Int = SQLConf.get.numShufflePartitions): (DataFrame, Long) = {
    val indexed = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1)) }
    (df.sparkSession.createDataFrame(indexed,
      df.schema.add("grank", LongType, nullable = false)), indexed.count())
  }

  /** NTILE from [[globalRanks]] — the scalable formulation of [[qNtile]],
    * same output, same oracle (the bucketing must be invisible to the
    * result, like the heavy-hitter and salted-join twins). SQL-standard
    * ntile arithmetic on the exact rank: with n = q·k + r, the first r
    * buckets take q+1 rows — pure integer division, no float boundary.
    * Constructing it runs the rank jobs (range sample, shuffle, partition
    * count, total); executing it is one partial-aggregate shuffle. */
  def qNtileScalable(s: SparkSession, sf: String): DataFrame = {
    // project to the two consumed columns BEFORE globalRanks: its rows go
    // through an RDD, which the optimizer cannot prune, so an unprojected
    // input would range-shuffle and convert every orders column — 9
    // columns carried for the 2 the query reads (guide §2.3)
    val (ranked, n) = globalRanks(
      t(s, sf, "orders").select(col("o_totalprice"), col("o_orderkey")),
      Seq(col("o_totalprice"), col("o_orderkey")))
    val k = 4L
    val q = n / k; val r = n % k
    // integer ceil-divisions via `div` (exact at any scale — no doubles)
    val b = when(col("grank") <= lit(r * (q + 1)),
      expr(s"(grank + ${q}) div ${q + 1}"))
      .otherwise(expr(s"${r} + (grank - ${r * (q + 1)} + ${math.max(q, 1L) - 1}) div ${math.max(q, 1L)}"))
    ranked.withColumn("bucket", b.cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice"), 2).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      // k rows at any scale: sort them in one task instead of sampling a
      // second range exchange for them
      .coalesce(1)
      .orderBy("bucket")
  }

  /** Ordered string aggregation (LISTAGG/string_agg): nations per region,
    * sorted then joined — `collect_list` under a deterministic `array_sort`
    * so the partition-arrival order (nondeterministic under parallel merge)
    * cannot leak into the output. Group payloads are small dimension rows;
    * at scale the collect stays safe only while per-group cardinality is
    * bounded — for unbounded groups use qVocabTop-style top-k first. */
  def qStringAgg(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "nation")
      .join(t(s, sf, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")

  /** FILTER-clause conditional aggregation: per-priority totals alongside
    * status-restricted counts/sums in ONE pass (no self-join, no second
    * scan) — `sum(CASE WHEN …)` partial-aggregates like any other sum. */
  def qConditionalAgg(s: SparkSession, sf: String): DataFrame = {
    val d = col("o_totalprice").cast(DecimalType(18, 2))
    t(s, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", d).otherwise(lit(null)))
          .cast("double").as("sum_open"),
        sum(when(d > 200000, 1L).otherwise(0L)).as("n_big"))
      .orderBy("o_orderpriority")
  }

  /** Correlated above-average subquery shape (orders above their customer's
    * mean) decorrelated into aggregate + equi-join — the plan Catalyst's
    * RewriteCorrelatedScalarSubquery would produce, stated directly. The
    * comparison is multiplication-form (`price * n > sum`) in exact decimal,
    * so no division result needs cross-engine float parity. Shuffles once on
    * o_custkey for the aggregate; AQE picks broadcast for the per-customer
    * stats side when it is small. */
  def qAboveAvg(s: SparkSession, sf: String): DataFrame = {
    val o = t(s, sf, "orders")
    val d = col("o_totalprice").cast(DecimalType(18, 2))
    val perCust = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_ord"), sum(d).as("cust_sum"))
    o.join(perCust, "o_custkey")
      .filter(d * col("n_ord") > col("cust_sum"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_above"),
        dsum(col("o_totalprice"), 2).as("sum_above"))
      .orderBy("o_orderpriority")
  }

  /** ARGMAX: the full row at the per-group maximum, via the associative
    * `max(struct(value, tiebreak, payload…))` — partial-aggregable on every
    * partition (a per-group constant-size state), unlike the row_number
    * window it replaces. Tie-break on event_id makes it deterministic. */
  def qArgMax(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "events")
      .groupBy("event_type")
      .agg(max(struct(col("value"), col("event_id"), col("user_id"))).as("m"))
      .select(col("event_type"), col("m.value").as("max_value"),
        col("m.event_id").as("at_event"), col("m.user_id").as("by_user"))
      .orderBy("event_type")

  /** Run-length encoding of per-user event streams (islands-and-gaps): a
    * change flag from lag(), a running sum to number the runs, then two hash
    * aggregations. One shuffle on user_id for the window; run-level and
    * type-level rollups reuse that partitioning. Output is bounded by the
    * event-type cardinality. */
  def qEventRuns(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val prev = lag(col("event_type"), 1).over(w)
    val runs = t(s, sf, "events")
      .withColumn("chg",
        when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(count(lit(1)).as("len"))
    runs.groupBy("event_type")
      .agg(count(lit(1)).as("n_runs"), max(col("len")).as("max_len"),
        sum(col("len")).as("n_events"))
      .orderBy("event_type")
  }

  /** Robust outlier counts per group: median / MAD (median absolute
    * deviation) / |v − med| > 3·MAD. Medians are order statistics —
    * deterministic across engines where variance-based z-scores are not
    * (double Σ partials merge in nondeterministic order). Two grouped exact
    * percentiles + a broadcast join of the tiny per-group stats frame back
    * onto the events; at 100 TB swap `percentile` for `approx_percentile`
    * (mergeable t-digest) with the identical query shape. */
  def qMadOutliers(s: SparkSession, sf: String): DataFrame = {
    val ev = t(s, sf, "events")
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(max(col("med")).as("med2"), expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        round(max(col("med")) * 1000000, 0).cast("long").as("med_e6"),
        round(max(col("mad")) * 1000000, 0).cast("long").as("mad_e6"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_out"))
      .orderBy("event_type")
  }

  /** OHLC bars — the time-series resample shape (open / high / low / close
    * per hour per series): open and close are ARGMIN/ARGMAX over the
    * (ts, event_id) total order via the associative `min(struct)` /
    * `max(struct)` trick, so the whole bar builds in ONE hash aggregation
    * with constant per-group state — no per-window sort, no window
    * function, partial-aggregable on every partition. The aggregation body
    * lives in `EventStream.ohlcBars` and runs under Structured Streaming
    * unchanged (StreamingSpec proves batch ≡ stream bit-for-bit); this
    * face adds only the batch-side total order. */
  def qOhlcBars(s: SparkSession, sf: String): DataFrame =
    graft.streaming.EventStream.ohlcBars(t(s, sf, "events"))
      .orderBy("hour_start", "event_type")

  /** Bitwise aggregates (BIT_AND / BIT_OR / BIT_XOR) — associative integer
    * reductions (one shuffle, constant state), the SQL surface's remaining
    * aggregate family. XOR over unique ids doubles as a cheap order-free
    * set checksum (the same role qTableChecksum plays with hashes). */
  def qBitwiseAgg(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "events")
      .groupBy("event_type")
      .agg(expr("bit_and(event_id)").as("id_and"),
        expr("bit_or(event_id)").as("id_or"),
        expr("bit_xor(event_id)").as("id_xor"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
}
