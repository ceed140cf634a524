package graft

import org.apache.spark.sql.functions._
import graft.ops.{GroupAnalytics, Tables}

/** Invariants for the grouped-analytics widening (round 10). Value-level
  * parity with DuckDB is the oracle gate's job; these specs pin the
  * structural properties the oracle can't see — bucket balance, run/row
  * conservation, associative-argmax vs window-argmax agreement.
  */
class GroupAnalyticsSpec extends SparkTestBase {

  test("mode/median: mode count matches a manual groupBy recount") {
    val r = GroupAnalytics.qModeMedian(spark, sf).collect()
    assert(r.nonEmpty)
    val li = Tables.t(spark, sf, "lineitem")
    for (row <- r) {
      val flag = row.getAs[String]("l_returnflag")
      val manual = li.filter(col("l_returnflag") === flag)
        .groupBy("l_quantity").count()
        .orderBy(col("count").desc, col("l_quantity").asc)
        .head()
      assert(row.getAs[Double]("mode_qty") == manual.getAs[Double]("l_quantity"))
      assert(row.getAs[Long]("mode_n") == manual.getAs[Long]("count"))
    }
  }

  test("ntile: buckets are balanced (sizes differ by at most 1) and ordered") {
    val r = GroupAnalytics.qNtile(spark, sf).collect()
    assert(r.map(_.getAs[Long]("bucket")).toSeq == Seq(1L, 2L, 3L, 4L))
    val sizes = r.map(_.getAs[Long]("n"))
    assert(sizes.max - sizes.min <= 1, s"unbalanced ntile: ${sizes.toSeq}")
    // price ranges must be non-overlapping and ascending across buckets
    val pairs = r.sortBy(_.getAs[Long]("bucket"))
      .map(x => (x.getAs[Double]("min_price"), x.getAs[Double]("max_price")))
    pairs.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping ntile ranges: $hi > $lo")
    }
  }

  test("ntile: scalable range-partitioned rank equals the global window, " +
    "and globalRanks is a permutation of 1..n") {
    Seq(sf, sf01).foreach { d =>
      val win = GroupAnalytics.qNtileWindow(spark, d)
      val scl = GroupAnalytics.qNtileScalable(spark, d)
      assert(scl.exceptAll(win).isEmpty && win.exceptAll(scl).isEmpty, d)
    }
    val orders = Tables.t(spark, sf, "orders")
    val (ranked, n) = GroupAnalytics.globalRanks(orders,
      Seq(col("o_totalprice"), col("o_orderkey")), parts = 7)
    assert(n == orders.count())
    val ranks = ranked.select("grank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to n).toSeq, "ranks are not a permutation")
    // rank order must agree with the sort order
    val top3 = ranked.filter(col("grank") <= 3).orderBy("grank")
      .select("o_totalprice").collect().map(_.getDouble(0))
    val ref3 = orders.orderBy(col("o_totalprice"), col("o_orderkey"))
      .select("o_totalprice").limit(3).collect().map(_.getDouble(0))
    assert(top3.toSeq == ref3.toSeq)
  }

  test("ntile: q_ntile runs at most 7 jobs at sf0.01, none a localCheckpoint") {
    // warm: schema reads of a first construction are not the query's jobs
    GroupAnalytics.qNtile(spark, sf01).collect()
    val (_, jobs) = withJobStages(GroupAnalytics.qNtile(spark, sf01).collect())
    val names = jobs.map(_.map(_.name))
    assert(jobs.size <= 7, names)
    assert(!names.flatten.exists(_.startsWith("localCheckpoint")), names)
  }

  test("argmax: associative max(struct) agrees with the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").desc)
    val viaWindow = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("value").as("max_value"),
        col("event_id").as("at_event"), col("user_id").as("by_user"))
      .orderBy("event_type")
    val viaAgg = GroupAnalytics.qArgMax(spark, sf)
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("event runs: run lengths conserve the total event count") {
    val r = GroupAnalytics.qEventRuns(spark, sf).collect()
    val total = r.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sf).count())
    // runs are maximal: n_runs can never exceed n_events
    r.foreach { row =>
      assert(row.getAs[Long]("n_runs") <= row.getAs[Long]("n_events"))
      assert(row.getAs[Long]("max_len") >= 1L)
    }
  }

  test("ohlc bars: low <= open/close <= high and counts conserve events") {
    val r = GroupAnalytics.qOhlcBars(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (o, h, l, c) = (row.getAs[Double]("open"), row.getAs[Double]("high"),
        row.getAs[Double]("low"), row.getAs[Double]("close"))
      assert(l <= o && o <= h && l <= c && c <= h,
        s"bar violates low<=open/close<=high: $row")
    }
    assert(r.map(_.getAs[Long]("n")).sum == Tables.events(spark, sf).count())
  }

  test("mad outliers: outlier count is bounded and mad is non-negative") {
    val r = GroupAnalytics.qMadOutliers(spark, sf).collect()
    assert(r.nonEmpty)
    val perType = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.foreach { row =>
      assert(row.getAs[Long]("mad_e6") >= 0L)
      // half the mass lies within one MAD of the median, so strictly more
      // than 3 MADs away is always a minority
      val n = perType(row.getAs[String]("event_type"))
      assert(row.getAs[Long]("n_out") < n / 2 + 1)
    }
  }

  test("above-avg: every customer with >1 distinct price has an above-avg order") {
    // for any customer whose orders are not all equal-priced, the max-priced
    // order is strictly above the mean — so the filtered set is non-empty
    val r = GroupAnalytics.qAboveAvg(spark, sf).collect()
    assert(r.map(_.getAs[Long]("n_above")).sum > 0)
  }
}
