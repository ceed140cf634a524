package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-resilient aggregation: the two-phase salted groupBy pattern for hot
  * keys at cluster scale. Phase 1 aggregates on (key, salt) — spreading a
  * hot key over `salts` reducers — phase 2 merges the partials on the bare
  * key. Correct for any algebraic aggregate expressed as (partial, merge)
  * column pairs; AQE's skew-join handling covers joins, this covers
  * aggregations whose key histogram is pathological.
  */
object SkewOps {

  /** Salted count+sum aggregation: equivalent to
    * `df.groupBy(keys).agg(count(1), sum(valueCol))` but never concentrates
    * a hot key on one reducer. The salt is derived from a stable hash of the
    * whole row's value column so the plan stays deterministic. */
  def saltedCountSum(df: DataFrame, keys: Seq[String], valueCol: String,
      salts: Int = 16, scale: Int = 4): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col(valueCol)), lit(salts.toLong)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__pn"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, scale))).as("__psum"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__pn")).as("n"),
        sum(col("__psum")).cast("double").as("sum_value"))
  }

  /** Oracle-checked wiring: salted aggregation over lineitem must equal the
    * plain GROUP BY the oracle runs — the salt must never change results. */
  def qSaltedAgg(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    saltedCountSum(Tables.t(s, sf, "lineitem"),
      Seq("l_returnflag", "l_linestatus"), "l_extendedprice", salts = 16)
      .orderBy("l_returnflag", "l_linestatus")

  /** Salted large-to-large equi-join for a pathological key histogram: the
    * probe side salts each row into one of `salts` sub-keys (deterministic
    * hash of a row-unique column, so the plan replays identically), the
    * build side replicates each row to ALL `salts` sub-keys, and the join
    * runs on (key, salt) — a hot key's probe rows spread over `salts`
    * reducers instead of serializing one. Replication multiplies the
    * build side by `salts`, so this is for build sides too big to
    * broadcast but far smaller than the probe side (the dimension-ish
    * middle ground). AQE's skew-join split covers the same ground
    * reactively when partition stats reveal the skew; the salted plan is
    * the proactive form that never materializes the skewed partition at
    * all. Result rows are identical to the plain join by construction —
    * each (probe row, build row) pair meets in exactly one salt bucket. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltOn: String, salts: Int = 8): DataFrame = {
    val probeS = probe.withColumn("__salt",
      pmod(xxhash64(col(saltOn)), lit(salts.toLong)))
    val buildS = build.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    probeS.join(buildS, Seq(key, "__salt")).drop("__salt")
  }

  /** X71: key-skew diagnostics — the one-row report that tells an operator
    * (or a planner) WHETHER the salted/AQE machinery above is needed for a
    * given key BEFORE the job runs hot: per-key cardinality distribution
    * (count, total, max, exact p50/p99 of per-key counts) plus the
    * hot-key-to-mean ratio in integer percent (max·100·keys div rows).
    * One keyed count (map-side combinable — the shuffle carries one row
    * per distinct key) and one key-cardinality-sized aggregate; at 100 TB
    * the report costs a group-count pass, which is exactly what it prices.
    * The percentile is Spark's exact interpolating `percentile` ≡ DuckDB
    * `quantile_cont` (parity proven by q_percentiles), e6-quantized. */
  def qSkewProfile(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    Tables.t(s, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        round(expr("percentile(n, 0.5)") * 1000000, 0).cast("long").as("p50_e6"),
        round(expr("percentile(n, 0.99)") * 1000000, 0).cast("long").as("p99_e6"),
        expr("(max(n) * 100 * count(1)) div sum(n)").as("hot_pct_of_mean"))

  /** X72: the CLOSED planner loop — measure, decide, execute. The two
    * diagnostics this module and SketchOps provide ([[qSkewProfile]]'s
    * hot-key ratio, `SketchOps.cmJoinEstimate`'s join-cardinality price)
    * here DRIVE a join strategy choice instead of just reporting:
    *
    *   1. build-side row count ≤ [[BroadcastCapRows]] → `broadcast`
    *      (replicate the dimension, no shuffle at all);
    *   2. else if the CM-estimated join cardinality ≥
    *      [[MinJoinRowsForSalt]] (a shuffle worth optimizing) AND the
    *      probe key's hot-key-to-mean ratio ≥ [[SaltHotPct]] → `salt`
    *      ([[saltedJoin]]: hot key spread over 8 reducers, build
    *      replicated per salt);
    *   3. else → plain shuffle equi-join.
    *
    * The probe is a DELIBERATELY skewed key: view events are logged
    * anonymously (user 0) — the classic default-value pathology that
    * concentrates ~20% of a corpus on one key, exactly what salting
    * exists for. The three measurements (build row count, 1-row skew
    * report, 1-row sketch estimate) are cross-joined into ONE 1-row frame
    * and read with one collect — a metadata-scale driver read, the AQE
    * decision shape — over un-checkpointed key counts whose exchanges
    * the plan reuses. Each is a deterministic pure function of the data,
    * so the ORACLE replays measurements, decision, and result:
    * the routing must be invisible in the output (the salted-join /
    * broadcast-join twins' invariant), and the decision column itself is
    * hash-checked. The corpus lands on `salt` at sf0.01/sf0.1 (build >
    * cap, est ≥ bar, hot ≈ 30× mean) and on `broadcast` at sf0.001
    * (150-row build) — both branches exercised across the test SFs;
    * PlanSpec asserts the salted physical shape engaged at the spec SF. */
  private val BroadcastCapRows = 1000L
  private val SaltHotPct = 300L      // hot key ≥ 3× the mean key
  private val MinJoinRowsForSalt = 5000L

  def qPlannedSkewJoin(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
      .select(when(col("event_type") === "view", lit(0L))
        .otherwise(col("user_id")).as("uid"), col("value"))
    val cust = Tables.t(s, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    // ONE key-count pass per side feeds every measurement: the skew report
    // and the probe-side CM sketch both read ev's key counts, and the build
    // cardinality is Σwn of the build-side key counts the sketch needs
    // anyway; the plan reuses each key-count exchange for both consumers.
    val evCnt = ev.groupBy(col("uid").as("k")).agg(count(lit(1)).as("wn"))
    val custCnt = cust.groupBy(col("c_custkey").as("k"))
      .agg(count(lit(1)).as("wn"))
    val m = custCnt.agg(sum(col("wn")).as("build_rows")) // build cardinality
      // probe-key skew (1-row report over the key counts)
      .crossJoin(evCnt.agg(expr("(max(wn) * 100 * count(1)) div sum(wn)").as("hot")))
      // join cardinality priced from two 8 KB CM sketches, built on the
      // NATIVE long keys (Carter–Wegman integer hash rows — no string
      // render, no md5; see SketchOps.cmCellKey)
      .crossJoin(SketchOps.cmJoinEstimate(evCnt, custCnt))
      .head()
    // an empty side aggregates to null: measure it as 0
    def measured(i: Int): Long = if (m.isNullAt(i)) 0L else m.getLong(i)
    val (buildRows, hotPct, estJoinRows) = (measured(0), measured(1), measured(2))
    val decision =
      if (buildRows <= BroadcastCapRows) "broadcast"
      else if (estJoinRows >= MinJoinRowsForSalt && hotPct >= SaltHotPct) "salt"
      else "shuffle"
    val probe = ev.withColumnRenamed("uid", "c_custkey")
    val joined = decision match {
      case "broadcast" => probe.join(broadcast(cust), Seq("c_custkey"))
      case "salt" => saltedJoin(probe, cust, "c_custkey", saltOn = "value")
      case _ => probe.join(cust, Seq("c_custkey"))
    }
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), Tables.dsum(col("value"), 6).as("sum_value"))
      .select(col("c_mktsegment"), col("n_events"), col("sum_value"),
        lit(decision).as("decision"), lit(buildRows).as("build_rows"),
        lit(estJoinRows).as("est_join_rows"), lit(hotPct).as("hot_pct_of_mean"))
      .orderBy("c_mktsegment")
  }

  /** X75 (r14): the closed planner loop for AGGREGATION skew — the
    * [[qPlannedSkewJoin]] mirror on the groupBy side. [[qSkewProfile]]
    * measures, this DECIDES and EXECUTES:
    *
    *   1. ONE group-count pass yields the 1-row profile (total rows,
    *      hot-key-to-mean percent) — the same metadata-scale driver read
    *      the join planner uses;
    *   2. rows ≥ [[MinRowsForSaltedAgg]] (an aggregation small enough to
    *      fit one reducer isn't worth a second pass) AND hot ratio ≥
    *      [[SaltHotPct]] → `salted` ([[saltedCountSum]]: two-phase
    *      (key, salt) partial agg + bare-key merge, so the hot key never
    *      concentrates on one reducer); else → `plain` one-phase groupBy.
    *
    * The probe key is the same deliberately-skewed uid (anonymous views →
    * user 0, ~20% of the corpus on one key). Both measurements are
    * deterministic pure functions of the data, so the ORACLE replays
    * measurement, decision, and the PLAIN aggregate: the two-phase
    * routing must be invisible in the result (sum via exact decimal on
    * both phases and both engines), and the decision column itself is
    * hash-checked. The corpus lands on `salted` at sf0.01/sf0.1 and
    * `plain` at sf0.001 (1000 rows < bar) — both branches exercised
    * across the test SFs; ScaleOpsSpec asserts the salted physical shape
    * (the two-level __salt aggregate) engages and equals the plain twin.
    * Output is bounded: the top-10 keys by count — exactly the rows a
    * skew report is about. */
  private val MinRowsForSaltedAgg = 5000L

  def qPlannedSkewAgg(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
      .select(when(col("event_type") === "view", lit(0L))
        .otherwise(col("user_id")).as("uid"), col("value"))
    // one group-count pass → 1-row profile (rows + hot-key percent)
    val prof = ev.groupBy("uid").agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("rows"),
        expr("(max(n) * 100 * count(1)) div sum(n)").as("hot"))
      .collect()(0)
    val nRows = Option(prof.getAs[java.lang.Long]("rows"))
      .map(_.longValue).getOrElse(0L)
    val hotPct = Option(prof.getAs[java.lang.Long]("hot"))
      .map(_.longValue).getOrElse(0L)
    val decision =
      if (nRows >= MinRowsForSaltedAgg && hotPct >= SaltHotPct) "salted"
      else "plain"
    val agg = decision match {
      case "salted" => saltedCountSum(ev, Seq("uid"), "value", scale = 6)
      case _ => ev.groupBy("uid")
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value"), 6).as("sum_value"))
    }
    agg.select(col("uid"), col("n"), col("sum_value"),
        lit(decision).as("decision"), lit(nRows).as("n_rows"),
        lit(hotPct).as("hot_pct_of_mean"))
      .orderBy(col("n").desc, col("uid").asc)
      .limit(10)
  }

  /** Oracle-checked wiring: revenue per customer market segment through the
    * salted join must equal the plain equi-join the oracle runs. */
  def qSaltedJoin(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame = {
    val orders = Tables.t(s, sf, "orders")
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val customer = Tables.t(s, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    saltedJoin(orders, customer, "c_custkey", saltOn = "o_totalprice")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Tables.dsum(col("o_totalprice"), 2).as("revenue"))
      .orderBy("c_mktsegment")
  }
}
