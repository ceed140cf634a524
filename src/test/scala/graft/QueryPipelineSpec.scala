package graft

import graft.ops.CatalogOps
import graft.pipeline.{IngestionPipeline, QueryPipeline}
import graft.planner.PlannerHooks
import graft.planner.PlannerHooks.SqlGenerator

/** End-to-end query lifecycle: decompose → identify → route → execute →
  * summarize, hermetic (canned SQL generator standing in for the LLM). */
class QueryPipelineSpec extends SparkTestBase {

  /** Canned text-to-SQL: the LLM seam bound to a deterministic template. */
  object CannedSqlGen extends SqlGenerator {
    def generate(question: String, catalogText: String): Option[String] =
      if (question.toLowerCase.contains("per segment"))
        Some("""SELECT c_mktsegment, count(*) AS n, sum(c_acctbal) AS bal
                FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      else None
  }

  test("multi-intent question runs SQL + semantic sub-queries and summarizes") {
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "qp_spec").toString
    // build a collection over the documents table for the semantic leg
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val chunks = IngestionPipeline.chunkTable(docs, "doc_id", 1000)
    val collPath = IngestionPipeline.writeCollection(chunks, "documents", out)

    val catalog = Seq("customer", "orders").map(CatalogOps.profileTable(spark, sf, _))
    val ans = QueryPipeline.run(spark,
      "total balance per segment; documents similar to spark join",
      catalog,
      QueryPipeline.Hooks(sqlGen = CannedSqlGen),
      collectionPath = Some(collPath))

    assert(ans.subResults.size == 2)
    val sqlLeg = ans.subResults.head
    assert(sqlLeg.intent == PlannerHooks.SqlQuery && sqlLeg.error.isEmpty)
    assert(sqlLeg.result.columns.toSeq == Seq("c_mktsegment", "n", "bal"))
    assert(sqlLeg.result.count() == 5)
    assert(sqlLeg.tables.contains("customer"))

    val semLeg = ans.subResults(1)
    assert(semLeg.intent == PlannerHooks.SemanticSearch && semLeg.error.isEmpty)
    assert(semLeg.result.count() == 10)
    assert(semLeg.result.columns.contains("score_e6"))

    assert(ans.summary.contains("5 rows") && ans.summary.contains("10 rows"))
  }

  test("template generator joins two named tables on the inferred key") {
    import org.apache.spark.sql.functions._
    // the reference's defining multi-table move: the identified join key
    // feeds an aliased two-table join (multi_file_util.py:8-31,
    // duckdb_util.py:184-225) — here end to end through the DEFAULT
    // template generator over testdata orders×customer, whose TPC-H
    // prefixed key columns (o_custkey/c_custkey) join via the stem match
    val catalog = Seq("orders", "customer").map(CatalogOps.profileTable(spark, sf, _))
    val ans = QueryPipeline.run(spark,
      "total totalprice per mktsegment for orders and customer", catalog)
    val r = ans.subResults.head
    assert(r.error.isEmpty, s"error: ${r.error}")
    assert(r.result.columns.toSeq == Seq("c_mktsegment", "sum_o_totalprice"))
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
      .orderBy("c_mktsegment")
      .collect().map(rr => (rr.getString(0), rr.getDecimal(1).doubleValue()))
    val got = r.result.collect()
      .map(rr => (rr.getString(0), rr.getDouble(1)))
    assert(got.length == want.length && got.map(_._1).sameElements(want.map(_._1)),
      s"groups: ${got.toSeq} vs ${want.toSeq}")
    got.zip(want).foreach { case ((seg, g), (_, w)) =>
      assert(math.abs(g - w) <= 1e-6 * math.abs(w), s"$seg: $g vs $w")
    }
    // both named tables were identified for the sub-query
    assert(r.tables.toSet == Set("orders", "customer"))
  }

  test("template generator chains THREE named tables on inferred keys") {
    import org.apache.spark.sql.functions._
    // the reference tool contract covers "two or more tables"
    // (multi_file_util.py:8-31); the chain attaches each named table to
    // the earliest joined table it shares a key with: orders JOIN customer
    // ON custkey, then nation attaches to CUSTOMER on nationkey (orders
    // has no nation key — the chain, not a star, is the correct shape)
    val catalog = Seq("orders", "customer", "nation")
      .map(CatalogOps.profileTable(spark, sf, _))
    val q = "total totalprice per nationkey for orders customer and nation"
    val sql = graft.planner.TemplateSqlGenerator.generate(
      q, catalog.map(_.describe).mkString("\n"))
    assert(sql.isDefined, "no SQL generated")
    assert(sql.get.contains("JOIN customer ON orders.o_custkey = customer.c_custkey"),
      sql.get)
    assert(sql.get.contains("JOIN nation ON customer.c_nationkey = nation.n_nationkey"),
      sql.get)
    val ans = QueryPipeline.run(spark, q, catalog)
    val r = ans.subResults.head
    assert(r.error.isEmpty, ans.summary)
    assert(r.tables.toSet == Set("orders", "customer", "nation"))
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_nationkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("w"))
      .collect().map(rr => rr.getAs[Number](0).longValue ->
        rr.getDecimal(1).doubleValue()).toMap
    val got = r.result.collect().map(rr =>
      rr.getAs[Number](0).longValue -> rr.getDouble(1)).toMap
    assert(got.keySet == want.keySet, s"groups: $got vs $want")
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) <= 1e-6 * math.abs(want(k)), s"key $k: $v vs ${want(k)}")
    }
  }

  test("default template generator answers loan-demo NL questions end to end") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "qp_loan").toString
    val res = IngestionPipeline.run(spark, Seq("/root/reference/loan.xlsx"), out)
    val catalog = Seq(
      CatalogOps.profileTable(spark, s"$out/parquet_files", res.files.head.table))
    val df = spark.read.parquet(res.files.head.parquetPath)

    // decompose splits the two intents; both route to SQL and execute with
    // the DEFAULT hooks — no canned generator, no LLM
    val ans = QueryPipeline.run(spark,
      "total loan amount requested per loan type; " +
        "how many loans with credit score over 700", catalog)
    assert(ans.subResults.size == 2)
    assert(ans.subResults.forall(_.error.isEmpty), ans.summary)

    val grouped = ans.subResults.head.result
    assert(grouped.columns.toSeq == Seq("loan_type", "sum_loan_amount_requested"))
    val wantGroups = df.groupBy("loan_type")
      .agg(sum("loan_amount_requested").as("sum_loan_amount_requested"))
    assert(grouped.count() == wantGroups.count())
    val got = grouped.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    wantGroups.collect().foreach(r =>
      assert(math.abs(got(r.getString(0)) - r.getDouble(1)) < 1e-6))

    val counted = ans.subResults(1).result
    assert(counted.columns.toSeq == Seq("n"))
    assert(counted.head.getLong(0) ==
      df.filter(col("credit_score") > 700).count())

    // aggregate + filter + grouping in one question
    val ans2 = QueryPipeline.run(spark,
      "average interest rate per loan status where loan type is personal",
      catalog)
    val r2 = ans2.subResults.head
    assert(r2.error.isEmpty, ans2.summary)
    assert(r2.result.columns.toSeq == Seq("loan_status", "avg_interest_rate"))
    val want2 = df.filter(col("loan_type") === "personal")
      .groupBy("loan_status").agg(avg("interest_rate"))
    assert(r2.result.count() == want2.count())

    // AND-combined filters and BETWEEN ranges
    val ans3 = QueryPipeline.run(spark,
      "how many loans with credit score over 700 and applicant income under 50000",
      catalog)
    val r3 = ans3.subResults.head
    assert(r3.error.isEmpty, ans3.summary)
    assert(r3.result.head.getLong(0) ==
      df.filter(col("credit_score") > 700 && col("applicant_income") < 50000).count())

    val ans4 = QueryPipeline.run(spark,
      "count loans with credit score between 600 and 650", catalog)
    val r4 = ans4.subResults.head
    assert(r4.error.isEmpty, ans4.summary)
    assert(r4.result.head.getLong(0) ==
      df.filter(col("credit_score").between(600, 650)).count())

    // date-range filter (application_date is a date-as-string column, so
    // the generator must emit a lexicographic string range)
    val ans5 = QueryPipeline.run(spark,
      "how many loans with application date between 2025-01-01 and 2025-06-30",
      catalog)
    val r5 = ans5.subResults.head
    assert(r5.error.isEmpty, ans5.summary)
    assert(r5.result.head.getLong(0) ==
      df.filter(col("application_date") >= "2025-01-01" &&
        col("application_date") <= "2025-06-30").count())
    assert(r5.result.head.getLong(0) > 0, "date-range case is vacuous")

    // open-ended date bound
    val ans6 = QueryPipeline.run(spark,
      "count loans with application date since 2025-06-01", catalog)
    val r6 = ans6.subResults.head
    assert(r6.error.isEmpty, ans6.summary)
    assert(r6.result.head.getLong(0) ==
      df.filter(col("application_date") >= "2025-06-01").count())

    // NULL-handling filter (collateral has empty cells in the fixture)
    val ans7 = QueryPipeline.run(spark,
      "how many loans where collateral is missing", catalog)
    val r7 = ans7.subResults.head
    assert(r7.error.isEmpty, ans7.summary)
    assert(r7.result.head.getLong(0) ==
      df.filter(col("collateral").isNull).count())
    val ans7b = QueryPipeline.run(spark,
      "count loans where collateral is not null", catalog)
    assert(ans7b.subResults.head.result.head.getLong(0) ==
      df.filter(col("collateral").isNotNull).count())

    // explicit ORDER BY on a grouped aggregate + on a row select
    val ans8 = QueryPipeline.run(spark,
      "total loan amount requested per loan type sorted by loan amount requested descending",
      catalog)
    val r8 = ans8.subResults.head
    assert(r8.error.isEmpty, ans8.summary)
    val got8 = r8.result.collect().map(_.getDouble(1)).toSeq
    assert(got8 == got8.sortBy(-_), s"grouped sort not applied: $got8")

    val ans9 = QueryPipeline.run(spark,
      "loans with credit score over 800 sorted by interest rate ascending", catalog)
    val r9 = ans9.subResults.head
    assert(r9.error.isEmpty, ans9.summary)
    val rates = r9.result.collect().map(_.getAs[Double]("interest_rate")).toSeq
    assert(rates.nonEmpty && rates == rates.sorted,
      s"row-select sort not applied: $rates")
  }

  test("multi-intent over a mixed loan+orders catalog: three sub-answers, " +
    "each routed to its own table(s), join leg included, deterministic summary") {
    import org.apache.spark.sql.functions._
    // the reference's defining demo (langgraph_pipeline.py:579-591,
    // README.md:375 'multi-intent'): ONE NL question decomposes into
    // sub-queries that hit DIFFERENT catalog tables — here a loan sheet
    // ingested from xlsx plus the warehouse orders/customer pair — each
    // identified, generated, and executed independently through the
    // DEFAULT hooks (no canned generator), then summarized
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "qp_multi").toString
    val res = IngestionPipeline.run(spark, Seq("/root/reference/loan.xlsx"), out)
    val catalog = Seq(
      CatalogOps.profileTable(spark, s"$out/parquet_files", res.files.head.table),
      CatalogOps.profileTable(spark, sf, "orders"),
      CatalogOps.profileTable(spark, sf, "customer"))
    val loans = spark.read.parquet(res.files.head.parquetPath)

    val ans = QueryPipeline.run(spark,
      "total loan amount requested per loan type; " +
        "total totalprice per mktsegment for orders and customer; " +
        "how many loans with credit score over 700", catalog)
    assert(ans.subResults.size == 3)
    assert(ans.subResults.forall(_.error.isEmpty), ans.summary)

    // leg 1: grouped aggregate over the LOAN table only
    val r1 = ans.subResults(0)
    assert(r1.result.columns.toSeq == Seq("loan_type", "sum_loan_amount_requested"))
    val want1 = loans.groupBy("loan_type")
      .agg(sum("loan_amount_requested").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    r1.result.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - want1(r.getString(0))) < 1e-6))

    // leg 2: the aliased two-table equi-join over orders x customer
    val r2 = ans.subResults(1)
    assert(r2.tables.toSet.contains("orders") && r2.tables.toSet.contains("customer"))
    assert(r2.result.columns.toSeq == Seq("c_mktsegment", "sum_o_totalprice"))
    val want2 = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1))).count()
    assert(r2.result.count() == want2)

    // leg 3: filtered count back on the loan table
    val r3 = ans.subResults(2)
    assert(r3.result.head.getLong(0) ==
      loans.filter(col("credit_score") > 700).count())

    // the summary is a pure function of the sub-results: one Q/A block
    // per sub-query, each reporting its row count and tables
    assert(ans.summary == QueryPipeline.summarize(ans.subResults))
    assert(ans.summary.split("\n\n").length == 3)
    assert(ans.summary.contains("rows"))
  }

  test("loadContext follows the reference union-vs-join decision") {
    val catalog = Seq("customer", "supplier").map(CatalogOps.profileTable(spark, sf, _))
    // >1 table, no join key -> union by name with provenance
    val u = QueryPipeline.loadContext(spark, catalog, None)
    assert(u.columns.contains("__table__"))
    assert(u.count() == catalog.map(_.rowCount).sum)
    assert(u.select("__table__").distinct().count() == 2)
    // single table -> plain load
    val one = QueryPipeline.loadContext(spark, catalog.take(1), None)
    assert(one.columns.toSeq == Seq("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment"))
    // join key -> equi-join on the shared column
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "loadctx").toString
    spark.read.parquet(s"$sf/customer.parquet")
      .withColumnRenamed("c_nationkey", "nationkey")
      .write.mode("overwrite").parquet(s"$out/cust.parquet")
    spark.read.parquet(s"$sf/nation.parquet")
      .withColumnRenamed("n_nationkey", "nationkey")
      .write.mode("overwrite").parquet(s"$out/nat.parquet")
    val entries = Seq(
      CatalogOps.TableEntry("cust", s"$out/cust.parquet", 0, Nil),
      CatalogOps.TableEntry("nat", s"$out/nat.parquet", 0, Nil))
    val joined = QueryPipeline.loadContext(spark, entries, Some("nationkey"))
    assert(joined.columns.contains("n_name"))
    assert(joined.count() == spark.read.parquet(s"$sf/customer.parquet").count())
  }

  test("failures degrade to an error-column frame, never throw") {
    object BrokenGen extends SqlGenerator {
      def generate(q: String, c: String): Option[String] =
        Some("SELECT * FROM table_that_does_not_exist")
    }
    val catalog = Seq(CatalogOps.profileTable(spark, sf, "customer"))
    val ans = QueryPipeline.run(spark, "sum of everything", catalog,
      QueryPipeline.Hooks(sqlGen = BrokenGen))
    val r = ans.subResults.head
    assert(r.error.isDefined)
    assert(r.result.columns.toSeq == Seq("error"))
    assert(ans.summary.contains("ERROR"))
  }

  test("runtime (ANSI) failures in a sub-query that analyzes cleanly also degrade") {
    // CAST(c_name AS INT) analyzes fine but fails at execution under ANSI
    // mode (Spark 4 default) — the degrade contract must catch runtime
    // errors, not just analysis errors (`duckdb_util.py:242-243`).
    object RuntimeFailGen extends SqlGenerator {
      def generate(q: String, c: String): Option[String] =
        Some("SELECT CAST(c_name AS INT) AS v FROM customer")
    }
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val catalog = Seq(CatalogOps.profileTable(spark, sf, "customer"))
      val ans = QueryPipeline.run(spark, "cast everything", catalog,
        QueryPipeline.Hooks(sqlGen = RuntimeFailGen))
      val r = ans.subResults.head
      assert(r.error.isDefined)
      assert(r.result.columns.toSeq == Seq("error"))
      assert(r.rowCount == 1L)
      assert(ans.summary.contains("ERROR"))
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("a router that throws falls back to SqlQuery") {
    object BrokenRouter extends PlannerHooks.IntentRouter {
      def route(q: String): PlannerHooks.Intent = throw new RuntimeException("router down")
    }
    val catalog = Seq(CatalogOps.profileTable(spark, sf, "customer"))
    val ans = QueryPipeline.run(spark, "count per segment", catalog,
      QueryPipeline.Hooks(router = BrokenRouter, sqlGen = CannedSqlGen))
    val r = ans.subResults.head
    assert(r.intent == PlannerHooks.SqlQuery && r.error.isEmpty)
    assert(r.rowCount > 0)
  }

  test("an interrupted router propagates out of QueryPipeline.run") {
    // degrade-don't-crash covers non-fatal failures only: a cancelled
    // caller must see the interrupt, not an error frame or a fallback route
    object InterruptedRouter extends PlannerHooks.IntentRouter {
      def route(q: String): PlannerHooks.Intent = throw new InterruptedException("cancelled")
    }
    val catalog = Seq(CatalogOps.profileTable(spark, sf, "customer"))
    intercept[InterruptedException] {
      QueryPipeline.run(spark, "count per segment", catalog,
        QueryPipeline.Hooks(router = InterruptedRouter, sqlGen = CannedSqlGen))
    }
  }

  test("grounding: edit distance counts adjacent transposition as one edit") {
    import graft.planner.Grounding
    assert(Grounding.editDistance("jhon", "john") == 1)
    assert(Grounding.editDistance("natoin_14", "nation_14") == 1)
    assert(Grounding.editDistance("frans", "france") == 2)
    assert(Grounding.editDistance("same", "same") == 0)
  }

  test("grounding: chunk text parses back into column/value cells") {
    import graft.planner.Grounding
    val text = "[index 0] n_nationkey:0 | n_name:NATION_0 | n_regionkey:0\n" +
      "[index 1] n_nationkey:1 | n_name:NATION_1 | n_regionkey:1"
    val cells = Grounding.parseChunkValues(text)
    assert(cells.contains(("n_name", "NATION_0")))
    assert(cells.contains(("n_nationkey", "1")))
    assert(cells.size == 6)
  }

  test("misspelled NL value answers correctly ONLY via grounding") {
    import org.apache.spark.sql.functions._
    val dir = graft.ops.GroundOps.ensureGroundCollection(spark, sf)
    val catalog = Seq(CatalogOps.profileTable(spark, sf, "nation"))

    // WITHOUT the collection there is nothing to ground against: the
    // template grammar cannot see data values, so the typo degrades to an
    // unfiltered row-select — NOT the answer the user wanted
    val blind = QueryPipeline.run(spark, graft.ops.GroundOps.question, catalog)
    assert(blind.subResults.head.grounding.isEmpty)
    assert(blind.subResults.head.rowCount == 20L) // all of nation, capped

    // WITH the loop closed: retrieve → align "natoin_14" → NATION_14 →
    // grounded case-exact WHERE → exactly the one intended row
    val ans = QueryPipeline.run(spark, graft.ops.GroundOps.question, catalog,
      collectionPath = Some(s"$dir/chunks"))
    val leg = ans.subResults.head
    assert(leg.intent == PlannerHooks.SemanticSearch && leg.error.isEmpty)
    val g = leg.grounding
    assert(g.map(x => (x.column, x.value, x.matchedText)) ==
      Seq(("n_name", "NATION_14", "natoin_14")))
    val rows = leg.result.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("n_name") == "NATION_14")

    // the generator's grounded SQL is pinned — the oracle replays this
    // exact string (SparkEntry.nlGroundOracle)
    val text = catalog.map(_.describe).mkString("\n")
    assert(graft.planner.TemplateSqlGenerator.generateGrounded(
      graft.ops.GroundOps.question, text, g) ==
      Some("SELECT * FROM nation WHERE n_name = 'NATION_14' LIMIT 20"))
  }

  test("grounding corrects case even when the value is spelled right") {
    // the reference's rule is CASE-SENSITIVE exact values
    // (langgraph_pipeline.py:436: "EXACT values ... case-sensitive"): a
    // correctly spelled but lowercased user value must still ground,
    // because the plain grammar would emit a lowercased (no-match) literal
    val dir = graft.ops.GroundOps.ensureGroundCollection(spark, sf)
    val catalog = Seq(CatalogOps.profileTable(spark, sf, "nation"))
    val ans = QueryPipeline.run(spark, "nations like nation_7", catalog,
      collectionPath = Some(s"$dir/chunks"))
    val leg = ans.subResults.head
    assert(leg.grounding.map(x => (x.column, x.value)) ==
      Seq(("n_name", "NATION_7")))
    val rows = leg.result.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("n_name") == "NATION_7")
  }

  test("q_nl_semantic_ground face carries the evidence chunk and grounded row") {
    val df = graft.ops.GroundOps.qNlSemanticGround(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("n_name") == "NATION_14")
    assert(r.getAs[String]("grounded_value") == "NATION_14")
    assert(r.getAs[Long]("score_e6") != 0L)
  }

  test("markdown renderer matches the reference's context shape") {
    import spark.implicits._
    val md = QueryPipeline.renderMarkdown(
      Seq((1, "a"), (2, null.asInstanceOf[String])).toDF("id", "v"), 5)
    val lines = md.split("\n")
    assert(lines(0) == "| id | v |")
    assert(lines(1) == "| --- | --- |")
    assert(lines(2) == "| 1 | a |")
    assert(lines(3) == "| 2 | NULL |")
  }
}
