package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.planner.TemplateSqlGenerator

/** Grammar fuzz for the NL→SQL front end (VERDICT r13 #6): property-
  * generate questions from the grammar's OWN production rules (aggregate ×
  * measure × grouping × filters × date-range × null-phrase × sort × top-k,
  * plus the multi-table join chain), execute the GENERATED SQL on Spark,
  * and assert schema + row parity against an independently-rendered
  * expected SQL built straight from the sampled intent — the reference's
  * actual contract surface (`langgraph_pipeline.py:461-492`), previously
  * covered by only ~a dozen hand-picked phrasings.
  *
  * Determinism: a fixed-seed RNG drives the sampling, so the ≥250 cases
  * are identical on every run (a failure is reproducible by its case
  * index). Intents are constrained the way the grammar documents —
  * filters hit distinct columns, row-select orderings use the UNIQUE
  * amount column, and the fixture has 18 rows so an un-ordered LIMIT 20
  * never truncates — which keeps every comparison exact (no tie-order
  * flake). DuckDB-side parity for this dialect subset is driver-checked
  * via the q_nl_* CORRECTNESS entries (SparkEntry), whose oracle SQL *is*
  * the generated SQL.
  */
class FuzzGrammarSpec extends SparkTestBase {

  // ---- loans fixture: the reference's demo domain ----------------------

  private val loansCatalog =
    "loans (18 rows): loan_id bigint, amount double, term_months bigint, " +
      "status string, region string, issue_date date"

  private def loansDf(s: SparkSession): DataFrame = {
    import s.implicits._
    val statuses = Vector("active", "closed", "late")
    val regions = Vector("west", "east", "north", "south")
    val terms = Vector(12L, 24L, 36L, 48L, 60L)
    (0 until 18).map { i =>
      (i.toLong,
        100.0 + 37.0 * i, // unique → row-select orderings are total
        terms(i % terms.size),
        if (i == 7) null else statuses(i % statuses.size),
        if (i == 11) null else regions(i % regions.size),
        java.sql.Date.valueOf(java.time.LocalDate.of(2019, 1, 5).plusDays(97L * i)))
    }.toDF("loan_id", "amount", "term_months", "status", "region", "issue_date")
  }

  private lazy val registered: Unit = {
    loansDf(spark).createOrReplaceTempView("loans")
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("orders")
    spark.read.parquet(s"$sf/customer.parquet").createOrReplaceTempView("customer")
  }

  // ---- intent model (the grammar's production rules as data) -----------

  /** One filter production: the NL phrase, its SQL predicate, and the
    * equivalent DataFrame Column (the independent evaluation path). */
  private case class Filt(col: String, phrase: String, sql: String,
      cond: org.apache.spark.sql.Column)

  private case class Intent(
      agg: Option[String],          // COUNT/SUM/AVG/MAX/MIN
      measurePhrase: Option[String],// NL words naming the intended measure
      group: Option[String],        // grouping column (string-typed)
      groupWord: String,            // per | each | by
      filters: Seq[Filt],
      sort: Option[(String, String)], // (column, ASC|DESC)
      topK: Option[Int])

  private val aggVerb = Map(
    "COUNT" -> Seq("how many loans", "count of loans"),
    "SUM" -> Seq("total"), "AVG" -> Seq("average"),
    "MAX" -> Seq("highest"), "MIN" -> Seq("lowest"))

  private val measureWords = Map("amount" -> "amount",
    "term_months" -> "term months")

  /** Numeric columns in CATALOG order — the measure rule's tiebreak. */
  private val numericCols = Seq("loan_id", "amount", "term_months")

  private def filterPool(rnd: scala.util.Random): Seq[Filt] = {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    def n3(base: Int) = base + 100 * rnd.nextInt(3)
    val a = n3(200)
    val (lo, hi) = (n3(100), n3(600))
    val t = Seq(24, 36, 48)(rnd.nextInt(3))
    val st = Seq("active", "closed", "late")(rnd.nextInt(3))
    val rg = Seq("west", "east", "north", "south")(rnd.nextInt(4))
    val d1 = Seq("2020-02-10", "2021-03-15", "2022-06-30")(rnd.nextInt(3))
    val d2 = "2023-08-01"
    def d(s: String) = to_date(lit(s))
    Seq(
      Filt("amount", s"amount over $a", s"amount > $a", col("amount") > a),
      Filt("amount", s"amount under $a", s"amount < $a", col("amount") < a),
      Filt("amount", s"amount at least $a", s"amount >= $a", col("amount") >= a),
      Filt("amount", s"amount at most $a", s"amount <= $a", col("amount") <= a),
      Filt("amount", s"amount between $lo and $hi",
        s"amount BETWEEN $lo AND $hi", col("amount").between(lo, hi)),
      Filt("term_months", s"term months over $t", s"term_months > $t",
        col("term_months") > t),
      Filt("term_months", s"term months under $t", s"term_months < $t",
        col("term_months") < t),
      Filt("status", s"status is $st", s"status = '$st'", col("status") === st),
      Filt("region", s"region equals $rg", s"region = '$rg'", col("region") === rg),
      Filt("status", "status is null", "status IS NULL", col("status").isNull),
      Filt("status", "status is not null", "status IS NOT NULL",
        col("status").isNotNull),
      Filt("region", "region is missing", "region IS NULL", col("region").isNull),
      Filt("region", "region is not blank", "region IS NOT NULL",
        col("region").isNotNull),
      Filt("issue_date", s"issue date after $d1", s"issue_date > DATE '$d1'",
        col("issue_date") > d(d1)),
      Filt("issue_date", s"issue date since $d1", s"issue_date >= DATE '$d1'",
        col("issue_date") >= d(d1)),
      Filt("issue_date", s"issue date before $d2", s"issue_date < DATE '$d2'",
        col("issue_date") < d(d2)),
      Filt("issue_date", s"issue date between $d1 and $d2",
        s"issue_date BETWEEN DATE '$d1' AND DATE '$d2'",
        col("issue_date").between(d(d1), d(d2))))
  }

  private def sample(rnd: scala.util.Random): Intent = {
    val agg = rnd.nextInt(6) match {
      case 0 => None
      case 1 => Some("COUNT")
      case 2 => Some("SUM")
      case 3 => Some("AVG")
      case 4 => Some("MAX")
      case _ => Some("MIN")
    }
    val measure = agg.filter(_ != "COUNT")
      .map(_ => Seq("amount", "term_months")(rnd.nextInt(2)))
    val group = if (rnd.nextBoolean()) Some(Seq("status", "region")(rnd.nextInt(2)))
      else None
    val groupWord = Seq("per", "each", "by")(rnd.nextInt(3))
    val pool = rnd.shuffle(filterPool(rnd))
    // distinct columns: the grammar keeps only the FIRST predicate per
    // column, so same-column combos would test dedup, not semantics
    val filters = pool.take(rnd.nextInt(3))
      .groupBy(_.col).map(_._2.head).toSeq.sortBy(f => pool.indexOf(f))
    // row-select sorts only on the UNIQUE amount column (total order);
    // agg sorts on the group key or the measure
    val sort = agg match {
      case None =>
        if (rnd.nextBoolean())
          Some(("amount", if (rnd.nextBoolean()) "DESC" else "ASC"))
        else None
      case Some(_) =>
        if (group.isDefined && rnd.nextInt(3) == 0)
          Some(if (rnd.nextBoolean()) (group.get, "ASC")
          else (measure.getOrElse(""), "DESC"))
        else None
    }
    val topK = if (rnd.nextInt(3) == 0) Some(3 + rnd.nextInt(7)) else None
    Intent(agg, measure.map(measureWords), group, groupWord,
      filters, sort.filter(_._1.nonEmpty), topK)
  }

  // ---- rendering: intent → NL question (grammar synonyms) --------------

  private def render(it: Intent, rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    it.agg match {
      case Some("COUNT") =>
        sb ++= aggVerb("COUNT")(rnd.nextInt(2))
      case Some(fn) =>
        sb ++= aggVerb(fn).head += ' ' ++= it.measurePhrase.get
      case None => sb ++= "show loans"
    }
    it.group.foreach(g => sb ++= s" ${it.groupWord} $g")
    sb ++= " for loans"
    if (it.filters.nonEmpty)
      sb ++= it.filters.map(_.phrase).mkString(" where ", " and with ", "")
    it.sort.foreach { case (c, dir) =>
      val w = measureWords.getOrElse(c, c)
      sb ++= s" sorted by $w" + (if (dir == "DESC") " descending" else "")
    }
    it.topK.foreach(k => sb ++= s" top $k")
    sb.toString
  }

  // ---- expected SQL: the grammar's documented assembly, from the intent -

  private def expectedSql(it: Intent, question: String): String = {
    val toks = question.toLowerCase.split("\\W+").filter(_.nonEmpty).toSet
    def mentioned(c: String): Boolean =
      c.split("_").forall(toks.contains)
    // measure rule (positional, r14): the EARLIEST-mentioned numeric
    // column — the rendered measure phrase always directly follows the
    // aggregate verb at the head of the question, so the intent's own
    // measure wins regardless of which numerics the filters/sort mention
    val measure = it.agg.filter(_ != "COUNT").map { _ =>
      measureWords.collectFirst {
        case (c, w) if it.measurePhrase.contains(w) => c
      }.getOrElse(numericCols.head)
    }
    val (selectAgg, alias) = it.agg match {
      case Some("COUNT") => (Some("count(*) AS n"), Some("n"))
      case Some(fn) =>
        val m = measure.get
        (Some(s"$fn($m) AS ${fn.toLowerCase}_$m"), Some(s"${fn.toLowerCase}_$m"))
      case None => (None, None)
    }
    val where =
      if (it.filters.isEmpty) "" else it.filters.map(_.sql).mkString(" WHERE ", " AND ", "")
    (selectAgg, it.group) match {
      case (Some(a), Some(g)) =>
        val explicit = it.sort.collect {
          case (c, dir) if c == g => s"$g $dir"
          case (c, dir) if measure.contains(c) => s"${alias.get} $dir, $g ASC"
        }
        val order = explicit
          .map(o => s" ORDER BY $o" + it.topK.map(k => s" LIMIT $k").getOrElse(""))
          .getOrElse(it.topK
            .map(k => s" ORDER BY ${alias.get} DESC, $g ASC LIMIT $k")
            .getOrElse(s" ORDER BY $g ASC"))
        s"SELECT $g, $a FROM loans$where GROUP BY $g$order"
      case (Some(a), None) =>
        s"SELECT $a FROM loans$where"
      case (None, _) =>
        val order = it.sort.map { case (c, dir) => s" ORDER BY $c $dir" }
          .orElse(numericCols.find(mentioned).map(c => s" ORDER BY $c DESC"))
          .getOrElse("")
        s"SELECT * FROM loans$where$order LIMIT ${it.topK.getOrElse(20)}"
    }
  }

  // ---- independent evaluation: intent → DataFrame program ---------------

  /** Evaluate the intent with the DataFrame API directly — a path that
    * shares NOTHING with the SQL text (filters are Column expressions,
    * aggregation/sort/limit are API calls), so row parity against the
    * generated SQL checks the parse semantically, not just textually.
    * Returns (expected frame, orderedCompare); None ⇒ the intent's own
    * semantics are tie-ambiguous (a LIMIT that truncates under a
    * non-unique ordering), where no two executions are comparable. */
  private def evalIntent(it: Intent, question: String): Option[(DataFrame, Boolean)] = {
    import org.apache.spark.sql.functions._
    val df = loansDf(spark)
    val base = if (it.filters.isEmpty) df
      else df.where(it.filters.map(_.cond).reduce(_ && _))
    val toks = question.toLowerCase.split("\\W+").filter(_.nonEmpty).toSet
    def mention(c: String) = c.split("_").forall(toks.contains)
    val measure = it.agg.filter(_ != "COUNT").map { _ =>
      measureWords.collectFirst {
        case (c, w) if it.measurePhrase.contains(w) => c
      }.getOrElse(numericCols.head)
    }
    it.agg match {
      case Some(fn) =>
        val alias = if (fn == "COUNT") "n" else s"${fn.toLowerCase}_${measure.get}"
        val aggCol = fn match {
          case "COUNT" => count(lit(1)).as(alias)
          case "SUM" => sum(col(measure.get)).as(alias)
          case "AVG" => avg(col(measure.get)).as(alias)
          case "MAX" => max(col(measure.get)).as(alias)
          case "MIN" => min(col(measure.get)).as(alias)
        }
        it.group match {
          case Some(g) =>
            val grouped = base.groupBy(g).agg(aggCol)
            val explicit = it.sort.collect {
              case (c, dir) if c == g =>
                Seq(if (dir == "DESC") col(g).desc else col(g).asc)
              case (c, dir) if measure.contains(c) =>
                Seq(if (dir == "DESC") col(alias).desc else col(alias).asc,
                  col(g).asc)
            }
            val ord = explicit.getOrElse(
              if (it.topK.isDefined) Seq(col(alias).desc, col(g).asc)
              else Seq(col(g).asc))
            val sorted = grouped.orderBy(ord: _*)
            Some((it.topK.map(sorted.limit).getOrElse(sorted), true))
          case None => Some((base.agg(aggCol), false))
        }
      case None =>
        val lim = it.topK.getOrElse(20)
        val orderCol = it.sort
          .orElse(numericCols.find(mention).map(c => (c, "DESC")))
        orderCol match {
          case Some(("amount", dir)) => // unique column → total order
            val sorted = base.orderBy(
              if (dir == "DESC") col("amount").desc else col("amount").asc)
            Some((sorted.limit(lim), true))
          case _ =>
            // non-unique (or no) ordering: comparable only when the LIMIT
            // cannot truncate — otherwise tie order is genuinely undefined
            if (base.count() <= lim) Some((base, false)) else None
        }
    }
  }

  /** Row compare with double fields quantized to 1e-6 (double-sum merge
    * order may differ between two independent physical plans). */
  private def rowKey(r: Row): String =
    (0 until r.length).map { i =>
      r.get(i) match {
        case d: java.lang.Double => f"${d.doubleValue}%.6f"
        case x => String.valueOf(x)
      }
    }.mkString("|")

  private def assertRowParity(idx: Int, question: String, gen: String,
      expected: DataFrame, ordered: Boolean): Unit = {
    val gdf = spark.sql(gen)
    assert(gdf.columns.toSeq == expected.columns.toSeq,
      s"[case $idx] schema mismatch for <$question>\n gen: $gen\n " +
        s"got ${gdf.columns.toSeq} want ${expected.columns.toSeq}")
    val g = gdf.collect().toSeq.map(rowKey)
    val e = expected.collect().toSeq.map(rowKey)
    val (gs, es) = if (ordered) (g, e) else (g.sorted, e.sorted)
    assert(gs == es,
      s"[case $idx] row mismatch for <$question>\n gen: $gen\n" +
        s" got: $gs\n want: $es")
  }

  test("250 grammar-generated questions: generated SQL matches the intent " +
    "in schema and rows on the loans catalog") {
    registered
    val rnd = new scala.util.Random(421406)
    var aggGroup, aggOnly, rowSel, withFilter, withSort, withTopK = 0
    (0 until 250).foreach { idx =>
      val it = sample(rnd)
      val q = render(it, rnd)
      val gen = TemplateSqlGenerator.generate(q, loansCatalog)
        .getOrElse(fail(s"[case $idx] generator returned None for <$q>"))
      val exp = expectedSql(it, q)
      assert(gen == exp,
        s"[case $idx] SQL mismatch for <$q>\n gen: $gen\n exp: $exp")
      evalIntent(it, q).foreach { case (want, ordered) =>
        assertRowParity(idx, q, gen, want, ordered)
      }
      if (it.agg.isDefined && it.group.isDefined) aggGroup += 1
      else if (it.agg.isDefined) aggOnly += 1 else rowSel += 1
      if (it.filters.nonEmpty) withFilter += 1
      if (it.sort.isDefined) withSort += 1
      if (it.topK.isDefined) withTopK += 1
    }
    // the sampler must actually exercise every production family
    assert(aggGroup >= 40 && aggOnly >= 30 && rowSel >= 20,
      s"unbalanced sampling: aggGroup=$aggGroup aggOnly=$aggOnly rowSel=$rowSel")
    assert(withFilter >= 100 && withSort >= 40 && withTopK >= 50,
      s"unbalanced sampling: filter=$withFilter sort=$withSort topk=$withTopK")
  }

  // ---- r15 extended grammar: OR-disjunction, negation, HAVING, from-to --

  /** One extended filter unit: NL phrase, SQL fragment (possibly an OR
    * group), the columns it claims, and the independent Column cond. */
  private case class ExtUnit(cols: Set[String], phrase: String, sql: String,
      cond: org.apache.spark.sql.Column)

  private def extUnitPool(rnd: scala.util.Random): Seq[ExtUnit] = {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    def n3(base: Int) = base + 100 * rnd.nextInt(3)
    val a = n3(200)
    val (lo, hi) = (n3(100), n3(600))
    val st = Seq("active", "closed", "late")(rnd.nextInt(3))
    val st2 = Seq("active", "closed", "late")((rnd.nextInt(2) + 1 +
      Seq("active", "closed", "late").indexOf(st)) % 3) // distinct from st
    val rg = Seq("west", "east", "north", "south")(rnd.nextInt(4))
    val t = Seq(24, 36, 48)(rnd.nextInt(3))
    val d1 = Seq("2020-02-10", "2021-03-15")(rnd.nextInt(2))
    val d2 = "2023-08-01"
    def d(s: String) = to_date(lit(s))
    val orWith = if (rnd.nextBoolean()) "or" else "or with"
    Seq(
      // negation family
      ExtUnit(Set("status"), s"status is not $st", s"status <> '$st'",
        col("status") =!= st),
      ExtUnit(Set("region"), s"region not $rg", s"region <> '$rg'",
        col("region") =!= rg),
      ExtUnit(Set("status"), s"excluding status $st", s"status <> '$st'",
        col("status") =!= st),
      ExtUnit(Set("term_months"), s"term months is not $t",
        s"term_months <> $t", col("term_months") =!= t),
      // closed ranges via from-to
      ExtUnit(Set("amount"), s"amount from $lo to $hi",
        s"amount BETWEEN $lo AND $hi", col("amount").between(lo, hi)),
      ExtUnit(Set("issue_date"), s"issue date from $d1 to $d2",
        s"issue_date BETWEEN DATE '$d1' AND DATE '$d2'",
        col("issue_date").between(d(d1), d(d2))),
      // OR groups: same-column disjunction and cross-column disjunction
      ExtUnit(Set("status"), s"status is $st $orWith status is $st2",
        s"(status = '$st' OR status = '$st2')",
        col("status") === st || col("status") === st2),
      ExtUnit(Set("amount", "status"),
        s"amount over $a $orWith status is $st",
        s"(amount > $a OR status = '$st')",
        col("amount") > a || col("status") === st),
      ExtUnit(Set("amount"), s"amount under $lo $orWith amount over $hi",
        s"(amount < $lo OR amount > $hi)",
        col("amount") < lo || col("amount") > hi),
      ExtUnit(Set("region", "term_months"),
        s"region equals $rg $orWith term months over $t",
        s"(region = '$rg' OR term_months > $t)",
        col("region") === rg || col("term_months") > t))
  }

  /** HAVING production: (NL phrase, SQL aggregate expr, DataFrame agg). */
  private def extHaving(rnd: scala.util.Random): (String, String,
      org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val n = 1 + rnd.nextInt(4)
    val amt = 200 + 100 * rnd.nextInt(20)
    val (cmpPhrase, cmpSql) = Seq(("over", ">"), ("under", "<"),
      ("at least", ">="), ("at most", "<="))(rnd.nextInt(4))
    rnd.nextInt(4) match {
      case 0 => (s"having count $cmpPhrase $n", s"count(*) $cmpSql $n",
        when(expr(s"count(1) $cmpSql $n"), true).otherwise(false))
      case 1 => (s"having total amount $cmpPhrase $amt",
        s"SUM(amount) $cmpSql $amt",
        when(expr(s"sum(amount) $cmpSql $amt"), true).otherwise(false))
      case 2 => (s"having highest amount $cmpPhrase $amt",
        s"MAX(amount) $cmpSql $amt",
        when(expr(s"max(amount) $cmpSql $amt"), true).otherwise(false))
      case _ => (s"having average amount $cmpPhrase $amt",
        s"AVG(amount) $cmpSql $amt",
        when(expr(s"avg(amount) $cmpSql $amt"), true).otherwise(false))
    }
  }

  test("170 extended-grammar questions: OR-disjunction, negation, HAVING " +
    "and from-to ranges match intent in schema and rows") {
    registered
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(150915)
    var nOr, nNeg, nHaving, nFromTo = 0
    (0 until 170).foreach { idx =>
      val agg = Seq(None, Some("COUNT"), Some("SUM"), Some("AVG"),
        Some("MAX"), Some("MIN"))(rnd.nextInt(6))
      val measure = agg.filter(_ != "COUNT")
        .map(_ => Seq("amount", "term_months")(rnd.nextInt(2)))
      val group = if (agg.isDefined && rnd.nextInt(3) > 0)
        Some(Seq("status", "region")(rnd.nextInt(2))) else None
      val having = if (group.isDefined && rnd.nextBoolean())
        Some(extHaving(rnd)) else None
      // filter units with disjoint column sets, question order preserved
      val pool = rnd.shuffle(extUnitPool(rnd))
      val units = pool.take(1 + rnd.nextInt(2))
        .foldLeft(Vector.empty[ExtUnit]) { (acc, u) =>
          if (acc.exists(p => (p.cols & u.cols).nonEmpty)) acc else acc :+ u
        }
      val topK = if (rnd.nextInt(4) == 0) Some(3 + rnd.nextInt(5)) else None

      // render NL
      val sb = new StringBuilder
      agg match {
        case Some("COUNT") => sb ++= "how many loans"
        case Some(fn) => sb ++= Map("SUM" -> "total", "AVG" -> "average",
          "MAX" -> "highest", "MIN" -> "lowest")(fn) += ' ' ++=
          measureWords(measure.get)
        case None => sb ++= "show loans"
      }
      group.foreach(g => sb ++= s" per $g")
      sb ++= " for loans"
      if (units.nonEmpty)
        sb ++= units.map(_.phrase).mkString(" where ", " and with ", "")
      having.foreach { case (ph, _, _) => sb ++= s" $ph" }
      topK.foreach(k => sb ++= s" top $k")
      val q = sb.toString

      // expected SQL (the documented assembly)
      val where = if (units.isEmpty) ""
        else units.map(_.sql).mkString(" WHERE ", " AND ", "")
      val (selectAgg, alias) = agg match {
        case Some("COUNT") => (Some("count(*) AS n"), Some("n"))
        case Some(fn) =>
          val m = measure.get
          (Some(s"$fn($m) AS ${fn.toLowerCase}_$m"),
            Some(s"${fn.toLowerCase}_$m"))
        case None => (None, None)
      }
      val exp = (selectAgg, group) match {
        case (Some(a), Some(g)) =>
          val hav = having.map { case (_, h, _) => s" HAVING $h" }.getOrElse("")
          val order = topK
            .map(k => s" ORDER BY ${alias.get} DESC, $g ASC LIMIT $k")
            .getOrElse(s" ORDER BY $g ASC")
          s"SELECT $g, $a FROM loans$where GROUP BY $g$hav$order"
        case (Some(a), None) => s"SELECT $a FROM loans$where"
        case (None, _) =>
          // row-select picks up ORDER BY <numeric> DESC when the filters
          // mention a numeric column (the measureOrderCol rule)
          val toksQ = q.toLowerCase.split("\\W+").filter(_.nonEmpty).toSet
          val ord = numericCols
            .find(c => c.split("_").forall(toksQ.contains))
            .map(c => s" ORDER BY $c DESC").getOrElse("")
          s"SELECT * FROM loans$where$ord LIMIT ${topK.getOrElse(20)}"
      }
      val gen = TemplateSqlGenerator.generate(q, loansCatalog)
        .getOrElse(fail(s"[ext case $idx] generator returned None for <$q>"))
      assert(gen == exp, s"[ext case $idx] SQL mismatch for <$q>\n gen: " +
        s"$gen\n exp: $exp")

      // independent DataFrame evaluation (shares nothing with the SQL text)
      val df = loansDf(spark)
      val base = if (units.isEmpty) df
        else df.where(units.map(_.cond).reduce(_ && _))
      val want: Option[(org.apache.spark.sql.DataFrame, Boolean)] = agg match {
        case Some(fn) =>
          val al = alias.get
          val aggCol = fn match {
            case "COUNT" => count(lit(1)).as(al)
            case "SUM" => sum(col(measure.get)).as(al)
            case "AVG" => avg(col(measure.get)).as(al)
            case "MAX" => max(col(measure.get)).as(al)
            case "MIN" => min(col(measure.get)).as(al)
          }
          group match {
            case Some(g) =>
              val grouped = having match {
                case Some((_, _, hc)) =>
                  base.groupBy(g).agg(aggCol, hc.as("__h"))
                    .where(col("__h")).select(col(g), col(al))
                case None => base.groupBy(g).agg(aggCol)
              }
              val ord = if (topK.isDefined) Seq(col(al).desc, col(g).asc)
                else Seq(col(g).asc)
              val sorted = grouped.orderBy(ord: _*)
              Some((topK.map(sorted.limit).getOrElse(sorted), true))
            case None => Some((base.agg(aggCol), false))
          }
        case None =>
          val lim = topK.getOrElse(20)
          val toksQ = q.toLowerCase.split("\\W+").filter(_.nonEmpty).toSet
          numericCols.find(c => c.split("_").forall(toksQ.contains)) match {
            case Some("amount") => // unique column → total order
              Some((base.orderBy(col("amount").desc).limit(lim), true))
            case _ => // non-unique/no ordering: comparable when LIMIT can't truncate
              if (base.count() <= lim) Some((base, false)) else None
          }
      }
      want.foreach { case (w, ordered) => assertRowParity(idx, q, gen, w, ordered) }

      if (units.exists(_.sql.contains(" OR "))) nOr += 1
      if (units.exists(_.sql.contains("<>"))) nNeg += 1
      if (having.isDefined) nHaving += 1
      if (units.exists(u => u.phrase.contains(" from "))) nFromTo += 1
    }
    assert(nOr >= 40 && nNeg >= 40 && nHaving >= 25 && nFromTo >= 20,
      s"unbalanced ext sampling: or=$nOr neg=$nNeg having=$nHaving fromto=$nFromTo")
  }

  test("join chain crossed with date ranges, OR groups and HAVING " +
    "(pinned, incl. the r15 q_nl_* faces)") {
    registered
    val catalog = Seq(
      "orders (1500 rows): o_orderkey bigint, o_custkey bigint, " +
        "o_orderstatus string, o_totalprice double, o_orderdate timestamp, " +
        "o_orderpriority string",
      "customer (150 rows): c_custkey bigint, c_name string, " +
        "c_nationkey int, c_acctbal double, c_mktsegment string")
      .mkString("\n")
    val from = "orders JOIN customer ON orders.o_custkey = customer.c_custkey"
    val cases = Seq(
      // join chain × date range — the cross the r14 grammar never exercised
      ("how many orders and customer per orderstatus " +
        "where orderdate after 1995-06-01",
        s"SELECT o_orderstatus, count(*) AS n FROM $from " +
          s"WHERE o_orderdate > DATE '1995-06-01' " +
          s"GROUP BY o_orderstatus ORDER BY o_orderstatus ASC"),
      ("total totalprice per mktsegment for orders and customer " +
        "where orderdate between 1994-01-01 and 1996-12-31",
        s"SELECT c_mktsegment, SUM(o_totalprice) AS sum_o_totalprice " +
          s"FROM $from WHERE o_orderdate BETWEEN DATE '1994-01-01' AND " +
          s"DATE '1996-12-31' GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"),
      // join chain × HAVING (the q_nl_having_group driver face — must stay
      // in lockstep with its oracle in SparkEntry.specs)
      ("how many orders and customer per orderstatus having count over 100",
        s"SELECT o_orderstatus, count(*) AS n FROM $from " +
          s"GROUP BY o_orderstatus HAVING count(*) > 100 " +
          s"ORDER BY o_orderstatus ASC"),
      // single-table OR group (the q_nl_or_filter driver face)
      ("how many orders where totalprice under 5000 or totalprice over 100000",
        "SELECT count(*) AS n FROM orders WHERE (o_totalprice < 5000 OR " +
          "o_totalprice > 100000)"),
      // join chain × OR across tables' columns
      ("how many orders and customer per orderstatus where acctbal over " +
        "9000 or totalprice over 100000",
        s"SELECT o_orderstatus, count(*) AS n FROM $from " +
          s"WHERE (c_acctbal > 9000 OR o_totalprice > 100000) " +
          s"GROUP BY o_orderstatus ORDER BY o_orderstatus ASC"),
      // join chain × negation
      ("how many orders and customer per orderstatus excluding mktsegment " +
        "BUILDING",
        s"SELECT o_orderstatus, count(*) AS n FROM $from " +
          s"WHERE c_mktsegment <> 'building' " +
          s"GROUP BY o_orderstatus ORDER BY o_orderstatus ASC"))
    cases.zipWithIndex.foreach { case ((q, exp), idx) =>
      val gen = TemplateSqlGenerator.generate(q, catalog)
        .getOrElse(fail(s"[ext join case $idx] None for <$q>"))
      assert(gen == exp, s"[ext join case $idx] <$q>\n gen: $gen\n exp: $exp")
      assert(spark.sql(gen).collect() != null, s"[ext join case $idx] failed to run")
    }
  }

  test("multi-table join chain: generated SQL joins orders to customer on " +
    "the inferred key across agg/filter/group variants") {
    registered
    val catalog = Seq(
      "orders (1500 rows): o_orderkey bigint, o_custkey bigint, " +
        "o_orderstatus string, o_totalprice double, o_orderdate timestamp, " +
        "o_orderpriority string",
      "customer (150 rows): c_custkey bigint, c_name string, " +
        "c_nationkey int, c_acctbal double, c_mktsegment string")
      .mkString("\n")
    val from = "orders JOIN customer ON orders.o_custkey = customer.c_custkey"
    // when the question mentions more CUSTOMER columns than orders
    // columns, customer outscores orders and heads the chain — the join
    // key inference is symmetric, only the rendered direction flips
    val fromC = "customer JOIN orders ON customer.c_custkey = orders.o_custkey"
    val cases = Seq(
      ("total totalprice per mktsegment for orders and customer",
        s"SELECT c_mktsegment, SUM(o_totalprice) AS sum_o_totalprice " +
          s"FROM $from GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"),
      ("average totalprice per mktsegment for orders and customer " +
        "where acctbal over 1000",
        s"SELECT c_mktsegment, AVG(o_totalprice) AS avg_o_totalprice " +
          s"FROM $fromC WHERE c_acctbal > 1000 " +
          s"GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"),
      ("how many orders and customer per orderstatus",
        s"SELECT o_orderstatus, count(*) AS n " +
          s"FROM $from GROUP BY o_orderstatus ORDER BY o_orderstatus ASC"),
      ("highest totalprice per orderpriority for orders and customer " +
        "where acctbal over 1000",
        s"SELECT o_orderpriority, MAX(o_totalprice) AS max_o_totalprice " +
          s"FROM $from WHERE c_acctbal > 1000 " +
          s"GROUP BY o_orderpriority ORDER BY o_orderpriority ASC"),
      ("total totalprice per mktsegment for orders and customer top 2",
        s"SELECT c_mktsegment, SUM(o_totalprice) AS sum_o_totalprice " +
          s"FROM $from GROUP BY c_mktsegment " +
          s"ORDER BY sum_o_totalprice DESC, c_mktsegment ASC LIMIT 2"),
      // the two remaining q_nl_* driver faces: these strings must stay in
      // lockstep with their oracles in SparkEntry.specs
      ("highest totalprice per mktsegment for orders and customer " +
        "where acctbal over 1000",
        s"SELECT c_mktsegment, MAX(o_totalprice) AS max_o_totalprice " +
          s"FROM $fromC WHERE c_acctbal > 1000 " +
          s"GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"),
      ("how many orders and customer per orderpriority top 3",
        s"SELECT o_orderpriority, count(*) AS n FROM $from " +
          s"GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority ASC " +
          s"LIMIT 3"))
    cases.zipWithIndex.foreach { case ((q, exp), idx) =>
      val gen = TemplateSqlGenerator.generate(q, catalog)
        .getOrElse(fail(s"[join case $idx] None for <$q>"))
      assert(gen == exp, s"[join case $idx] <$q>\n gen: $gen\n exp: $exp")
      // execute once: the string is pinned above, every case carries a
      // total order, and the join must actually produce rows
      assert(spark.sql(gen).collect().nonEmpty, s"[join case $idx] empty result")
    }
  }

  // ---- r16 task 7: derived-measure expressions -------------------------

  test("60 derived-measure questions: product/ratio/difference/net phrases " +
    "become expression measures; order-free aggregates row-checked") {
    registered
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(771201)
    val verbs = Seq(("total", "SUM"), ("average", "AVG"),
      ("highest", "MAX"), ("lowest", "MIN"))
    var nChecked = 0
    (0 until 60).foreach { idx =>
      val (vw, fn) = verbs(rnd.nextInt(4))
      val grp = Seq(None, Some("status"), Some("region"))(rnd.nextInt(3))
      val (phrase, exprSql, slug) = rnd.nextInt(4) match {
        case 0 => ("product of amount and term months",
          "(amount * term_months)", "product_amount_term_months")
        case 1 => ("ratio of amount to term months",
          "(amount / term_months)", "ratio_amount_term_months")
        case 2 =>
          val link = if (rnd.nextBoolean()) "of" else "between"
          (s"difference $link amount and term months",
            "(amount - term_months)", "diff_amount_term_months")
        case _ => ("amount times one minus term months",
          "(amount * (1 - term_months))", "net_amount_term_months")
      }
      val q = s"$vw $phrase for loans" + grp.map(g => s" per $g").getOrElse("")
      val alias = s"${fn.toLowerCase}_$slug"
      val exp = grp match {
        case Some(g) =>
          s"SELECT $g, $fn($exprSql) AS $alias FROM loans" +
            s" GROUP BY $g ORDER BY $g ASC"
        case None => s"SELECT $fn($exprSql) AS $alias FROM loans"
      }
      val gen = TemplateSqlGenerator.generate(q, loansCatalog)
        .getOrElse(fail(s"[derived case $idx] generator None for <$q>"))
      assert(gen == exp, s"[derived case $idx] <$q>\n gen: $gen\n exp: $exp")
      // MAX/MIN are order-free over exact doubles — row-check them against
      // an independent DataFrame formulation (set compare: SQL's NULL
      // group position is an ordering detail, not a value)
      if (fn == "MAX" || fn == "MIN") {
        val m = if (fn == "MAX") max(expr(exprSql)) else min(expr(exprSql))
        val want = grp match {
          case Some(g) => spark.table("loans").groupBy(g).agg(m)
            .collect().map(r => (Option(r.get(0)), r.getDouble(1))).toSet
          case None => spark.table("loans").agg(m)
            .collect().map(r => (Option.empty[Any], r.getDouble(0))).toSet
        }
        val got = spark.sql(gen).collect().map { r =>
          if (grp.isDefined) (Option(r.get(0)), r.getDouble(1))
          else (Option.empty[Any], r.getDouble(0))
        }.toSet
        assert(got == want, s"[derived case $idx] rows differ for <$q>")
        nChecked += 1
      }
    }
    assert(nChecked >= 10, s"too few row-checked derived cases: $nChecked")
  }
}
