package perfbench

import graft.ops.CatalogOps
import graft.pipeline.{IngestionPipeline, QueryPipeline}
import graft.planner.{Grounding, PlannerHooks}
import graft.planner.PlannerHooks._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.{Random, Try}

/** Files in -> catalog -> question -> answer, timed as one run.
  *
  * Set-up ingests seeded input files through `IngestionPipeline.run`
  * (see [[Ingest]]); its catalog and its `documents` chunk collection
  * serve the questions. The measured part is a closed loop with one
  * client calling `QueryPipeline.run` with the default hooks.
  *
  * Questions come in rounds of ten and the run ends on a round boundary.
  * Every round has the same mix: four single-table (one of them from the
  * three templates the engine answers wrongly today), two two-table join,
  * two multi-intent (three sub-queries joined by `;`) and two semantic
  * questions, so two seeds measure the same work.
  *
  * Every template carries the benchmark's own answer, computed by a
  * DataFrame program over the rows that were ingested, written from what
  * the question means, not from the SQL the engine generates. The three
  * wrongly answered templates stay in the mix on purpose: the segment
  * filter is compared in lower case, and the lineitem table has no ship
  * mode, so "per shipmode" and "where shipmode is" cannot be answered, yet
  * the engine drops the clause and answers something else. */
object AskWorkload {

  /** A cell-by-cell answer, or None when the question cannot be answered
    * from the data (the right response is then to refuse). */
  type Rows = Option[Seq[Seq[Any]]]

  /** One atomic question and the program that answers it. `semantic`
    * answers are checked as top-k retrieval, not as a table. */
  final case class Sub(text: String, expect: Ctx2 => Rows, semantic: Boolean = false)
  final case class Question(cls: String, template: String, subs: Seq[Sub]) {
    def text: String = subs.map(_.text).mkString("; ")
  }
  /** The ingested rows by table, and the collection semantic questions
    * search. */
  final class Ctx2(val spark: SparkSession, tables: Map[String, DataFrame], val collection: String) {
    def t(name: String): DataFrame = tables(name)
  }

  private def rows(df: => DataFrame): Rows =
    Try(df.collect().toSeq.map(r => r.toSeq)).toOption

  private def agg(verb: String, c: String): Column = verb match {
    case "total" => sum(col(c))
    case "average" => avg(col(c))
    case "maximum" => max(col(c))
    case "minimum" => min(col(c))
  }

  /** The templates the engine answers wrongly today. */
  private val knownWrong =
    Set("customers_in_segment", "extendedprice_per_shipmode", "quantity_for_shipmode")

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val shipModes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")
  private val verbs = Seq("total", "average", "maximum", "minimum")
  /** Words that steer the router or the SQL grammar; semantic questions
    * draw their topic words from the document text minus these. */
  private val reserved = Set("sum", "total", "count", "average", "avg", "max", "maximum",
    "min", "minimum", "group", "top", "highest", "lowest", "between", "before",
    "after", "per", "each", "by", "like", "about", "similar", "related",
    "mentioning", "roughly", "something", "the", "and", "for", "with", "over",
    "under", "where", "from", "order", "sorted", "ordered", "not", "null")

  /** The single-table templates the engine answers correctly; the first
    * three are asked alone in every round, and multi-intent questions are
    * built from all five. */
  private def goodSingles(r: Random): Seq[(String, Sub)] = Seq(
    "acctbal_per_segment" -> {
      val v = verbs(r.nextInt(verbs.size))
      Sub(s"$v acctbal per mktsegment", c =>
        rows(c.t("customer").groupBy("c_mktsegment").agg(agg(v, "c_acctbal"))))
    },
    "orders_per_priority" -> Sub("how many orders per orderpriority", c =>
      rows(c.t("orders").groupBy("o_orderpriority").count())),
    "quantity_per_returnflag" -> {
      val v = verbs(r.nextInt(verbs.size))
      Sub(s"$v quantity per returnflag", c =>
        rows(c.t("lineitem").groupBy("l_returnflag").agg(agg(v, "l_quantity"))))
    },
    "lineitem_quantity_over" -> {
      val n = 5 + r.nextInt(40)
      Sub(s"how many lineitem with quantity over $n", c =>
        rows(c.t("lineitem").where(col("l_quantity") > n).agg(count(lit(1)))))
    },
    "retailprice_per_brand" -> {
      val v = verbs(r.nextInt(verbs.size))
      Sub(s"$v retailprice per brand", c =>
        rows(c.t("part").groupBy("p_brand").agg(agg(v, "p_retailprice"))))
    })

  /** Round `r` of the run seeded `seed`: ten questions in the fixed mix.
    * The templates are the same in every round except the wrongly answered
    * one, which rotates; the seed picks that one, the parameters, the
    * multi-intent parts, the semantic topics and the order. */
  def roundOf(seed: Long, r: Int, vocab: IndexedSeq[String]): Seq[Question] = {
    val rng = new Random(seed * 1000003L + r)
    def single(name: String, s: Sub) = Question("single", name, Seq(s))
    val seg = segments(rng.nextInt(segments.size))
    val mode = shipModes(rng.nextInt(shipModes.size))
    val known = Seq(
      single("customers_in_segment", Sub(s"how many customer where mktsegment is $seg",
        c => rows(c.t("customer").where(col("c_mktsegment") === seg).agg(count(lit(1)))))),
      single("extendedprice_per_shipmode", Sub("average extendedprice per shipmode",
        c => rows(c.t("lineitem").groupBy("l_shipmode").agg(avg("l_extendedprice"))))),
      single("quantity_for_shipmode", Sub(s"total quantity for lineitem where shipmode is $mode",
        c => rows(c.t("lineitem").where(col("l_shipmode") === mode).agg(sum("l_quantity"))))))
    val singles = known(((seed + r) % 3).toInt.abs) +:
      goodSingles(rng).take(3).map { case (n, s) => single(n, s) }
    val v = verbs(rng.nextInt(verbs.size))
    val joins = Seq(
      "totalprice_per_segment" -> Sub(s"$v totalprice per mktsegment for orders and customer",
        c => rows(c.t("orders").join(c.t("customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(agg(v, "o_totalprice")))),
      "extendedprice_per_orderstatus" -> Sub(
        "total extendedprice per orderstatus for lineitem and orders",
        c => rows(c.t("lineitem").join(c.t("orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus").agg(sum("l_extendedprice")))))
      .map { case (n, s) => Question("join", n, Seq(s)) }
    val multis = (1 to 2).map { i =>
      Question("multi", s"multi_$i", rng.shuffle(goodSingles(rng)).take(3).map(_._2))
    }
    val phrasings = Seq("documents about", "documents similar to",
      "documents related to", "documents mentioning")
    val semantic = rng.shuffle(phrasings).take(2).zipWithIndex.map { case (p, i) =>
      val text = s"$p ${(1 to 3).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")}"
      Question("semantic", s"semantic_$i", Seq(Sub(text, c => ranked(c, text), semantic = true)))
    }
    rng.shuffle(singles ++ joins ++ multis ++ semantic)
  }

  /** The benchmark's own retrieval scores: every chunk's cosine
    * similarity to the question's embedding, as score x 1e6 by chunk id. */
  private def scores(c: Ctx2, text: String): Map[Long, Long] = {
    val q = c.spark.range(1).select(IngestionPipeline.stubEmbed(64)(lit(text)).as("qv"))
    def dot(a: Column, b: Column) = aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, x) => s + x)
    val e = col("embedding")
    val qv = col("qv")
    c.spark.read.parquet(c.collection).crossJoin(q)
      .select(col("chunk_id"), round(dot(e, qv) / (sqrt(dot(e, e)) * sqrt(dot(qv, qv)))
        * 1000000, 0).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Every chunk as (chunk_id, score), best first, ties to the lower id. */
  private def ranked(c: Ctx2, text: String): Rows =
    Some(scores(c, text).toSeq.sortBy { case (id, s) => (-s, id) }
      .map { case (id, s) => Seq(id, s) })

  private def num(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue)
    case d: java.math.BigDecimal => Some(d.doubleValue)
    case _ => None
  }

  private def sameCell(a: Any, b: Any): Boolean = (num(a), num(b)) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  private def sameTable(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    def key(r: Seq[Any]) = r.map(v => num(v).map(d => f"$d%.6e").getOrElse(String.valueOf(v))).mkString("|")
    got.size == want.size && got.headOption.forall(_.size == want.head.size) &&
      got.sortBy(key).zip(want.sortBy(key)).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) => sameCell(x, y) }
      }
  }

  /** Retrieval answer check against the benchmark's ranking of every
    * chunk: k hits, each scoring what the benchmark computes for it and
    * none below the benchmark's k-th best, so ties and last-digit rounding
    * do not count as wrong. */
  private def sameHits(got: Seq[Row], ranking: Seq[Seq[Any]], k: Int): Boolean = {
    val tol = 2L
    val all = ranking.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    val kth = ranking.take(k).lastOption.map(_(1).asInstanceOf[Long]).getOrElse(Long.MinValue)
    got.size == math.min(k, ranking.size) && got.forall { r =>
      val s = r.getAs[Long]("score_e6")
      all.get(r.getAs[Long]("chunk_id")).exists(w => math.abs(w - s) <= tol) && s >= kth - tol
    }
  }

  /** Why an answer is wrong, or None when it is right. */
  def verdict(c: Ctx2, q: Question, ans: QueryPipeline.Answer, k: Int): Option[String] =
    if (ans.subResults.size != q.subs.size)
      Some(s"decomposed into ${ans.subResults.size} parts, expected ${q.subs.size}")
    else q.subs.zip(ans.subResults).collectFirst(Function.unlift { case (sub, r) =>
      val want = sub.expect(c)
      if (r.error.isDefined) Some(s"error frame ${r.error.get} for '${sub.text}'")
      else want match {
        case None => Some(s"answered '${sub.text}', which the data cannot answer")
        case Some(w) =>
          val got = r.result.collect().toSeq
          val ok =
            if (sub.semantic) r.grounding.isEmpty && got.headOption.forall(_.schema.fieldNames
              .contains("score_e6")) && sameHits(got, w, k)
            else sameTable(got.map(_.toSeq), w)
          if (ok) None else Some(s"wrong answer for '${sub.text}'")
      }
    })

  /** Default hooks wrapped in spans, for the traced questions. */
  private final class TracedHooks(tr: Trace, req: String) {
    var sqlgenCalls = 0
    var sqlgenNone = 0
    val hooks: QueryPipeline.Hooks = QueryPipeline.Hooks(
      decomposer = new QueryDecomposer {
        def decompose(q: String) = tr.span("planner.decompose", req)(ConjunctionDecomposer.decompose(q))
      },
      identifier = new TableIdentifier {
        def identify(q: String, c: Seq[CatalogOps.TableEntry]) =
          tr.span("planner.identify", req)(NameMatchIdentifier.identify(q, c))
      },
      router = new IntentRouter {
        def route(q: String) = tr.span("planner.route", req)(KeywordRouter.route(q))
      },
      sqlGen = new SqlGenerator {
        private def count(r: Option[String]) = { sqlgenCalls += 1; if (r.isEmpty) sqlgenNone += 1; r }
        def generate(q: String, cat: String) =
          count(tr.span("planner.sqlgen", req)(graft.planner.TemplateSqlGenerator.generate(q, cat)))
        override def generateGrounded(q: String, cat: String, g: Seq[Grounding.GroundedEq]) =
          count(tr.span("planner.sqlgen", req)(
            graft.planner.TemplateSqlGenerator.generateGrounded(q, cat, g)))
      })
  }

  /** A planted defect for the self-test: one template's SQL is cut to a
    * single row, which the output check must count as a wrong answer. */
  private val planted = new SqlGenerator {
    def generate(q: String, cat: String) =
      graft.planner.TemplateSqlGenerator.generate(q, cat).map(sql =>
        if (q.startsWith("how many orders per orderpriority")) sql + " LIMIT 1" else sql)
    override def generateGrounded(q: String, cat: String, g: Seq[Grounding.GroundedEq]) =
      graft.planner.TemplateSqlGenerator.generateGrounded(q, cat, g)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val k = 10 // the hits QueryPipeline.semanticSearch returns by default
    val inputs = Ingest.generate(spark, ctx.sf, "inputs", ctx.seed)
    Main.phase("inputs written")
    // set-up: files in -> catalog and collections; checked after the clock
    val ingested = Ingest.run(ctx, inputs, "ingested")
    out.setupS += ingested.wallS
    Main.phase("set-up done")
    val catalog = ingested.catalog
    val collection = s"${ingested.outDir}/collections/data_source_documents.parquet"
    val c = new Ctx2(spark, inputs.map(i => i.table -> i.rows).toMap, collection)
    val vocab = c.t("documents").limit(50)
      .select(explode(split(col("text"), " "))).distinct().collect()
      .map(_.getString(0)).filter(w => w.length >= 3 && w.forall(_.isLetter) && !reserved(w))
      .sorted.toIndexedSeq
    require(vocab.size >= 5, "document vocabulary too small for semantic questions")

    val baseHooks =
      if (ctx.plantWrong) QueryPipeline.Hooks(sqlGen = planted) else QueryPipeline.Hooks()
    def ask(q: Question, traced: Boolean, req: String): (QueryPipeline.Answer, Double, Option[TracedHooks]) = {
      val th = if (traced) Some(new TracedHooks(ctx.trace, req)) else None
      val hooks = th.map(_.hooks).getOrElse(baseHooks)
      val (ans, ms) = ctx.trace.operation(traced, "pipeline.run", req)(
        QueryPipeline.run(spark, q.text, catalog, hooks, Some(collection)))
      (ans, ms, th)
    }

    // warm-up, untimed: a multi-intent and a semantic question, which
    // between them reach every code path the loop times
    roundOf(-1, 0, vocab).filter(q => q.cls == "multi" || q.cls == "semantic")
      .groupBy(_.cls).values.map(_.head).foreach(q => ask(q, traced = false, "warmup"))

    Main.phase("warm-up done")
    val asked = mutable.ArrayBuffer.empty[(Question, QueryPipeline.Answer, Double, Boolean, String)]
    val hookStats = mutable.ArrayBuffer.empty[TracedHooks]
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      roundOf(ctx.seed, r, vocab).foreach { q =>
        val i = asked.size
        val req = s"q$i"
        val (ans, ms, th) = ask(q, ctx.tracedOp(i), req)
        th.foreach(hookStats += _)
        asked += ((q, ans, ms, ctx.tracedOp(i), req))
      }
      r += 1
    }
    Main.phase(s"measured ${asked.size} questions")
    // output checks, after the clock: the ingest, then one verdict per
    // distinct question
    val bad = Ingest.check(spark, ingested, inputs)
    inputs.zip(ingested.inputS.padTo(inputs.size, 0.0)).foreach { case (in, s) =>
      val name = new java.io.File(in.path).getName
      bad.get(in.path).foreach(w => out.failures += s"$name: $w")
      out.inputs += Sample(in.format, s * 1e3, !bad.contains(in.path), ctx.traced)
    }
    Ingest.report(ctx, ingested, inputs, out)
    val verdicts = mutable.Map.empty[String, Option[String]]
    asked.foreach { case (q, ans, ms, traced, req) =>
      val v = verdicts.getOrElseUpdate(q.text, verdict(c, q, ans, k))
      v.foreach(why => (if (knownWrong(q.template)) out.known else out.failures) +=
        s"${q.template}: $why")
      out.samples += Sample(q.cls, ms, v.isEmpty, traced)
    }
    val subResults = asked.flatMap(_._2.subResults)
    val semanticSubs = subResults.filter(_.intent == SemanticSearch)

    if (ctx.traced) {
      val tr = ctx.trace
      val spans = tr.all
      val kids = tr.children
      val runs = spans.filter(_.name == "pipeline.run")
      val n = math.max(1, runs.size).toDouble
      def isSchema(s: Span) = s.name.startsWith("job:parquet at")
      val semanticReqs = asked.filter(_._1.cls == "semantic").map(_._5).toSet
      val perRun = runs.map { run =>
        val ch = kids.getOrElse(run.id, Nil)
        val hooks = ch.filter(_.name.startsWith("planner."))
        val jobs = ch.filter(_.name.startsWith("job:"))
        val execJobs = jobs.filterNot(isSchema)
        def cov(xs: Seq[Span]) = tr.covered(xs.map(s => (s.startNs, s.endNs)), run.startNs, run.endNs)
        (run.durNs - cov(hooks ++ execJobs), cov(execJobs), jobs.size,
          jobs.count(isSchema), semanticReqs(run.req))
      }
      def hookMs(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e6 / n
      val calls = hookStats.map(_.sqlgenCalls).sum
      // an ungrounded semantic question executes nothing but its search
      val searches = perRun.filter(_._5)
      out.layers ++= Seq(
        "ask.error_frames" -> subResults.count(_.error.isDefined).toDouble,
        "ask.wrong_answers" ->
          asked.count(a => verdicts(a._1.text).exists(!_.startsWith("error frame"))).toDouble,
        "planner.decompose_ms" -> hookMs("planner.decompose"),
        "planner.identify_ms" -> hookMs("planner.identify"),
        "planner.route_ms" -> hookMs("planner.route"),
        "planner.sqlgen_ms" -> hookMs("planner.sqlgen"),
        "planner.sqlgen_none_ratio" ->
          (if (calls == 0) 0.0 else hookStats.map(_.sqlgenNone).sum.toDouble / calls),
        "pipeline.run_self_ms" -> perRun.map(_._1).sum / 1e6 / n,
        "pipeline.exec_ms" -> perRun.map(_._2).sum / 1e6 / n,
        "pipeline.jobs_per_question" -> perRun.map(_._3).sum / n,
        "pipeline.schema_jobs_per_question" -> perRun.map(_._4).sum / n,
        "pipeline.fs_read_ops_per_question" -> runs.map(s => tr.counters(s"req:${s.req}:fs.read_ops")).sum / n,
        "retrieval.search_ms" ->
          (if (searches.isEmpty) 0.0 else searches.map(_._2).sum / 1e6 / searches.size),
        "retrieval.grounded_ratio" ->
          (if (semanticSubs.isEmpty) 0.0
           else semanticSubs.count(_.grounding.nonEmpty).toDouble / semanticSubs.size))
    }
    out
  }
}
