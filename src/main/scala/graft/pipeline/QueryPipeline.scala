package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CatalogOps.TableEntry
import graft.ops.Tables
import graft.planner.PlannerHooks
import graft.planner.PlannerHooks._
import scala.util.control.NonFatal

/** The query lifecycle — the deterministic Spark rebuild of
  * `run_rag_pipeline` (`langgraph_pipeline.py:755-851`, flow in SURVEY
  * §3.1): decompose → identify sources → route intent → execute (SQL over
  * temp views | semantic vector search) → summarize. Every LLM node is a
  * pluggable hook with a deterministic default; execution itself is
  * `spark.sql` / DataFrame programs. Error handling mirrors the
  * reference's degrade-don't-crash contract: a failed sub-query yields an
  * `error`-column frame (`duckdb_util.py:242-243`), routing falls back to
  * SQL_QUERY (`langgraph_pipeline.py:346-349`).
  */
object QueryPipeline {

  case class Hooks(
      decomposer: QueryDecomposer = ConjunctionDecomposer,
      identifier: TableIdentifier = NameMatchIdentifier,
      router: IntentRouter = KeywordRouter,
      sqlGen: SqlGenerator = graft.planner.TemplateSqlGenerator)

  case class SubResult(subQuery: String, intent: Intent, tables: Seq[String],
      result: DataFrame, error: Option[String], rowCount: Long,
      grounding: Seq[graft.planner.Grounding.GroundedEq] = Nil)

  case class Answer(question: String, subResults: Seq[SubResult], summary: String)

  /** Reference's degrade contract: failures become an `error` column frame. */
  def errorFrame(spark: SparkSession, msg: String): DataFrame = {
    import spark.implicits._
    Seq(msg).toDF("error")
  }

  /** Semantic search over a collection table written by
    * `IngestionPipeline.writeCollection`: embed the query with the same
    * stub kernel, cosine top-k over chunk embeddings with source
    * attribution (`chroma_retrieval_util.py:307-459`). */
  def semanticSearch(spark: SparkSession, collectionPath: String,
      question: String, k: Int = 10): DataFrame = {
    val coll = spark.read.parquet(collectionPath)
    val qv = spark.range(1).select(
      IngestionPipeline.stubEmbed(64)(lit(question)).as("qv"))
    coll.crossJoin(broadcast(qv))
      .select(col("chunk_id"), col("source_table"),
        round(Tables.cosineFast(col("embedding"), col("qv")) * 1000000, 0)
          .cast("long").as("score_e6"),
        col("text"))
      .orderBy(col("score_e6").desc, col("chunk_id").asc)
      .limit(k)
  }

  /** Multi-table load: the reference's composition rule
    * (`langgraph_pipeline.py:211-229`): >1 table and no join key →
    * schema-merging union with provenance; a join key → equi-join of all
    * tables on it; single table → plain load. */
  def loadContext(spark: SparkSession, entries: Seq[TableEntry],
      joinKey: Option[String]): DataFrame = {
    val dfs = entries.map(e => (e.logicalName, spark.read.parquet(e.parquetPath)))
    (dfs, joinKey) match {
      case (Seq((_, only)), _) => only
      case (many, None) =>
        many.map { case (name, df) => df.withColumn("__table__", lit(name)) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
      case (many, Some(key)) =>
        many.map(_._2).reduce((a, b) => a.join(b, Seq(key)))
    }
  }

  /** Run one question end to end. Tables from `catalog` are registered as
    * temp views so generated SQL addresses logical names, like the
    * reference's `read_parquet` path map (`langgraph_pipeline.py:461-492`).
    */
  def run(spark: SparkSession, question: String, catalog: Seq[TableEntry],
      hooks: Hooks = Hooks(), collectionPath: Option[String] = None): Answer = {
    catalog.foreach(e =>
      spark.read.parquet(e.parquetPath).createOrReplaceTempView(e.logicalName))
    val catalogText = catalog.map(_.describe).mkString("\n")

    val subResults = hooks.decomposer.decompose(question).map { sub =>
      val (tables, _) = hooks.identifier.identify(sub, catalog)
      val intent =
        try hooks.router.route(sub)
        catch { case NonFatal(_) => SqlQuery } // reference fallback :346-349
      // Execution is FORCED inside this try: Spark analyzes lazily, so a
      // sub-query that passes analysis can still fail at runtime (ANSI
      // cast/overflow errors — Spark 4 default). The reference's degrade
      // contract covers those too (`duckdb_util.py:242-243`): they become
      // error frames, never throws. NOTE `df.count()` would NOT force them —
      // the count(1) re-plan prunes every projected column, so a failing
      // expression is optimized away; counting the df's own compiled RDD
      // evaluates the full projection (still distributed, nothing collected).
      try {
        val (df, err, intentOut, grounding) = intent match {
          case SemanticSearch if collectionPath.isDefined =>
            // THE GROUNDING LOOP (`langgraph_pipeline.py:429-437`,
            // `:377-397`): semantic hits are context for SQL-gen, not the
            // answer. (1) retrieve top-k chunks — ONE bounded k-row driver
            // read; (2) NARROW the catalog to the hit collections (the
            // reference reloads its parquet context from retrieved files);
            // (3) fuzzy-align question tokens against exact column values
            // parsed from the hit chunks; (4) if anything grounded,
            // generate + run SQL with the case-exact equalities — the
            // misspelled-user-string → grounded-WHERE move. Nothing
            // grounded (or no SQL derivable) → the chunks themselves
            // remain the answer, served from the already-collected rows.
            val hitsDf = semanticSearch(spark, collectionPath.get, sub)
            val hitRows = hitsDf.collect()
            val hitTables = hitRows.map(_.getAs[String]("source_table")).distinct.toSeq
            val narrowed0 = catalog.filter(e => hitTables.contains(e.logicalName))
            val narrowed = if (narrowed0.nonEmpty) narrowed0 else catalog
            val grounded = graft.planner.Grounding.ground(sub,
              hitRows.toSeq.map(r => graft.planner.Grounding.Hit(
                r.getAs[Long]("chunk_id"), r.getAs[Long]("score_e6"),
                r.getAs[String]("text"))),
              narrowed)
            val narrowedText = narrowed.map(_.describe).mkString("\n")
            val sqlOpt =
              if (grounded.isEmpty) None
              else hooks.sqlGen.generateGrounded(sub, narrowedText, grounded)
            sqlOpt match {
              case Some(sql) => (spark.sql(sql), None, intent, grounded)
              case None =>
                (spark.createDataFrame(
                  java.util.Arrays.asList(hitRows: _*), hitsDf.schema),
                  None, intent, Seq.empty[graft.planner.Grounding.GroundedEq])
            }
          case _ =>
            hooks.sqlGen.generate(sub, catalogText) match {
              case Some(sql) => (spark.sql(sql), None, SqlQuery, Nil)
              case None => (errorFrame(spark, s"no SQL generator bound for: $sub"),
                Some("no_sql_generator"), SqlQuery, Nil)
            }
        }
        SubResult(sub, intentOut, tables, df, err,
          df.queryExecution.toRdd.count(), grounding)
      } catch {
        case NonFatal(e) =>
          SubResult(sub, intent, tables,
            errorFrame(spark, e.getMessage), Some(e.getClass.getSimpleName), 1L)
      }
    }

    Answer(question, subResults, summarize(subResults))
  }

  /** Deterministic summary hook default — Q/A pairs rendered as text, the
    * shape the reference feeds its summarizer (`summary_util.py:10-84`). */
  def summarize(rs: Seq[SubResult]): String =
    rs.map { r =>
      val status = r.error.map(e => s"ERROR($e)").getOrElse(s"${r.rowCount} rows")
      s"Q: ${r.subQuery}\nA: $status over [${r.tables.mkString(", ")}]"
    }.mkString("\n\n")

  /** Markdown sample renderer — the reference's LLM context formatting
    * (`df.head(n).to_markdown()`, `langgraph_pipeline.py:266`). */
  def renderMarkdown(df: DataFrame, n: Int = 20): String = {
    val cols = df.columns.toSeq
    val rows = df.limit(n).collect()
    val header = cols.mkString("| ", " | ", " |")
    val sep = cols.map(_ => "---").mkString("| ", " | ", " |")
    val body = rows.map(r => (0 until r.length)
      .map(i => Option(r.get(i)).map(_.toString).getOrElse("NULL"))
      .mkString("| ", " | ", " |"))
    (header +: sep +: body).mkString("\n")
  }
}
