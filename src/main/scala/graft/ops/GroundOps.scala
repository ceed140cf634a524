package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{IngestionPipeline, QueryPipeline}

/** Driver face for the semantic→SQL grounding loop (V9's missing half —
  * the reference's exact-value rule, `langgraph_pipeline.py:429-437`): a
  * user question carrying a MISSPELLED data value routes to semantic
  * search, the hit chunks ground the typo to the exact, case-sensitive
  * column value, and the answer is the grounded SQL's result — not raw
  * chunks. The whole loop (retrieve → narrow → align → generate → execute)
  * runs through the production `QueryPipeline.run`; this face only builds
  * the collection artifact and shapes the evidence for the oracle.
  *
  * ORACLE REPLAY: the chunk collection AND the question's embedding are
  * persisted write-once (an `ArtifactStore` artifact), so DuckDB
  * re-scores every chunk with the identical sequential-double cosine,
  * re-derives the best-scoring hit that carries the grounded value, and
  * runs the grounded SQL — certifying retrieval order, value provenance,
  * and the final result in one hash. */
object GroundOps {

  /** The pinned demo question: "natoin_14" is a transposition typo of the
    * nation name value `NATION_14`; "like" routes it to SEMANTIC_SEARCH
    * (KeywordRouter), and no exact token matches any catalog value — only
    * grounding can answer it. */
  val question = "nations like natoin_14"

  /** The exact value the loop must ground to (pinned in QueryPipelineSpec;
    * baked into the oracle's contains/equality replay). */
  val groundedValue = "NATION_14"

  private val dim = 64

  /** Write-once collection artifact for the nation table: `chunks/` (the
    * chunked rows + stub embeddings + source_table, exactly what
    * `IngestionPipeline.writeCollection` serves the pipeline) and `qvec/`
    * (the question's stub embedding — persisted so the oracle replays the
    * scoring without the xxhash64 kernel DuckDB lacks; float roundtrip
    * through parquet is exact, so inline and persisted vectors are
    * bit-identical). */
  def ensureGroundCollection(s: SparkSession, sf: String): String =
    ArtifactStore.record("nl_ground", ArtifactStore.ensure("nl_ground",
        ArtifactStore.sourceName(sf, "nation", s"nlground-v1:$question")) { tmp =>
      val df = s.read.parquet(s"$sf/nation.parquet")
      val chunks = IngestionPipeline.chunkTable(df, df.columns.head, budget = 1000)
      chunks
        .withColumn("embedding", IngestionPipeline.stubEmbed(dim)(col("text")))
        .withColumn("source_table", lit("nation"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$tmp/chunks")
      s.range(1)
        .select(IngestionPipeline.stubEmbed(dim)(lit(question)).as("qv"))
        .write.mode("overwrite").parquet(s"$tmp/qvec")
    })

  /** The driver face: run the misspelled question through the REAL
    * pipeline and emit the grounded SQL's rows joined with the evidence —
    * which chunk (id + score) the exact value was extracted from. */
  def qNlSemanticGround(s: SparkSession, sf: String): DataFrame = {
    val dir = ensureGroundCollection(s, sf)
    val catalog = Seq(CatalogOps.profileTable(s, sf, "nation"))
    val ans = QueryPipeline.run(s, question, catalog,
      collectionPath = Some(s"$dir/chunks"))
    val sub = ans.subResults.head
    require(sub.error.isEmpty, s"grounding pipeline errored: ${sub.error}")
    import s.implicits._
    sub.grounding.headOption match {
      case Some(g) =>
        require(g.value == groundedValue,
          s"grounded to unexpected value ${g.value} (oracle pins $groundedValue)")
        val ev = Seq((g.chunkId, g.scoreE6, g.value))
          .toDF("chunk_id", "score_e6", "grounded_value")
        sub.result.crossJoin(broadcast(ev))
      case None =>
        // empty corpus (the empty-input contract): nothing retrieved →
        // nothing grounded → an empty frame in the face's exact shape
        s.read.parquet(s"$sf/nation.parquet").limit(0)
          .withColumn("chunk_id", lit(0L))
          .withColumn("score_e6", lit(0L))
          .withColumn("grounded_value", lit(""))
    }
  }
}
