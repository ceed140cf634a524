package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Lexical retrieval + statistical text-model operators over `documents` —
  * the sparse-search counterpart to `VectorOps`' dense path. The reference
  * retrieves by embedding cosine only (`chroma_retrieval_util.py:112-142`);
  * a production corpus engine also needs keyword (BM25) retrieval, hybrid
  * fusion of the two rankings, deterministic keyword extraction (the
  * engine-side analog of the reference's LLM "topics"/"tags" fields,
  * `ingestion_pipeline_langgraph.py:1044-1056`), and cheap corpus-statistics
  * quality models (n-gram LM) for data curation.
  *
  * Scale shapes (100 TB):
  *  - Per-query work is filtered to the query's terms BEFORE any shuffle, so
  *    the tf aggregation is O(matching postings), not O(corpus tokens);
  *    document frequencies for a handful of terms broadcast. (The ad-hoc
  *    paths still tokenize the corpus once per stat branch — Catalyst
  *    recomputes lineage across join branches — which is exactly what the
  *    persisted inverted index eliminates for standing workloads.)
  *  - The bigram LM trains with shuffles keyed on (w1,w2) / w1 — linear in
  *    corpus tokens, never doc×doc; scoring re-joins on the same keys.
  *
  * Float determinism: every log/division score is collapsed to micro-ints
  * (`round(x*1e6)` AS BIGINT) at the PER-TERM level, so all downstream sums
  * are order-independent integer sums (see Tables.dsum rationale).
  */
object SearchOps {

  /** Fixed demo query — terms chosen from the corpus vocabulary with
    * differing document frequencies. */
  val queryTerms: Seq[String] = Seq("vector", "join", "fast")
  val K1 = 1.2
  val B  = 0.75

  private def e6(c: Column): Column = round(c * 1000000, 0).cast("long")

  private def toks(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Per-(doc, query-term) BM25 partial scores in micro-units.
    *
    * idf(t)   = ln((N - df + 0.5)/(df + 0.5) + 1)          [Robertson/Lucene]
    * tfn(t,d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * One corpus pass computes dl per doc; `avgdl`/`N` reduce to a 1-row
    * broadcast; the posting explode is filtered to `terms` before the tf
    * aggregation, and the tiny per-term df table broadcasts back. */
  private def bm25PerTerm(s: SparkSession, sf: String, terms: Seq[String]): DataFrame = {
    // (r18 note: a single-tokenize-pass variant — sentinel rows carrying
    // dl through the tf aggregation so stats needn't re-tokenize — was
    // implemented and MEASURED SLOWER in alternating A/B blocks at
    // sf0.1/32c: the stats branch below is a no-shuffle map-side 1-row
    // aggregate, cheap by construction, while the sentinel shape made the
    // expensive explode+groupBy pass wider. Kept the two-pass shape.)
    val docs = tWide(s, sf, "documents")
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    // df per term is count(1): tf rows are unique per (doc, term) by
    // construction, so a countDistinct expansion is dead weight
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * (K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), e6(idf * tfn).as("s_e6"))
  }

  /** BM25 document scores: integer sum of per-term micro-scores. */
  def bm25Scores(s: SparkSession, sf: String, terms: Seq[String]): DataFrame =
    bm25PerTerm(s, sf, terms)
      .groupBy("doc_id")
      .agg(sum(col("s_e6")).as("bm25_e6"), count(lit(1)).as("n_terms"))

  /** X19: BM25 lexical top-k — the sparse side of hybrid retrieval.
    * orderBy+limit lowers to TakeOrderedAndProject (per-partition heaps). */
  def qBm25Topk(s: SparkSession, sf: String): DataFrame =
    bm25Scores(s, sf, queryTerms)
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
      .limit(15)

  /** The ad-hoc BM25 path above tokenizes the corpus once per branch (tf,
    * df) — fine for a one-shot query, but a standing search workload builds
    * an INVERTED INDEX once and probes it. `ensureLexIndex` persists that
    * index as a write-once `ArtifactStore` artifact:
    *   postings_pos/ (term, doc_id, dl, positions) — positional postings,
    *             range-partitioned AND sorted by term, so a probe's
    *             `term IN (...)` predicate pushes into the parquet scan and
    *             row-group min/max skip everything else
    *   postings/ (term, doc_id, dl, tf) — frequency postings (tf = length
    *             of the position list), same layout
    *   terms/    (term, df, ctf) — per-term document/collection frequency
    *   stats/    (n_docs, avgdl, sum_dl) — one row
    * The corpus is tokenized exactly ONCE per build; `postings`/`terms`
    * derive from reading back the just-written positional postings
    * (index-sized scans, not corpus scans). `stats` comes from the
    * tokenized DOCUMENTS frame, not the postings read-back: posexplode of a
    * NULL text emits no postings, so a postings-derived n_docs would drop
    * null-text documents that the ad-hoc path's count(lit(1)) counts — the
    * docs-side aggregate keeps indexed scores bit-identical to
    * `bm25Scores` on any corpus. `sum_dl` (exact integer) is carried so
    * segment merges can recombine avgdl exactly (weighted means drift). */
  def buildLexIndex(s: SparkSession, sf: String, outDir: String): Unit =
    buildLexIndexFrom(tWide(s, sf, "documents"), outDir)

  /** Index tables are written with SMALL row groups (512 KB vs parquet's
    * 128 MB default): the postings are term-sorted, so small row groups
    * give each group a TIGHT term min/max range — a probe's term
    * predicates then skip whole groups instead of decoding the file, and
    * a range-chunked probe (see [[bm25IndexPerTerm]]) parallelizes across
    * groups of one file. At 100 TB the index is many files and this is
    * moot; at bench scale it is the difference between a serial
    * whole-file decode and a pruned parallel scan. */
  private def zstd(df: DataFrame, p: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.block.size", 512 * 1024)
      .parquet(p)

  /** Index one batch of documents (the whole corpus, or one append
    * segment) into `outDir`. A segment is a complete mini-index — same
    * four tables, same layout — so probes and merges treat "full index"
    * and "segment" uniformly. */
  def buildLexIndexFrom(documents: DataFrame, outDir: String): Unit = {
    val docsTok = documents
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    zstd(docsTok.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      sum(col("dl")).as("sum_dl")), s"$outDir/stats")
    val postingsPos = docsTok
      .select(col("doc_id"), col("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    zstd(postingsPos.repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id"), s"$outDir/postings_pos")
    derivePostingsTables(documents.sparkSession, outDir)
  }

  /** Re-derive `postings` and `terms` from an already-written
    * `postings_pos` — index-sized scans, shared by build and merge
    * (`stats` must already be written at `outDir`).
    *
    * `postings` DENORMALIZES the scoring constants into each row (per-term
    * df, corpus n_docs/avgdl — the Lucene term-dictionary data, fused):
    * a BM25 probe then needs ZERO joins beside its broadcast query frame —
    * measured, the separate terms/stats broadcast builds cost the probe
    * three scheduler round-trips of pure fixed latency per query. Storage
    * is ~free: df repeats within a term run and n_docs/avgdl are
    * constants, so zstd flattens them. Merges stay exact: df/n_docs/avgdl
    * are RE-derived here from the merged postings_pos + merged stats,
    * never unioned from per-segment values. */
  private def derivePostingsTables(s: SparkSession, outDir: String): Unit = {
    val backPos = s.read.parquet(s"$outDir/postings_pos")
    val stats = s.read.parquet(s"$outDir/stats")
      .select(col("n_docs"), col("avgdl"))
    val tfRows = backPos
      .select(col("term"), col("doc_id"), col("dl"),
        size(col("positions")).cast("long").as("tf"))
    val dfq = tfRows.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("ctf"))
    zstd(tfRows
      .join(dfq.select("term", "df").hint("shuffle_hash"), Seq("term"))
      .crossJoin(broadcast(stats))
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id"), s"$outDir/postings")
    zstd(dfq, s"$outDir/terms")
  }

  /** Segment MERGE: combine per-batch segment indexes into one index with
    * the exact layout (and exact scores) of a from-scratch build — corpus
    * appends re-index only the delta, never the base. Segments must cover
    * disjoint doc_id batches (append semantics). Work is INDEX-sized:
    * positional postings union + one re-sort by term (so `term IN` pushes
    * into the merged scan exactly as before), `postings`/`terms` re-derived
    * from the merged postings, and `stats` recombined from the segments'
    * exact integer (n_docs, sum_dl) — avgdl = Σsum_dl / Σn_docs is
    * bit-identical to a whole-corpus aggregate, so BM25 over the merged
    * index equals a from-scratch build term for term. The reference's
    * refresh story is delete-then-recreate of a whole collection
    * (`chroma_ingestion_util.py:267-327`); at 100 TB a rebuild-per-append
    * is untenable — this is the LSM-ish alternative: seal segments, merge
    * periodically (compaction discipline as in IngestOps.compact). */
  def mergeLexIndex(s: SparkSession, segDirs: Seq[String], outDir: String): Unit = {
    require(segDirs.nonEmpty, "mergeLexIndex: no segments")
    val pos = segDirs.map(d => s.read.parquet(s"$d/postings_pos"))
      .reduce(_.unionByName(_))
    zstd(pos.repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id"), s"$outDir/postings_pos")
    // stats FIRST: derivePostingsTables denormalizes the merged
    // n_docs/avgdl into the postings rows, so it reads this table
    val st = segDirs.map(d => s.read.parquet(s"$d/stats"))
      .reduce(_.unionByName(_))
    zstd(st.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"),
        col("sum_dl")), s"$outDir/stats")
    derivePostingsTables(s, outDir)
  }

  /** The persisted inverted index described above, one per documents
    * fingerprint. */
  def ensureLexIndex(s: SparkSession, sf: String): String =
    // v5: 512 KB row groups (pruned/parallel probes) + df/n_docs/avgdl
    // denormalized into postings (join-free probe) — layout changes only,
    // scores are bit-identical to v3
    ArtifactStore.ensure("lex_index", ArtifactStore.sourceName(sf, "documents", "v5"))(
      tmp => buildLexIndex(s, sf, tmp.toString))

  /** BM25 scores over the persisted inverted index: the probe reads ONLY
    * the query terms' posting lists (`term IN (...)` pushes into the sorted
    * parquet scan), joins the tiny per-term df rows and 1-row stats by
    * broadcast, and sums integer micro-scores — zero corpus-sized work at
    * query time. Bit-identical to `bm25Scores` (same counts, same
    * arithmetic), which is what lets `q_bm25_index_topk` share
    * `q_bm25_topk`'s oracle. */
  def bm25IndexScores(s: SparkSession, sf: String, terms: Seq[String]): DataFrame =
    bm25IndexScoresAt(s, ensureLexIndex(s, sf), terms)

  /** Per-(doc, term) BM25 micro-scores over a persisted index directory —
    * the probe-side primitive [[bm25IndexScoresAt]] and
    * [[qRetrievalMetrics]] share: postings read ONLY the query terms
    * (`term IN (...)` pushes into the term-sorted parquet scan), the tiny
    * per-term df rows and 1-row stats broadcast. Bit-identical per-term
    * scores to `bm25PerTerm` (same counts, same arithmetic). */
  /** Pinned layouts of the probe-path index tables: schema inference costs
    * one footer-read JOB per table per query (measured 0.3 s of
    * `q_retrievalMetrics`' fixed latency) — the layout is this file's own
    * write contract, so probes declare it instead of re-discovering it. */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("avgdl",
      org.apache.spark.sql.types.DoubleType)))

  private def bm25IndexPerTerm(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    // wide IN lists (the retrieval-eval shape, ~300 terms) read as K
    // range-disjoint scans unioned: the postings are term-sorted with
    // small row groups, so each scan's [lo, hi] range predicate prunes to
    // its own row groups and the K scans run as K PARALLEL tasks of one
    // stage — a few-MB single-file index otherwise decodes serially in
    // one task (measured: 0.9 s of q_retrieval_metrics). Narrow IN lists
    // (top-k probes) keep the single pruned scan.
    val distinctTerms = terms.distinct.sorted
    // ONE relation, filtered per chunk — each union branch still plans its
    // own scan with its own pushed range+IN predicates, but the driver
    // builds ONE file index / schema resolution instead of K (r18: the
    // K=8 separate read.parquet calls were pure per-call driver latency)
    val base = s.read.schema(postingsSchema).parquet(s"$dir/postings")
    def scanChunk(ch: Seq[String]) =
      base.filter(col("term") >= ch.head && col("term") <= ch.last &&
        col("term").isin(ch: _*))
    val postings =
      if (distinctTerms.size <= 8)
        base.filter(col("term").isin(terms: _*))
      else {
        // the serial cost is the per-posting fan-out work riding the scan
        // task (filter + broadcast-join + exchange write), so even a
        // FEW-term probe over frequent terms wants the K-way split
        val k = 8
        val per = math.max(1, math.ceil(distinctTerms.size / k.toDouble).toInt)
        distinctTerms.grouped(per).map(scanChunk).reduce(_.unionByName(_))
      }
    // df / n_docs / avgdl ride each postings row (denormalized at build —
    // see derivePostingsTables), so scoring is a pure projection: no
    // terms/stats broadcast builds, no joins, no extra scheduler
    // round-trips — the arithmetic is unchanged, scores stay bit-exact
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfn = (col("tf") * (K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    postings.select(col("doc_id"), col("term"), e6(idf * tfn).as("s_e6"))
  }

  /** Probe an explicit index directory — the entry point a segment-merged
    * index (see `mergeLexIndex`) is queried through. */
  def bm25IndexScoresAt(s: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    bm25IndexPerTerm(s, dir, terms)
      .groupBy("doc_id")
      .agg(sum(col("s_e6")).as("bm25_e6"), count(lit(1)).as("n_terms"))

  /** X19c: BM25 top-k over the persisted inverted index — the standing-
    * workload face of `qBm25Topk`, same results by construction. */
  def qBm25IndexTopk(s: SparkSession, sf: String): DataFrame =
    bm25IndexScores(s, sf, queryTerms)
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
      .limit(15)

  /** Fixed batch of queries for `qBm25Batch` in exploded (query_id, term)
    * form — the shape a retrieval-eval harness feeds in. */
  val batchQueries: Seq[(Long, String)] = Seq(
    0L -> "vector", 0L -> "join", 0L -> "fast",
    1L -> "table", 1L -> "scan",
    2L -> "hash", 2L -> "merge", 2L -> "sort",
    3L -> "spark", 3L -> "stream", 3L -> "window",
    4L -> "customer", 4L -> "query", 4L -> "big")

  /** X19b: batch BM25 — one distributed plan scores EVERY query of a batch
    * (the retrieval-eval shape; symmetric with `VectorOps.qIvfTopkBatch`).
    * The corpus side is computed once for the whole batch: postings filter
    * against the batch's distinct terms (broadcast), tf/df aggregate once
    * per (doc, term) / term, and only then fan out to (query_id, doc)
    * partial scores — so adding queries grows the tiny broadcast side, not
    * the corpus work. Per-query top-k is a window keyed on query_id. */
  def qBm25Batch(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    // r18: the batch face probes the persisted inverted index — the
    // q_retrieval_metrics / RM3 treatment. A standing retrieval-eval
    // workload is exactly what the index exists for; the per-(doc, term)
    // micro-scores from `bm25IndexPerTerm` are bit-identical to the
    // retired ad-hoc aggregation (index tf/df/dl/stats equal the ad-hoc
    // aggregates by construction — the invariant `q_bm25_index_topk`
    // hash-proves by sharing `q_bm25_topk`'s oracle), so the UNCHANGED
    // oracle, which replays the full ad-hoc chain in DuckDB, certifies
    // the indexed path end to end. Work at query time is O(posting lists
    // of the batch's 14 terms), never O(corpus tokens); the ad-hoc
    // from-the-corpus formulation remains exercised (and timed) by
    // `q_bm25_topk`.
    val dir = ensureLexIndex(s, sf)
    val queries = batchQueries.toDF("query_id", "term")
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
    bm25IndexPerTerm(s, dir, batchQueries.map(_._2))
      .join(broadcast(queries), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s_e6")).as("bm25_e6"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("bm25_e6"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** X67: retrieval-quality evaluation harness — recall@k and MRR@10 for
    * BM25 over a deterministic self-retrieval benchmark: the eval set is
    * the fixed first-100 documents (eval sets stay fixed-size while the
    * corpus grows — the standard IR-eval regime), each query is the source
    * document's first three tokens, and the relevant document is the
    * source itself.
    *
    * Since r14 the eval scores THE PRODUCTION PATH: per-(doc, term)
    * partials come from the persisted inverted index
    * ([[bm25IndexPerTerm]] — the same `term IN` pushed into the
    * term-sorted postings scan that `q_bm25_index_topk` serves), not from
    * an ad-hoc corpus re-tokenization. The only corpus-side work left is
    * tokenizing the 100 eval documents (doc_id < 100 pushes into the
    * documents scan). Metric values are unchanged — index tf/df/dl/stats
    * are bit-identical to the ad-hoc aggregates by construction (the
    * invariant `q_bm25_index_topk` hash-proves by sharing `q_bm25_topk`'s
    * oracle) — so the UNCHANGED oracle, which replays the ad-hoc chain,
    * now certifies the indexed path end to end.
    *
    * Everything is integer-exact: ranks are integers; MRR is carried as
    * Σ(2520 div rank) over hits (2520 = lcm(1..10), so every reciprocal
    * rank at k=10 is an exact integer — no float mean to drift between
    * engines); recall@k are hit counts.
    *
    * 100 TB shape: eval-set size is a constant — the distinct eval terms
    * (≤ 3 × 100) are a bounded driver read feeding the `IN` pushdown, the
    * query frame broadcasts, probe work is O(matching postings); the
    * ranking window partitions by query_id (parallel across the eval
    * set), and only per-query top-rank rows survive to the final 1-row
    * aggregate. */
  def qRetrievalMetrics(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    val dir = ensureLexIndex(s, sf)
    // ONE bounded driver read (≤ 3 × 100 (query, term) rows, duplicates
    // preserved — a repeated query token scores twice, the oracle's
    // unnest semantics) feeds BOTH the literal `term IN` pushdown and the
    // broadcast query frame as a LocalRelation, so the main plan touches
    // ONLY index tables — no second corpus tokenization. The documents
    // schema is pinned: inference would spend a footer-read job per call.
    val docsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    val qPairs = s.read.schema(docsSchema).parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 100)
      .select(col("doc_id").as("query_id"),
        explode(slice(toks(col("text")), 1, 3)).as("term"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val termSeq = qPairs.map(_._2).distinct
    val nQueries = qPairs.map(_._1).distinct.size.toLong
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
    // the term → [query ids] fan-out is a LITERAL MAP projection, not a
    // broadcast join: the eval set is bounded driver data (≤ 300 pairs),
    // so embedding it as a map literal deletes the broadcast-build job
    // and its scheduler round-trip; duplicates inside a value array keep
    // the repeated-query-token semantics (scores twice, the oracle's
    // unnest). ONE exchange then serves the whole pipeline:
    // hash-partitioning the fanned-out postings on query_id spreads the
    // work (the term-filtered postings are a few MB → ONE input split
    // would glue it to a single task) AND already satisfies both
    // downstream distribution requirements — ClusteredDistribution(
    // query_id, doc_id) of the partial-sum aggregate (a subset of the
    // clustering keys clusters it) and the ranking window's
    // partitionBy(query_id). The r14 round-robin repartition spread the
    // same work but satisfied neither, costing two more exchanges (and
    // two more AQE stage-jobs of fixed latency).
    val termToQueries: Column =
      if (qPairs.isEmpty) // empty corpus: zero-arg map() is VOID-typed
        lit(null).cast("map<string,array<bigint>>")
      else map(
        qPairs.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (t, ps) =>
          Seq(lit(t), array(ps.map(p => lit(p._1)): _*))
        }: _*)
    val ranked = bm25IndexPerTerm(s, dir, termSeq)
      .select(col("doc_id"), col("s_e6"),
        explode(element_at(termToQueries, col("term"))).as("query_id"))
      .repartition(col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s_e6")).as("bm25_e6"))
      .withColumn("rk", row_number().over(w).cast("long"))
    // every query's OWN document matches its own first-3 tokens (the
    // index is built from the same corpus), so each of the nQueries ids
    // is guaranteed a relevant row in `ranked` — the per-query left join
    // the oracle writes reduces to a filtered 1-row aggregate with the
    // (driver-known) query count as a literal
    ranked.filter(col("doc_id") === col("query_id"))
      .agg(
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("hits_at_1"),
        sum(when(col("rk") <= 5, 1L).otherwise(0L)).as("hits_at_5"),
        sum(when(col("rk") <= 10, 1L).otherwise(0L)).as("hits_at_10"),
        sum(when(col("rk") <= 10, expr("2520 div rk")).otherwise(0L))
          .as("mrr_x2520"))
      .select(lit(nQueries).as("n_queries"),
        coalesce(col("hits_at_1"), lit(0L)).as("hits_at_1"),
        coalesce(col("hits_at_5"), lit(0L)).as("hits_at_5"),
        coalesce(col("hits_at_10"), lit(0L)).as("hits_at_10"),
        coalesce(col("mrr_x2520"), lit(0L)).as("mrr_x2520"))
  }

  /** Demo phrase for the phrase-match queries (both words corpus-frequent;
    * adjacency is what's being tested). */
  val phrase: Seq[String] = Seq("hash", "join")

  /** 3-term demo phrase — extends `phrase` by one hop so the driver oracle
    * exercises the multi-hop fold (k>2), not just the single-join bigram
    * case. Present at every SF of the synthetic corpus. */
  val phrase3: Seq[String] = Seq("hash", "join", "fast")

  private def countBySource(matched: DataFrame): DataFrame =
    matched.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** X23: positional phrase match, direct path — the positional-index
    * intersection shape: each phrase term's (doc, pos) list is filtered out
    * of the token stream BEFORE any shuffle, then chained with equi-joins
    * on (doc_id, pos + offset). Work is O(position lists of the phrase's
    * terms), never O(corpus tokens), and every join is an equi-join (no
    * range/nested-loop fallback). Output: per-source count of docs
    * containing the phrase. */
  def phraseMatchDocs(s: SparkSession, sf: String, ph: Seq[String]): DataFrame = {
    val pos = tWide(s, sf, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(toks(col("text"))).as(Seq("pos", "term")))
    val first = pos.filter(col("term") === ph.head)
      .select(col("doc_id"), col("source"), col("pos"))
    ph.zipWithIndex.tail.foldLeft(first) { case (acc, (term, i)) =>
      val next = pos.filter(col("term") === term)
        .select(col("doc_id").as("d2"), (col("pos") - i).as("p2"))
      acc.join(next, acc("doc_id") === col("d2") && acc("pos") === col("p2"))
        .select(acc("doc_id"), acc("source"), acc("pos"))
    }.select("doc_id", "source").distinct()
  }

  def qPhraseMatch(s: SparkSession, sf: String): DataFrame =
    countBySource(phraseMatchDocs(s, sf, phrase))

  /** X23 at k=3: same fold, one more positional hop. */
  def qPhraseMatch3(s: SparkSession, sf: String): DataFrame =
    countBySource(phraseMatchDocs(s, sf, phrase3))

  /** X23b: phrase match over the persisted positional index — reads ONLY
    * the phrase terms' position lists (`term IN` pushed into the sorted
    * postings_pos scan), then chains candidate start positions with array
    * intersection per doc: ps := {p ∈ ps | p + i ∈ positions(term_i)}.
    * Zero corpus-sized work at query time; doc→source attribution is one
    * equi-join against the documents table, keyed on doc_id. Shares
    * `q_phrase_match`'s oracle (an independent LIKE formulation). */
  /** Pinned layout of `postings_pos` — same rationale as
    * [[postingsSchema]]: schema inference costs a footer read per call on
    * the probe path, and the layout is this file's own write contract. */
  private val postingsPosSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("positions",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType))))

  def phraseMatchIndexDocs(s: SparkSession, sf: String, ph: Seq[String]): DataFrame = {
    val dir = ensureLexIndex(s, sf)
    val pp = s.read.schema(postingsPosSchema).parquet(s"$dir/postings_pos")
    def listsOf(term: String, as: String) =
      pp.filter(col("term") === term).select(col("doc_id"), col("positions").as(as))
    val seed = listsOf(ph.head, "ps")
    val matched = ph.zipWithIndex.tail.foldLeft(seed) { case (acc, (term, i)) =>
      acc.join(listsOf(term, s"p$i"), "doc_id")
        .withColumn("ps", expr(s"filter(ps, p -> array_contains(p$i, p + $i))"))
        .filter(size(col("ps")) > 0)
        .select(col("doc_id"), col("ps"))
    }
    matched.select("doc_id")
      .join(t(s, sf, "documents").select("doc_id", "source"), "doc_id")
  }

  def qPhraseMatchIndex(s: SparkSession, sf: String): DataFrame =
    countBySource(phraseMatchIndexDocs(s, sf, phrase))

  /** X23b at k=3: two chained array-intersection hops over the positional
    * index; shares `q_phrase_match3`'s independent LIKE oracle. */
  def qPhraseMatch3Index(s: SparkSession, sf: String): DataFrame =
    countBySource(phraseMatchIndexDocs(s, sf, phrase3))

  /** X20: hybrid retrieval — reciprocal-rank fusion (K=60) of the BM25
    * ranking with the dense cosine ranking (query vector = `vec_id = 0`,
    * matching `VectorOps.qCosineTopk`). Each side is first cut to its own
    * top-50 (TakeOrderedAndProject — the only corpus-sized work), so the
    * fusion join touches ≤100 rows regardless of corpus size. A doc absent
    * from one list contributes 0 from that side (full-outer + coalesce). */
  def qHybridRrf(s: SparkSession, sf: String): DataFrame =
    hybridRrf(s, sf, bm25Scores(s, sf, queryTerms))

  /** X20b: hybrid fusion with the LEXICAL side served by the persisted
    * inverted index — the standing-workload face of `qHybridRrf`. The
    * ad-hoc path re-tokenizes the corpus once per statistic branch inside a
    * fused query; this variant's lexical work is posting-list-sized
    * (`term IN` pushed into the sorted postings scan), so the only
    * corpus-sized work left in the whole query is the dense side's one
    * scan of `embeddings`. `bm25IndexScores` is bit-identical to
    * `bm25Scores`, so this shares `q_hybrid_rrf`'s oracle verbatim. */
  def qHybridRrfIndex(s: SparkSession, sf: String): DataFrame =
    hybridRrf(s, sf, bm25IndexScores(s, sf, queryTerms))

  private def hybridRrf(s: SparkSession, sf: String, lexScores: DataFrame): DataFrame = {
    val rrfK = 60
    val n    = 50
    val lex50 = lexScores
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
      .limit(n)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25_e6").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val e = t(s, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dense50 = e.crossJoin(broadcast(q))
      .select(col("vec_id"), e6(cosineFast(col("embedding"), col("qv"))).as("score_e6"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
      .limit(n)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("score_e6").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id"), col("dense_rank"))
    val fused = lex50.join(dense50, lex50("doc_id") === dense50("vec_id"), "full_outer")
      .select(
        coalesce(lex50("doc_id"), dense50("vec_id")).as("id"),
        col("lex_rank"), col("dense_rank"))
    fused
      .withColumn("rrf_e6",
        e6(coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0))))
      .select(col("id"), col("rrf_e6"), col("lex_rank"), col("dense_rank"))
      .orderBy(col("rrf_e6").desc, col("id").asc)
      .limit(15)
  }

  /** X21: TF-IDF keyword extraction — per-document top-3 terms by
    * tf·ln((N+1)/(df+1)), stopwords excluded; the deterministic analog of
    * the reference's LLM-generated per-table `tags`/`key_topics`
    * (`ingestion_pipeline_langgraph.py:1044-1056`). Document frequencies are
    * corpus-wide (one explode→agg keyed on term, vocab-bounded); the scored
    * subset (`docPred`) filters BEFORE its tf aggregation; per-doc top-N is
    * a window over each doc's own terms.
    *
    * Join shapes, locked for scale: `stats` is a 1-row broadcast. The
    * df-side join deliberately stays a shuffle join keyed on term — BOTH
    * sides are already aggregates (subset tf ≤ subset tokens; df is
    * vocab-bounded), never corpus-row-sized, and neither is safely
    * broadcastable in general: the vocabulary of a 100 TB corpus is too
    * large, and `docPred` is caller-chosen so the tf side can be
    * arbitrarily wide. A shuffle keyed on term is the shape that survives
    * both. The corpus-sized token stream feeds partial (map-side)
    * aggregates before any exchange. */
  def qTfidfKeywords(s: SparkSession, sf: String): DataFrame =
    tfidfKeywords(s, sf, col("doc_id") < 20, topN = 3)

  /** Shared stopword list for keyword extraction and query expansion. */
  val stopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def tfidfKeywords(s: SparkSession, sf: String, docPred: Column,
      topN: Int): DataFrame = {
    val stop = stopWords
    val tokens = tWide(s, sf, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(!col("term").isin(stop: _*))
    // r18: ONE corpus-token aggregation — the (doc, term) count table —
    // serves df AND n_docs as vocab-sized RE-aggregations (ReusedExchange
    // between the two consumers), where the old shape ran two independent
    // full-corpus passes, each with a countDistinct expansion over the raw
    // token stream. tf keeps its own subtree: docPred pushes into the
    // parquet scan there, so that branch is subset-sized by construction.
    val tfc = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val stats = tfc.agg(countDistinct("doc_id").as("n_docs"))
    val dfT = tfc.groupBy("term").agg(count(lit(1)).as("df"))
    val tf = tokens.filter(docPred)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val idf = log((col("n_docs") + 1.0) / (col("df") + 1.0))
    val scored = tf.join(dfT, "term").crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), e6(col("tf") * idf).as("tfidf_e6"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_e6").desc, col("term").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topN)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf_e6"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** X24: pseudo-relevance-feedback query expansion (RM3-style). Retrieval
    * quality's cheapest big win: run the query, take the top `fbDocs`
    * documents as implicit relevance feedback, and mine them for the terms
    * that best expand the query. The reference can only rephrase queries by
    * LLM (`langgraph_pipeline.py` decompose/rewrite hooks); this is the
    * engine-side statistical analog, fully deterministic.
    *
    * Term weight is the classic RM1 estimate with BM25 relevance weights,
    * kept in exact integers: w(t) = Σ_{d ∈ F} tf(t,d) · bm25_e6(d) — each
    * token OCCURRENCE contributes its document's micro-int score once, so
    * the weight is an order-independent integer sum (no float drift).
    * Original query terms and stopwords are excluded; ties break on term.
    *
    * Scale shape: the feedback set is `fbDocs` rows (a TakeOrderedAndProject
    * over the BM25 scores, which are themselves posting-sized — see
    * `bm25PerTerm`). The corpus token stream joins that ≤`fbDocs`-row set by
    * BROADCAST hash join directly after the scan, so only the feedback
    * documents' own tokens survive to the term aggregation — work after the
    * scan is O(tokens of fbDocs docs), not O(corpus). (On a standing
    * corpus the scan itself collapses too: fetch the fbDocs documents by id
    * from the doc store — or read tf straight from the inverted index's
    * postings via a doc_id-keyed probe.) The final top-N runs over the
    * feedback vocabulary (bounded by fbDocs · doclen), tiny by
    * construction; its unpartitioned window is over ≤ topN rows post-limit,
    * same discipline as `qPackSequences`' aggregate-only window. */
  def qRm3Expansion(s: SparkSession, sf: String): DataFrame =
    rm3Expansion(s, sf, queryTerms, fbDocs = 10, topN = 8)

  def rm3Expansion(s: SparkSession, sf: String, terms: Seq[String],
      fbDocs: Int, topN: Int): DataFrame = {
    val weights = rm3Weights(s, sf, terms, fbDocs)
      .orderBy(col("w_e6").desc, col("term").asc)
      .limit(topN)
    weights
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("w_e6").desc, col("term").asc)).cast("long"))
      .select(col("rk"), col("term"), col("w_e6"))
      .orderBy(col("rk"))
  }

  /** Unranked RM1 term weights over the feedback set (see `rm3Expansion`
    * for the weighting rationale): (term, w_e6), vocab-of-feedback-docs
    * sized.
    *
    * Since r16 this runs entirely on bounded probes instead of rebuilding
    * the ad-hoc BM25 scaffolding per stage (the q_retrieval_metrics
    * treatment): the feedback retrieval probes the persisted inverted
    * index, its ≤fbDocs result rows are a bounded driver read (the same
    * documented pattern as the skew-planner measurements), and turning the
    * doc ids into literals lets the feedback-document fetch push an
    * `In(doc_id)` filter into the documents scan — mining then explodes
    * the tokens of fbDocs documents only, never the corpus. Weights are
    * the same exact integer sums (tf(t,d)·bm25_e6(d) summed per
    * occurrence), so results are bit-identical to the retired ad-hoc
    * formulation and the oracle is unchanged. */
  private def rm3Weights(s: SparkSession, sf: String, terms: Seq[String],
      fbDocs: Int): DataFrame = {
    import s.implicits._
    val dir = ensureLexIndex(s, sf)
    val fb = bm25IndexScoresAt(s, dir, terms)
      .orderBy(col("bm25_e6").desc, col("doc_id").asc)
      .limit(fbDocs)
      .select(col("doc_id"), col("bm25_e6"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fbDf = fb.toDF("doc_id", "bm25_e6")
    tWide(s, sf, "documents")
      .filter(col("doc_id").isin(fb.map(_._1): _*))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(!col("term").isin((terms ++ stopWords): _*))
      .join(broadcast(fbDf), "doc_id")
      .groupBy("term")
      .agg(sum(col("bm25_e6")).as("w_e6"))
  }

  /** X24b: RM3 re-retrieval — run the EXPANDED query. The full
    * pseudo-relevance-feedback loop: retrieve (BM25 top-`fbDocs`), expand
    * (top-`topN` RM1 terms), re-retrieve with the combined weighted query.
    *
    * Exact-integer weighting (no float normalization, so the DuckDB oracle
    * matches hash-exactly): expansion term t carries its RM1 weight
    * w_e6(t); each ORIGINAL query term carries 2·max(w_e6) — the original
    * intent always outweighs any single mined term, the integer analog of
    * RM3's λ-interpolation. Final score(d) = Σ_t s_e6(t,d)·wt(t), a sum of
    * Long products (≤ ~1e15 per term, no overflow), order-independent.
    *
    * Scale shape: the weight table is ≤ |q|+topN rows and broadcasts into
    * `bm25PerTermDf`'s posting-sized pipeline; the only corpus-sized work
    * is the token scans already inherent to ad-hoc BM25 (a standing corpus
    * serves both from the inverted index instead). */
  def qRm3Rescore(s: SparkSession, sf: String): DataFrame =
    rm3Rescore(s, sf, queryTerms, fbDocs = 10, topN = 8, k = 15)

  def rm3Rescore(s: SparkSession, sf: String, terms: Seq[String],
      fbDocs: Int, topN: Int, k: Int): DataFrame = {
    import s.implicits._
    // the ≤topN expansion rows are a bounded driver read: as LITERALS the
    // expanded term set pushes `term IN (...)` into the index probe, so
    // re-retrieval is posting-sized index work — no corpus tokenize, no
    // localCheckpoint barrier, no per-consumer re-run of the feedback
    // pipeline (this was ~3 s of pure stage latency, flat in data)
    val dir = ensureLexIndex(s, sf)
    val exp = rm3Weights(s, sf, terms, fbDocs)
      .orderBy(col("w_e6").desc, col("term").asc)
      .limit(topN)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // empty corpus → no expansion terms; wmax 0 keeps the probe well-typed
    val wmax = if (exp.isEmpty) 0L else exp.map(_._2).max
    val wts = exp ++ terms.map(t => (t, wmax * 2))
    val twDf = wts.toDF("term", "wt")
    bm25IndexPerTerm(s, dir, wts.map(_._1))
      .join(broadcast(twDf), "term")
      .groupBy("doc_id")
      .agg(sum(col("s_e6") * col("wt")).as("rm3_e6"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("rm3_e6").desc, col("doc_id").asc)
      .limit(k)
  }

  /** X22: bigram-LM corpus quality score — add-one-smoothed average token
    * log-likelihood, ln((c(w1,w2)+1)/(c(w1)+V)), the cheap statistical
    * quality model (KenLM-style perplexity proxy) used to rank documents
    * for curation. Training = two count aggregations keyed on (w1,w2) / w1
    * (linear in corpus tokens); scoring re-joins each doc's bigrams on the
    * same keys; per-bigram log-probs collapse to micro-ints before the
    * per-doc integer sum, so results are reduction-order independent. */
  def qBigramLm(s: SparkSession, sf: String): DataFrame =
    bigramDocLp(s, sf)
      .withColumn("avg_lp_e6",
        col("sum_lp_e6").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")

  /** (doc_id, w1, w2) for every adjacent token pair — shared by LM training
    * and scoring so both sides see the identical bigram stream. */
  private def explodeBigrams(docsIn: DataFrame): DataFrame =
    docsIn
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Pinned layout of the LM artifact (schema inference costs a footer-read
    * job per query — see postingsSchema). */
  private val lmSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w1",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("w2",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lp_e6",
      org.apache.spark.sql.types.LongType)))

  /** X22 LM training, persisted: exact add-one-smoothed bigram log-probs
    * ln((c(w1,w2)+1)/(c(w1)+V)) DENORMALIZED to one row per distinct
    * (w1,w2) with the micro-int log-prob precomputed — the
    * q_retrieval_metrics treatment applied to the LM: scoring needs one
    * keyed join instead of retraining two corpus aggregations per query.
    * All inputs are exact integer counts, so the table is bit-identical
    * across rebuilds — which is why the q_bigram_lm oracle can keep
    * replaying FULL training in DuckDB: a stale or corrupt artifact would
    * hash-mismatch the independently-trained oracle. */
  private def buildBigramLm(s: SparkSession, sf: String, outDir: String): Unit = {
    val docsIn = tWide(s, sf, "documents")
    val unigrams = docsIn.select(explode(toks(col("text"))).as("w"))
    val c1 = unigrams.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    // |V| is exactly c1's row count — deriving it from the already-grouped
    // table instead of a second countDistinct over the raw token stream
    // drops a full corpus tokenize pass
    val vocab = c1.agg(count(lit(1)).as("v"))
    val cb = explodeBigrams(docsIn).groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val lp = log((col("cb") + 1.0) / (col("c1") + col("v")))
    zstd(cb
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), e6(lp).as("lp_e6"))
      .repartitionByRange(col("w1"), col("w2"))
      .sortWithinPartitions("w1", "w2"), s"$outDir/lm")
  }

  /** The persisted bigram-LM table (`lm/`) the doc scores are taken
    * against, one per documents fingerprint. */
  def ensureBigramLm(s: SparkSession, sf: String): String =
    ArtifactStore.ensure("bigram_lm", ArtifactStore.sourceName(sf, "documents", "lm-v1"))(
      tmp => buildBigramLm(s, sf, tmp.toString))

  /** Per-doc add-one-smoothed bigram log-prob totals under the corpus's own
    * LM — the scoring core shared by [[qBigramLm]] (report face) and
    * [[qPerplexityFilter]] (curation face). Docs with < 2 tokens have no
    * bigrams and drop out. Returns (doc_id, n_bigrams, sum_lp_e6); the sum
    * is over micro-int log-probs, so it is an order-free integer sum.
    * Scores against the PERSISTED LM (every corpus bigram is in the table
    * by construction, so the inner join loses nothing and n_bigrams is
    * exact). */
  private def bigramDocLp(s: SparkSession, sf: String): DataFrame = {
    val dir = ensureBigramLm(s, sf)
    val lm = s.read.schema(lmSchema).parquet(s"$dir/lm")
    explodeBigrams(tWide(s, sf, "documents"))
      .join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_e6")).as("sum_lp_e6"))
  }

  /** X35: CCNet-style perplexity bucketing (Wenzek et al. 2020) — score
    * every document under the corpus's own bigram LM and split each source
    * into head/middle/tail thirds by per-source LM-score percentiles
    * (head = most fluent, the slice CCNet keeps). CCNet makes this call
    * with a KenLM 5-gram model; re-expressed over the engine's
    * hash-verified bigram LM, the whole filter — scores, ranks, bucket
    * decisions — is oracle-checkable. The per-doc score collapses to a
    * micro-int (one double division of two exact ints, then round), and
    * the thirds are INTEGER rank arithmetic (`rn*3 <= n`), not
    * interpolated percentiles: an interpolated threshold at fractional
    * position (n-1)·⅓ lands an ulp away from a real data point and the
    * two engines flip boundary docs (observed at sf0.01, n=25/source).
    *
    * Scale shape: LM counts are keyed shuffles (w1 / (w1,w2)); ranking is
    * a per-source window (range-partitioned sort — the same shape as every
    * ranked report here); a pathological mega-source would swap in the
    * aggregated score-histogram + cumulative-count formulation on the same
    * integers. */
  def qPerplexityFilter(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = tWide(s, sf, "documents")
    val scored = bigramDocLp(s, sf)
      .withColumn("score_e6",
        round(col("sum_lp_e6").cast("double") / col("n_bigrams"), 0).cast("long"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val byScore = Window.partitionBy("source")
      .orderBy(col("score_e6").desc, col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(byScore).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("bucket",
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("score_e6")).as("min_score_e6"),
        max(col("score_e6")).as("max_score_e6"),
        round(sum(col("score_e6")).cast("double") / count(lit(1)), 0)
          .cast("long").as("avg_score_e6"))
      .orderBy("source", "bucket")
  }
}
