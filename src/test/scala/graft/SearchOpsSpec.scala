package graft

import org.apache.spark.sql.functions._
import graft.ops.{ArtifactStore, SearchOps}

/** Lexical retrieval + statistical text models (X19-X22). Oracle parity is
  * the driver's job; these specs lock the ranking/model invariants that an
  * oracle hash can't articulate. */
class SearchOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("search_docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bm25: higher tf on a query term ranks the doc higher, all else equal") {
    val filler = "pad pad pad pad pad"
    val dir = writeDocs(Seq(
      (1L, s"vector vector vector $filler", "en", "s0", 1L),
      (2L, s"vector pad pad $filler", "en", "s0", 1L),
      (3L, s"$filler pad pad pad", "en", "s0", 1L))) // no query term at all
    val out = SearchOps.qBm25Topk(spark, dir).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L),
      "doc with tf=3 outranks tf=1; doc without query terms absent")
    assert(out.forall(_.getAs[Long]("bm25_e6") > 0L))
  }

  test("bm25: longer documents are penalized at equal tf (length normalization)") {
    val dir = writeDocs(Seq(
      (1L, "vector pad", "en", "s0", 1L),
      (2L, "vector " + Seq.fill(40)("pad").mkString(" "), "en", "s0", 1L)))
    val scores = SearchOps.qBm25Topk(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bm25_e6")).toMap
    assert(scores(1L) > scores(2L))
  }

  test("bm25: rarer term carries a larger idf contribution than a ubiquitous one") {
    // "vector" appears in 1 of the 8 docs; "join" in 7 of 8 — same tf, same dl
    val docs = (1L to 5L).map(i => (i, "join pad pad pad", "en", "s0", 1L)) :+
      ((6L, "join pad pad pad", "en", "s0", 1L))
    val dir = writeDocs(docs :+ ((7L, "vector pad pad pad", "en", "s0", 1L))
      :+ ((8L, "join pad pad pad", "en", "s0", 1L)))
    val perTerm = SearchOps.bm25Scores(spark, dir, Seq("vector"))
      .collect().head.getAs[Long]("bm25_e6")
    val common = SearchOps.bm25Scores(spark, dir, Seq("join"))
      .collect().map(_.getAs[Long]("bm25_e6")).max
    assert(perTerm > common, s"rare-term score $perTerm should beat common-term $common")
  }

  test("hybrid rrf: fused score is bounded by 2/(K+1) and ids are unique") {
    val out = SearchOps.qHybridRrf(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 15)
    val ids = out.map(_.getAs[Long]("id"))
    assert(ids.distinct.length == ids.length)
    val maxRrf = math.round(1e6 * 2.0 / 61.0)
    assert(out.forall(_.getAs[Long]("rrf_e6") <= maxRrf))
    // a doc present in both lists must outrank one present in neither's top
    val both = out.filter(r => r.get(2) != null && r.get(3) != null)
    assert(both.nonEmpty, "testdata ids align, so some doc appears in both lists")
  }

  test("tfidf keywords: 3 per doc max, no stopwords, ranks contiguous from 1") {
    val out = SearchOps.qTfidfKeywords(spark, sf).collect()
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "it")
    assert(out.forall(r => !stop.contains(r.getAs[String]("term"))))
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      val rks = rows.map(_.getAs[Long]("rk")).sorted.toSeq
      assert(rks == (1L to rks.length).toSeq && rks.length <= 3)
    }
  }

  test("bigram lm: n_bigrams = n_tokens - 1; repetitive text scores higher than novel") {
    val dir = writeDocs(Seq(
      (1L, "a b a b a b a b", "en", "s0", 1L),   // one dominant bigram
      (2L, "c d e f g h i j", "en", "s0", 1L)))  // all singleton bigrams
    val out = SearchOps.qBigramLm(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_lp_e6"))).toMap
    assert(out(1L)._1 == 7L && out(2L)._1 == 7L)
    assert(out(1L)._2 > out(2L)._2,
      "the LM assigns higher average log-likelihood to corpus-typical (repeated) bigrams")
  }

  test("bigram lm: single-token docs are excluded, no crash") {
    val dir = writeDocs(Seq(
      (1L, "solo", "en", "s0", 1L),
      (2L, "two tokens", "en", "s0", 1L)))
    val out = SearchOps.qBigramLm(spark, dir).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
    assert(out.head.getAs[Long]("n_bigrams") == 1L)
  }

  test("bigram lm artifact: reuse on second call, fingerprint bump on corpus change") {
    val dir = writeDocs(Seq(
      (1L, "a b a b", "en", "s0", 1L),
      (2L, "c d e f", "en", "s0", 1L)))
    val d1 = SearchOps.ensureBigramLm(spark, dir)
    val marker = new java.io.File(d1, ArtifactStore.Marker)
    assert(marker.exists())
    val stamp = marker.lastModified()
    val before = SearchOps.qBigramLm(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sum_lp_e6")).toMap

    // reuse: same corpus → same dir, no rebuild
    val d2 = SearchOps.ensureBigramLm(spark, dir)
    assert(d2 == d1 && marker.lastModified() == stamp, "no rebuild on reuse")

    // fingerprint bump: regenerate the SAME corpus path with new content →
    // new artifact dir, and scores reflect the new corpus (a stale LM
    // would leave doc 1's score unchanged)
    Thread.sleep(1100) // mtime granularity can be 1 s
    Seq((1L, "a b a b", "en", "s0", 1L), (3L, "a b x y", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d3 = SearchOps.ensureBigramLm(spark, dir)
    assert(d3 != d1, "changed corpus content must map to a new artifact dir")
    val after = SearchOps.qBigramLm(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sum_lp_e6")).toMap
    assert(after.keySet == Set(1L, 3L))
    assert(after(1L) != before(1L),
      "doc 1 scores under the NEW corpus LM (vocab/counts changed)")
  }

  test("bm25 batch: query 0 of the batch reproduces the single-query top-5 exactly") {
    val single = SearchOps.qBm25Topk(spark, sf).limit(5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_e6"))).toSeq
    val batch = SearchOps.qBm25Batch(spark, sf)
      .filter(col("query_id") === 0L).orderBy("rk")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_e6"))).toSeq
    assert(batch == single,
      "batch fan-out must not change any per-(doc,term) micro-score")
  }

  test("bm25 batch: every query gets exactly 5 ranked hits with contiguous ranks") {
    val out = SearchOps.qBm25Batch(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to 5L))
    }
  }

  test("bm25 index: probe reproduces the direct-path top-15 exactly") {
    val direct = SearchOps.qBm25Topk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val indexed = SearchOps.qBm25IndexTopk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(indexed == direct,
      "index build must preserve every tf/df/dl/avgdl count bit-for-bit")
  }

  test("bm25 index: second ensure call reuses the committed artifact") {
    val d1 = SearchOps.ensureLexIndex(spark, sf)
    val marker = new java.io.File(d1, ArtifactStore.Marker)
    assert(marker.exists())
    val stamp = marker.lastModified()
    val d2 = SearchOps.ensureLexIndex(spark, sf)
    assert(d2 == d1 && marker.lastModified() == stamp, "no rebuild on reuse")
  }

  test("bm25 index plan: the term predicate pushes into the postings scan") {
    val dir = SearchOps.ensureLexIndex(spark, sf)
    val probe = spark.read.parquet(s"$dir/postings")
      .filter(col("term").isin(SearchOps.queryTerms: _*))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [In(term"),
      s"postings probe must push the IN(term) filter, got:\n$scan")
  }

  test("phrase match: adjacency required, order respected, repeats not double-counted") {
    val dir = writeDocs(Seq(
      (1L, "a hash join b", "en", "s0", 1L),          // match
      (2L, "a join hash b", "en", "s0", 1L),          // reversed — no
      (3L, "hash x join", "en", "s0", 1L),            // gap — no
      (4L, "hash join hash join", "en", "s1", 1L),    // twice — count once
      (5L, "hash", "en", "s1", 1L)))                  // prefix only — no
    val out = SearchOps.qPhraseMatch(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_docs")).toMap
    assert(out == Map("s0" -> 1L, "s1" -> 1L))
  }

  test("phrase match: index probe reproduces the direct path exactly") {
    val direct = SearchOps.qPhraseMatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val indexed = SearchOps.qPhraseMatchIndex(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(direct.nonEmpty, "testdata must contain the demo phrase")
    assert(indexed == direct)
  }

  test("rm3 expansion: terms disjoint from query+stopwords, weights descending, feedback set broadcast") {
    val out = SearchOps.qRm3Expansion(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 8)
    val rks = out.map(_.getLong(0)).toSeq
    assert(rks == (1L to out.length).toSeq, s"rk must be dense 1..n: $rks")
    val terms = out.map(_.getString(1)).toSeq
    val banned = (SearchOps.queryTerms ++ SearchOps.stopWords).toSet
    assert(terms.forall(t => !banned.contains(t)),
      s"expansion must exclude query terms and stopwords: $terms")
    val ws = out.map(_.getLong(2)).toSeq
    assert(ws == ws.sorted.reverse && ws.forall(_ > 0),
      s"weights must be positive and descending: $ws")
    // the ≤fbDocs feedback set must join the corpus token stream by
    // broadcast — the corpus side must never shuffle on doc_id
    val plan = SearchOps.qRm3Expansion(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"feedback-doc join must broadcast:\n$plan")
  }

  test("rm3 rescore: expanded query re-ranks; original terms dominate; weight table broadcast") {
    val out = SearchOps.qRm3Rescore(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 15)
    val scores = out.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse, "rescore must rank descending")
    // docs matching only original query terms still outrank docs matching
    // only expansion terms: original wt = 2*max(expansion) by construction.
    // Sanity-check via the weight relation on the output's n_terms bound:
    // a doc can match at most |q| + topN = 11 weighted terms
    assert(out.forall(_.getLong(2) <= 11L))
    // the ≤11-row weight table must broadcast into the token stream; the
    // corpus side must never shuffle corpus-sized data on term
    val plan = SearchOps.qRm3Rescore(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"weight-table join must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$plan")
  }

  test("bm25 plan: per-term df and corpus stats broadcast; no corpus-sized shuffle on the probe side") {
    val plan = SearchOps.qBm25Topk(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "df/stats tables must broadcast")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  private def overwriteDocs(dir: String,
      rows: Seq[(Long, String, String, String, Long)]): Unit =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("lex index segment merge: base+delta merged index equals a from-scratch build") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cut = docs.agg(avg(col("doc_id"))).head.getDouble(0)
    val tmp = java.nio.file.Files.createTempDirectory("lex_merge").toString
    SearchOps.buildLexIndexFrom(docs.filter(col("doc_id") < cut), s"$tmp/seg0")
    SearchOps.buildLexIndexFrom(docs.filter(col("doc_id") >= cut), s"$tmp/seg1")
    SearchOps.mergeLexIndex(spark, Seq(s"$tmp/seg0", s"$tmp/seg1"), s"$tmp/merged")
    SearchOps.buildLexIndexFrom(docs, s"$tmp/full")
    def scores(d: String) =
      SearchOps.bm25IndexScoresAt(spark, d, SearchOps.queryTerms)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val merged = scores(s"$tmp/merged")
    val full   = scores(s"$tmp/full")
    assert(merged.nonEmpty && merged == full,
      "merged-index BM25 must be bit-identical to a from-scratch build")
    // the direct (no-index) path is the independent cross-check
    val direct = SearchOps.bm25Scores(spark, sf, SearchOps.queryTerms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(merged == direct)
    // exact stats recombination: (n_docs, avgdl, sum_dl) bit-equal
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).head
    assert(stats(s"$tmp/merged") == stats(s"$tmp/full"))
    // per-term df/ctf identical after the merge's re-derivation
    def terms(d: String) = spark.read.parquet(s"$d/terms")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(terms(s"$tmp/merged") == terms(s"$tmp/full"))
  }

  test("lex index: null-text documents count in stats exactly as the direct path") {
    val dir = writeDocs(Seq(
      (1L, "vector join vector", "en", "s0", 1L),
      (2L, null.asInstanceOf[String], "en", "s0", 1L), // no postings, still a doc
      (3L, "vector fast", "en", "s1", 1L)))
    val direct = SearchOps.bm25Scores(spark, dir, Seq("vector"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val indexed = SearchOps.bm25IndexScores(spark, dir, Seq("vector"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(indexed == direct,
      "postings-derived stats would drop the null-text doc from n_docs/avgdl")
  }

  test("hybrid rrf: index-backed variant reproduces the ad-hoc variant exactly") {
    val direct  = SearchOps.qHybridRrf(spark, sf).collect().toSeq
    val indexed = SearchOps.qHybridRrfIndex(spark, sf).collect().toSeq
    assert(direct.nonEmpty && indexed == direct)
  }

  test("phrase match k=3: strict 3-term adjacency; direct and index paths agree") {
    val dir = writeDocs(Seq(
      (1L, "x hash join fast y", "en", "s0", 1L),               // match
      (2L, "hash join slow fast", "en", "s0", 1L),              // gap — no
      (3L, "fast join hash", "en", "s0", 1L),                   // reversed — no
      (4L, "hash join fast hash join fast", "en", "s1", 1L),    // twice — once
      (5L, "hash join", "en", "s1", 1L)))                       // prefix only — no
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toMap(SearchOps.qPhraseMatch3(spark, dir)) == Map("s0" -> 1L, "s1" -> 1L))
    assert(toMap(SearchOps.qPhraseMatch3Index(spark, dir)) == Map("s0" -> 1L, "s1" -> 1L))
  }

  test("tfidf keywords: scored subset and topN are caller-controlled") {
    val narrow = SearchOps.tfidfKeywords(spark, sf, col("doc_id") < 5, topN = 2)
      .collect()
    assert(narrow.nonEmpty)
    assert(narrow.forall(_.getAs[Long]("doc_id") < 5))
    assert(narrow.groupBy(_.getAs[Long]("doc_id")).values.forall(_.length <= 2))
    assert(narrow.forall(_.getAs[Long]("rk") <= 2))
    // the driver-facing wrapper keeps its original bound
    val std = SearchOps.qTfidfKeywords(spark, sf).collect()
    assert(std.forall(_.getAs[Long]("doc_id") < 20))
  }

  test("artifact fingerprint tracks part-file content inside a dataset directory") {
    import graft.ops.ArtifactStore
    val dir = writeDocs(Seq((1L, "alpha", "en", "s0", 1L)))
    val src = new java.io.File(s"$dir/documents.parquet")
    val fp1 = ArtifactStore.fingerprint(src, "t")
    assert(fp1.matches("[0-9a-f]{8}"))
    assert(ArtifactStore.fingerprint(src, "t") == fp1, "deterministic")
    assert(ArtifactStore.fingerprint(src, "u") != fp1, "salt-sensitive")
    // regenerate the dataset at the SAME path: the directory inode's
    // length/mtime may not change, but the part files inside do
    overwriteDocs(dir, Seq((1L, "beta gamma", "en", "s0", 1L),
      (2L, "delta", "en", "s0", 1L)))
    assert(ArtifactStore.fingerprint(src, "t") != fp1,
      "regenerated content must change the fingerprint")
  }

  test("lex index: a regenerated corpus is never served from a stale index") {
    val dir = writeDocs(Seq((1L, "vector vector", "en", "s0", 1L)))
    val before = SearchOps.bm25IndexScores(spark, dir, Seq("join")).collect()
    assert(before.isEmpty, "'join' absent from the original corpus")
    overwriteDocs(dir, Seq((1L, "join join join", "en", "s0", 1L)))
    val after = SearchOps.bm25IndexScores(spark, dir, Seq("join")).collect()
    assert(after.nonEmpty,
      "index must re-key on the regenerated corpus, not serve the stale artifact")
  }

  test("perplexity filter: thirds partition each source, head is most fluent") {
    import org.apache.spark.sql.functions._
    val r = SearchOps.qPerplexityFilter(spark, sf)
    val perSource = r.groupBy("source").agg(
      sum("n_docs").as("n"), count(lit(1)).as("n_buckets")).collect()
    // every multi-token doc lands in exactly one bucket
    val docs = graft.ops.Tables.t(spark, sf, "documents")
      .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 2)
    val want = docs.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    perSource.foreach { row =>
      assert(row.getLong(1) == want(row.getString(0)),
        s"bucket counts must partition source ${row.getString(0)}")
    }
    // within a source, bucket score ranges are ordered head >= middle >= tail
    val bySrc = r.collect().groupBy(_.getString(0))
    bySrc.foreach { case (src, rows) =>
      val m = rows.map(x => x.getString(1) -> x).toMap
      for (hi <- m.get("head"); mid <- m.get("middle"))
        assert(hi.getAs[Long]("min_score_e6") >= mid.getAs[Long]("max_score_e6"),
          s"head/middle overlap in $src")
      for (mid <- m.get("middle"); lo <- m.get("tail"))
        assert(mid.getAs[Long]("min_score_e6") >= lo.getAs[Long]("max_score_e6"),
          s"middle/tail overlap in $src")
    }
    // deterministic across runs
    assert(r.exceptAll(SearchOps.qPerplexityFilter(spark, sf)).isEmpty)
  }

  test("retrieval metrics: bounds, monotone recall@k, MRR consistent with hits") {
    val row = SearchOps.qRetrievalMetrics(spark, sf).head()
    val nQ = row.getAs[Long]("n_queries")
    val h1 = row.getAs[Long]("hits_at_1")
    val h5 = row.getAs[Long]("hits_at_5")
    val h10 = row.getAs[Long]("hits_at_10")
    val mrr = row.getAs[Long]("mrr_x2520")
    // eval set = docs with doc_id < 100 (all of them at sf0.001)
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 100).count()
    assert(nQ == want, s"eval set size $nQ != $want")
    assert(0 <= h1 && h1 <= h5 && h5 <= h10 && h10 <= nQ,
      "recall@k must be monotone in k and bounded by the query count")
    // each top-10 hit contributes between 2520/10 and 2520/1
    assert(mrr >= h10 * 252 && mrr <= h10 * 2520,
      s"MRR numerator $mrr inconsistent with $h10 hits")
    // self-retrieval on this corpus: the source doc's own three leading
    // tokens should usually find it — demand a non-degenerate benchmark
    assert(h10 > 0, "no query recovered its source doc in the top-10")
  }
}
