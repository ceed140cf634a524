package graft

import graft.ops._

/** Physical-plan hygiene: the properties that keep these operators viable at
  * 1000-executor / 100-TB scale, asserted so regressions fail the build.
  * (VERDICT r1 plan-audit list.) */
class PlanSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("registered stats index prunes files inside any filtered scan, results identical") {
    import org.apache.spark.sql.functions._
    // stage a range-partitioned copy (8 files, narrow l_shipdate bands)
    val work = s"target/tmp_prune_rule/sf_${java.lang.ProcessHandle.current.pid}"
    if (!new java.io.File(s"$work/_SUCCESS").exists) {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      Tables.t(spark, sf, "lineitem")
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(work)
    }
    def query() = spark.read.parquet(work)
      .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-07-01").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("l_extendedprice")).as("s"))
      .orderBy("l_returnflag")
    def filesTouched(df: org.apache.spark.sql.DataFrame): Int =
      // sparkPlan, not executedPlan: AQE wraps the tree and hides the scan
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
    val before = query()
    val wantFiles = filesTouched(before)
    val want = before.collect().toSeq
    try {
      val nIndexed = graft.plans.StatsPruneRule.registerIndex(spark, work, "l_shipdate")
      assert(nIndexed == 8, s"expected 8 indexed files, got $nIndexed")
      val after = query()
      val prunedFiles = filesTouched(after)
      assert(prunedFiles < wantFiles,
        s"stats index did not prune: $prunedFiles of $wantFiles files")
      assert(after.collect().toSeq == want, "pruning changed the result")
    } finally graft.plans.StatsPruneRule.unregisterIndex(work)
  }

  test("orders x customer join broadcasts the dimension side") {
    val p = plan(Relational.qJoinOrdersCustomer(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join must not sort-merge:\n$p")
  }

  test("un-hinted dimension joins still broadcast at sf0.1 (r16 task 5)") {
    // the forced broadcast() hints came off the table-derived customer
    // frames; the size-threshold/AQE decision must still pick a broadcast
    // at bench scale, and fall back (to SHJ/SMJ) only when the dimension
    // genuinely outgrows the threshold
    val big = "/root/testdata/sf0.1"
    val p1 = plan(Relational.qJoinOrdersCustomer(spark, big))
    assert(p1.contains("BroadcastHashJoin"), s"sf0.1 dim join lost broadcast:\n$p1")
    val p2 = plan(Relational.qJoin3Revenue(spark, big))
    assert(p2.contains("BroadcastHashJoin"), s"sf0.1 customer side lost broadcast:\n$p2")
  }

  test("top-k lowers to TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.qTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("cosine top-k also avoids a global sort") {
    val p = plan(VectorOps.qCosineTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("numeric filter is pushed into the parquet scan and columns are pruned") {
    val p = plan(Relational.qFilterNumeric(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"),
      s"column pruning failed (unused column read):\n$p")
  }

  test("date-range filter reaches the scan") {
    val p = plan(Relational.qFilterDaterange(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"date filter not pushed:\n$p")
  }

  test("3-way join broadcasts the dimension and avoids a global sort") {
    // at test scale AQE may legitimately broadcast the orders side too;
    // the pinned properties are: customer broadcasts, no fact-side
    // sort-merge at this size, and the top-10 never global-sorts
    val p = plan(Relational.qJoin3Revenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"customer side must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
  }

  test("grouped aggregation is partial (map-side) + final") {
    val p = plan(Relational.qAggGroupby(spark, sf))
    val hashAggs = p.split("HashAggregate", -1).length - 1
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("whole-stage codegen covers the hot expressions") {
    import org.apache.spark.sql.execution.ExplainMode
    // AQE defers codegen collapse to stage materialization; snapshot the
    // static plan to see the WholeStageCodegen spans.
    def codegen(mk: => org.apache.spark.sql.DataFrame): String = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try mk.queryExecution.explainString(ExplainMode.fromString("codegen"))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val p = codegen(Relational.qAggGroupby(spark, sf))
    assert(p.contains("WholeStageCodegen") && !p.contains("Found 0 WholeStageCodegen"),
      s"no codegen spans:\n${p.take(500)}")
    val pc = codegen(VectorOps.qEmbedNeardupPairs(spark, sf))
    assert(pc.contains("java.lang.Math.sqrt"),
      s"fused cosine kernel missing from generated code:\n${pc.take(500)}")
  }

  test("identically-bucketed tables join with zero Exchange") {
    import graft.ops.{BucketOps, Tables}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketOps.writeBucketed(
        Tables.t(spark, sf, "orders").withColumnRenamed("o_custkey", "custkey"),
        "orders_b", "custkey", 8)
      BucketOps.writeBucketed(
        Tables.t(spark, sf, "customer").withColumnRenamed("c_custkey", "custkey"),
        "customer_b", "custkey", 8)
      val joined = BucketOps.bucketedJoin(spark, "orders_b", "customer_b", "custkey")
      val p = plan(joined)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == Tables.t(spark, sf, "orders").count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("as-of join plans one keyed window and no join operator at all") {
    val p = plan(TemporalJoinOps.qAsofJoin(spark, sf))
    assert(p.contains("Window"), s"expected window-based as-of:\n$p")
    assert(!p.contains("Join"), s"as-of must resolve via union+window, not a join:\n$p")
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"event_type filters must reach the scan:\n$p")
  }

  test("blocked as-of: partitioned windows, broadcast carry, no nested loop") {
    val df = TemporalJoinOps.qAsofJoinBlocked(spark, sf)
    val p = plan(df)
    // every window is keyed — (key, block) in-block, (key) over the tiny
    // carry spine; a whole-partition window would recreate the hot-key
    // serialization this variant exists to avoid
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, s"expected windowed as-of:\n$p")
    wins.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unkeyed window in blocked as-of:\n$w"))
    // the carry stitches back via broadcast (the spine is per (key, block),
    // orders of magnitude smaller than the rows), never a nested loop
    assert(p.contains("BroadcastHashJoin"), s"carry join must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no nested-loop/cartesian allowed:\n$p")
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"event_type filters must reach the scan:\n$p")
  }

  test("upsert merge aggregates partial+final with no window sort") {
    val p = plan(MergeOps.qUpsertMerge(spark, sf))
    assert(!p.contains("Window"), s"latest-wins must use max_by agg, not window rank:\n$p")
    // max_by over a string-bearing struct plans as SortAggregate (immutable
    // buffer type); the property that matters is the map-side partial
    assert(p.contains("partial_max_by"), s"expected partial (map-side) max_by:\n$p")
    val aggs = p.split("Aggregate\\(", -1).length - 1
    assert(aggs >= 2, s"expected partial+final aggregation:\n$p")
  }

  test("incremental dedup plans a left-anti hash join") {
    val p = plan(MergeOps.qDedupIncremental(spark, sf))
    assert(p.contains("LeftAnti"), s"expected anti-join admission filter:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"anti-join must stay hash-based:\n$p")
  }

  test("repetition signals aggregate partial+final with no quadratic operator") {
    val p = plan(CorpusOps.qRepetition(spark, sf))
    val hashAggs = p.split("HashAggregate", -1).length - 1
    assert(hashAggs >= 4, s"expected two partial+final aggregate pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"per-doc joins must stay hash-based:\n$p")
  }

  test("minhash near-dup plan stays bucket-local and hash-joined") {
    val p = plan(DedupOps.qMinhashNeardup(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"minhash candidate/verify path must never go quadratic-by-plan:\n$p")
    // candidates come from the (band, bucket) aggregation + in-bucket
    // combination explode — the signature subtree is computed once, not
    // self-joined per side
    assert(p.contains("sort_array") || p.contains("collect_list"),
      s"expected bucket-local candidate aggregation:\n$p")
    assert(p.contains("Generate"), s"expected in-bucket pair explode:\n$p")
  }

  test("ngram pair generation is bucket-local: no quadratic join operator") {
    // audit the PRE-checkpoint candidate plan: qNgramJaccardPairs
    // materializes candidates (they feed two consumers), which hides the
    // generation operators behind a Scan ExistingRDD in the final plan
    val pc = plan(DedupOps.ngramCandidatePairs(spark, sf, 0.4))
    assert(!pc.contains("BroadcastNestedLoopJoin") && !pc.contains("CartesianProduct"),
      s"candidate generation must never go quadratic-by-plan:\n$pc")
    // candidates come from groupBy (source, key) + in-bucket combination
    // explode, not a prefix self-join: the plan carries the bucket
    // aggregation and the pair-expanding generator
    assert(pc.contains("collect_set") || pc.contains("sort_array"),
      s"expected bucket-local candidate aggregation:\n$pc")
    assert(pc.contains("Generate"), s"expected in-bucket pair explode:\n$pc")
    // the assembled query (checkpointed candidates + pruned verify joins)
    // must also stay free of quadratic operators
    val p = plan(DedupOps.qNgramJaccardPairs(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"verify join must stay hash-based:\n$p")
  }

  test("bm25 batch: batch terms broadcast against the corpus side; no cartesian") {
    val p = plan(SearchOps.qBm25Batch(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"batch-term and df joins must broadcast the tiny side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast joins may fan out the batch:\n$p")
  }

  test("tfidf: subset filter reaches the scan; stats broadcast; term join never cartesian") {
    val p = plan(SearchOps.qTfidfKeywords(spark, sf))
    // the scored-subset branch must filter BEFORE tokenize/aggregate — the
    // predicate belongs in the parquet scan, not above the explode
    assert(p.contains("LessThan(doc_id,20)"),
      s"doc_id<20 must push into the documents scan:\n$p")
    assert(p.contains("BroadcastExchange"), s"1-row stats must broadcast:\n$p")
    // the vocab join stays a keyed equi-join: at 100 TB neither the
    // vocabulary nor an arbitrary caller subset is safely broadcastable,
    // so nothing in this plan may degenerate to an unkeyed product (the
    // broadcast of the 1-row stats table is the only nested-loop allowed)
    assert(!p.contains("CartesianProduct"),
      s"term join must stay a keyed equi-join:\n$p")
  }

  test("pack sequences: the only window runs over per-block aggregates, never rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = CorpusOps.qPackSequences(spark, sf).queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 1, s"exactly one (prefix-sum) window expected:\n$lp")
    assert(wins.head.collectFirst { case a: Aggregate => a }.nonEmpty,
      s"the window's input must be the per-block aggregate, one row per block:\n$lp")
  }

  test("trained IVF probe reads the persisted artifact pair, top-k without global sort") {
    val p = plan(VectorOps.qIvfTrainedTopk(spark, sf))
    assert(p.contains("ivf_trained"),
      s"probe must read centroids+assignments from the trained artifact:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("hybrid rrf via index: zero corpus-sized work on the lexical side") {
    val p = plan(SearchOps.qHybridRrfIndex(spark, sf))
    assert(p.contains("lex_index"),
      s"lexical ranking must probe the persisted inverted index:\n$p")
    assert(!p.contains("documents.parquet"),
      s"the documents corpus must not be scanned at query time:\n$p")
  }

  test("grouping sets lowers to one Expand over a single scan, not a union of scans") {
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    val qe = Relational.qGroupingSets(spark, sf).queryExecution
    val expands = qe.optimizedPlan.collect { case e: Expand => e }
    assert(expands.size == 1, s"expected one Expand:\n${qe.optimizedPlan}")
    val p = plan(Relational.qGroupingSets(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"grouping sets must read lineitem once, saw $scans scans:\n$p")
  }

  test("funnel chains keyed joins on user_id; no nested loop or cartesian") {
    val p = plan(EventOps.qFunnelSteps(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"funnel must stay keyed on user_id:\n$p")
  }

  test("dup-shingle spans: df rides a key-partitioned hash join, never doc x doc") {
    // r18 shape: one explicit exchange on the hashed shingle key feeds both
    // the df aggregate and the flag join's probe side (ReusedExchange), the
    // df rides back via a co-partitioned shuffled-hash join, and ONE
    // doc-keyed aggregation produces totals and dup counts — the former
    // LeftSemi + two corpus groupBy(doc_id) passes are gone.
    val df = CorpusOps.qDupNgramSpans(spark, sf)
    df.queryExecution.toRdd.count(): Unit // ReusedExchange appears in the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected the df shuffle-hash join:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the key exchange must be computed once and reused:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span profile must never compare doc pairs:\n$p")
  }

  test("pq probe reads the codes artifact; raw embeddings only behind the shortlist semi-join") {
    val p = plan(PqOps.qPqTopk(spark, sf))
    assert(p.contains("/pq/sf"),
      s"ADC stage must read the persisted codes artifact:\n$p")
    assert(p.contains("LeftSemi"),
      s"raw embeddings must be gated by the shortlist semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("scd2 history is one entity-keyed window, zero joins") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val lp = MergeOps.qScd2History(spark, sf).queryExecution.optimizedPlan
    assert(lp.collect { case w: LWindow => w }.size == 1,
      s"expected exactly one window:\n$lp")
    assert(lp.collect { case j: Join => j }.isEmpty,
      s"SCD2 must not self-join the change feed:\n$lp")
  }

  test("contract consistency: every oracle key is a wired query") {
    // oracle keys are wired by construction (both maps derive from
    // SparkEntry.specs); the exact counts pin the registry and catch a
    // duplicated face name, which the derived maps would silently collapse
    assert(SparkEntry.specs.size == 179)
    assert(SparkEntry.queries.size == 179)
    assert(Bench.headline.size == 106)
  }

  test("query functions never run jobs during construction") {
    // BEHAVIORAL check (ADVICE r13: the old plan-non-null assertion could
    // not detect construction-time actions at all): a SparkListener counts
    // every job started while a query function builds its DataFrame — a
    // collect/count smuggled into construction now fails the suite.
    // Excluded, with the job each runs:
    val sideEffecting = Set(
      // exporting + re-reading files is their semantics
      "q_ingest_csv_roundtrip", "q_ingest_tsv_roundtrip",
      "q_ingest_json_roundtrip", "q_ingest_orc_roundtrip",
      "q_partitioned_roundtrip",
      // network roundtrips: write/upload/download at construction is their
      // semantics (the ingest-roundtrip pattern over the loopback fixture)
      "q_blob_put_roundtrip", "q_url_ingest",
      // iterative fixpoints run checkpoint jobs during construction
      "q_dedup_clusters", "q_dedup_clusters_incremental", "q_semantic_dedup",
      "q_ngram_jaccard_pairs", // eager pair-checkpoint handoff
      // AQE-style construction-time measurements drive the plan choice
      // (build-side count, 1-row skew profile, 1-row CM estimate)
      "q_planned_skew_join", "q_planned_skew_agg",
      // bounded driver reads sized by data/metadata, not corpus
      "q_retrieval_metrics",   // ≤300 distinct eval terms for `term IN` pushdown
      "q_ivf_topk_batch",      // embeddings count() sizes adaptive nlist
      "q_multifile_scan",      // file listing for the glob
      "q_ntile",               // range-sort and zipWithIndex count jobs
      // NL faces profile the catalog (CatalogOps stats pass) up front
      "q_nl_count_group", "q_nl_max_filter_group", "q_nl_topk_group",
      "q_nl_having_group", "q_nl_or_filter", "q_nl_not_filter",
      "q_nl_range_filter", "q_nl_expr_measure",
      // the grounding face runs the whole retrieve→ground→SQL pipeline
      // (bounded k-row reads) and builds its collection artifact
      "q_nl_semantic_ground",
      "q_rm3_rescore",         // bounded feedback terms from the first pass
      // same bounded first-pass reads since the r16 index-probe rework
      // (<=fbDocs ids + <=topN expansion terms become pushed-down literals)
      "q_rm3_expansion",
      "q_pruned_scan", "q_pruned_scan_rule", // footer-stats index build
      "q_pack_sequences",      // bounded packing offsets
      "q_bpe_encode",          // vocab-sized merge list drives the encode fold
      "q_dedup_incremental_bloom", // bounded Bloom artifact build
      "q_embed_neardup_lsh", "q_embed_neardup_pairs", // adaptive-bits count
      // first-touch persisted-artifact builds (ensure* is build-if-absent;
      // steady-state constructions run zero jobs once the artifact exists)
      "q_bm25_index_topk", "q_hybrid_rrf_index", "q_phrase_match_index",
      "q_phrase_match3_index",
      "q_ivf_topk", "q_ivf_trained_topk", "q_pq_topk", "q_ivfpq_topk",
      "q_sq8_topk", "q_bpe_merges", "q_bpe_vocab", "q_token_bpe")
    val current = new java.util.concurrent.atomic.AtomicReference[String]("")
    val offenders = scala.collection.concurrent.TrieMap.empty[String, Int]
    // a first read of a dataset launches one footer/schema-inference job
    // at construction ("parquet at Tables.scala:…") — that's the read
    // API's own metadata work, not a driver collect; only count jobs with
    // some other stage (collect/count/checkpoint all name their call site).
    // The exemption covers the FIRST construction only: Tables.read caches
    // schemas, so constructing the same face again must start no job at all.
    def isReadMetadata(name: String): Boolean =
      Seq("parquet at ", "orc at ", "json at ", "csv at ", "text at ")
        .exists(name.startsWith)
    val second = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val q = current.get()
        if (q.nonEmpty &&
            (second.get || !js.stageInfos.forall(si => isReadMetadata(si.name))))
          offenders.updateWith(q)(c => Some(c.getOrElse(0) + 1))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!sideEffecting(name)) Seq(false, true).foreach { again =>
          org.apache.spark.sql.GraftListenerBridge
            .waitUntilListenerBusEmpty(spark.sparkContext)
          second.set(again)
          current.set(if (again) s"$name (second construction)" else name)
          val df = fn(spark, sf)
          assert(df.queryExecution.logical != null, s"$name produced no plan")
          org.apache.spark.sql.GraftListenerBridge
            .waitUntilListenerBusEmpty(spark.sparkContext)
          current.set("")
        }
      }
      assert(offenders.isEmpty,
        s"queries ran jobs during construction: ${offenders.toMap}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
