package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
import org.apache.spark.sql.functions._
import Tables._

/** Vector-similarity operators over `embeddings.parquet` (array<float>):
  * brute-force exact cosine top-k (the reference's Chroma retrieval —
  * `chroma_retrieval_util.py:112-142`), collection routing by max relevance
  * (`:145-242`), blocked near-duplicate pairs, and LSH-bucketed variants as
  * the 100-TB scale path.
  */
object VectorOps {

  /** Query vector = the embedding of `vec_id = 0` (a 1-row broadcast). */
  private def withQueryVec(s: SparkSession, sf: String): DataFrame = {
    val e = tWide(s, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
  }

  /** Scores are emitted as micro-units (`round(score*1e6)` as BIGINT):
    * `round(x, 6)` yields a *double* whose last ulp differs between engines
    * (different rounding algorithms), which breaks hash comparison; the
    * scaled integer is exact in both. */
  private def microScore(c: org.apache.spark.sql.Column) =
    round(c * 1000000, 0).cast("long")

  /** V3: exact cosine top-k — score every row against the query vector,
    * take the global top 10 (`chroma_retrieval_util.py:112-142`, k at
    * `langgraph_pipeline.py:371`). orderBy+limit lowers to
    * TakeOrderedAndProject: per-partition heaps, no global sort. */
  def qCosineTopk(s: SparkSession, sf: String): DataFrame =
    withQueryVec(s, sf)
      .select(col("vec_id"), col("label"),
        microScore(cosineFast(col("embedding"), col("qv"))).as("score_e6"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
      .limit(10)

  /** X69: SQ8 scalar-quantized ANN — the third compression point on the
    * exact→IVF→PQ curve: 4× smaller than float32 (one int8 code per
    * dimension, vs PQ's 16×), with far better per-candidate fidelity, and
    * no TRAINING — the code table is a pure projection, persisted once
    * per corpus by [[ensureSq8]] (an artifact like IVF's, but with no
    * learned state in it).
    *
    * Quantization kernel (the one that preserves COSINE order): vectors
    * are unit-normalized (the same sequential IEEE double fold the PQ
    * probe uses), then coded on a SYMMETRIC signed grid with one global
    * scale — code = clamp(round(x·127/maxAbs), ±127) where maxAbs is the
    * corpus max |component| after normalization (a 1-row broadcast). With
    * a single symmetric scale, dot(codes) ≈ (127/maxAbs)²·cos — a
    * monotone transform with NO per-dimension or offset bias, unlike an
    * asymmetric per-dim [lo,hi] grid whose shifted codes reorder
    * neighbors. The shortlist takes the top-50 by integer code dot
    * (order-free 64-bit sum, TakeOrderedAndProject heaps) and only those
    * 50 raw embeddings are touched for the exact micro-int cosine re-rank.
    *
    * Every step is a deterministic pure function of the data (IEEE
    * normalize, one round-half-away tie rule shared by both engines,
    * integer dot, integer re-rank), so DuckDB replays the WHOLE pipeline
    * — no artifact, no contract needed.
    *
    * 100 TB: maxAbs is a map-side-combinable scalar agg; codes are a
    * projection (4× less to scan than raw embeddings if materialized);
    * the dot-product scan is corpus-sized but integer-SIMD friendly;
    * re-rank touches 50 rows. */
  /** Write-once SQ8 code table: (vec_id, label, codes array<tinyint>) —
    * the corpus unit-normalized (sequential IEEE double fold), coded on
    * the symmetric signed grid with ONE global scale (see [[qSq8Topk]]),
    * and PERSISTED, 4× smaller than the float32 embeddings it stands in
    * for (int8 per dimension, bit-packed + zstd in parquet). Built at
    * most once per corpus fingerprint: before r13 every probe re-ran the
    * normalize + max-scale + quantize passes over the whole corpus —
    * exactly the work a code TABLE exists to amortize; a probe now scans
    * codes only. Recorded as the oracle input "sq8_codes", so DuckDB
    * replays the probe from the same persisted codes. */
  def ensureSq8(s: SparkSession, sf: String): String =
    ArtifactStore.record("sq8_codes", ArtifactStore.ensure("sq8_codes",
        ArtifactStore.sourceName(sf, "embeddings", "sq8-v1")) { tmp =>
      val e = t(s, sf, "embeddings")
      val normed = e.select(col("vec_id"), col("label"), expr(
        """transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(
          |  aggregate(transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
          |    0.0D, (acc, y) -> acc + y)))""".stripMargin).as("nv"))
      val scale = normed.agg(max(expr(
        "aggregate(nv, 0.0D, (acc, x) -> greatest(acc, abs(x)))")).as("ma"))
      normed.crossJoin(broadcast(scale))
        .select(col("vec_id"), col("label"), expr(
          """transform(nv, x -> CAST(least(127.0D, greatest(-127.0D,
            |  round(x * 127.0D / ma, 0))) AS TINYINT))""".stripMargin).as("codes"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(tmp.toString)
    })

  def qSq8Topk(s: SparkSession, sf: String): DataFrame = {
    val e = t(s, sf, "embeddings")
    val coded = read(s, ensureSq8(s, sf))
    val qc = coded.filter(col("vec_id") === 0).select(col("codes").as("qc"))
    // tinyint × tinyint would wrap (127² > 127): widen inside the lambda —
    // the artifact stores int8 for footprint, arithmetic runs in 64-bit
    val short = coded.crossJoin(broadcast(qc))
      .select(col("vec_id"),
        expr("""aggregate(zip_with(codes, qc,
          |  (a, b) -> CAST(a AS BIGINT) * CAST(b AS BIGINT)),
          |  0L, (acc, v) -> acc + v)""".stripMargin).as("dot"))
      .orderBy(col("dot").desc, col("vec_id").asc)
      .limit(50)
      .select("vec_id")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.join(short, "vec_id").crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        microScore(cosineFast(col("embedding"), col("qv"))).as("score_e6"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
      .limit(10)
  }

  /** V4: collection routing — per-collection (label) max similarity, keep
    * score ≥ 0.5, top 10 collections (`chroma_retrieval_util.py:203-229`;
    * threshold/k at `:148-149`). */
  def qCollectionRouting(s: SparkSession, sf: String): DataFrame =
    withQueryVec(s, sf)
      .select(col("label"), cosineFast(col("embedding"), col("qv")).as("s"))
      .groupBy("label")
      .agg(microScore(max(col("s"))).as("score_e6"))
      .filter(col("score_e6") >= 500000)
      .orderBy(col("score_e6").desc, col("label").asc)
      .limit(10)

  /** V5: cross-collection merge — per-label top-3 hits pooled and re-sorted
    * globally with source attribution (`chroma_retrieval_util.py:411-459`).
    * Per-label top-3 runs through the bounded-heap `TopKByScore` Aggregator
    * (partial buffers of ≤3 rows, O(n log k)) instead of a window sort of
    * every label partition; TopKSpec proves the two formulations
    * identical. */
  def qCrossCollectionMerge(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    val scored = withQueryVec(s, sf)
      .select(col("label"), col("vec_id").as("id"),
        cosineFast(col("embedding"), col("qv")).as("score"))
      .as[graft.functions.LabeledScore]
    scored
      .groupByKey(_.label)
      .agg(new graft.functions.TopKByScore(3).toColumn.name("hits"))
      .toDF("label", "hits")
      .select(col("label"), explode(col("hits")).as("hit"))
      .select(col("hit.id").as("vec_id"),
        concat(lit("collection_"), col("label")).as("source_collection"),
        microScore(col("hit.score")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Deterministic signature bands from coordinate-order comparisons:
    * bit i of the signature is `embedding[2i+1] >= embedding[2i+2]`
    * (1-indexed), i.e. a 2-sparse random-projection sign — engine-exact
    * (plain float comparisons on the stored values, no hashing, no RNG), so
    * a DuckDB oracle can compute the identical bands (`SparkEntry.
    * cmpBandSql` mirrors this layout term for term). `bits` comparison bits
    * are split into `bands` keys of `bits/bands` bits each. */
  def cmpBandKeys(bits: Int, bands: Int): Seq[org.apache.spark.sql.Column] = {
    val per = bits / bands
    (0 until bands).map { b =>
      (0 until per).map { j =>
        val i = b * per + j
        when(element_at(col("embedding"), cmpIdx(i)._1) >=
          element_at(col("embedding"), cmpIdx(i)._2), lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"band$b")
    }
  }

  /** 1-indexed coordinate pair compared for signature bit `i`. Bits 0–31
    * compare disjoint pairs (2i+1, 2i+2) — the original 32-bit layout the
    * DuckDB oracle replays term for term. Bits 32–62 reuse the 64 dims
    * with OFFSET pairs (2j+2, 2j+3), j = i−32 — each extra bit compares a
    * pair no lower bit compared, so higher resolutions stay ~independent
    * sign projections without exceeding the 64-dim embedding. */
  private[graft] def cmpIdx(i: Int): (Int, Int) = {
    require(i < 63, s"comparison-bit index $i exceeds the 64-dim layout")
    if (i < 32) (2 * i + 1, 2 * i + 2) else (2 * (i - 32) + 2, 2 * (i - 32) + 3)
  }

  /** Per-band comparison bits sized to the corpus — the [[adaptiveNlist]]
    * discipline applied to the band-blocked pair family: with FIXED band
    * resolution the bucket count is constant, so in-bucket pair work grows
    * ∝ N²/buckets — quadratic (measured: `q_semantic_dedup` 6.1× time for
    * 16× data at the fixed 8-bit keys). clamp(8, 15, ⌈log₂N⌉−5) keeps
    * bucket count ∝ N and expected bucket load constant: every testdata
    * SF (N ≤ 6000) maps to 8, so the static DuckDB oracle — which replays
    * the 32-bit layout — stays exact at every oracle-checked scale, and
    * the higher resolutions engage only on replicated-scale benches and
    * real 100 TB corpora. The count that sizes the key is a parquet
    * footer read. */
  def adaptiveBandBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.max(8, math.min(15, ceilLog2 - 5))
  }

  /** Near-dup pairs: (label, band, key)-blocked candidates scored with the
    * EXACT fused cosine — the oracle-checkable face of the LSH family. The
    * previous formulation self-joined on `label` alone: with a handful of
    * label values, 100× data means 10,000× pairs per block. Composing the
    * block with a deterministic 8-bit band key keeps every shuffle key
    * bounded (~1.6% of within-label pairs survive as candidates on the
    * testdata) while staying bit-reproducible in DuckDB, so the candidate
    * set itself is oracle-verified — unlike the hyperplane-LSH variant
    * below, nothing here is seeded or approximate-by-engine. Recall against
    * the unblocked pair set is the standard LSH trade (raise `bits/bands`
    * resolution per corpus size at 100 TB). */
  def qEmbedNeardupPairs(s: SparkSession, sf: String): DataFrame = {
    val e = t(s, sf, "embeddings")
    embedNeardupPairs(e, bands = 4, per = adaptiveBandBits(e.count()))
  }

  /** The band-blocked pair pipeline at an explicit geometry — split out so
    * specs can drive the extended-resolution path directly (identical
    * vectors agree on EVERY comparison bit, so exact-duplicate recall is
    * 1.0 at any `per`). */
  def embedNeardupPairs(e: DataFrame, bands: Int, per: Int): DataFrame = {
    val bits = bands * per
    // IDS ONLY through the band-bucket self-join and the pair dedup
    // (r18, guide §2.3 "shuffle keys, not payloads"): the old shape
    // carried BOTH embedding arrays through the bucket exchange (each
    // vector's payload replicated ×bands by the explode, ×2 by the two
    // join sides) and then through the distinct's exchange. Candidates
    // are candidate-count-sized; the embeddings attach to the DEDUPED
    // pair set via two vec_id-keyed joins before the exact cosine (AQE
    // broadcasts the vector table at bench scale, a keyed shuffle join
    // at corpus scale). Scores and results are unchanged — the same
    // exact cosine over the same pair set.
    val sig = e.select(Seq(col("vec_id"), col("label")) ++
      cmpBandKeys(bits, bands): _*)
    val exploded = sig.select(col("vec_id"), col("label"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"band$b").as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("label"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val l = exploded.select(col("label"), col("band"), col("key"),
      col("vec_id").as("id_a"))
    val r = exploded.select(col("label"), col("band"), col("key"),
      col("vec_id").as("id_b"))
    val pairs = l.join(r, Seq("label", "band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"))
      .distinct() // a pair agreeing on several bands appears once
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        microScore(cosineFast(col("va"), col("vb"))).as("sim_e6"))
      .filter(col("sim_e6") >= 300000)
      .orderBy("id_a", "id_b")
  }

  /** ANN scale path: random-hyperplane LSH (SimHash for vectors). Each
    * vector gets a b-bit signature from sign(dot(v, r_i)) over deterministic
    * pseudo-random hyperplanes; candidate pairs share a signature band and
    * are re-scored exactly. No all-pairs stage: the join is on (band, key).
    * Deterministic hyperplanes are derived from xxhash64(seed, dim-index) so
    * the plan needs no driver-side randomness or broadcast data. */
  /** Hyperplane r(bit, d) in {-1, +1}: parity of a deterministic hash.
    * Public because the DuckDB oracle for `q_embed_neardup_lsh` replays
    * the identical planes (and the identical left-to-right dot-product
    * summation order) to reproduce the candidate set bit-for-bit. */
  def planeSign(bit: Int, d: Int): Double =
    if (((bit * 1315423911L + d * 2654435761L) >>> 7) % 2 == 0) 1.0 else -1.0

  def lshCandidatePairs(e: DataFrame, bits: Int, bands: Int): DataFrame = {
    val dims = 64 // embedding dim in testdata
    val sigBits = (0 until bits).map { bit =>
      val dot = (0 until dims).map { d =>
        element_at(col("embedding"), d + 1).cast("double") * lit(planeSign(bit, d))
      }.reduce(_ + _)
      when(dot >= 0, lit(1L << (bit % 60))).otherwise(lit(0L))
    }
    val rowsPerBand = bits / bands
    val bandCols = (0 until bands).map { bd =>
      sigBits.slice(bd * rowsPerBand, (bd + 1) * rowsPerBand)
        .reduce((x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
          x.bitwiseOR(y)).as(s"band$bd")
    }
    val sig = e.select(Seq(col("vec_id"), col("embedding")) ++ bandCols: _*)
    val exploded = sig.select(col("vec_id"), col("embedding"),
      explode(array((0 until bands).map(bd =>
        struct(lit(bd).as("band"), col(s"band$bd").as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Degenerate-bucket guard (same contract as minhashCandidates' cap): a
    // bucket holding a large fraction of the corpus (e.g. all-zero or
    // all-identical embeddings collapsing to one signature) would make the
    // bucket join quadratic and OOM an executor. Such a bucket carries no
    // near-dup signal beyond "these are identical-ish" — exact dedup is the
    // right tool there — so oversized buckets are dropped via a semi-join
    // on bucket sizes (one extra bounded-key aggregate, no skewed shuffle).
    val maxBucket = 10000
    val okBuckets = exploded.groupBy("band", "key")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("band", "key")
    val pruned = exploded.join(okBuckets, Seq("band", "key"), "left_semi")
    val l = pruned.select(col("band"), col("key"),
      col("vec_id").as("id_a"), col("embedding").as("va"))
    val r = pruned.select(col("band"), col("key"),
      col("vec_id").as("id_b"), col("embedding").as("vb"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      .distinct()
  }

  /** IVF build step: per-list centroids from an elementwise average
    * (posexplode + groupBy(list, dim) — fully distributed). One row per
    * inverted list (`label`); at scale this is a PERSISTED index artifact
    * rebuilt on ingest, like BucketOps' bucketed tables — never recomputed
    * per query (a per-query rebuild would scan the full embedding table and
    * defeat the point of IVF). */
  def buildCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v")).as("cv"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv").cast("float")).as("centroid"))

  /** Persist the centroid table (the index lifecycle's write half). */
  def writeCentroids(e: DataFrame, path: String): Unit =
    buildCentroids(e).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd").parquet(path)

  /** IVF probe: rank the (tiny, broadcast) persisted centroid table against
    * the query vector, prune the big scan to the `nprobe` nearest lists,
    * exact cosine inside probed lists only. */
  def ivfTopk(centroids: DataFrame, e: DataFrame, qv: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val probed = centroids.crossJoin(broadcast(qv))
      .select(col("label"), cosineFast(col("centroid"), col("qv")).as("cs"))
      // label tie-break matches ivfTopkBatch, so score-tied centroids at
      // the nprobe boundary probe the SAME lists on both paths
      .orderBy(col("cs").desc, col("label").asc).limit(nprobe)
      .select("label")
    e.join(broadcast(probed), Seq("label"))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        microScore(cosineFast(col("embedding"), col("qv"))).as("score_e6"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The persisted label-centroid table `q_ivf_topk` probes, keyed by a
    * content fingerprint of the source embeddings. */
  def ensureCentroids(s: SparkSession, sf: String): String =
    ArtifactStore.ensure("ivf_centroids",
      ArtifactStore.sourceName(sf, "embeddings", "v2")) { tmp =>
      writeCentroids(t(s, sf, "embeddings"), tmp.toString)
    }

  private[graft] def deleteRecursively(f: java.io.File): Unit = if (f.exists()) {
    // listFiles is null when the dir vanished under a concurrent delete
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Batch k-NN join over the IVF index: every row of `queries`
    * (query_id, qv) gets its top-k neighbors in ONE distributed plan — the
    * batch face of `ivfTopk`, and the shape an embedding-dedup or
    * retrieval-eval pass over millions of queries needs (a per-query
    * driver loop would schedule one Spark job per query). Each query ranks
    * the broadcast centroid table and keeps its `nprobe` lists (window
    * over nlist rows per query); the big embedding table is touched only
    * through the (label) equi-join against the probed pairs, so cosine
    * work is ~nprobe/nlist of the full cross product. Per-query top-k is a
    * window over the probed candidate set — shuffled on query_id, bounded
    * partitions, no global sort, same tie-break as the single-query path. */
  def ivfTopkBatch(centroids: DataFrame, e: DataFrame, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("cs", cosineFast(col("centroid"), col("qv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cs").desc, col("label").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("label"))
    e.join(probes, Seq("label"))
      .select(col("query_id"), col("vec_id"),
        microScore(cosineFast(col("embedding"), col("qv"))).as("score_e6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score_e6").desc, col("vec_id").asc)))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Inverted-list count sized to the corpus: nlist ∝ √N, the standard
    * IVF sizing (e.g. FAISS's guideline) that keeps BOTH probe-time terms
    * balanced — centroid ranking is O(nlist) per query and candidate
    * scoring is O(nprobe · N / nlist), so nlist = √N makes each O(√N).
    * With a FIXED nlist, per-query probe work grows linearly with the
    * corpus, and a query set that also grows with the corpus (the batch
    * eval below) turns superlinear — measured 19× time for 16× data at
    * r11; √N sizing restores ~N^0.5 per-query growth. Clamped to [16,
    * 4096]: the artifact rebuild handles any nlist, and at 100 TB the
    * centroid table (nlist × dim floats) stays broadcast-sized. */
  def adaptiveNlist(n: Long): Int =
    math.max(16, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** Every-100th vector queries the corpus for its 5 nearest neighbors —
    * the self-join face of retrieval eval. No oracle (IVF is approximate);
    * ScaleOpsSpec asserts per-query equality with the single-query path
    * over the same trained index.
    *
    * Scale shape: the query set grows with the corpus (|Q| = N/100), so
    * this is the one query where fixed-nlist IVF goes quadratic — probe
    * work ∝ |Q|·N/nlist. It therefore routes through the TRAINED index at
    * nlist = √N ([[adaptiveNlist]]): total probe work ∝ N^1.5/100, and the
    * 16× corpus probes ~64× the 1× work from a base small enough that the
    * measured wall-clock stays bounded (vs 19× at fixed nlist). The count
    * that sizes nlist is a parquet footer read (count-star needs no data
    * pages), and the trained artifact is fingerprint-cached per (corpus,
    * nlist) — built once, reused by every subsequent probe. */
  def qIvfTopkBatch(s: SparkSession, sf: String): DataFrame = {
    val e = t(s, sf, "embeddings")
    val nlist = adaptiveNlist(e.count())
    val dir = ArtifactStore.record("ivf_trained_batch",
      ensureTrainedIvf(s, sf, nlist = nlist))
    val centroids = read(s, s"$dir/centroids")
    val assign = read(s, s"$dir/assign")
    val el = e.select(col("vec_id"), col("embedding")).join(assign, "vec_id")
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    ivfTopkBatch(centroids, el, queries, nprobe = 3, k = 5)
      .orderBy(col("query_id").asc, col("score_e6").desc, col("vec_id").asc)
  }

  /** ANN top-k via IVF probing. ORACLE-CHECKED since r12: the probe is a
    * pure function of the PERSISTED centroid artifact (registered as an
    * oracle input, the `q_bpe_encode` pattern) — DuckDB replays centroid
    * ranking, probed-list pruning, and the micro-int cosine over probed
    * rows with the identical IEEE fold, so the hash match certifies the
    * approximate query EXACTLY (approximation lives in the artifact, the
    * probe is deterministic). Recall vs brute force stays in ScaleOpsSpec.
    * The centroid artifact is built once per dataset directory and read
    * back on every subsequent query — the query path scans only centroids
    * + probed lists. */
  def qIvfTopk(s: SparkSession, sf: String): DataFrame = {
    val e = t(s, sf, "embeddings")
    val path = ArtifactStore.record("ivf_centroids", ensureCentroids(s, sf))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    ivfTopk(read(s, path), e, qv, nprobe = 3, k = 10)
  }

  /** K-means-trained IVF for corpora that do NOT ship a pre-assigned list
    * column (the `label`-based build above serves pre-clustered data; real
    * embedding tables rarely arrive clustered). The canonical Lloyd loop in
    * MLlib k-means' shape: the centroids (nlist × dim floats) live on the
    * driver, and each round is ONE scan with ONE small shuffle. ASSIGN is a
    * narrow projection against the centroids shipped as one literal array
    * ([[assignLists]]: argmax cosine, O(nlist) work per row, no shuffle, no
    * join back to the vectors); RE-CENTER is the per-(list, dim) average of
    * `buildCentroids` (posexplode + groupBy(list, dim) + avg, the one
    * shuffle), whose nlist·dim cells are collected and assembled into
    * arrays on the driver with the same float cast. Nothing is
    * checkpointed: round N+1 starts from driver values, so it never
    * replays round N. Init is the deterministic hash-ordered sample (the
    * nlist smallest xxhash64(vec_id), collected by TakeOrderedAndProject
    * and labelled by rank on the driver) — no RNG, so rebuilds are
    * reproducible and the artifact cache stays content-addressed, and no
    * id-density assumption: sparse/offset id spaces seed fully. A list
    * that loses all members simply drops out, and an empty corpus
    * collects no seeds and yields an empty artifact (a freshly created
    * collection IS empty on day one). `vec_id` is the corpus key. The
    * returned assignment is computed against the FINAL centroids, so
    * probe-time routing and the centroid table are always mutually
    * consistent. */
  def trainIvf(e: DataFrame, nlist: Int, iters: Int): (DataFrame, DataFrame) = {
    val v = e.select(col("vec_id"), col("embedding"))
    val schema = StructType(Seq(StructField("label", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
    var cents: Seq[Row] = v.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nlist).select(col("embedding")).collect().toSeq
      .zipWithIndex.map { case (r, label) => Row(label, r.get(0)) }
    (1 to iters).foreach { _ =>
      cents = withLists(v, cents, schema)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg(col("v")).as("cv"))
        .collect().toSeq.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (label, cells) =>
          Row(label, cells.sortBy(_.getInt(1))
            .map(c => if (c.isNullAt(2)) null else c.getDouble(2).toFloat))
        }
    }
    // nlist rows: one partition, so the artifact writes one file
    val centroids = v.sparkSession.createDataFrame(
      java.util.Arrays.asList(cents: _*), schema).coalesce(1)
    (centroids, withLists(v, cents, schema).select(col("vec_id"), col("label")))
  }

  /** `v` (vec_id, embedding) with each row's `label`: the argmax cosine
    * over the driver-held centroid rows `cents` (shaped by `schema`,
    * (label, centroid)), shipped as ONE literal `array<struct<label,
    * centroid>>` ([[Tables.rowsLit]]). The per-row pick is `array_max` over
    * (cosine, -label, label), the order of `max_by(label, struct(cosine,
    * -label))`: the highest cosine wins (a NaN cosine ranks above every
    * number, a null one below), a tie goes to the LOWEST list id, matching
    * the probe tie-break. A narrow projection: no shuffle, no join back. No
    * centroids, no rows. */
  private def withLists(v: DataFrame, cents: Seq[Row], schema: StructType): DataFrame = {
    val best = array_max(transform(rowsLit(cents, schema), c => struct(
      cosineFast(col("embedding"), c.getField("centroid")).as("cs"),
      (-c.getField("label")).as("neg_label"), c.getField("label").as("label"))))
    val out = v.select(col("vec_id"), col("embedding"), best.getField("label").as("label"))
    if (cents.isEmpty) out.limit(0) else out
  }

  /** Argmax-cosine list assignment (vec_id, label) against a centroid table
    * (label, centroid): the table is collected to the driver (nlist rows)
    * and each vector is labelled by the narrow projection `trainIvf`'s
    * rounds use — ties break to the LOWEST list id, matching the probe
    * tie-break; no shuffle, no join back. An empty centroid table assigns
    * no rows. */
  def assignLists(e: DataFrame, centroids: DataFrame): DataFrame = {
    val c = centroids.select(col("label"), col("centroid"))
    withLists(e.select(col("vec_id"), col("embedding")), c.collect().toSeq, c.schema)
      .select(col("vec_id"), col("label"))
  }

  /** The TRAINED IVF artifact: `centroids/` and the final `assign/`
    * (vec_id → list) under one fingerprint-named dir. The one commit
    * marker covers the PAIR of tables: a reader must never see committed
    * centroids with absent assignments. Training ([[trainIvf]]) holds the
    * centroids on the driver and runs one shuffle per Lloyd round with no
    * checkpoints; the writes are one assignment scan and one write of the
    * nlist driver-held rows. */
  def ensureTrainedIvf(s: SparkSession, sf: String, nlist: Int = 16,
      iters: Int = 2): String =
    ArtifactStore.ensure("ivf_trained",
      ArtifactStore.sourceName(sf, "embeddings", s"$nlist:$iters:v3")) { tmp =>
      val (centroids, assign) =
        trainIvf(t(s, sf, "embeddings"), nlist, iters)
      assign.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(new java.io.File(tmp, "assign").toString)
      centroids.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(new java.io.File(tmp, "centroids").toString)
    }

  /** Append a batch of new vectors to a TRAINED IVF artifact WITHOUT
    * retraining — the vector-side analog of `SearchOps.mergeLexIndex`.
    * Centroids are FROZEN (copied verbatim, so probe routing is unchanged)
    * and the delta is assigned by `assignLists` with the same argmax
    * cosine / lowest-list tie-break the base build used. List assignment
    * is pointwise per vector, so base-assign ∪ delta-assign is
    * bit-identical to assigning base+delta from scratch against the same
    * centroids (ScaleOpsSpec proves the equality and that exactness at
    * nprobe = nlist holds over the appended corpus). Work is
    * O(delta · nlist) — corpus appends never touch the base vectors.
    * Centroid drift under sustained appends is handled by periodic
    * retraining, which lands under a NEW content fingerprint via
    * `ensureTrainedIvf`; append covers the high-frequency path between
    * retrains, exactly the posting-segment/compaction split on the
    * lexical side. */
  def appendTrainedIvf(s: SparkSession, baseDir: String, delta: DataFrame,
      outDir: String): Unit = {
    val centroids = read(s, s"$baseDir/centroids")
    val merged = read(s, s"$baseDir/assign")
      .unionByName(assignLists(delta, centroids))
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(new java.io.File(outDir, "assign").toString)
    centroids.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(new java.io.File(outDir, "centroids").toString)
    ArtifactStore.seal(new java.io.File(outDir))
  }

  /** ANN top-k over the TRAINED index: routing joins the persisted
    * assignment table, not a data-shipped label column. ORACLE-CHECKED
    * since r12: DuckDB replays centroid ranking + assignment-join pruning
    * + micro-int cosine from the persisted artifact pair — the float
    * iteration seeded the ARTIFACT, but the probe over it is
    * deterministic. ScaleOpsSpec keeps assignment/centroid consistency,
    * exactness at nprobe = nlist, and recall vs brute force. */
  def qIvfTrainedTopk(s: SparkSession, sf: String): DataFrame = {
    val dir = ArtifactStore.record("ivf_trained", ensureTrainedIvf(s, sf))
    val centroids = read(s, s"$dir/centroids")
    val assign = read(s, s"$dir/assign")
    val e = t(s, sf, "embeddings").select(col("vec_id"), col("embedding"))
      .join(assign, "vec_id")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    ivfTopk(centroids, e, qv, nprobe = 3, k = 10)
  }

  /** ANN near-dup via LSH bucketing + exact re-score (no oracle: candidate
    * recall is probabilistic; invariants tested in ScaleOpsSpec). */
  /** Per-band hyperplane bits sized to the corpus — [[adaptiveBandBits]]'
    * discipline for the seeded-LSH face: clamp(4, 15, ⌈log₂N⌉−9) per band.
    * Every testdata SF (N ≤ 6000) resolves to 4 (the 16-bit/4-band layout
    * the DuckDB oracle replays plane for plane), larger corpora get
    * proportionally more buckets so in-bucket pair work stays ~linear. */
  def adaptiveLshBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.max(4, math.min(15, ceilLog2 - 9))
  }

  def qEmbedNeardupLsh(s: SparkSession, sf: String): DataFrame = {
    val e = tWide(s, sf, "embeddings")
    lshCandidatePairs(e, bits = 4 * adaptiveLshBits(e.count()), bands = 4)
      .select(col("id_a"), col("id_b"),
        microScore(cosineFast(col("va"), col("vb"))).as("sim_e6"))
      .filter(col("sim_e6") >= 300000)
      .orderBy("id_a", "id_b")
  }

  /** X33: hard-negative mining for contrastive training — for each query
    * vector, the top-k most-similar vectors carrying a DIFFERENT label
    * (the "looks the same, isn't" examples a retrieval/embedding trainer
    * wants as negatives). Query batch (vec_id < 5) is a broadcast; the
    * corpus streams through one codegen'd cosine pass per query, and the
    * per-query top-8 is a window keyed on q_id. The shape is the batch
    * k-NN shape (`qIvfTopkBatch`): partitions = queries, so a large query
    * batch spreads across the cluster; a huge corpus per query swaps the
    * window for the bounded-heap TopKByScore aggregator (map-side
    * partials) — both formulations are proven identical in TopKSpec. */
  def qHardNegatives(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qv"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_e6").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), col("label"),
        microScore(cosineFast(col("embedding"), col("qv"))).as("score_e6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 8)
      .orderBy("q_id", "rank")
  }

  /** X32: per-label centroid cohesion report — cluster prototypes plus
    * intra-cluster dispersion (n, avg/min/max cosine-to-centroid), the
    * diagnostic a curation pass reads before centroid-based selection or
    * SemDeDup-style pruning (Abbas et al. 2023 cluster embeddings first).
    *
    * Determinism discipline: every embedding element collapses to a
    * micro-int BEFORE any cross-row reduction, so the per-(label, dim)
    * centroid sums are order-free integer sums; cosine against the
    * integer centroid is scale-invariant (sums, never divided by n) and
    * runs as the usual sequential in-row double fold; per-vector scores
    * re-collapse to micro-ints before the per-label avg. Shuffles are
    * keyed on (label, dim) then label — dims explode the corpus ×64 but
    * stay linear, and the centroid table (labels × dims) is broadcast
    * back. Hash-exact vs a DuckDB oracle that rebuilds the same sums. */
  def qLabelCentroids(s: SparkSession, sf: String): DataFrame = {
    val e = tWide(s, sf, "embeddings").select(col("vec_id"), col("label"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("v"))
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("dim", "value")))
      .groupBy("label", "dim").agg(sum(col("value")).as("sv"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("sv")))),
        x => x.getField("sv")).as("cent"))
    // one codegen'd loop (CosineSimilarityLong) instead of six interpreted
    // lambda folds per row — bit-identical accumulation order, so the
    // oracle hash is untouched (see the kernel's scaladoc)
    val cosLong = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.functions.CosineSimilarityLong(
        GraftColumnBridge.expression(col("v")),
        GraftColumnBridge.expression(col("cent"))))
    }
    e.join(broadcast(cent), Seq("label"))
      .select(col("label"), microScore(cosLong).as("cos_e6"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("cos_e6")).cast("double") / count(lit(1)), 0).cast("long")
          .as("avg_cos_e6"),
        min(col("cos_e6")).as("min_cos_e6"),
        max(col("cos_e6")).as("max_cos_e6"))
      .orderBy("label")
  }
}
