package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** X28: product quantization (PQ) — the memory-compression half of
  * large-scale ANN (Jégou et al. 2011, "Product Quantization for Nearest
  * Neighbor Search"). The 64-dim float embedding (256 B/vector) is split
  * into M contiguous DSUB-dim subvectors, each quantized independently
  * against a KSUB-entry per-subspace codebook, leaving M small codes per
  * vector (M·log2(KSUB) bits — 128 bits = 16 B at the default geometry,
  * a 16× compression; the array<int> storage here is a layout
  * convenience, the information content is 4 bits/code). Probes use
  * asymmetric distance computation (ADC): the query precomputes its
  * partial squared-L2 against every (subspace, code) centroid — an
  * M×KSUB table, broadcast — and each vector's approximate distance is
  * the sum of M table lookups over its codes; then the ADC top-C
  * shortlist is RE-RANKED with exact cosine over just C raw vectors (the
  * standard PQ+refine pipeline). The raw embeddings are read only for
  * the C shortlisted ids — a probe-sized semi-join, not a corpus scan.
  *
  * Why it matters at 100 TB: exact cosine over 100 TB of raw float
  * embeddings is scan-bound; with PQ the scored representation is ~6 TB
  * of codes, and composed with the trained IVF artifact (`qIvfPqTopk`)
  * the probe touches only the probed lists' codes — the standard IVF-PQ
  * layout of billion-scale ANN systems. Vectors are unit-normalized
  * before encoding so min-L2 == max-cosine and the ADC ranking
  * approximates the engine's exact cosine top-k (`q_cosine_topk`).
  * Measured on the testdata (near-UNIFORM synthetic vectors — PQ's
  * pathological case; real text embeddings cluster and quantize far
  * better): raw ADC recall@10 ≈ 0.65, shortlist-50 + exact re-rank ≈
  * 1.0.
  *
  * Determinism: codebook init is the same hash-ordered, RNG-free sample
  * as the trained IVF (`VectorOps.trainIvf`); encode assignment is
  * argmin-L2 with ties to the LOWEST code id; per-(sub,code) ADC partials
  * collapse to micro-ints BEFORE the per-vector sum, so scores are
  * order-free integer sums. Approximate by construction → no DuckDB
  * oracle; PqOpsSpec proves code-range/completeness, encode determinism,
  * pointwise append equality, and recall vs the exact ranking.
  *
  * Reference analog: the Chroma HNSW collection (`chroma_ingestion_util
  * .py:278-282`) is the reference's only ANN structure; PQ/IVF-PQ is the
  * shape that survives when the corpus outgrows one node's memory.
  */
object PqOps {

  /** Subspace geometry: M subspaces of DSUB dims, KSUB codes each. The
    * default (32 subspaces × 2 dims × 16 codes = 128 bits/vector) is
    * tuned on the 64-dim testdata embeddings: near-uniform vectors are
    * PQ's hardest case, and finer decomposition (more, lower-dim
    * subspaces) buys recall much faster than more codes per subspace
    * (measured: m=8 → 0.26 raw-ADC recall@10, m=16 → 0.45, m=32 →
    * 0.65; with the shortlist-50 exact re-rank m=32 reaches ~1.0). */
  val M = 32; val DSUB = 2; val KSUB = 16

  /** ADC shortlist size for the re-rank stage. */
  val SHORTLIST = 50

  /** Unit-normalize (double precision) so min-L2 == max-cosine. */
  private def unitNorm(emb: Column): Column = {
    val d = transform(emb, x => x.cast("double"))
    val n = sqrt(aggregate(d, lit(0.0), (s, x) => s + x * x))
    transform(d, x => x / n)
  }

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)

  /** (vec_id, sub, subvec): each normalized vector split into M contiguous
    * DSUB-dim subvectors — one explode, M rows per vector, no shuffle. */
  def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), unitNorm(col("embedding")).as("nv"))
      .select(col("vec_id"), explode(array((0 until M).map(j =>
        struct(lit(j).as("sub"),
          slice(col("nv"), j * DSUB + 1, DSUB).as("subvec"))): _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))

  /** Argmin-L2 code assignment against a broadcast codebook table — ties
    * break to the LOWEST code id (the probe-side ordering convention of
    * the whole vector family). Returns (vec_id, sub, code). */
  def assignCodes(sv: DataFrame, books: DataFrame): DataFrame =
    sv.join(broadcast(books), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        l2(col("subvec"), col("centroid")).as("d2"))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  /** Lloyd re-center: per-(sub, code) elementwise mean, fully distributed
    * (posexplode + groupBy on (sub, code, dim)) — the subspace analog of
    * `VectorOps.buildCentroids`. A code that attracts no members this
    * round drops out of the book (encode still totals M codes/vector:
    * argmin runs over the surviving codes). */
  def recenter(sv: DataFrame, assign: DataFrame): DataFrame =
    sv.join(assign, Seq("vec_id", "sub"))
      .select(col("sub"), col("code"), posexplode(col("subvec")).as(Seq("pos", "v")))
      .groupBy("sub", "code", "pos").agg(avg(col("v")).as("cv"))
      .groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("centroid"))

  /** Train the M per-subspace codebooks: deterministic hash-ordered init
    * (the KSUB vectors with the smallest xxhash64(vec_id) seed the codes —
    * no RNG, so the artifact stays content-addressed, and no density
    * assumption on the id space), then `iters` Lloyd rounds. Each round
    * is two keyed shuffles over the subvector frame
    * (assignment is a broadcast join; re-centering is keyed on
    * (sub, code, dim) — KSUB·M·DSUB groups). Returns the codebook frame
    * (sub, code, centroid), persisted via localCheckpoint; the caller
    * owns (and frees) it. */
  def trainPq(e: DataFrame, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint
    val sv = subvectors(e).localCheckpoint() // reused by every round
    try {
      val maxIdRow = e.agg(max(col("vec_id"))).head
      if (maxIdRow.isNullAt(0)) {
        // empty training set — empty codebooks with the right schema (the
        // encode/probe paths then emit zero rows), same degradation rule
        // as VectorOps.trainIvf
        return sv.limit(0).select(col("sub"), lit(0).cast("int").as("code"),
          col("subvec").as("centroid")).localCheckpoint()
      }
      // INIT (r14): seed codes from the KSUB vectors with the smallest
      // xxhash64(vec_id) — the same deterministic hash-ordered sample as
      // VectorOps.trainIvf, for the same reason: the old stride-over-id-
      // VALUES sample collapsed to one seed on sparse/offset id spaces
      // (every code identical ⇒ flat ADC). TakeOrderedAndProject +
      // a window over KSUB tiny rows.
      val hw = org.apache.spark.sql.expressions.Window
        .orderBy(col("h"), col("vec_id"))
      val seeds = e.select(col("vec_id"), xxhash64(col("vec_id")).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(KSUB)
        .select(col("vec_id"),
          (row_number().over(hw) - 1).cast("int").as("code"))
      var books = sv.join(broadcast(seeds), "vec_id")
        .select(col("sub"), col("code"), col("subvec").as("centroid"))
        .localCheckpoint()
      (1 to iters).foreach { _ =>
        val next = recenter(sv, assignCodes(sv, books)).localCheckpoint()
        unpersistCheckpoint(books)
        books = next
      }
      books
    } finally unpersistCheckpoint(sv)
  }

  /** Encode a corpus: M codes per vector, ordered by subspace. Pointwise
    * per vector (PqOpsSpec proves encode(base ∪ delta) == encode(base) ∪
    * encode(delta)), so corpus appends encode only the delta — the same
    * append discipline as the IVF assignment and the posting segments. */
  def encodePq(e: DataFrame, books: DataFrame): DataFrame =
    assignCodes(subvectors(e), books)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** ADC lookup table for one query: per-(sub, code) partial squared-L2
    * between the normalized query's subvector and the codebook centroid —
    * M×KSUB rows, collapsed to micro-ints HERE so every downstream score
    * is an order-free integer sum. */
  def adcTable(books: DataFrame, qv: DataFrame): DataFrame =
    books.crossJoin(broadcast(qv.select(unitNorm(col("qv")).as("nq"))))
      .select(col("sub"), col("code"),
        round(l2(col("centroid"),
          slice(col("nq"), col("sub") * lit(DSUB) + lit(1), lit(DSUB)))
          * 1000000, 0).cast("long").as("pd_e6"))

  /** Approximate squared distance per vector: posexplode the code array,
    * broadcast-join the ADC table on (sub, code), integer-sum the M
    * partials. The only corpus-sized shuffle is the final sum keyed on
    * vec_id, with map-side combine collapsing the M rows per vector
    * before the exchange. */
  def adcScores(codes: DataFrame, table: DataFrame): DataFrame =
    codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(table), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum(col("pd_e6")).as("adc_d2_e6"))

  /** The PQ artifact: `codebooks/` + `codes/` under one
    * content-fingerprinted dir, committed as a PAIR by the one marker.
    * Recorded as the oracle input "pq" for the DuckDB replay. */
  def ensurePq(s: SparkSession, sf: String, iters: Int = 2): String =
    ArtifactStore.record("pq", ArtifactStore.ensure("pq",
        ArtifactStore.sourceName(sf, "embeddings", s"pq:$M:$KSUB:$iters:v2")) { tmp =>
      val e = t(s, sf, "embeddings")
      val books = trainPq(e, iters)
      books.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(new java.io.File(tmp, "codebooks").toString)
      encodePq(e, read(s, new java.io.File(tmp, "codebooks").toString))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(new java.io.File(tmp, "codes").toString)
      org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(books)
    })

  /** Exact-cosine re-rank of an ADC shortlist: the raw embeddings are
    * read ONLY for the C shortlisted ids (broadcast semi-join pushes the
    * id set toward the scan) — probe-sized work, never a corpus scan. */
  def rerankExact(s: SparkSession, sf: String, shortlist: DataFrame,
      qv: DataFrame, k: Int): DataFrame =
    t(s, sf, "embeddings")
      .join(broadcast(shortlist.select("vec_id")), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(cosineFast(col("embedding"), col("qv")) * 1000000, 0)
          .cast("long").as("score_e6"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
      .limit(k)

  /** Flat-PQ probe with refine: ADC over ALL codes (the compressed scan —
    * ~16× lighter than raw at the default geometry), then exact re-rank
    * of the top-SHORTLIST candidates. No oracle (approximate); PqOpsSpec
    * checks recall vs the exact cosine ranking. */
  def qPqTopk(s: SparkSession, sf: String): DataFrame = {
    val dir = ensurePq(s, sf)
    val books = read(s, s"$dir/codebooks")
    val codes = read(s, s"$dir/codes")
    val qv = t(s, sf, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val short = adcScores(codes, adcTable(books, qv))
      .orderBy(col("adc_d2_e6").asc, col("vec_id").asc)
      .limit(SHORTLIST)
    rerankExact(s, sf, short, qv, 10)
  }

  /** ADC shortlist over the probed IVF lists only (no re-rank) — the
    * shared core of `qIvfPqTopk` and its consistency spec. */
  def ivfPqShortlist(s: SparkSession, sf: String, qv: DataFrame,
      nprobe: Int, c: Int): DataFrame = {
    val ivfDir = ArtifactStore.record("ivf_trained", VectorOps.ensureTrainedIvf(s, sf))
    val pqDir = ensurePq(s, sf)
    val probed = read(s, s"$ivfDir/centroids").crossJoin(broadcast(qv))
      .select(col("label"), cosineFast(col("centroid"), col("qv")).as("cs"))
      .orderBy(col("cs").desc, col("label").asc).limit(nprobe)
      .select("label")
    val cand = read(s, s"$pqDir/codes")
      .join(read(s, s"$ivfDir/assign"), Seq("vec_id"))
      .join(broadcast(probed), Seq("label"))
      .select("vec_id", "codes")
    adcScores(cand, adcTable(read(s, s"$pqDir/codebooks"), qv))
      .orderBy(col("adc_d2_e6").asc, col("vec_id").asc)
      .limit(c)
  }

  /** IVF-PQ probe with refine: route with the trained IVF centroids
    * (nprobe nearest lists), ADC-score ONLY the probed lists' codes, then
    * exact re-rank of the shortlist — probe work is (probed fraction) ×
    * (compressed corpus) + SHORTLIST raw reads, the layout billion-scale
    * ANN deployments run. Composes the two persisted artifacts; unprobed
    * codes and unshortlisted raw embeddings are never touched. */
  def qIvfPqTopk(s: SparkSession, sf: String): DataFrame = {
    val qv = t(s, sf, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    rerankExact(s, sf, ivfPqShortlist(s, sf, qv, nprobe = 3, c = SHORTLIST), qv, 10)
  }
}
