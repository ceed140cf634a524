package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * Determinism: codebooks are trained on the driver from the same
  * hash-ordered, RNG-free sample as the trained IVF (`VectorOps.trainIvf`);
  * assignment is argmin-L2 with ties to the LOWEST code id; per-(sub,code)
  * ADC partials collapse to micro-ints BEFORE the per-vector sum, so
  * scores are order-free integer sums. Approximate → no DuckDB oracle;
  * PqOpsSpec proves code-range/completeness, encode determinism, pointwise
  * append equality and recall; PqTrainSpec, row-equality to the old loop.
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

  /** Unit-normalize (double precision) so min-L2 == max-cosine. A zero
    * vector has no direction: its cells are null under any ANSI setting
    * (`try_divide`), the values plain division gives with ANSI off. */
  private def unitNorm(emb: Column): Column = {
    val d = transform(emb, x => x.cast("double"))
    val n = sqrt(aggregate(d, lit(0.0), (s, x) => s + x * x))
    transform(d, x => try_divide(x, n))
  }

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)

  /** Subvector `sub` of the normalized vector `nv`: DSUB contiguous dims. */
  private def subvec(nv: Column, sub: Column): Column =
    slice(nv, sub * DSUB + 1, lit(DSUB))

  /** The codebook table: one row per (subspace, code). */
  private val bookSchema = StructType(Seq(StructField("sub", IntegerType, nullable = false),
    StructField("code", IntegerType), StructField("centroid", ArrayType(DoubleType))))
  private val subBookSchema = StructType(Seq(bookSchema("sub"), StructField("book",
    ArrayType(StructType(bookSchema.drop(1)), containsNull = false))))

  /** Per vector, `array<struct<sub, code>>`: the argmin-L2 code of each
    * subvector of `nv` against the driver-held `books` (bookSchema rows,
    * one [[Tables.rowsLit]]). `array_min` over (d2, code) keeps the order of
    * `min_by(code, struct(d2, code))`: a null distance ranks below every
    * number, a NaN one above, ties go to the LOWEST code. `nv` is bound
    * once per row by a lambda over a one-element array (inlined, it would
    * be evaluated M·KSUB times). */
  private def argminCodes(nv: Column, books: Seq[Row]): Column = {
    val bySub = books.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (sub, rows) => Row(sub, rows.map(r => Row(r.getInt(1), r.get(2)))) }
    flatten(transform(array(nv), v =>
      transform(rowsLit(bySub, subBookSchema), s => struct(s.getField("sub").as("sub"),
        array_min(transform(s.getField("book"), b => struct(
          l2(subvec(v, s.getField("sub")), b.getField("centroid")).as("d2"),
          b.getField("code").as("code")))).getField("code").as("code")))))
  }

  /** [[trainPq]]'s books, held on the driver as bookSchema rows. */
  private def train(e: DataFrame, iters: Int): Seq[Row] = {
    val v = e.select(unitNorm(col("embedding")).as("nv"))
    var books: Seq[Row] = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(KSUB)
      .select(transform(sequence(lit(0), lit(M - 1)), subvec(unitNorm(col("embedding")), _)))
      .collect().toSeq.zipWithIndex.flatMap { case (r, code) =>
        r.getSeq[Any](0).zipWithIndex.map { case (sv, sub) => Row(sub, code, sv) }
      }
    (1 to iters).foreach { _ =>
      books = v.select(col("nv"), inline(argminCodes(col("nv"), books)))
        .select(col("sub"), col("code"),
          posexplode(subvec(col("nv"), col("sub"))).as(Seq("pos", "v")))
        .groupBy("sub", "code", "pos").agg(avg(col("v")).as("cv"))
        .collect().toSeq.groupBy(r => (r.getInt(0), r.getInt(1))).toSeq.sortBy(_._1)
        .map { case ((sub, code), cs) => Row(sub, code, cs.sortBy(_.getInt(2)).map(_.get(3))) }
    }
    books
  }

  /** Driver-held books as a one-partition frame (one codebook file). */
  private def bookFrame(s: SparkSession, books: Seq[Row]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(books: _*), bookSchema).coalesce(1)

  /** Train the M codebooks (sub, code, centroid) on the driver, in
    * `VectorOps.trainIvf`'s shape: the KSUB vectors with the smallest
    * xxhash64(vec_id) seed the codes (one TakeOrderedAndProject collect; no
    * RNG, no id-density assumption), then each Lloyd round is one
    * [[argminCodes]] scan and one (sub, code, dim) average shuffle whose
    * M·KSUB·DSUB cells become the next books. No checkpoints. A code with
    * no members drops out of its book; an empty corpus gives empty books. */
  def trainPq(e: DataFrame, iters: Int = 2): DataFrame =
    bookFrame(e.sparkSession, train(e, iters))

  private def encode(e: DataFrame, books: Seq[Row]): DataFrame = {
    val out = e.select(col("vec_id"), transform(
      argminCodes(unitNorm(col("embedding")), books), x => x.getField("code")).as("codes"))
    if (books.isEmpty) out.limit(0) else out
  }

  /** Encode a corpus: (vec_id, codes), M codes per vector ordered by
    * subspace, by the training rounds' narrow projection against the
    * collected books: no shuffle, and no books encode no rows. Pointwise
    * per vector (PqOpsSpec proves encode(base ∪ delta) == encode(base) ∪
    * encode(delta)), so corpus appends encode only the delta — the same
    * append discipline as the IVF assignment and the posting segments. */
  def encodePq(e: DataFrame, books: DataFrame): DataFrame =
    encode(e, books.select("sub", "code", "centroid").collect().toSeq)

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
    * content-fingerprinted dir, committed as a PAIR by the one marker,
    * both written from the driver-held books. Recorded as the oracle
    * input "pq" for the DuckDB replay. */
  def ensurePq(s: SparkSession, sf: String, iters: Int = 2): String =
    ArtifactStore.record("pq", ArtifactStore.ensure("pq",
        ArtifactStore.sourceName(sf, "embeddings", s"pq:$M:$KSUB:$iters:v2")) { tmp =>
      val e = t(s, sf, "embeddings")
      val books = train(e, iters)
      bookFrame(s, books).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(new java.io.File(tmp, "codebooks").toString)
      encode(e, books).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(new java.io.File(tmp, "codes").toString)
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
