package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Corpus-curation operators a training-data pipeline runs ahead of the
  * reference's ingestion/profiling stage (`ingestion_pipeline_langgraph.py:
  * 440-470` stops at row/null/dup profiling): Gopher-style repetition
  * signals, PII redaction, and deterministic stratified splits. All three
  * are single-shuffle-or-less shapes that hold at 100 TB, and all three are
  * oracle-checked against DuckDB (ratios use the micro-int pattern — see
  * `Tables.dsum` Scaladoc for why raw rounded doubles are tie-unstable).
  */
object CorpusOps {

  /** Repetition signals per document (the Gopher/MassiveText quality
    * filters: fraction of tokens in the most common token, distinct-token
    * ratio, fraction of 2-grams in the most common 2-gram). Shape: two
    * explode→groupBy((doc_id, gram)) passes — map-side combine applies, the
    * shuffle key cardinality is O(total tokens), nothing is quadratic in
    * document length (the HOF mode-of-array alternative is O(len²) per doc).
    */
  def qRepetition(s: SparkSession, sf: String): DataFrame = {
    val docs = tWide(s, sf, "documents")
    val base = docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
    // r18 shape: ONE tagged gram stream (g=1 unigrams, g=2 bigrams —
    // ~2n rows, the same volume the two separate explodes moved) feeds ONE
    // (doc, g, gram)-keyed count and ONE per-doc rollup, replacing two
    // independent explode→groupBy→groupBy chains and one of the two
    // doc-keyed joins. Map-side combine applies unchanged; the bigram
    // slice is empty for 1-token docs (greatest(n-1, 0)), so no n_tok>=2
    // pre-filter job is needed — such docs simply emit no g=2 rows and the
    // rollup's max(when(g=2)) stays NULL, exactly the old left join's
    // shape.
    val grams = base.select(col("doc_id"), explode(concat(
        transform(col("toks"), t => struct(lit(1).as("g"), t.as("gram"))),
        zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => struct(lit(2).as("g"),
            concat(a, lit(" "), b).as("gram"))))).as("e"))
    val top = grams
      .groupBy(col("doc_id"), col("e.g").as("g"), col("e.gram").as("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(when(col("g") === 1, col("c"))).as("top_cnt"),
        max(when(col("g") === 2, col("c"))).as("top_bi"))
    base.drop("toks")
      .join(top, Seq("doc_id"))
      .select(
        col("doc_id"), col("n_tok"),
        round(col("top_cnt").cast("double") / col("n_tok").cast("double") * 1000000, 0)
          .cast("long").as("top_tok_e6"),
        round(col("n_distinct").cast("double") / col("n_tok").cast("double") * 1000000, 0)
          .cast("long").as("distinct_ratio_e6"),
        when(col("n_tok") >= 2,
          round(coalesce(col("top_bi"), lit(0L)).cast("double") /
            (col("n_tok") - 1).cast("double") * 1000000, 0).cast("long"))
          .otherwise(lit(0L)).as("top_bigram_e6"))
      .orderBy("doc_id")
  }

  // PII patterns, written to mean the same thing in Java regex (Spark) and
  // RE2 (DuckDB): no \d, no backrefs, no lookaround.
  private val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}"
  private val ipRe    = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII redaction: count and replace emails, phone numbers, and IPv4
    * addresses with typed placeholders. Pure projection — no shuffle, stays
    * inside whole-stage codegen. The synthetic corpus contains no PII, so
    * the query augments each row with deterministic doc_id-derived contact
    * strings first; redaction then has non-trivial, oracle-checkable work
    * (the redacted text is md5-compared byte-for-byte against DuckDB running
    * the same regexes). Redaction order matters — emails first, else the
    * digits inside a username could be half-eaten by the phone pattern. */
  def qPiiRedact(s: SparkSession, sf: String): DataFrame = {
    val aug = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail-"), col("source"), lit(".example.com"),
      when(col("doc_id") % 2 === 0, lit(" cc admin@example.org")).otherwise(lit("")),
      lit(" call +1-555-"), (col("doc_id") % 10000).cast("string"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 3) % 256).cast("string"), lit(".4"))
    tWide(s, sf, "documents")
      .select(col("doc_id"), aug.as("aug"))
      .select(
        col("doc_id"),
        // regexp_count with lit patterns — routing these through expr() SQL
        // literals would re-process the backslash escapes
        regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_email"),
        regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phone"),
        regexp_count(col("aug"), lit(ipRe)).cast("long").as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("aug"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"),
          ipRe, "<IP>").as("redacted"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        md5(col("redacted")).as("redacted_md5"),
        length(col("redacted")).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  /** Deterministic train/dev/test assignment for `keyCol`: first hex digit
    * of md5(key || ":split") — 12/16 train, 2/16 dev, 2/16 test. Salted-hash
    * splits are the standard reproducible alternative to `rand()` sampling:
    * stable across runs, engines, and partitionings, and adding rows never
    * reassigns existing ones. md5 is bit-identical in Spark and DuckDB, so
    * the assignment itself is oracle-checkable (engine hashes like xxhash64
    * are not mirrorable). */
  def splitAssign(keyCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = substring(md5(concat(keyCol.cast("string"), lit(":split"))), 1, 1)
    when(h < "c", "train").when(h < "e", "dev").otherwise("test")
  }

  /** Quantile-thresholded quality filter — the standard corpus-curation
    * composition: score every doc, take the per-stratum exact median, keep
    * docs at-or-above their stratum's median. Two passes over the scored
    * frame (one grouped percentile, one broadcast-joined filter); the
    * per-lang median table is O(strata) rows — always broadcastable. Exact
    * interpolated `percentile` is used (not `approx_percentile`) so the
    * threshold is engine-mirrorable; at 100 TB the approximate sketch is
    * the drop-in when the threshold needs no oracle. */
  def qQualityFilter(s: SparkSession, sf: String): DataFrame = {
    val docs = tWide(s, sf, "documents")
    val scored = TextOps.qualityPerDoc(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val medians = scored.groupBy("lang")
      .agg(expr("percentile(quality_e6, 0.5)").as("med_quality"))
    scored.join(broadcast(medians), Seq("lang"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("quality_e6") >= col("med_quality"), 1L).otherwise(0L)).as("n_kept"),
        round(first(col("med_quality")), 1).as("med_quality"))
      .orderBy("lang")
  }

  /** Deterministic weighted source mixing — the data-mixing step in front
    * of training: downsample each source to its share of a global character
    * budget (here 40% of the corpus, shares proportional to the source's
    * alphabetical rank — a stand-in for operator-chosen domain weights).
    * The keep decision is a salted-md5 bucket on doc_id (same family as
    * `splitAssign`): source s keeps bucket values below
    * `⌊budget·w_s·4096 / chars_s⌋` of 4096, so sampling is stable across
    * runs, engines, and partitionings, and adding documents never flips
    * existing decisions. Every number feeding the threshold is integer or
    * a single-association chain of IEEE double ops, and the bucket
    * comparison is over the 3-hex-digit string against `printf("%03x")` of
    * the threshold — bit-identical in Spark and DuckDB, so the whole
    * sampler is hash-verified by the oracle (a `rand()` sampler could
    * never be). Per-source rate metadata is O(sources) — broadcast. */
  def qMixSources(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, sf, "documents").select(col("doc_id"), col("source"), col("n_chars"))
    val vol = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum(col("n_chars").cast("long")).as("chars_s"))
    val ranked = vol.withColumn("rank",
      dense_rank().over(Window.orderBy("source")).cast("long"))
    val tot = ranked.agg(sum(col("chars_s")).as("total_chars"),
      sum(col("rank")).as("sum_ranks"))
    val thr = ranked.crossJoin(broadcast(tot))
      .withColumn("thr", floor(
        (lit(0.4) * col("total_chars").cast("double") * col("rank").cast("double")
          * lit(4096.0))
          / (col("sum_ranks").cast("double") * col("chars_s").cast("double")))
        .cast("long"))
      .select("source", "n_docs", "thr")
    val bucket = substring(md5(concat(col("doc_id").cast("string"), lit(":mix"))), 1, 3)
    docs.join(broadcast(thr), Seq("source"))
      .withColumn("keep",
        col("thr") >= 4096 || bucket < format_string("%03x", col("thr")))
      .groupBy("source")
      .agg(
        min(col("n_docs")).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars").cast("long")).otherwise(0L)).as("chars_kept"),
        min(col("thr")).as("thr"))
      .orderBy("source")
  }

  /** Per-doc curation-stage flags shared by [[qContamination]],
    * [[qCurationFunnel]], and [[qDropReasons]] — the three release-report
    * faces previously each re-ran the SAME three corpus-scale stages
    * (md5 exact-dedup keep rule, eval-shingle decontamination semi-join,
    * quality scoring), so a bench pass paid the funnel 3×. The stages are
    * deterministic pure functions of the corpus, so they follow the
    * write-once artifact lifecycle (ensureBigramLm/ensureSq8): one
    * content-fingerprinted per-doc flag table (corpus-ROW-sized — the
    * token-scale work happens only at build), and every face becomes a
    * probe: scan + keyed agg or projection. A regenerated corpus maps to
    * a new fingerprint dir; the DuckDB oracles replay full stage logic,
    * so a stale artifact would hash-mismatch. */
  private def buildCurationStages(s: SparkSession, sf: String, outDir: String): Unit = {
    val docs = tWide(s, sf, "documents").filter(col("doc_id") % 97 =!= 0)
    val keepDedup = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val benchKeys = DedupOps.withShingles(
        t(s, sf, "documents").filter(col("doc_id") % 97 === 0))
      .select(explode(col("sh")).as("key")).distinct()
    val contaminated = DedupOps.withShingles(docs)
      .select(col("doc_id"), explode(col("sh")).as("key"))
      .join(benchKeys, Seq("key"), "left_semi")
      .select("doc_id").distinct()
    val quality = TextOps.qualityPerDoc(docs)
      .filter(col("quality_e6") >= 500000).select("doc_id")
    docs.select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      .join(keepDedup.withColumn("s1", lit(1L)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("ct", lit(1L)), Seq("doc_id"), "left")
      .join(quality.withColumn("q", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("s1").isNotNull.as("dedup_keep"),
        col("ct").isNotNull.as("contaminated"),
        col("q").isNotNull.as("quality_pass"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$outDir/stages")
  }

  private val stagesSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, source STRING, n_chars BIGINT, dedup_keep BOOLEAN, " +
      "contaminated BOOLEAN, quality_pass BOOLEAN")

  def ensureCurationStages(s: SparkSession, sf: String): String =
    ArtifactStore.ensure("curation_stages",
      ArtifactStore.sourceName(sf, "documents", "cur-v1"))(
      tmp => buildCurationStages(s, sf, tmp.toString))

  private def curationStages(s: SparkSession, sf: String): DataFrame =
    s.read.schema(stagesSchema)
      .parquet(s"${ensureCurationStages(s, sf)}/stages")

  /** Benchmark decontamination — the eval-set overlap check a training
    * corpus runs before release: flag every corpus document sharing ANY
    * word-3-shingle with the held-out set (here every 97th doc stands in
    * for the benchmark). The eval side reduces to a distinct shingle set;
    * the corpus explodes to (doc, shingle) and LEFT SEMI joins it, so work
    * is linear in corpus shingles with a shuffle keyed on the shingle —
    * never a doc×doc comparison, and an eval set of millions of shingles
    * still just partitions the join (broadcast is an optimization when it
    * fits, not a requirement). Exact and oracle-checked per source; served
    * from the per-doc stage artifact (one flag-table scan + keyed agg). */
  def qContamination(s: SparkSession, sf: String): DataFrame =
    curationStages(s, sf)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy("source")

  /** X29: end-to-end curation funnel — the chained survivor report a
    * corpus release tracks per source: raw → exact dedup (keep the lowest
    * doc_id per md5 fingerprint) → benchmark decontamination (drop docs
    * sharing any word-3-shingle with the held-out eval slice, doc_id %
    * 97 == 0) → quality floor (quality_e6 ≥ 500000). One DataFrame
    * program composing three ALREADY-verified stage shapes (hash-agg
    * dedup, shingle-keyed semi-join, pure-projection scoring) through
    * doc_id-keyed left joins; every shuffle is keyed on fingerprint,
    * shingle, or doc_id — the whole funnel remains linear in corpus
    * tokens and produces one row per source. Demonstrates that a user's
    * full release pipeline runs as ONE lazy plan (stage flags never
    * materialize per-doc intermediates to the driver). */
  def qCurationFunnel(s: SparkSession, sf: String): DataFrame = {
    val st = curationStages(s, sf)
    val surv = col("dedup_keep") && !col("contaminated")
    st.groupBy("source")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("dedup_keep"), 1L).otherwise(0L)).as("n_after_dedup"),
        sum(when(surv, 1L).otherwise(0L)).as("n_after_decontam"),
        sum(when(surv && col("quality_pass"), 1L).otherwise(0L)).as("n_final"),
        sum(when(surv && col("quality_pass"), col("n_chars")).otherwise(0L))
          .as("chars_final"))
      .orderBy("source")
  }

  /** X65: collocation extraction — adjacent token pairs ranked by
    * pointwise mutual information, the classic multi-word-expression
    * detector a tokenizer-curation pass runs before merging tokens
    * ("new york", "machine learning"). PMI = ln(p(ab) / (p(a)·p(b))) with
    * unigram probabilities from the token stream and bigram probabilities
    * from the adjacent-pair stream, computed as ONE double ratio inside
    * one ln (both engines parse a*b*c left-to-right, so the expression is
    * IEEE-identical and the e6 quantization hash-matches — the bigram-LM
    * precedent). Counts are map-side-combinable keyed aggregations
    * (unigram key = token, bigram key = pair); totals ride as 1-row
    * broadcasts; the min-count floor (n_ab ≥ 5) kills the noise tail
    * BEFORE the join, so the joined frame is collocation-sized. Top-30 by
    * (pmi, pair) under a total order. */
  def qPmiCollocations(s: SparkSession, sf: String): DataFrame = {
    val toks = tWide(s, sf, "documents").select(
      split(trim(lower(col("text"))), "\\s+").as("tk"))
    // r18 shape: ONE corpus explode instead of two. Every token occurrence
    // is the LEFT element of exactly one (a, b) pair when each doc's last
    // token emits a trailing (a, NULL) row — so the (a, b) count table
    // subsumes the unigram counts: n(a) = Σ_b n_ab(a, b) over the
    // VOCAB-sized pair table (a re-aggregation of aggregates, never a
    // second corpus pass), and n_bi / n_uni reduce over the same tables.
    val biAll = toks.select(explode(expr(
        "transform(tk, (x, i) -> struct(x AS a, " +
          "CASE WHEN i < size(tk) - 1 THEN element_at(tk, i + 2) END AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val uni = biAll.groupBy(col("a").as("t")).agg(sum(col("n_ab")).as("n"))
    val uniTot = uni.agg(sum(col("n")).as("n_uni"))
    val bi = biAll.filter(col("b").isNotNull)
    val biTot = bi.agg(sum(col("n_ab")).as("n_bi"))
    bi.filter(col("n_ab") >= 5)
      .join(uni.select(col("t").as("a"), col("n").as("n_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(biTot))
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi").cast("double") * col("n_a") * col("n_b"))) * 1000000, 0)
          .cast("long").as("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("a").asc, col("b").asc)
      .limit(30)
  }

  /** X63: per-document curation LINEAGE — the audit table beside
    * [[qCurationFunnel]]'s aggregate report: for every raw document, the
    * FIRST pipeline stage that rejected it (pipeline order: duplicate →
    * contaminated → low_quality) or `kept`. A governed corpus release
    * needs the per-record reason trail (provenance audits, debugging a
    * filter regression, answering "why is my document gone"); the three
    * stage shapes are the funnel's already-verified ones, composed through
    * the same doc_id-keyed left joins, so the lineage table costs what the
    * funnel costs — linear in corpus tokens, one output row per raw doc,
    * and the per-doc reasons are ORACLE-HASHED, not just counted. */
  def qDropReasons(s: SparkSession, sf: String): DataFrame =
    curationStages(s, sf)
      .select(col("doc_id"), col("source"),
        when(!col("dedup_keep"), "duplicate")
          .when(col("contaminated"), "contaminated")
          .when(!col("quality_pass"), "low_quality")
          .otherwise("kept").as("reason"))
      .orderBy("doc_id")

  /** X27: duplicated-shingle span profile — the exact substring-duplication
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better") at word-3-shingle granularity: for each document, the
    * fraction of its distinct shingles that also occur in ≥1 OTHER
    * document. High dup_frac flags boilerplate/templated text for
    * span-level (not whole-doc) dedup. Corpus-wide duplicate-shingle
    * detection is one explode→agg keyed on the shingle — linear in corpus
    * tokens with map-side combine; the per-doc rollup LEFT SEMI joins doc
    * shingles against the dup-key set on the same key. Never doc×doc, and
    * no driver-side state, so the shape holds at 100 TB. */
  def qDupNgramSpans(s: SparkSession, sf: String): DataFrame = {
    // shingles are DISTINCT per doc (WordShingles contract), so each
    // (doc, key) row is unique after the explode: count(1) per key IS the
    // document frequency — no countDistinct expansion. And the keys travel
    // as 64-bit hashes through both the df groupBy and the flag join
    // (r16: isolated 5.2 -> 2.6 s x16, 19.1 -> 7.8 s x64; the dedup
    // family's accepted collision tradeoff, certified by the string-keyed
    // oracle).
    //
    // r18 shape: ONE explicit exchange on k serves both the df aggregate
    // and the flag join's probe side (ReusedExchange — the dedupSpans
    // trick), the df rides BACK onto each occurrence row via a
    // co-partitioned SHUFFLE-HASH join (owners side is
    // distinct-shingle-sized, never broadcast — corpus-sized at 100 TB),
    // and per-doc totals and dup counts come out of ONE doc-keyed
    // aggregation (sum of df>=2 flags). The previous formulation paid a
    // semi join plus TWO corpus-token groupBy(doc_id) passes plus a
    // doc-keyed join for the same numbers.
    val sh = DedupOps.withShingles(tWide(s, sf, "documents"))
      .select(col("doc_id"), explode(col("sh")).as("key"))
      .select(col("doc_id"), xxhash64(col("key")).as("k"))
    val exk = sh.repartition(col("k"))
    val dfreq = exk.groupBy("k").agg(count(lit(1)).as("df"))
    exk.join(dfreq.hint("shuffle_hash"), Seq("k"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
        round(col("n_dup_shingles").cast("double")
          / col("n_shingles").cast("double") * 1000000, 0).cast("long")
          .as("dup_frac_e6"))
      .orderBy("doc_id")
  }

  /** X78: span-level duplicate REMOVAL — the action face of X27's profile
    * (Lee et al. 2022 §4, ExactSubstr: cut exact-duplicate substrings,
    * keep one occurrence). Word-3-shingle granularity with POSITIONS:
    * an occurrence of shingle `key` at position `p` of doc `d` is
    * removable when the key occurs in ≥2 distinct docs and `d` is not the
    * corpus-wide first doc containing it (keep rule: the min-doc_id owner
    * keeps every occurrence — deterministic, no tie to break). Maximal
    * runs of ≥ `minRun` consecutive removable positions become word
    * intervals [start, end+2] (a run of L 3-shingles covers L+2 words);
    * the doc's cleaned text is its surviving words joined by one space
    * (output text is whitespace-normalized for ALL docs — part of the
    * contract, matching the tokenize→rejoin round trip).
    *
    * Scale shape: positional-shingle explode is linear in corpus tokens;
    * owner detection is ONE keyed groupBy on the shingle with map-side
    * combine; the flag join is keyed on the same shingle; run merging is
    * a per-doc window (bounded by document length, never corpus-sized);
    * the interval list per doc is ≤ n_words/minRun entries. Never doc×doc,
    * no driver state — the same keyed-shuffle budget as the dedup family.
    *
    * Two shuffle economies (same tricks as the PPJoin path):
    *  - shingles travel as 64-bit xxhash64 keys, not strings, through the
    *    owner groupBy AND the flag join (~4× fewer shuffle bytes; ~1e-2
    *    expected colliding PAIRS corpus-wide at 10⁹ distinct shingles,
    *    ~0 at any tested SF — the dedup family's accepted tradeoff,
    *    certified by the string-keyed oracle). SCALE LIMIT of the
    *    tradeoff: expectation grows as n²/2⁶⁵, so a full 100 TB corpus
    *    (~10¹² distinct shingles) expects ~10⁴ colliding pairs. minRun
    *    ≥ 5 still bounds WRONGFUL REMOVAL (an isolated collision cannot
    *    fabricate a 5-shingle run, so surgery stays safe), but
    *    [[qDupNgramSpans]]' per-doc dup-shingle COUNTS inflate by the
    *    colliding keys. A run at that scale should either widen to
    *    128-bit keys (concat of two seeded xxhash64 calls — double the
    *    key bytes, expectation back to ~1e-15) or spot-check the hashed
    *    counts with a sampled string-keyed audit: re-run the owner
    *    groupBy on a 1% doc sample with raw string keys and compare
    *    per-doc counts — any drift > the sketch bound localizes a
    *    colliding key;
    *  - the df ≥ 2 distinct-docs condition is NOT computed: `doc_id >
    *    keeper` already implies it (the keeper is a DIFFERENT doc holding
    *    the same key), and df ≥ 2 adds nothing for keeper-doc occurrences
    *    (never removable under the keep rule). Dropping it removes a
    *    two-phase countDistinct over the corpus-token stream.
    */
  def dedupSpans(docs: DataFrame, minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // isNotNull on doc_id HERE, not inferred: the flag join below is
    // null-intolerant on doc_id, so Catalyst pushes an IsNotNull below the
    // widening exchange on the shingle branch only — making the two
    // branches' exchange subtrees differ and costing a SECOND full scan +
    // exchange of documents (r18 profile: two sequential single-task scan
    // stages). Filtering up front keeps both subtrees identical so the
    // exchange is computed once (ReusedExchange). doc_id is the table's
    // key (never null at any SF); a hypothetical null-keyed doc is
    // undefined under the min-doc_id keep rule anyway.
    val toksed = docs.filter(col("doc_id").isNotNull).select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
    // The sub-3-token guard is an in-expression CASE, not a filter: a
    // pushed filter would also land below the shared exchange on this
    // branch only (same subtree-divergence cost as the IsNotNull above) —
    // and it paid a THIRD split() of every text inside the scan stage.
    // (An r18 experiment replaced the concat-string shingle with
    // seed-chained xxhash64(t1,t2,t3) over a once-lowered token array —
    // two interpreted HOF lambdas measured ~1.8× the concat+codegen-hash
    // kernel, the same interpreted-lambda penalty the r17 surgery
    // experiment hit; the concat form stays.)
    val shingled = toksed
      .select(col("doc_id"), posexplode(expr(
        "transform(CASE WHEN size(toks) >= 3 THEN sequence(0, size(toks) - 3) " +
          "ELSE array() END, i -> " +
          "concat(lower(toks[i]), ' ', lower(toks[i+1]), ' ', lower(toks[i+2])))")))
      .toDF("doc_id", "p", "key")
      .select(col("doc_id"), col("p"), xxhash64(col("key")).as("k"))
    // ONE explicit exchange on k serves both the owner aggregate and the
    // flag join's probe side (identical repartition subtrees →
    // ReusedExchange), so the shingle kernel — the pipeline's CPU head —
    // runs ONCE instead of once per consumer. The shuffle-hash hint keeps
    // the join off the two paths that broke at the x128 octave: the
    // default plan BROADCAST the aggregated owners frame (its
    // post-aggregation size estimate is tiny, its real size is
    // distinct-shingle-count — corpus-sized, ~1 GB at x128 and unbounded
    // at 100 TB), and the no-stats fallback is an SMJ that sorts the full
    // shingle stream. SHJ builds per-partition hash maps of the owners
    // rows already co-partitioned by the shared exchange (zero extra
    // shuffles); per-partition build memory is that partition's distinct
    // shingle share — partitions track cores locally and AQE sizes them
    // to the stream at scale, the qJoin3Revenue sizing note applies.
    val exk = shingled.repartition(col("k"))
    val owners = exk.groupBy("k").agg(min(col("doc_id")).as("keeper"))
    val flagged = exk.join(owners.hint("shuffle_hash"), Seq("k"))
      .filter(col("doc_id") > col("keeper"))
      .select("doc_id", "p")
    // (an r17 experiment replaced this window cascade with one
    // collect_list aggregation + a single array-HOF projection — fewer
    // shuffles, no sorts — but interpreted per-element lambdas over
    // the position stream measured ~2× the codegen'd cascade at x128;
    // the cascade stays, the scale fixes live in the joins above/below)
    val w = Window.partitionBy("doc_id").orderBy("p")
    val runs = flagged
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("s"), (max(col("p")) + 2).as("e"),
        count(lit(1)).as("rl"))
      .filter(col("rl") >= minRun)
    // Adjacent runs of shingle positions produce OVERLAPPING word
    // intervals once each is extended +2 words (runs separated by one or
    // two unflagged positions touch in word space), so merge them into
    // disjoint sorted intervals — gaps-and-islands again, one level up:
    // ordered by s, a new island starts where s exceeds the running max
    // of every prior e. Linear in span count (the window is per-doc and
    // span-level, never word-level). n_spans stays the PRE-merge run
    // count — the contract counts duplicated runs, not surgery cuts.
    val ws = Window.partitionBy("doc_id").orderBy("s", "e")
    val merged = runs
      .withColumn("pmax",
        max(col("e")).over(ws.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(ws))
      .groupBy("doc_id", "island")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"),
        count(lit(1)).as("nr"))
    val ivs = merged.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        sum(col("nr")).as("n_spans"))
    // Surgery is ONE sorted sweep over the disjoint intervals: the kept
    // words are exactly the inter-interval gaps, so slice each gap out of
    // `toks` and flatten — O(words + spans) per doc, vs the old
    // per-word × per-span containment filter (O(words × spans), quadratic
    // on boilerplate-heavy web docs where spans ~ words / minRun).
    // shuffle_hash, same reason as the flag join: ivs is doc-count-sized
    // (every doc holding a removable span), so the default broadcast of it
    // is a corpus-scale driver collect at 100 TB; its window chain already
    // left it partitioned on doc_id, so SHJ builds in place and only the
    // probe (toksed) side moves.
    toksed.join(ivs.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("miv",
        coalesce(col("ivs"), expr("cast(array() as array<struct<s:int,e:int>>)")))
      .withColumn("kept", expr(
        "flatten(zip_with(" +
          "concat(array(0), transform(miv, v -> v.e + 1)), " +
          "concat(transform(miv, v -> v.s - 1), array(size(toks) - 1)), " +
          "(a, b) -> slice(toks, a + 1, greatest(b - a + 1, 0))))"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        array_join(col("kept"), " ").as("text_clean"))
  }

  /** Oracle face of X78 at minRun = 5 (runs of ≥5 shingles = ≥7 words —
    * proportionate to the fixture's 10-100-word docs; Lee et al. use 50
    * tokens on web-scale docs). The DuckDB oracle replays the full chain:
    * positional shingles, min-doc_id keep rule, gaps-and-islands run
    * merge, interval union, and the word-level string surgery. */
  def qDedupSpans(s: SparkSession, sf: String): DataFrame =
    dedupSpans(tWide(s, sf, "documents"), minRun = 5).orderBy("doc_id")

  /** Stratified split audit: per (lang, split) doc counts and char volume —
    * the sanity report run after assignment to confirm strata balance. */
  def qSplitStratified(s: SparkSession, sf: String): DataFrame =
    t(s, sf, "documents")
      .withColumn("split", splitAssign(col("doc_id")))
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang", "split")

  /** X18: training-sequence packing — whole documents greedily packed, in
    * doc_id order, into fixed token-budget sequences (the standard
    * pretraining batch-prep step ahead of tokenization). Docs are never
    * split; a doc that does not fit the open pack CLOSES it and opens the
    * next (a greedy RESET — not expressible as cumsum bucketing, which
    * would let a pack straddle the budget), and a doc alone over the
    * budget gets a pack of its own.
    *
    * The state machine is inherently sequential, so the scale shape is the
    * same two-level decomposition as the chunker and the blocked as-of:
    *  1. docs are range-split into order-contiguous blocks of ≲
    *     `rowsPerBlock` rows (`repartitionByRange` — block i holds
    *     strictly smaller doc_ids than block i+1), and the greedy machine
    *     runs per block iterator — bounded task state, a block boundary
    *     forces a pack break;
    *  2. per-block pack counts (ONE row per block) prefix-sum into block
    *     offsets, and `pack_id = offset + pack_in_block` keeps ids dense
    *     and globally ordered. The unpartitioned window runs over the
    *     per-block aggregate only, never the rows (PlanSpec contract).
    * Pack layout near block boundaries is an artifact (like chunk layout);
    * coverage, doc order, the budget cap, and id density are the contract.
    * The single-block formulation is the oracle (`q_pack_sequences`,
    * checked against a DuckDB recursive-CTE greedy scan). */
  def packSequences(docs: DataFrame, budget: Long,
      rowsPerBlock: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .withColumn("n_tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      .select(col("doc_id").cast("long").as("doc_id"), col("n_tok"))
    val n = toks.count()
    val nBlocks = math.max(1, math.ceil(n.toDouble / rowsPerBlock).toInt)
    val packed = s.createDataFrame(
      toks.repartitionByRange(nBlocks, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .as[(Long, Long)]
        .rdd.mapPartitionsWithIndex { (blk, it) =>
          // range partition i holds strictly smaller ids than i+1, so the
          // partition index IS the block ordinal
          var pack = -1L
          var room = -1L
          it.map { case (id, tok) =>
            if (pack >= 0L && tok <= room) room -= tok
            else { pack += 1; room = budget - tok } // negative for oversized
            (blk, id, pack, tok)
          }
        }).toDF("blk", "doc_id", "pack_in_block", "n_tok")
    val offsets = packed.groupBy("blk")
      .agg((max(col("pack_in_block")) + 1L).as("np"))
      .withColumn("off", coalesce(sum(col("np")).over(
        Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("blk", "off")
    packed.join(broadcast(offsets), "blk")
      .select(col("doc_id"), (col("off") + col("pack_in_block")).as("pack_id"),
        col("n_tok"))
  }

  /** Oracle face of X18: single-block greedy packing at a 128-token
    * budget — the corpus spans 10-99 tokens/doc, so the result mixes
    * multi-doc packs (up to 4 docs) with docs that close a pack alone,
    * and every branch of the greedy reset is hash-checked. */
  def qPackSequences(s: SparkSession, sf: String): DataFrame =
    packSequences(t(s, sf, "documents"), budget = 128,
      rowsPerBlock = Int.MaxValue).orderBy("doc_id")
}
