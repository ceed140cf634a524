package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Byte-pair-encoding tokenizer TRAINING over a distributed corpus — the
  * subword-vocabulary learning step of a training-data pipeline (Sennrich,
  * Haddow & Birch, ACL 2016, "Neural Machine Translation of Rare Words with
  * Subword Units"). The engine's other text operators consume a fixed
  * BPE-ish regex (`TextOps.qTokenBpe`); this one LEARNS the merge table
  * from the data.
  *
  * Scale shape: the corpus is touched ONCE — a word-frequency aggregation
  * (shuffle on word, the same bounded key as qVocabTop). Every merge round
  * after that runs on the VOCAB table (distinct words × symbol arrays),
  * which is orders of magnitude smaller than the corpus and independent of
  * corpus row count — at 100 TB the vocab is millions of rows, not
  * billions. Per round: one pair-count aggregation over the vocab (keyed
  * shuffle), one 1-row argmax `collect` to the driver (the algorithm's
  * global decision — metadata-scale, like a Delta log read), and one
  * projection applying the merge with a codegen-friendly `aggregate` HOF
  * fold (left-to-right non-overlapping, exactly the reference algorithm's
  * merge semantics). Lineage is truncated with `localCheckpoint` every few
  * rounds so the iteration count can't build an unbounded plan, mirroring
  * the connected-components loop in DedupOps.
  *
  * Determinism: tie-breaks on (count DESC, left ASC, right ASC) — a total
  * order — so the learned merge sequence is a pure function of the corpus.
  * BpeSpec proves the distributed loop reproduces a direct in-memory
  * implementation of the published algorithm symbol-for-symbol.
  */
object BpeOps {

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** (word, freq) → initial symbol sequence: characters + an end-of-word
    * marker, the paper's §3.1 representation. */
  private val initSyms: Column =
    concat(filter(split(col("word"), ""), x => x =!= ""), array(lit("</w>")))

  /** Word-frequency vocab from a corpus — the single corpus-scale pass. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent symbol-pair counts weighted by word frequency (the paper's
    * `get_stats`: overlapping occurrences all count). */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("freq"), explode(expr(
      "transform(slice(syms, 1, greatest(size(syms) - 1, 0)), " +
        "(x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))

  /** One merge (l, r) → lr over a symbol-array SQL expression:
    * left-to-right non-overlapping fold, the reference `merge_vocab`.
    * Takes and returns SQL text so folds compose by nesting — the encode
    * path builds one expression replaying every learned merge in rank
    * order. */
  private def mergeFoldSql(arrSql: String, l: String, r: String): String =
    s"aggregate($arrSql, cast(array() as array<string>), (acc, x) -> " +
      s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${esc(l)}' " +
      s"AND x = '${esc(r)}' " +
      s"THEN concat(slice(acc, 1, size(acc) - 1), array('${esc(l + r)}')) " +
      s"ELSE concat(acc, array(x)) END)"

  private def applyMerge(l: String, r: String): Column =
    expr(mergeFoldSql("syms", l, r))

  /** Encode arbitrary words with a learned merge table: char-split + the
    * merges replayed in rank order — ONE fixed-depth chain of codegen HOF
    * folds (one per merge), no per-row interpreter and no join against the
    * training vocab, so unseen (OOV) words tokenize exactly like the
    * reference algorithm's apply phase. For corpus-resident words the
    * result equals the trained symbolization (BpeSpec proves it); plan
    * depth is the merge count, independent of data volume. */
  def encodeWords(words: DataFrame, merges: Seq[(Int, String, String, Long)])
      : DataFrame = {
    val initSql =
      "concat(filter(split(word, ''), x -> x != ''), array('</w>'))"
    val encodedSql = merges.sortBy(_._1).foldLeft(initSql) {
      case (acc, (_, l, r, _)) => mergeFoldSql(acc, l, r)
    }
    words.withColumn("pieces", expr(encodedSql))
  }

  /** Learn `nMerges` BPE merges; returns (rank, left, right, merged, n) and
    * the final vocab symbolization. Stops early if no pair repeats.
    * Superseded checkpoints are unpersisted as soon as their successor
    * materializes (the connected-components loop's discipline); the FINAL
    * vocab's backing blocks are owned by the caller — free them with
    * `GraftCheckpointUtils.unpersistCheckpoint(vocab)` when done. */
  def learnBpe(docs: DataFrame, textCol: String, nMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint
    var lastCkpt = wordVocab(docs, textCol)
      .select(col("word"), col("freq"), initSyms.as("syms"))
      .localCheckpoint()
    var vocab = lastCkpt
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val best = pairCounts(vocab)
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getAs[Long]("n") < 2) done = true
      else {
        val (l, r, n) = (best(0).getAs[String]("l"), best(0).getAs[String]("r"),
          best(0).getAs[Long]("n"))
        merges += ((rank, l, r, n))
        vocab = vocab.withColumn("syms", applyMerge(l, r))
        if (rank % 5 == 0) {
          val prev = lastCkpt
          vocab = vocab.localCheckpoint() // eager: blocks ready before prev is freed
          lastCkpt = vocab
          unpersistCheckpoint(prev)
        }
        rank += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** Write-once trained-tokenizer artifact: the learned merge table,
    * persisted per (corpus fingerprint, nMerges). Training runs at most
    * once per corpus; all three query faces (and any caller) share the
    * result instead of each re-running the 20-round driver-blocking loop —
    * which is also how a production pipeline treats a tokenizer: a trained
    * artifact consumed by later stages, not something re-derived per query.
    * The merge table doubles as the oracle input "bpe_tokenizer":
    * q_bpe_encode's DuckDB oracle replays the learned merges over the same
    * word sample. */
  def ensureBpe(s: SparkSession, sf: String, nMerges: Int = 20): String =
    ArtifactStore.record("bpe_tokenizer", ArtifactStore.ensure("bpe_tokenizer",
        ArtifactStore.sourceName(sf, "documents", s"bpe-v1-$nMerges")) { tmp =>
      val (merges, vocab) = learnBpe(tWide(s, sf, "documents"), "text", nMerges)
      import s.implicits._
      merges.toDF("rank", "left", "right", "n")
        .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
          col("n"))
        .repartition(1)
        .write.mode("overwrite").option("compression", "zstd").parquet(tmp.toString)
      // training state is no longer needed once the merge table is durable
      org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(vocab)
    })

  /** The learned merge table from the persisted artifact — a merge-table
    * -sized driver collect (20 rows; metadata-scale, like a Delta log
    * read), because the merges parameterize the encode expression chain. */
  def loadMerges(s: SparkSession, sf: String,
      nMerges: Int = 20): Seq[(Int, String, String, Long)] =
    s.read.parquet(ensureBpe(s, sf, nMerges))
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank").toInt, r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("n"))).toSeq

  /** X54a: the learned merge table over the documents corpus — rank order
    * IS the tokenizer definition, served from the persisted artifact
    * (trained at most once per corpus via [[ensureBpe]]). ORACLE-CHECKED
    * since r13: DuckDB replays the whole training loop as one recursive
    * CTE (vocab state per iteration, global pair-count argmax, merge as a
    * delimiter-wrapped string `replace` — see SparkEntry.bpeTrainOracles),
    * so the iterative argmax IS SQL-expressible after all; BpeSpec
    * additionally pins the loop to the in-memory reference impl. */
  def qBpeMerges(s: SparkSession, sf: String): DataFrame =
    s.read.parquet(ensureBpe(s, sf, 20))
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("n"))
      .orderBy("rank")

  /** X54c: the tokenizer-apply face — encode a mixed batch of trained and
    * OOV words (deterministic compounds of vocabulary words, which the
    * training corpus never saw) with the learned merge table.
    * ORACLE-CHECKED since r12: the persisted merge table is registered as
    * an oracle input ("bpe_tokenizer", [[ensureBpe]]) and DuckDB replays the encode
    * — char-split + each merge rank as a left-to-right non-overlapping
    * fold, expressed as a recursive CTE over (word, rank, position) —
    * so the fixed-depth codegen fold chain is hash-verified against an
    * independent engine's replay of the same algorithm. (Since r13 the
    * TRAINING loop is hash-checked too — SparkEntry.bpeTrainOracles.) */
  def qBpeEncode(s: SparkSession, sf: String): DataFrame = {
    val docs = tWide(s, sf, "documents")
    val merges = loadMerges(s, sf, 20)
    val words = wordVocab(docs, "text")
    val w = words.select("word").orderBy("word").limit(10)
    val oov = w.select(col("word").as("w1"))
      .crossJoin(w.select(col("word").as("w2")))
      .select(concat(col("w1"), col("w2")).as("word"))
    val sample = words.select("word").orderBy("word").limit(20)
      .unionByName(oov).distinct()
    encodeWords(sample, merges)
      .select(col("word"), size(col("pieces")).cast("long").as("n_pieces"),
        array_join(col("pieces"), " ").as("tokens"))
      .orderBy("word")
  }

  /** X54b: the subword vocabulary the merges induce, applied back to the
    * corpus — top-30 learned units by corpus token frequency (freq-weighted
    * symbol counts; ties broken by token). The tokenizer-apply face: ONE
    * corpus-scale `wordVocab` pass, then the learned merges replayed over
    * the vocab-scale word table as the fixed-depth `encodeWords` fold chain
    * (identical symbolization to the training loop's final state — BpeSpec
    * proves trained-word encode ≡ trained syms), so no training rounds and
    * no training-state checkpoint are re-run per query. */
  def qBpeVocab(s: SparkSession, sf: String): DataFrame = {
    val merges = loadMerges(s, sf, 20)
    val vocab = wordVocab(tWide(s, sf, "documents"), "text")
    encodeWords(vocab, merges)
      .select(col("freq"), explode(col("pieces")).as("token"))
      .groupBy("token").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(30)
  }
}
