package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{ArtifactStore, SearchOps}

/** Streaming construction of the inverted-index artifact: documents arrive
  * as a stream, each micro-batch is sealed as one complete mini-index
  * SEGMENT (`SearchOps.buildLexIndexFrom` — same four tables as the full
  * index), and `compact` folds sealed segments into one probe-ready index
  * with `SearchOps.mergeLexIndex`, whose output is bit-identical to a
  * from-scratch build over the same documents.
  *
  * This is the LSM discipline the batch segment-merge already follows,
  * driven by Structured Streaming: at 100 TB the corpus is never finished —
  * ingestion appends continuously — so the index must grow by sealing
  * index-sized deltas, not by re-tokenizing the corpus. The reference's
  * refresh story is delete-then-recreate of the whole vector collection
  * (`chroma_ingestion_util.py:267-327`); here a standing `writeStream`
  * keeps sealing segments and a periodic compaction bounds probe fan-out.
  *
  * Failure semantics: `foreachBatch` is at-least-once, so a retried batch
  * may rebuild its segment — safe because the segment directory is named
  * by the (stable) batch id, `buildLexIndexFrom` writes with Overwrite,
  * and the `ArtifactStore` marker lands only after a complete build. Readers
  * (`sealedSegments`) see a segment only once its marker exists.
  */
object IndexStream {

  /** Start a streaming sink that seals one index segment per non-empty
    * micro-batch of documents (`doc_id`, `text`, ...) under `segBase`.
    * Batches must partition the corpus on disjoint doc_ids (append
    * semantics) — the same contract as `SearchOps.mergeLexIndex`. */
  def sealSegments(docs: DataFrame, segBase: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$segBase/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val dir = new java.io.File(segBase, f"seg-$batchId%05d")
          SearchOps.buildLexIndexFrom(batch.toDF(), dir.toString)
          ArtifactStore.seal(dir)
        }
      }
      .start()

  /** Segments whose commit marker has landed, in batch order. */
  def sealedSegments(segBase: String): Seq[String] =
    ArtifactStore.sealedDirs(segBase, "seg-")

  /** Fold every sealed segment into one probe-ready index at `outDir`. */
  def compact(s: SparkSession, segBase: String, outDir: String): Unit =
    SearchOps.mergeLexIndex(s, sealedSegments(segBase), outDir)
}
