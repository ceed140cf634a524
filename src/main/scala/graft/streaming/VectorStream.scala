package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{ArtifactStore, VectorOps}

/** Streaming face of `VectorOps.appendTrainedIvf`: embeddings arrive as a
  * stream, and each micro-batch is assigned against the FROZEN centroids
  * of a trained IVF artifact, sealing one assignment segment per batch.
  * Because list assignment is pointwise per vector, the union of the base
  * assignment and all sealed segments is bit-identical to a from-scratch
  * assignment of the whole corpus against those centroids — the same
  * streamed == batch contract as `IndexStream` on the lexical side
  * (StreamingSpec proves it).
  *
  * At 100 TB this is how the ANN index keeps up with ingestion: the
  * expensive part (k-means training) stays offline and infrequent, while
  * the per-batch work is O(batch · nlist) broadcast-joined assignment —
  * no shuffle of the base vectors, no retraining in the hot path.
  * Probes read base + segments as one assignment table
  * (`assignmentsWithSegments`); periodic retraining folds everything into
  * a fresh artifact under a new content fingerprint.
  *
  * Failure semantics match `IndexStream.sealSegments`: at-least-once
  * `foreachBatch` retries rewrite the same batch-id-named directory
  * (Overwrite) and the `ArtifactStore` marker lands last, so readers never
  * see a partial segment.
  */
object VectorStream {

  /** Start a streaming sink assigning each micro-batch of embeddings
    * (`vec_id`, `embedding`) to the trained centroids at `ivfDir`,
    * sealing one assignment segment per non-empty batch under `segBase`.
    * Batches must carry fresh vec_ids (append semantics). */
  def assignSegments(vecs: DataFrame, ivfDir: String,
      segBase: String): StreamingQuery =
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$segBase/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val centroids = batch.sparkSession.read.parquet(s"$ivfDir/centroids")
          val dir = new java.io.File(segBase, f"seg-$batchId%05d")
          VectorOps.assignLists(batch.toDF(), centroids)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("compression", "zstd")
            .parquet(new java.io.File(dir, "assign").toString)
          ArtifactStore.seal(dir)
        }
      }
      .start()

  /** Sealed assignment segments under `segBase`, in batch order. */
  def sealedSegments(segBase: String): Seq[String] =
    ArtifactStore.sealedDirs(segBase, "seg-")

  /** The probe-side assignment table: the trained artifact's base
    * assignment unioned with every sealed streaming segment. */
  def assignmentsWithSegments(s: SparkSession, ivfDir: String,
      segBase: String): DataFrame = {
    val segs = sealedSegments(segBase).map(d => s"$d/assign")
    s.read.parquet((s"$ivfDir/assign" +: segs): _*)
  }
}
