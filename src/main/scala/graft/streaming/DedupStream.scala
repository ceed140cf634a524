package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{ArtifactStore, DedupOps, Tables}

/** Streaming dedup-cluster maintenance: near-dup PAIR batches arrive as a
  * stream (the output of any verify stage — minhash, prefix-filter,
  * simhash) and fold into a persistent (node, label) component table via
  * `DedupOps.incrementalComponents` — the X61 maintenance operator driven
  * by Structured Streaming. Per micro-batch the fixpoint touches only the
  * delta graph contracted through yesterday's labels, never the edge
  * history, so a continuously-ingesting corpus keeps its duplicate
  * clusters current at delta cost. StreamingSpec proves the folded label
  * table equals batch `connectedComponents` over the union of all edges,
  * label for label.
  *
  * State lives OUTSIDE stream state as a versioned parquet table (the
  * IndexStream artifact discipline, not `mapGroupsWithState`): component
  * labels are corpus-node-sized and every batch rewrites a full snapshot,
  * which is exactly a table, not per-key incremental state. Versioned
  * directories named by batch id + the `ArtifactStore` marker give at-least-once
  * `foreachBatch` retries idempotent replace semantics: a retried batch
  * rebuilds `v<batchId>` from `v<batchId-…>`'s snapshot (its input state
  * is re-read, not mutated), and readers only ever see marker-complete
  * versions. */
object DedupStream {

  private val labelSchema = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("label", LongType, nullable = false)))

  /** Latest marker-complete label snapshot under `stateBase` (empty typed
    * frame when none exists yet). */
  def currentLabels(s: SparkSession, stateBase: String): DataFrame =
    latestVersion(stateBase) match {
      case Some(dir) => Tables.read(s, dir)
      case None => s.createDataFrame(
        java.util.Collections.emptyList[Row](), labelSchema)
    }

  private def latestVersion(stateBase: String): Option[String] =
    ArtifactStore.sealedDirs(stateBase, "v").lastOption

  /** Start the maintenance sink: each non-empty micro-batch of (src, dst)
    * pairs folds into the current snapshot and seals the next version. */
  def maintainClusters(pairs: DataFrame, stateBase: String): StreamingQuery =
    pairs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$stateBase/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val prev = currentLabels(s, stateBase)
          val next = DedupOps.incrementalComponents(
            prev, batch.toDF().select(col("src"), col("dst")))
          val dir = new java.io.File(stateBase, f"v$batchId%05d")
          next.write.mode("overwrite").parquet(dir.toString)
          org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(next)
          ArtifactStore.seal(dir)
        }
      }
      .start()
}
