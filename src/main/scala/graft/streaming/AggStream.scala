package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StringType,
  StructField, StructType}

import graft.ops.{ArtifactStore, MergeOps, Tables}

/** Streaming incremental-aggregate maintenance — the X40 operator
  * (`MergeOps.qIncrAggMerge`) driven by Structured Streaming: each
  * micro-batch of events folds into a persistent per-key table of
  * MERGEABLE partials (count / decimal sum / min / max) by algebraic
  * merge, so the standing aggregate is maintained at delta cost — the
  * difference between touching the day's partition and touching the
  * corpus at 100 TB. Decimal sums make the merge order-independent, so
  * the folded state is bit-identical to a from-scratch aggregate over
  * everything seen, REGARDLESS of how the stream was micro-batched —
  * StreamingSpec proves streamed-fold ≡ recompute over random splits.
  *
  * State lives OUTSIDE stream state as a versioned parquet table (the
  * DedupStream/IndexStream artifact discipline, not
  * `mapGroupsWithState`): the partials table is key-count-sized and every
  * batch rewrites a full snapshot — that is a table, not per-key
  * incremental state. Versioned `v<batchId>` dirs + the `ArtifactStore` marker
  * make at-least-once `foreachBatch` retries idempotent: a retried batch
  * folds onto its TRUE PREDECESSOR (latest sealed version with id <
  * batchId) — never the global latest, which after a partial failure could
  * be its own output, and additive count/sum partials would double-count —
  * and rebuilds its own version; readers only see marker-complete versions.
  */
object AggStream {

  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType, nullable = true),
    StructField("n", LongType, nullable = false),
    StructField("sv", DecimalType(38, 6), nullable = true),
    StructField("mn", DecimalType(18, 6), nullable = true),
    StructField("mx", DecimalType(18, 6), nullable = true)))

  /** Latest marker-complete partials snapshot under `stateBase` (empty
    * typed frame when none exists yet). `beforeBatch` restricts to versions
    * with a STRICTLY smaller batch id — the maintainer reads its true
    * predecessor through this, so an at-least-once retry of batch b (which
    * may have already sealed v<b> before the checkpoint offset committed)
    * can never fold its own delta in twice: count/sum partials are additive,
    * not idempotent, so "latest snapshot" would double-count on replay. */
  def currentPartials(s: SparkSession, stateBase: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    latestVersion(stateBase, beforeBatch) match {
      case Some(dir) => Tables.read(s, dir)
      case None => s.createDataFrame(
        java.util.Collections.emptyList[Row](), stateSchema)
    }

  /** The standing aggregate served from the latest snapshot, in
    * `qIncrAggMerge`'s report shape. */
  def currentAggregate(s: SparkSession, stateBase: String): DataFrame =
    MergeOps.finishPartials(currentPartials(s, stateBase))

  private def latestVersion(stateBase: String,
      beforeBatch: Long = Long.MaxValue): Option[String] =
    ArtifactStore.sealedDirs(stateBase, "v")
      .filter(d => new java.io.File(d).getName.drop(1).toLong < beforeBatch)
      .lastOption

  /** One micro-batch fold — package-visible so StreamingSpec can REPLAY a
    * batch id and prove the at-least-once retry contract directly. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      stateBase: String): Unit = {
    val s = batch.sparkSession
    // RETRY IDEMPOTENCE without un-publishing: a retried batch that finds
    // its own version already sealed skips the rewrite outright — the
    // content is identical by construction (same delta folded onto the
    // same predecessor), and mode("overwrite") would transiently delete
    // the marker, silently demoting a concurrent currentAggregate reader
    // to the predecessor snapshot during the rewrite window.
    val dir = new java.io.File(stateBase, f"v$batchId%05d")
    if (ArtifactStore.isSealed(dir)) return
    val delta = MergeOps.aggPartial(batch)
    // fold onto the TRUE PREDECESSOR (latest version < batchId), not
    // the global latest: a retried batch may find its own sealed
    // v<batchId> and additive partials would double-count the delta
    val prev = currentPartials(s, stateBase, beforeBatch = batchId)
      .select(col("event_type"), col("n"),
        col("sv").cast(DecimalType(38, 6)).as("sv"),
        col("mn"), col("mx"))
    val next = MergeOps.mergePartials(prev.unionByName(
      delta.select(col("event_type"), col("n"),
        col("sv").cast(DecimalType(38, 6)).as("sv"),
        col("mn"), col("mx"))))
    next.write.mode("overwrite").parquet(dir.toString)
    ArtifactStore.seal(dir)
  }

  /** Start the maintenance sink over a streaming frame of
    * (event_type, value) events: each non-empty micro-batch reduces to
    * its own partials (map-side shrink to key-count rows BEFORE touching
    * state) and merges with the current snapshot into the next sealed
    * version. */
  def maintainAggregates(events: DataFrame, stateBase: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$stateBase/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) processBatch(batch.toDF(), batchId, stateBase)
      }
      .start()
}
