package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Larger-scale bench mode: materializes an N×-replicated copy of an sf
  * dir (SPARK_GRAFT_BENCH_MULT) so timings can be taken at a scale where
  * per-query work dominates JVM fixed costs and GC noise — at sf0.1 the
  * run-to-run spread exceeds any real per-round signal on the expensive
  * queries.
  *
  * Replication is key-offset, not naive duplication, so query work scales
  * the way a genuinely bigger dataset would:
  *   - dimension tables (region/nation/customer/supplier/part) stay 1× —
  *     TPC-H-style scaling: facts fan out onto hotter dims;
  *   - fact keys (o_orderkey/l_orderkey, event_id, doc_id, vec_id) are
  *     offset per replica, keeping key cardinality ∝ scale;
  *   - replica document text is per-replica token-prefixed, making the
  *     replicas' shingle spaces disjoint — without this every doc would be
  *     an exact dup of its replicas and the dedup joins would blow up
  *     quadratically in the replica count instead of scaling like a real
  *     corpus;
  *   - replica embeddings are cyclically shifted (norm-preserving, near
  *     orthogonal to the original for random-ish vectors) for the same
  *     reason in cosine space.
  *
  * The copy is an `ArtifactStore` artifact under target/bench_scaled/,
  * built once and reused across runs.
  */
object BenchScale {

  def ensureScaled(spark: SparkSession, sfDir: String, mult: Int): String = {
    require(mult >= 2, s"SPARK_GRAFT_BENCH_MULT must be >= 2, got $mult")
    graft.ops.ArtifactStore.ensure("bench_scaled",
      new java.io.File(sfDir).getName + s"_x$mult")(
      tmp => build(spark, sfDir, mult, tmp.toString))
  }

  private def replicate(df: DataFrame, mult: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until mult).map(i => f(df, i)).reduce(_.unionByName(_))

  private def build(spark: SparkSession, sfDir: String, mult: Int,
      out: String): Unit = {
    def rd(n: String) = spark.read.parquet(s"$sfDir/$n.parquet")
    def wr(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => wr(rd(n), n))

    val orders = rd("orders")
    val lineitem = rd("lineitem")
    // one shared span keeps o_orderkey↔l_orderkey referential integrity
    val span = math.max(
      orders.agg(max("o_orderkey")).head.getLong(0),
      lineitem.agg(max("l_orderkey")).head.getLong(0)) + 1
    wr(replicate(orders, mult)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * span)), "orders")
    wr(replicate(lineitem, mult)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * span)), "lineitem")

    // events go through a RAW read: an int64-nanos source stays raw longs
    // (nanosAsLong) and a TIMESTAMP_MICROS source stays a timestamp, and
    // either writes back to a layout Tables.events' dtype branch accepts —
    // reading via Tables.events and writing back would instead pin one
    // on-disk type. user_id and ts are kept per replica: scale = more
    // events per user per window.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val espan = events.agg(max("event_id")).head.getLong(0) + 1
    wr(replicate(events, mult)((d, i) =>
      d.withColumn("event_id", col("event_id") + i * espan)), "events")

    val docs = rd("documents")
    val dspan = docs.agg(max("doc_id")).head.getLong(0) + 1
    wr(replicate(docs, mult) { (d, i) =>
      val keyed = d.withColumn("doc_id", col("doc_id") + i * dspan)
      if (i == 0) keyed
      else keyed
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    val emb = rd("embeddings")
    val vspan = emb.agg(max("vec_id")).head.getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    wr(replicate(emb, mult) { (d, i) =>
      val sh = i % dim
      val keyed = d.withColumn("vec_id", col("vec_id") + i * vspan)
      if (sh == 0) keyed
      else keyed.withColumn("embedding", expr(
        s"concat(slice(embedding, ${sh + 1}, size(embedding) - $sh), " +
          s"slice(embedding, 1, $sh))"))
    }, "embeddings")
  }
}
