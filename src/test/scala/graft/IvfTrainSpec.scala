package graft

import graft.ops.{Tables, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** `VectorOps.trainIvf` holds the centroids on the driver and runs one
  * shuffle per Lloyd round. These specs check it against the relational
  * loop it replaced (kept below as the oracle): same init, arithmetic and
  * tie-breaks, so the same centroids and the same assignment, row for row. */
class IvfTrainSpec extends SparkTestBase {

  /** The relational Lloyd loop `trainIvf` replaced: assignment as a
    * cross join + `groupBy(vec_id)` + `max_by`, a join back to the
    * vectors, `buildCentroids`, and a `localCheckpoint` per round. */
  object Relational {
    def assignLists(e: DataFrame, centroids: DataFrame): DataFrame =
      e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("label"),
          Tables.cosineFast(col("embedding"), col("centroid")).as("cs"))
        .groupBy("vec_id")
        .agg(max_by(col("label"), struct(col("cs"), -col("label"))).as("label"))

    def trainIvf(e: DataFrame, nlist: Int, iters: Int): (DataFrame, DataFrame) = {
      val v = e.select(col("vec_id"), col("embedding"))
      val maxIdRow = v.agg(max(col("vec_id"))).head
      if (maxIdRow.isNullAt(0)) {
        val empty = v.limit(0).select(lit(0).cast("int").as("label"),
          col("embedding").as("centroid"))
        return (empty.localCheckpoint(), assignLists(v, empty))
      }
      val hw = org.apache.spark.sql.expressions.Window
        .orderBy(col("h"), col("vec_id"))
      var centroids = v
        .select(col("vec_id"), col("embedding"), xxhash64(col("vec_id")).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(nlist)
        .select((row_number().over(hw) - 1).cast("int").as("label"),
          col("embedding").as("centroid"))
        .localCheckpoint()
      (1 to iters).foreach { _ =>
        val assign = assignLists(v, centroids)
        centroids = VectorOps.buildCentroids(v.join(assign, "vec_id")
          .select(col("label"), col("embedding"))).localCheckpoint()
      }
      (centroids, assignLists(v, centroids))
    }
  }

  private def embeddings(sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")

  private def fields(df: DataFrame): Seq[(String, org.apache.spark.sql.types.DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  private def assertRowEqual(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(fields(got) == fields(want), what)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$what: ${got.exceptAll(want).collect().take(3).toSeq} vs " +
        s"${want.exceptAll(got).collect().take(3).toSeq}")
  }

  /** Trains both ways and checks centroids and assignment are row-equal. */
  private def assertSameAsRelational(e: DataFrame, nlist: Int, iters: Int = 2): Unit = {
    val (c, a) = VectorOps.trainIvf(e, nlist, iters)
    val (rc, ra) = Relational.trainIvf(e, nlist, iters)
    assertRowEqual(c, rc, s"centroids (nlist $nlist, iters $iters)")
    assertRowEqual(a, ra, s"assign (nlist $nlist, iters $iters)")
    assert(a.count() == e.count(), "every vector assigned once")
  }

  test("trainIvf equals the relational loop on sf0.01 at nlist 16 and 22, and on sf0.001") {
    val big = embeddings(sf01)
    assertSameAsRelational(big, nlist = 16)
    assertSameAsRelational(big, nlist = 22)
    assertSameAsRelational(embeddings(sf), nlist = 16, iters = 3)
  }

  test("trainIvf equals the relational loop on a sparse, offset id space") {
    // ids 0..249 ∪ 1,000,250..1,000,499
    val e = embeddings(sf).withColumn("vec_id",
      when(col("vec_id") < 250, col("vec_id")).otherwise(col("vec_id") + 1000000L))
    assertSameAsRelational(e, nlist = 16)
  }

  test("trainIvf equals the relational loop with a zero vector and a null embedding") {
    val e = embeddings(sf)
    val dim = e.head().getSeq[Float](1).size
    // a zero vector's cosine is NaN against every centroid; a null
    // embedding's is null. At nlist 502 every row, these two included, is
    // a seed.
    val odd = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(900001L, Seq.fill(dim)(0.0f)),
        org.apache.spark.sql.Row(900002L, null)),
      e.schema)
    val withOdd = e.unionByName(odd)
    assertSameAsRelational(withOdd, nlist = 16)
    assertSameAsRelational(withOdd, nlist = 502, iters = 1)
    val (_, a) = VectorOps.trainIvf(withOdd, 16, 2)
    assert(a.filter(col("vec_id") >= 900001L).count() == 2, "odd rows are assigned")
  }

  test("trainIvf equals the relational loop on fewer rows than nlist") {
    val e = embeddings(sf).filter(col("vec_id") < 5)
    assertSameAsRelational(e, nlist = 16)
    assert(VectorOps.trainIvf(e, 16, 2)._1.count() <= 5)
  }

  test("an empty corpus trains an empty artifact with the relational schema") {
    val e = embeddings(sf).limit(0)
    val (c, a) = VectorOps.trainIvf(e, 16, 2)
    val (rc, ra) = Relational.trainIvf(e, 16, 2)
    assert(c.isEmpty && a.isEmpty)
    assert(fields(c) == fields(rc) && fields(a) == fields(ra))
    // the persisted pair, through ensureTrainedIvf on an empty table
    val sfDir = java.nio.file.Files.createTempDirectory("ivf_empty").toString
    Tables.t(spark, sf, "embeddings").limit(0).write.parquet(s"$sfDir/embeddings.parquet")
    val dir = VectorOps.ensureTrainedIvf(spark, sfDir)
    try {
      val centroids = spark.read.parquet(s"$dir/centroids")
      val assign = spark.read.parquet(s"$dir/assign")
      assert(centroids.isEmpty && assign.isEmpty)
      assert(fields(centroids) == fields(rc) && fields(assign) == fields(ra))
      // no centroids, no rows
      assert(VectorOps.assignLists(embeddings(sf), centroids).isEmpty)
      assert(fields(VectorOps.assignLists(embeddings(sf), centroids)) == fields(ra))
    } finally {
      VectorOps.deleteRecursively(new java.io.File(dir))
      VectorOps.deleteRecursively(new java.io.File(sfDir))
    }
  }

  test("assignLists is a narrow projection: no shuffle in its plan") {
    val e = embeddings(sf)
    val (c, _) = VectorOps.trainIvf(e, 16, 1)
    val plan = VectorOps.assignLists(e, c).queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case x: ShuffleExchangeExec => x }.isEmpty, plan)
  }

  test("trainIvf runs no localCheckpoint job and plans one shuffle per round") {
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // events of earlier queries must not reach the listener
    org.apache.spark.sql.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    val (_, jobStages) = try withJobStages(VectorOps.trainIvf(embeddings(sf), 16, iters = 2))
      finally spark.listenerManager.unregister(listener)
    val jobs = jobStages.flatten.map(_.name)
    assert(jobs.nonEmpty && !jobs.exists(_.startsWith("localCheckpoint")), jobs)
    // the centroids ride in the plan: no job scans a driver-built local
    // table (the one-task job a broadcast of such a table starts)
    val scopes = jobStages.map(_.flatMap(_.rddInfos).flatMap(_.scope).map(_.name))
    assert(!scopes.exists(_.exists(_.startsWith("LocalTableScan"))), scopes)
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = plans.toArray(Array.empty[SparkPlan]).toSeq
      .map(p => helper.collect(p) { case x: ShuffleExchangeExec => x }.size)
    // the init collect, then one collect per round
    assert(shuffles == Seq(0, 1, 1), shuffles)
  }
}
