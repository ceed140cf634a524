package graft

import graft.ops.{PqOps, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** `PqOps.trainPq` holds the codebooks on the driver and runs one shuffle
  * per Lloyd round; `encodePq` is one narrow projection. These specs check
  * both against the relational loop they replaced (kept below as the
  * oracle): same init, arithmetic and tie-breaks, so the same books and the
  * same codes, row for row. */
class PqTrainSpec extends SparkTestBase {
  import PqOps.{DSUB, KSUB, M}

  /** The relational PQ loop `trainPq` and `encodePq` replaced: subvectors
    * exploded to (vec_id, sub) rows, assignment as a broadcast join +
    * `groupBy(vec_id, sub)` + `min_by`, a join back for the recenter, a
    * `localCheckpoint` per round, and encode regrouped by vec_id. */
  object Relational {
    private def unitNorm(emb: Column): Column = {
      val d = transform(emb, x => x.cast("double"))
      val n = sqrt(aggregate(d, lit(0.0), (s, x) => s + x * x))
      transform(d, x => x / n)
    }

    private def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, x) => s + x)

    def subvectors(e: DataFrame): DataFrame =
      e.select(col("vec_id"), unitNorm(col("embedding")).as("nv"))
        .select(col("vec_id"), explode(array((0 until M).map(j =>
          struct(lit(j).as("sub"),
            slice(col("nv"), j * DSUB + 1, DSUB).as("subvec"))): _*)).as("sv"))
        .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.subvec").as("subvec"))

    def assignCodes(sv: DataFrame, books: DataFrame): DataFrame =
      sv.join(broadcast(books), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("code"),
          l2(col("subvec"), col("centroid")).as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

    def recenter(sv: DataFrame, assign: DataFrame): DataFrame =
      sv.join(assign, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("subvec")).as(Seq("pos", "v")))
        .groupBy("sub", "code", "pos").agg(avg(col("v")).as("cv"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("centroid"))

    def trainPq(e: DataFrame, iters: Int = 2): DataFrame = {
      val sv = subvectors(e).localCheckpoint()
      val maxIdRow = e.agg(max(col("vec_id"))).head
      if (maxIdRow.isNullAt(0)) {
        return sv.limit(0).select(col("sub"), lit(0).cast("int").as("code"),
          col("subvec").as("centroid")).localCheckpoint()
      }
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
        books = recenter(sv, assignCodes(sv, books)).localCheckpoint()
      }
      books
    }

    def encodePq(e: DataFrame, books: DataFrame): DataFrame =
      assignCodes(subvectors(e), books)
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          x => x.getField("code")).as("codes"))
  }

  private def embeddings(sfDir: String): DataFrame =
    Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")

  private def fields(df: DataFrame): Seq[(String, org.apache.spark.sql.types.DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  private def assertRowEqual(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(fields(got) == fields(want), what)
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: ${extra.take(3).toSeq} vs ${missing.take(3).toSeq}")
  }

  /** Trains and encodes both ways and checks books and codes are row-equal. */
  private def assertSameAsRelational(e: DataFrame, iters: Int = 2): Unit = {
    val books = PqOps.trainPq(e, iters)
    val rbooks = Relational.trainPq(e, iters)
    assertRowEqual(books, rbooks, s"codebooks (iters $iters)")
    val codes = PqOps.encodePq(e, books)
    assertRowEqual(codes, Relational.encodePq(e, rbooks), s"codes (iters $iters)")
    assert(codes.count() == e.count(), "every vector encoded once")
  }

  test("trainPq and encodePq equal the relational loop on sf0.001 and sf0.01") {
    assertSameAsRelational(embeddings(sf))
    assertSameAsRelational(embeddings(sf01))
    assertSameAsRelational(embeddings(sf), iters = 3)
  }

  test("trainPq and encodePq equal the relational loop on a sparse, offset id space") {
    // ids 0..249 ∪ 1,000,250..1,000,499
    val e = embeddings(sf).withColumn("vec_id",
      when(col("vec_id") < 250, col("vec_id")).otherwise(col("vec_id") + 1000000L))
    assertSameAsRelational(e)
  }

  test("trainPq and encodePq equal the relational loop with NaN, null and zero vectors") {
    val e = embeddings(sf)
    val dim = e.head().getSeq[Float](1).size
    // a NaN cell normalizes to an all-NaN vector (NaN distances), a null
    // embedding to a null vector (null distances); on KSUB rows every
    // row, these two included, is a seed
    val odd = spark.createDataFrame(java.util.Arrays.asList(
        Row(900001L, Float.NaN +: Seq.fill(dim - 1)(0.5f)), Row(900002L, null)),
      e.schema)
    val withOdd = e.unionByName(odd)
    assertSameAsRelational(withOdd)
    assertSameAsRelational(e.filter(col("vec_id") < KSUB - 2).unionByName(odd), iters = 1)
    assert(PqOps.encodePq(withOdd, PqOps.trainPq(withOdd))
      .filter(col("vec_id") >= 900001L).count() == 2, "odd rows are encoded")
    // a zero vector has a zero norm: trainPq and encodePq normalize it to
    // null cells under the session's ANSI setting, the cells the
    // relational loop's plain division gives only with ANSI off
    val zero = e.filter(col("vec_id") < KSUB - 1).unionByName(spark.createDataFrame(
      java.util.Arrays.asList(Row(900003L, Seq.fill(dim)(0.0f))), e.schema))
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val books = local(PqOps.trainPq(zero))
    val codes = local(PqOps.encodePq(zero, books))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val (rbooks, rcodes) = try {
      val rb = Relational.trainPq(zero)
      (local(rb), local(Relational.encodePq(zero, rb)))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assertRowEqual(books, rbooks, "codebooks with a zero vector")
    assertRowEqual(codes, rcodes, "codes with a zero vector")
    assert(codes.count() == zero.count(), "every vector encoded once")
  }

  test("trainPq and encodePq equal the relational loop on fewer rows than KSUB") {
    val e = embeddings(sf).filter(col("vec_id") < 5)
    assertSameAsRelational(e)
    assert(PqOps.trainPq(e).select("code").distinct().count() <= 5)
  }

  test("an empty corpus trains empty codebooks with the relational schema") {
    val e = embeddings(sf).limit(0)
    val books = PqOps.trainPq(e)
    val rbooks = Relational.trainPq(e)
    assert(books.isEmpty && fields(books) == fields(rbooks))
    // no books, no codes
    val codes = PqOps.encodePq(embeddings(sf), books)
    assert(codes.isEmpty)
    assert(fields(codes) == fields(Relational.encodePq(embeddings(sf), rbooks)))
  }

  test("encodePq is a narrow projection: no shuffle in its plan") {
    val e = embeddings(sf)
    val codes = PqOps.encodePq(e, PqOps.trainPq(e, 1))
    codes.collect()
    val plan = codes.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case x: ShuffleExchangeExec => x }.isEmpty, plan)
  }

  test("trainPq runs no localCheckpoint job and plans one shuffle per round") {
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
    val (_, jobs) = try withJobs(PqOps.trainPq(embeddings(sf), iters = 2))
      finally spark.listenerManager.unregister(listener)
    assert(jobs.nonEmpty && !jobs.exists(_.startsWith("localCheckpoint")), jobs)
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = plans.toArray(Array.empty[SparkPlan]).toSeq
      .map(p => helper.collect(p) { case x: ShuffleExchangeExec => x }.size)
    // the init collect, then one collect per round
    assert(shuffles == Seq(0, 1, 1), shuffles)
  }
}
