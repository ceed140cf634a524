package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream
import graft.streaming.EventStream.{Evt, Session}

/** Structured-Streaming specs: the streaming window aggregation must agree
  * with its batch formulation on the same data, and gap sessionization must
  * emit correct sessions incrementally across micro-batches. */
class StreamingSpec extends SparkTestBase {

  test("streaming hourly counts equal the batch computation on the same events") {
    import spark.implicits._
    val batch = graft.ops.Tables.events(spark, sf)
      .select("ts", "event_type", "value")
    val rows = batch.collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    stream.addData(rows.take(rows.size / 2).map(r =>
      (r.getTimestamp(0), r.getString(1), r.getDouble(2))))
    stream.addData(rows.drop(rows.size / 2).map(r =>
      (r.getTimestamp(0), r.getString(1), r.getDouble(2))))

    val streamingDf = stream.toDF.toDF("ts", "event_type", "value")
    val q = EventStream.hourlyCounts(streamingDf)
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete()).start()
    try { q.processAllAvailable() } finally q.stop()

    // bit-for-bit: hourlyCounts sums via decimal-exact dsum, so the stream
    // result must equal the batch result with NO rounding tolerance
    val got = spark.table("hourly")
      .select(col("hour_start").cast("string"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = EventStream.hourlyCounts(batch)
      .select(col("hour_start").cast("string"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming hopping-window counts equal the batch computation") {
    import spark.implicits._
    val batch = graft.ops.Tables.events(spark, sf)
      .select("ts", "event_type", "value")
    val rows = batch.collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    stream.addData(rows.take(rows.size / 3).map(r =>
      (r.getTimestamp(0), r.getString(1), r.getDouble(2))))
    stream.addData(rows.drop(rows.size / 3).map(r =>
      (r.getTimestamp(0), r.getString(1), r.getDouble(2))))
    val q = EventStream.slidingCounts(stream.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sliding")
      .select(col("win_start").cast("string"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy("win_start", "event_type").collect().toSeq
    val want = EventStream.slidingCounts(batch)
      .select(col("win_start").cast("string"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy("win_start", "event_type").collect().toSeq
    assert(got == want && got.nonEmpty)
    // the batch face of slidingCounts is the oracle-verified qHoppingWindow
    val viaOp = graft.ops.EventOps.qHoppingWindow(spark, sf)
      .agg(sum("n")).head.getLong(0)
    assert(want.map(_.getLong(2)).sum == viaOp)
  }

  test("streaming OHLC bars equal the batch bars bit-for-bit on the same events") {
    import spark.implicits._
    val batch = graft.ops.Tables.events(spark, sf)
      .select("event_id", "ts", "event_type", "value")
    val rows = batch.collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    // split mid-hour so open/close state must merge across micro-batches
    stream.addData(rows.take(rows.size / 2).map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3))))
    stream.addData(rows.drop(rows.size / 2).map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3))))
    val q = EventStream.ohlcBars(
        stream.toDF.toDF("event_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc")
      .outputMode(OutputMode.Complete()).start()
    try { q.processAllAvailable() } finally q.stop()
    // every output is an argmin/argmax/count under a total order — no float
    // summation — so the comparison is exact, not tolerance-based
    val got = spark.table("ohlc")
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = graft.ops.GroupAnalytics.qOhlcBars(spark, sf).collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("file-source stream over the real ns-timestamp events parquet") {
    // the file source wants a directory: stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "evt_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streaming = EventStream.readEventsStream(spark, dir.toString)
    assert(streaming.isStreaming)
    val q = EventStream.hourlyCounts(streaming)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("file_hourly")
      .select(col("hour_start").cast("string"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = EventStream.hourlyCounts(graft.ops.Tables.events(spark, sf))
      .select(col("hour_start").cast("string"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("watermark finalizes windows and drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = EventStream.hourlyCounts(stream.toDF.toDF("ts", "event_type", "value"),
      watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("wmk")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((ts(1, 10), "click", 1.0), (ts(1, 20), "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("wmk").count() == 0) // window 01:00 not finalized yet
      stream.addData((ts(9, 0), "view", 1.0)) // watermark -> 08:00, finalizes 01:00
      q.processAllAvailable()
      val row = spark.table("wmk")
        .filter(col("event_type") === "click").head
      assert(row.getLong(2) == 2L) // both on-time clicks counted
      // a late click in hour 01 is older than the watermark: dropped
      stream.addData((ts(1, 30), "click", 100.0))
      q.processAllAvailable()
      assert(spark.table("wmk").filter(col("event_type") === "click").count() == 1)
      assert(spark.table("wmk").filter(col("event_type") === "click")
        .head.getLong(2) == 2L)
    } finally q.stop()
  }

  test("streaming dedup suppresses duplicate event ids across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-02-01 10:$m%02d:00")
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventStream.dedupEvents(
      stream.toDF.toDF("event_id", "ts", "value"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (1L, ts(2), 99.0))
      q.processAllAvailable()
      stream.addData((2L, ts(3), 98.0), (3L, ts(4), 3.0)) // 2 is a dup
      q.processAllAvailable()
      val got = spark.table("dedup").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally q.stop()
  }

  test("streaming Misra-Gries candidates keep every frequent token across " +
    "arbitrary micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SketchStream
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(explode(
      split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .as[String].collect()
    val k = 64
    val stream = MemoryStream[String]
    val q = SketchStream.mgCandidatesStream(stream.toDF.toDF("token"), k)
      .toDF("shard", "version", "token")
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      // three arbitrary chunks — the guarantee must not depend on the split
      val chunks = toks.grouped(math.max(1, toks.length / 3 + 1)).toSeq
      chunks.foreach { c => stream.addData(c.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val rows = spark.table("mg_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    val latestVersion = rows.groupBy(_._1).view.mapValues(_.map(_._2).max)
    val candidates = rows
      .filter { case (s, v, _) => v == latestVersion(s) }.map(_._3).toSet
    assert(candidates.nonEmpty && candidates.size <= 8 * k)
    // every token with global frequency > N/k must be a candidate
    val n = toks.length
    val mustSurvive = toks.groupBy(identity).view.mapValues(_.length)
      .filter(_._2 > n / k).keys.toSet
    assert(mustSurvive.nonEmpty, "no token above N/k — pick a smaller k")
    val missed = mustSurvive -- candidates
    assert(missed.isEmpty, s"frequent tokens lost by the stream state: $missed")
    // and the exact heavy hitters (the 1/2000-threshold report) recount
    // entirely from within the candidate set
    val exact = graft.ops.SketchOps.qHeavyHitters(spark, sf)
      .select("token").as[String].collect().toSet
    assert((exact -- candidates).isEmpty,
      s"exact heavy hitters missing from streamed candidates: ${exact -- candidates}")
  }

  test("streaming Count-Min sketch equals the batch sketch exactly on any split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SketchStream
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toksDf = docs.select(explode(
      split(trim(lower(col("text"))), "\\s+")).as("token"))
    val toks = toksDf.as[String].collect()
    val stream = MemoryStream[String]
    val q = SketchStream.cmSketchStream(stream.toDF.toDF("token"))
      .writeStream.format("memory").queryName("cm_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      // uneven chunks — integer counters must merge identically regardless
      val chunks = Seq(toks.take(7), toks.slice(7, toks.length / 2),
        toks.drop(toks.length / 2))
      chunks.foreach { c => stream.addData(c.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("cm_stream")
    val batch = graft.ops.SketchOps.cmSketch(toksDf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed CM snapshot must equal the batch sketch bit-for-bit")
    // and the state really is bounded
    assert(streamed.count() <= 4 * 2048)
  }

  test("stream-static anti-join admits only unseen documents per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("alpha", "beta").toDF("text")
      .select(md5(col("text")).as("__fp"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((1L, "alpha"), (2L, "gamma")))   // alpha is a dup
    stream.addData(Seq((3L, "beta"), (4L, "delta")))    // beta is a dup
    val q = EventStream.admitAgainstCorpus(
        stream.toDF.toDF("doc_id", "text"), corpus, "text")
      .writeStream.format("memory").queryName("admitted")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val admitted = spark.table("admitted").select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(2L, 4L))
  }

  test("gap sessionization emits closed sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 1000000L // micros per second
    val b = 1000000L * m // base offset: epoch-0 events sit AT the initial
    // watermark and are dropped as late — real event times are always past it
    val stream = MemoryStream[Evt]
    // batch 1: user 7 has three events within the gap; user 8 sends its
    // last-ever event — user 8 will never appear in the stream again
    stream.addData(Evt(7, 1, b), Evt(7, 2, b + 60 * m), Evt(7, 3, b + 120 * m), Evt(8, 1, b))
    val q = EventStream.sessionize(stream.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // both sessions still open
      // 4h later: closes user 7's session inline AND advances the watermark
      // to 4h, which fires user 8's event-time timeout (last 0 + gap 1800s)
      // — user 8's session closes with NO further user-8 event and NO sentinel
      stream.addData(Evt(7, 4, b + 4 * 3600 * m))
      q.processAllAvailable()
      val s = spark.table("sessions").as[Session].collect().toSet
      assert(s == Set(Session(7, b, b + 120 * m, 3), Session(8, b, b, 1)))
      // user 7's reopened session closes inline on its next distant event
      stream.addData(Evt(7, 5, b + 10 * 3600 * m))
      q.processAllAvailable()
      val s2 = spark.table("sessions").as[Session].collect().toSet
      assert(s2.contains(Session(7, b + 4 * 3600 * m, b + 4 * 3600 * m, 1)))
    } finally q.stop()
  }

  test("streaming index segments: one sealed segment per micro-batch; compaction equals a batch build") {
    import spark.implicits._
    import graft.ops.SearchOps
    import graft.streaming.IndexStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lex_stream").toString
    val b1 = Seq((0L, "fast vector join"), (1L, "hash join fast table"))
    val b2 = Seq((2L, "vector vector scan"), (3L, "sort merge join vector"))
    val stream = MemoryStream[(Long, String)]
    val q = IndexStream.sealSegments(
      stream.toDF.toDF("doc_id", "text"), s"$tmp/segs")
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val segs = IndexStream.sealedSegments(s"$tmp/segs")
    assert(segs.size == 2, s"expected 2 sealed segments, got: $segs")
    IndexStream.compact(spark, s"$tmp/segs", s"$tmp/merged")
    SearchOps.buildLexIndexFrom((b1 ++ b2).toDF("doc_id", "text"), s"$tmp/full")
    def scores(d: String) =
      SearchOps.bm25IndexScoresAt(spark, d, SearchOps.queryTerms)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val streamed = scores(s"$tmp/merged")
    assert(streamed.nonEmpty && streamed == scores(s"$tmp/full"),
      "streamed-then-compacted index must be bit-identical to a batch build")
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).head
    assert(stats(s"$tmp/merged") == stats(s"$tmp/full"))
  }

  test("streaming IVF assignment: per-batch segments against frozen centroids == batch assignment") {
    import spark.implicits._
    import graft.ops.VectorOps
    import graft.streaming.VectorStream
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val e = graft.ops.Tables.t(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val cut = e.agg(avg(col("vec_id"))).head.getDouble(0)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val (centroids, baseAssign) =
      VectorOps.trainIvf(e.filter(col("vec_id") < cut), nlist = 4, iters = 1)
    baseAssign.write.parquet(s"$tmp/ivf/assign")
    centroids.write.parquet(s"$tmp/ivf/centroids")
    // the delta arrives as a stream, split across two micro-batches
    val delta = e.filter(col("vec_id") >= cut).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (d1, d2) = delta.splitAt(delta.length / 2)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = VectorStream.assignSegments(
      stream.toDF.toDF("vec_id", "embedding"), s"$tmp/ivf", s"$tmp/segs")
    try {
      stream.addData(d1.toSeq)
      q.processAllAvailable()
      stream.addData(d2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(VectorStream.sealedSegments(s"$tmp/segs").size == 2)
    val all = VectorStream.assignmentsWithSegments(spark, s"$tmp/ivf", s"$tmp/segs")
    val cFrozen = spark.read.parquet(s"$tmp/ivf/centroids")
    val scratch = VectorOps.assignLists(e, cFrozen)
    assert(all.count() == e.count(), "every vector assigned exactly once")
    assert(all.join(scratch, Seq("vec_id", "label"), "left_semi").count() ==
      e.count(), "streamed assignment drifted from the batch assignment")
  }

  test("streaming funnel advances incrementally and ignores out-of-chain events") {
    import spark.implicits._
    import EventStream.{FEvt, FunnelRow}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[FEvt]
    // user 1: click BEFORE any view (must not chain), then the real chain
    stream.addData(FEvt(1, 1, 100L, "click"), FEvt(1, 2, 200L, "view"),
      FEvt(2, 3, 100L, "view"))
    val q = EventStream.funnelSteps(stream.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("funnel").as[FunnelRow].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.last }
      assert(r1(1L).stage == 1 && r1(1L).t_view_us == 200L,
        s"pre-view click must not count: ${r1(1L)}")
      // user 1 clicks after the view, then purchases; a second (later)
      // click must not move t_click_us
      stream.addData(FEvt(1, 4, 300L, "click"), FEvt(1, 5, 400L, "click"),
        FEvt(1, 6, 500L, "purchase"))
      q.processAllAvailable()
      val r2 = spark.table("funnel").as[FunnelRow].collect()
        .filter(_.user_id == 1L).last
      assert(r2 == FunnelRow(1L, 200L, 300L, 500L, 3L), s"got $r2")
    } finally q.stop()
  }

  test("streaming funnel over the events table equals the batch funnel") {
    import spark.implicits._
    import EventStream.{FEvt, FunnelRow}
    implicit val sqlCtx = spark.sqlContext
    val evts = graft.ops.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[FEvt].collect().toSeq
    val stream = MemoryStream[FEvt]
    stream.addData(evts)
    val q = EventStream.funnelSteps(stream.toDS())
      .writeStream.format("memory").queryName("funnel_parity")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("funnel_parity").as[FunnelRow].collect()
      .groupBy(_.user_id).map { case (_, rs) => rs.last }
      .filter(_.stage >= 1)
      .map(r => (r.user_id, r.t_view_us, r.t_click_us, r.t_purchase_us, r.stage))
      .toSet
    val batch = graft.ops.EventOps.qFunnelSteps(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1).asInstanceOf[java.lang.Long],
        r.get(2).asInstanceOf[java.lang.Long],
        r.get(3).asInstanceOf[java.lang.Long], r.getLong(4)))
      .toSet
    assert(streamed == batch,
      s"stream/batch diverged: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
  }

  test("streaming windowed HLL distinct-user estimates equal the batch sketch exactly") {
    import spark.implicits._
    val batch = graft.ops.Tables.events(spark, sf)
      .select("ts", "event_type", "user_id")
    val rows = batch.collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Long)]
    // split mid-stream: window sketch state must merge across micro-batches
    stream.addData(rows.take(rows.size / 2).map(r =>
      (r.getTimestamp(0), r.getString(1), r.getLong(2))))
    stream.addData(rows.drop(rows.size / 2).map(r =>
      (r.getTimestamp(0), r.getString(1), r.getLong(2))))
    val q = EventStream.windowedDistinctUsers(
        stream.toDF.toDF("ts", "event_type", "user_id"))
      .writeStream.format("memory").queryName("wdu")
      .outputMode(OutputMode.Complete()).start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("wdu")
      .orderBy("hour_start", "event_type").collect().toSeq
    // register-wise merge is a pure function of the value set: EXACT match
    val want = EventStream.windowedDistinctUsers(batch)
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming aggregate maintenance folds micro-batches to the from-scratch partials") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateBase = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "agg_stream").toString
    val ev = graft.ops.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
    val rows = ev.collect().map(r => (r.getString(0), r.getDouble(1)))
    val stream = MemoryStream[(String, Double)]
    val q = graft.streaming.AggStream.maintainAggregates(
      stream.toDF.toDF("event_type", "value"), stateBase)
    try {
      // uneven micro-batches, incl. a tiny tail — the decimal-sum merge
      // must make the batching invisible
      Seq(rows.take(70), rows.slice(70, 2500), rows.drop(2500), rows.take(0))
        .foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = graft.streaming.AggStream.currentAggregate(spark, stateBase)
      .collect().toSeq
    val want = graft.ops.MergeOps.finishPartials(
      graft.ops.MergeOps.aggPartial(ev)).collect().toSeq
    assert(got.nonEmpty, "no snapshot sealed")
    assert(got == want, s"streamed fold diverges:\n got=$got\nwant=$want")
  }

  test("aggregate maintenance: an at-least-once RETRY of a sealed batch " +
    "cannot double-count (folds onto the true predecessor)") {
    import spark.implicits._
    val stateBase = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "agg_retry").toString
    val b0 = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("event_type", "value")
    val b1 = Seq(("a", 10.0), ("c", 5.0)).toDF("event_type", "value")
    graft.streaming.AggStream.processBatch(b0, 0L, stateBase)
    graft.streaming.AggStream.processBatch(b1, 1L, stateBase)
    val want = graft.streaming.AggStream.currentAggregate(spark, stateBase)
      .collect().toSeq
    // the failure mode ADVICE r12 flagged: batch 1 sealed v1, the offset
    // commit was lost, and the stream REPLAYS batch 1 — the fold must read
    // v0 (its true predecessor), not its own v1, or count/sum double
    val v1Marker = new java.io.File(stateBase, "v00001/_GRAFT_OK")
    val sealedAt = v1Marker.lastModified()
    graft.streaming.AggStream.processBatch(b1, 1L, stateBase)
    val afterRetry = graft.streaming.AggStream.currentAggregate(spark, stateBase)
      .collect().toSeq
    assert(afterRetry == want, s"retry double-counted:\n $afterRetry\nvs $want")
    // and the sealed version was never rewritten (ADVICE r13: an overwrite
    // would transiently delete _GRAFT_OK, un-publishing v1 for concurrent
    // readers during the rewrite window) — the marker file is untouched
    assert(v1Marker.exists() && v1Marker.lastModified() == sealedAt,
      "retry rewrote an already-sealed version")
    // replaying an OLDER batch leaves its sealed version alone too, so
    // the latest snapshot is undisturbed
    graft.streaming.AggStream.processBatch(b0, 0L, stateBase)
    val afterOldReplay = graft.streaming.AggStream
      .currentAggregate(spark, stateBase).collect().toSeq
    assert(afterOldReplay == want)
  }

  test("streaming cluster maintenance folds edge batches to the batch CC fixpoint") {
    import spark.implicits._
    val stateBase = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "dedup_stream").toString
    // three adversarial batches: build two components, then merge them and
    // attach fresh nodes, then bridge to a brand-new pair
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((3L, 10L), (11L, 30L)),
      Seq((40L, 41L), (41L, 30L)))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = graft.streaming.DedupStream.maintainClusters(
      stream.toDF.toDF("src", "dst"), stateBase)
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = graft.streaming.DedupStream.currentLabels(spark, stateBase)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.ops.DedupOps.connectedComponents(
        batches.flatten.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"streamed labels diverge: got=$got want=$want")
    // everything bridged into one component rooted at the global minimum
    assert(got.values.toSet == Set(1L))
  }

  test("stream-stream interval join equals the batch range join on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchEvents = graft.ops.Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "event_type")
    // feed in event-time order so the watermark only ever trails reality
    // and no row is late — parity with batch must then be exact
    val rows = batchEvents.orderBy("ts", "event_id")
      .as[(Long, Long, java.sql.Timestamp, String)].collect().toSeq
    val stream = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    stream.addData(rows.take(rows.size / 2))
    stream.addData(rows.drop(rows.size / 2))
    val streamingDf = stream.toDF.toDF("user_id", "event_id", "ts", "event_type")
    val q = EventStream.clickAttribution(streamingDf)
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("attr")
      .select("user_id", "click_id", "view_id").as[(Long, Long, Long)]
      .collect().toSet
    val want = EventStream.clickAttribution(batchEvents)
      .select("user_id", "click_id", "view_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(want.nonEmpty, "no click-view pairs at spec scale — widen the window")
    assert(got == want,
      s"stream/batch diverged: only-stream=${(got -- want).take(5)}, only-batch=${(want -- got).take(5)}")
  }

  // ---- crash-restart audit (r15): stop a query mid-stream, restart a NEW
  // query from the same checkpoint directory, and prove the recovered
  // state equals a from-scratch batch recompute with every published
  // version marker-complete. MemoryStream offsets die with the query, so
  // these use a FILE source — the durable-offset recovery path a real
  // deployment exercises. The "crash" is a stop() racing freshly-arrived
  // files: whether the in-flight batch completed, half-wrote its version
  // dir, or never started is deliberately nondeterministic — recovery
  // must land on the same final state in all three interleavings.

  private def restartHarness[A](tag: String)(
      writeRows: (String, Int) => Unit, // (srcDir, part) => append one file
      start: String => org.apache.spark.sql.streaming.StreamingQuery)
      : String = {
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), tag).toString
    val src = s"$tmp/src"
    writeRows(src, 0)
    val q1 = start(tmp)
    q1.processAllAvailable()
    writeRows(src, 1) // lands as the crash happens — may be half-processed
    try q1.stop() catch { case _: Throwable => () }
    writeRows(src, 2) // arrives while the maintainer is down
    val q2 = start(tmp) // restart from the SAME checkpoint dir
    try q2.processAllAvailable() finally q2.stop()
    tmp
  }

  private def allSealed(dir: String, prefix: String): Boolean = {
    val vs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
    vs.nonEmpty && vs.forall(d => new java.io.File(d, "_GRAFT_OK").exists())
  }

  test("crash-restart: aggregate maintenance recovers from its checkpoint " +
    "to the exact batch recompute") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val all = graft.ops.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val parts = Seq(all.take(all.size / 3),
      all.slice(all.size / 3, 2 * all.size / 3), all.drop(2 * all.size / 3))
    val sch = StructType(Seq(StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val tmp = restartHarness("agg_restart")(
      (src, i) => parts(i).toDF("event_type", "value")
        .coalesce(1).write.mode("append").parquet(src),
      base => graft.streaming.AggStream.maintainAggregates(
        spark.readStream.schema(sch).parquet(s"$base/src"), s"$base/state"))
    val got = graft.streaming.AggStream
      .currentAggregate(spark, s"$tmp/state").collect().toSeq
    val want = graft.ops.MergeOps.finishPartials(graft.ops.MergeOps.aggPartial(
      all.toDF("event_type", "value"))).collect().toSeq
    assert(got == want, s"recovered fold diverges:\n got=$got\nwant=$want")
    assert(allSealed(s"$tmp/state", "v"), "an unsealed version was published")
  }

  test("crash-restart: cluster maintenance recovers from its checkpoint " +
    "to the batch CC fixpoint") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val parts = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((3L, 10L), (11L, 30L)),
      Seq((40L, 41L), (41L, 30L), (50L, 51L)))
    val sch = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    val tmp = restartHarness("dedup_restart")(
      (src, i) => parts(i).toDF("src", "dst")
        .coalesce(1).write.mode("append").parquet(src),
      base => graft.streaming.DedupStream.maintainClusters(
        spark.readStream.schema(sch).parquet(s"$base/src"), s"$base/state"))
    val got = graft.streaming.DedupStream.currentLabels(spark, s"$tmp/state")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.ops.DedupOps.connectedComponents(
        parts.flatten.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"recovered labels diverge: got=$got want=$want")
    assert(got(30L) == 1L && got(50L) == 50L)
    assert(allSealed(s"$tmp/state", "v"), "an unsealed version was published")
  }

  test("crash-restart: index segment sealing recovers from its checkpoint; " +
    "compaction equals the from-scratch build") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.ops.SearchOps
    import graft.streaming.IndexStream
    val parts = Seq(
      Seq((0L, "fast vector join"), (1L, "hash join fast table")),
      Seq((2L, "vector vector scan"), (3L, "sort merge join vector")),
      Seq((4L, "hash table probe"), (5L, "join vector hash")))
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val tmp = restartHarness("lex_restart")(
      (src, i) => parts(i).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src),
      base => IndexStream.sealSegments(
        spark.readStream.schema(sch).parquet(s"$base/src"), s"$base/segs"))
    assert(allSealed(s"$tmp/segs", "seg-"), "an unsealed segment was published")
    IndexStream.compact(spark, s"$tmp/segs", s"$tmp/merged")
    SearchOps.buildLexIndexFrom(
      parts.flatten.toDF("doc_id", "text"), s"$tmp/full")
    def scores(d: String) =
      SearchOps.bm25IndexScoresAt(spark, d, SearchOps.queryTerms)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val streamed = scores(s"$tmp/merged")
    assert(streamed.nonEmpty && streamed == scores(s"$tmp/full"),
      "recovered-then-compacted index must equal the batch build")
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).head
    assert(stats(s"$tmp/merged") == stats(s"$tmp/full"))
  }

  test("crash-restart: CM counter maintenance recovers to the exact batch " +
    "sketch") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val all = (1 to 60).map(i => s"tok${i % 9}") ++ Seq.fill(25)("hot")
    val parts = Seq(all.take(30), all.slice(30, 60), all.drop(60))
    val sch = StructType(Seq(StructField("token", StringType)))
    val tmp = restartHarness("cm_restart")(
      (src, i) => parts(i).toDF("token")
        .coalesce(1).write.mode("append").parquet(src),
      base => graft.streaming.SketchStream.cmSketchStream(
          spark.readStream.schema(sch).parquet(s"$base/src"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        // Complete mode re-emits the WHOLE bounded counter table per
        // batch; overwrite keeps exactly the latest snapshot, and a
        // replayed batch after recovery just rewrites the same rows
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(s"$base/snap")
        }.start())
    val got = spark.read.parquet(s"$tmp/snap")
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    val want = graft.ops.SketchOps.cmSketch(all.toDF("token"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    assert(got == want,
      "the recovered CM snapshot must BIT-equal the batch sketch")
  }

  test("crash-restart: MG candidate maintenance recovers its per-shard " +
    "counters; the frequency guarantee holds through the crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val k = 4
    val shards = 2
    // two heavies drowning a rotating tail — each heavy exceeds its
    // shard total / k no matter how the hash splits the tail
    val all = Seq.fill(40)("alpha") ++ Seq.fill(40)("omega") ++
      (1 to 24).map(i => s"t$i")
    val parts = Seq(all.take(35), all.slice(35, 70), all.drop(70))
    val sch = StructType(Seq(StructField("token", StringType)))
    val tmp = restartHarness("mg_restart")(
      (src, i) => new scala.util.Random(i).shuffle(parts(i)).toDF("token")
        .coalesce(1).write.mode("append").parquet(src),
      base => graft.streaming.SketchStream.mgCandidatesStream(
          spark.readStream.schema(sch).parquet(s"$base/src"), k, shards)
        .toDF("shard", "version", "token")
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        // append sink: a batch replayed after the crash may double-write
        // its rows — the snapshot read below takes max(version) per shard,
        // which is replay-immune by construction
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$base/out")
        }.start())
    val emitted = spark.read.parquet(s"$tmp/out")
    val latest = emitted.groupBy("shard").agg(max("version").as("version"))
    val candidates = emitted.join(latest, Seq("shard", "version"))
      .select("shard", "token").distinct()
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // replay the shard assignment in batch and check the MG guarantee:
    // any token with total frequency > (shard total)/k MUST have survived
    val shardCounts = all.toDF("token")
      .select(pmod(xxhash64(col("token")), lit(shards)).cast("int").as("shard"),
        col("token"))
      .groupBy("shard", "token").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    val totals = shardCounts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val mustSurvive = shardCounts.collect {
      case ((sh, tok), n) if n > totals(sh).toDouble / k => (sh, tok)
    }.toSet
    assert(mustSurvive.nonEmpty, "fixture lost its heavy hitters")
    assert(mustSurvive.subsetOf(candidates),
      s"MG guarantee broken through the crash: missing ${mustSurvive -- candidates}")
    // versions advanced across the restart (state recovered, not reset):
    // the recovered query continues the pre-crash version counter
    val maxV = emitted.agg(max("version")).head.getLong(0)
    assert(maxV >= 2, s"versions did not advance across restart (max=$maxV)")
  }
}
