package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the events stream. The reference has
  * no streaming (SURVEY §2e) — these are the Spark-native extensions that
  * make the batch window/session operators (`graft.ops.EventOps`)
  * incremental: identical aggregation shapes running on `readStream`
  * sources with watermarks, plus stateful gap sessionization with
  * `flatMapGroupsWithState`.
  */
object EventStream {

  /** Hourly tumbling counts per event type. Works on a batch OR streaming
    * frame (same plan shape as `EventOps.qTumblingWindow`); on a stream,
    * pair with the given watermark so state is bounded and late data older
    * than `watermarkDelay` is dropped. The sum uses the same decimal-exact
    * `dsum` pattern as the batch operator: double partials merge in
    * micro-batch order, so a raw double sum would differ run-to-run between
    * batch and stream — the exact decimal sum is associative and identical
    * in both modes. */
  def hourlyCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    in.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.ops.Tables.dsum(col("value"), 6).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Hopping (sliding) 10-minute/5-minute counts per event type — the
    * streaming face of `EventOps.qHoppingWindow`, same plan shape on a
    * batch frame (WindowOpsSpec/StreamingSpec assert parity). On a stream
    * each event updates exactly size/slide = 2 window states; the
    * watermark bounds how long a window's state stays open. Decimal-exact
    * sums for the same reason as `hourlyCounts`. */
  def slidingCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    in.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.ops.Tables.dsum(col("value"), 6).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** OHLC bars per hour per event type — the streaming face of
    * `GroupAnalytics.qOhlcBars` (X58), literally the same aggregation body:
    * open/close are ARGMIN/ARGMAX over the (ts, event_id) total order via
    * associative `min(struct)`/`max(struct)`, so per-window state is
    * constant-size and the aggregate is mergeable across micro-batches —
    * exactly what incremental execution needs. On a stream the watermark
    * bounds open-window state; on a batch frame the identical plan runs as
    * one hash aggregation. All outputs are argmin/argmax/count — no float
    * summation — so batch ≡ stream bit-for-bit (StreamingSpec asserts it). */
  def ohlcBars(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    in.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        min(col("value")).as("low"),
        max(col("value")).as("high"),
        count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n"))
  }

  /** Per-window approximate distinct users — X52's mergeable HLL sketch
    * under event-time windows. Register-wise sketch merge is a pure
    * function of the value set, so micro-batch partials folding into
    * window state produce the IDENTICAL estimate as one batch pass
    * (StreamingSpec asserts exact equality — no tolerance). This is the
    * shape that answers "unique users per hour" over an unbounded stream,
    * where an exact countDistinct cannot run at all (Structured Streaming
    * rejects distinct aggregates); the batch face pairs it with the exact
    * count as a checked contract (`SketchOps.qWindowDistinctSketch`). */
  def windowedDistinctUsers(events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    in.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .cast("long").as("approx_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("approx_users"))
  }

  /** Streaming file-source reader for the events layout. Streaming sources
    * need an explicit schema: it is the batch reader's schema of the layout
    * actually on disk, and `ts` is normalized exactly as in
    * `graft.ops.Tables.events`. */
  def readEventsStream(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.ops.Tables.withEventTs(spark.readStream
      .schema(graft.ops.Tables.rawEvents(spark, dir).schema).parquet(dir))

  case class Evt(user_id: Long, event_id: Long, tsMicros: Long)
  case class EvtT(user_id: Long, event_id: Long, tsMicros: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, start_micros: Long, end_micros: Long, n_events: Long)

  /** Gap-based sessionization: a silence longer than `gapSec` closes the
    * session. A closed session is emitted either when the same user's next
    * event proves the gap, or — for idle users — when the event-time
    * watermark advances past `last + gap` and the per-key timeout fires, so
    * a user's last-ever session still closes without any sentinel event.
    * Per-user state is one (start, last, n) triple, bounded regardless of
    * stream length; events older than the watermark are dropped (standard
    * late-data rule). The batch analog is `EventOps.qSessionLikeGap`. */
  def sessionize(events: Dataset[Evt], gapSec: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMicros = gapSec * 1000000L
    val isStreamingSrc = events.isStreaming
    val withTs = events
      .withColumn("ts", expr("timestamp_micros(tsMicros)"))
      .as[EvtT]
    val src = if (isStreamingSrc) withTs.withWatermark("ts", watermarkDelay) else withTs
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, evts, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap with no new event: the open
            // session is proven closed; state is freed
            val out = state.getOption.map(s => Session(user, s.start, s.last, s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = evts.toSeq.sortBy(e => (e.tsMicros, e.event_id))
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsMicros - s.last > gapMicros =>
                  closed += Session(user, s.start, s.last, s.n)
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.start, e.tsMicros, s.n + 1))
                case None =>
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (isStreamingSrc) {
                // fire strictly after the gap (batch rule is silence > gap);
                // clamp above the current watermark, which Spark requires
                val fireAtMs = (s.last + gapMicros) / 1000L + 1L
                state.setTimeoutTimestamp(
                  math.max(fireAtMs, state.getCurrentWatermarkMs() + 1L))
              }
            }
            closed.iterator
          }
      }
  }

  case class FEvt(user_id: Long, event_id: Long, tsMicros: Long, event_type: String)
  case class FunnelState(view: Long, click: Long, purchase: Long) // -1 = unset
  case class FunnelRow(user_id: Long, t_view_us: java.lang.Long,
      t_click_us: java.lang.Long, t_purchase_us: java.lang.Long, stage: Long)

  /** Streaming funnel — the incremental face of `EventOps.qFunnelSteps`:
    * per-user view → click → purchase chaining held as THREE longs of
    * state, emitted (Update mode) whenever a user's funnel advances.
    * Within a micro-batch events are processed in (ts, event_id) order;
    * across batches the chain advances monotonically, which equals the
    * batch min-ts chaining whenever each user's events arrive in event
    * order (the file-source / log-compacted case). A later-arriving
    * EARLIER view cannot retroactively lower `t_view` once a click
    * chained — the standard streaming-funnel approximation; bound
    * disorder with a watermark upstream if the source reorders. Stage 0
    * rows (no view yet) are emitted so downstream sees every active
    * user; the batch operator's output is the stage ≥ 1 subset. */
  def funnelSteps(events: Dataset[FEvt]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelRow](GroupStateTimeout.NoTimeout()) {
        case (user, evts, state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          evts.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if s.view < 0 =>
                s = s.copy(view = e.tsMicros)
              case "click" if s.view >= 0 && s.click < 0 && e.tsMicros > s.view =>
                s = s.copy(click = e.tsMicros)
              case "purchase" if s.click >= 0 && s.purchase < 0 && e.tsMicros > s.click =>
                s = s.copy(purchase = e.tsMicros)
              case _ => ()
            }
          }
          state.update(s)
          def opt(v: Long): java.lang.Long = if (v >= 0) v else null
          val stage = (if (s.view >= 0) 1L else 0L) +
            (if (s.click >= 0) 1L else 0L) + (if (s.purchase >= 0) 1L else 0L)
          FunnelRow(user, opt(s.view), opt(s.click), opt(s.purchase), stage)
      }
  }

  /** Streaming exact dedup: suppress repeated event ids with state bounded
    * by the watermark (ids older than the delay are expired from state —
    * the streaming face of the batch `dropDuplicates` dedup family). */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus admission: drop incoming documents whose content
    * fingerprint already exists in the static corpus — the stream-static
    * LEFT ANTI join face of `MergeOps.dedupAgainstCorpus`. Spark plans
    * this per micro-batch with the static side broadcast or reused, no
    * streaming state at all (the corpus is the state, persisted as a
    * table). Composes with `dedupEvents`-style watermark dedup for
    * within-stream duplicates. */
  def admitAgainstCorpus(incoming: DataFrame, corpusFingerprints: DataFrame,
      textCol: String): DataFrame =
    incoming.join(corpusFingerprints,
      md5(incoming(textCol)) === corpusFingerprints("__fp"), "left_anti")

  /** Stream-stream interval join: each click joins the same user's views
    * from the preceding `windowSec` seconds (click-attribution). Both
    * sides carry event-time watermarks and the join condition bounds the
    * time skew, so Spark's symmetric hash join can expire buffered state
    * once the watermark passes a row's latest possible match — state is
    * bounded by (watermark delay + window) × arrival rate, never by
    * stream length. On a batch frame the same plan is an ordinary range
    * join (the batch face `TemporalJoinOps` covers with an oracle); this
    * is its incremental twin, emitted in Append mode as matches prove.
    */
  def clickAttribution(events: DataFrame, windowSec: Long = 3600,
      watermarkDelay: String = "30 minutes"): DataFrame = {
    val views0 = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val clicks0 = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val (views, clicks) =
      if (events.isStreaming)
        (views0.withWatermark("v_ts", watermarkDelay),
         clicks0.withWatermark("c_ts", watermarkDelay))
      else (views0, clicks0)
    clicks.join(views,
      expr(s"""v_user = c_user AND v_ts <= c_ts
              |AND v_ts >= c_ts - INTERVAL $windowSec SECONDS""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts").as("click_ts"), col("v_ts").as("view_ts"))
  }
}
