package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (SURVEY.md §2.11).
  *
  * The reference has no streaming engine — incrementality is cron
  * batches plus doc-only `Modified > last_sync` filters. This module
  * supplies the Spark-native incremental path the reference's design
  * implies: watermarked windowed aggregation over an event stream,
  * stateful sessionization, and the batch incremental filter. All
  * transforms work identically on `readStream` or batch DataFrames
  * (same Catalyst plans), which is how they are differential-tested.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Tumbling/sliding windowed counts + sums with a watermark for
    * late-data eviction. Works on a stream or a batch frame. */
  def windowedStats(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Windowed distribution monitoring: a fixed-boundary histogram
    * sketch ([[graft.functions.FixedHistogram]]) per (window,
    * event_type). The streaming payoff is the sketch's mergeable
    * constant-size state: each open window-group holds `nBuckets + 2`
    * longs in the state store REGARDLESS of event volume — a
    * drift monitor over a firehose costs the same state as one over a
    * trickle (where per-value state, e.g. an exact percentile, would
    * grow unboundedly until the watermark closes the window). Works
    * identically on a stream or a batch frame; pair the output with
    * [[graft.functions.Histograms.tvDistance]] against a training-
    * snapshot baseline for the serve-time distribution-shift alarm. */
  def windowedHistogram(events: DataFrame, lo: Double, width: Double,
      nBuckets: Int, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(graft.functions.Histograms.histFixed(col("value"), lo, width, nBuckets)
        .as("h"))
      .select(col("window.start").as("window_start"), col("event_type"), col("h"))

  /** Per-(window, type) approximate distinct users: the KMV sketch
    * ([[graft.functions.KmvDistinct]]) inside the windowed
    * aggregation. Streaming-safe where `countDistinct` is not even
    * ALLOWED in a streaming aggregation: the sketch's state is k
    * longs per open window-group (exact below k distinct values), so
    * per-window uniques over a firehose cost bounded state — and the
    * Portable md5 hash keeps the estimate bit-reproducible for the
    * oracle. */
  def windowedDistinct(events: DataFrame, k: Int = 64,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(graft.functions.KmvDistinct.kmvDistinct(col("user_id"), k)
        .as("kmv_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("kmv_users"))

  /** Windowed quantile profile over values with UNKNOWN range: the
    * KLL/MRL sketch ([[graft.functions.KllQuantiles]]) inside the
    * windowed aggregation — the missing third leg of the streaming
    * distribution family (histogram needs `[lo, width]` a priori,
    * KMV counts distincts; this reads off p50/p90/… of an unbounded
    * value stream). State per open window-group is
    * `O(k·log(n/k))` doubles regardless of event volume — an exact
    * streaming percentile would hold every value until the watermark
    * closes the window. Exact (and oracle-replayable) while a
    * window's values stay ≤ k; `H·n/k` rank-bounded beyond. Works
    * identically on a stream or a batch frame (the spec pins the
    * differential). */
  def windowedQuantiles(events: DataFrame, k: Int, probs: Seq[Double],
      windowLen: String = "1 hour", watermark: String = "2 hours",
      requireExact: Boolean = false): DataFrame = {
    val agg =
      if (requireExact) graft.functions.Kll.kllQuantilesExact(col("value"), k, probs)
      else graft.functions.Kll.kllQuantiles(col("value"), k, probs)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(agg.as("q"))
      .select(col("window.start").as("window_start"), col("event_type"), col("q"))
  }

  /** The distribution-shift alarm end to end: per-(window, type)
    * histogram sketch joined against a broadcast per-type BASELINE
    * histogram (the training snapshot), emitting only windows whose
    * total-variation distance exceeds `threshold`. `baseline` is
    * (event_type, hb: ARRAY<BIGINT>) — same bucket layout. The drift
    * math is [[graft.functions.Histograms]]' integer-exact L1 + one
    * divide, so the alarm is deterministic enough to oracle-check;
    * works identically on a stream (stream-static broadcast join
    * above the windowed aggregation) or a batch frame. */
  def driftAlarm(events: DataFrame, baseline: DataFrame, lo: Double,
      width: Double, nBuckets: Int, threshold: Double,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    windowedHistogram(events, lo, width, nBuckets, windowLen, watermark)
      .join(broadcast(baseline), "event_type")
      .select(col("window_start"), col("event_type"),
        graft.functions.Histograms.l1Drift(col("h"), col("hb")).as("l1"),
        graft.functions.Histograms.tvDistance(col("h"), col("hb")).as("tvd"))
      .filter(col("tvd") > threshold)

  /** Watermarked streaming dedup: keep the first occurrence of each
    * key (at-least-once ingestion → exactly-once downstream).
    * `dropDuplicatesWithinWatermark`, not `dropDuplicates(keys)`: with
    * plain dropDuplicates the event-time column is absent from the
    * dedup keys, so the state store never evicts — state grows with
    * the full key history. The WithinWatermark form expires a key's
    * state once the watermark passes its event time, bounding state by
    * horizon × arrival rate (duplicates are assumed to arrive within
    * the watermark delay — true for at-least-once redelivery). The
    * batch form is the same plan minus the state store. Deterministic
    * output = the distinct key set — WHICH duplicate survives is
    * arrival-order-dependent on a real stream, so downstream must key
    * off the dedup columns (the gated query projects exactly those).
    * (Spark rejects the WithinWatermark form on batch frames, where
    * there is no state to bound — plain dropDuplicates is the exact
    * batch equivalent.) */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours",
      keyCols: Seq[String] = Seq("event_id")): DataFrame = {
    val wm = events.withWatermark("ts", watermark)
    if (events.isStreaming) wm.dropDuplicatesWithinWatermark(keyCols)
    else wm.dropDuplicates(keyCols)
  }

  /** Watermarked stream-stream interval join: pair each left event
    * with same-user right events inside [l_ts, l_ts + horizon). The
    * time bound on BOTH sides plus the watermarks is what lets Spark
    * evict join state — without it a stream-stream join buffers
    * forever. State is bounded by watermark-horizon × per-user rate;
    * the shuffle keys on user_id only (the time predicate filters
    * post-match). The identical plan runs on batch frames, which is
    * how the differential gate checks it. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("event_id").as("l_id"), col("user_id"),
        col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r, col("user_id") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") < col("l_ts") + expr(s"INTERVAL $horizon"))
      .select(col("l_id"), col("r_id"), col("user_id"),
        col("l_ts"), col("r_ts"))
  }

  /** Streaming MERGE sink (SURVEY §2.11's "foreachBatch + MERGE"):
    * each micro-batch upserts into a parquet snapshot table through
    * the same [[graft.operators.UpsertWriter.merge]] the batch loads
    * use — natural-key dedup within the batch is the caller's contract
    * (same as the reference's loader). Returns the started query;
    * state lives in the table, so restarts are idempotent per key. */
  def mergeSink(stream: DataFrame, tableDir: String,
      cfg: graft.types.TableConfig,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val current =
          if (graft.sources.Sources.snapshotExists(spark, tableDir))
            graft.sources.Sources.readSnapshot(spark, tableDir)
          else batch.limit(0)
        val merged = graft.operators.UpsertWriter.merge(current, batch, cfg).merged
        graft.sources.Sources.publishSnapshot(merged, tableDir)
      }
      .start()

  /** Gap-based sessionization via the built-in `session_window` — the
    * preferred scale path (codegen'd, AQE-planned, identical on
    * readStream with a watermark). `session_end` is the last event
    * plus the gap, per Spark's session-window semantics. The
    * custom-state variant below ([[sessionize]]) keeps the
    * emit-on-breach behavior a reference-style incremental consumer
    * would want. */
  def sessionWindows(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Gap-based sessionization with flatMapGroupsWithState: a session
    * closes when `gapMs` elapses between consecutive events (emitted
    * on the event that breaches the gap) or on state timeout. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evts: Iterator[Event],
        state: GroupState[Session]): Iterator[Session] = {
      // getNanos carries the sub-millisecond component getTime drops:
      // without it, two same-user events inside one millisecond sort
      // by event_id only, diverging from a full-precision (ts,
      // event_id) order (the q_stream_sessions_state oracle's order)
      val sorted = evts.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      val out = Seq.newBuilder[Session]
      var cur = state.getOption
      for (e <- sorted) {
        cur match {
          case Some(s) if e.ts.getTime - s.session_end.getTime > gapMs =>
            out += s
            cur = Some(Session(userId, e.ts, e.ts, 1L, e.value))
          case Some(s) =>
            cur = Some(s.copy(session_end = e.ts, n_events = s.n_events + 1,
              total_value = s.total_value + e.value))
          case None =>
            cur = Some(Session(userId, e.ts, e.ts, 1L, e.value))
        }
      }
      cur match {
        case Some(s) =>
          state.update(s)
          if (state.hasTimedOut) { out += s; state.remove() }
        case None =>
      }
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }
}
