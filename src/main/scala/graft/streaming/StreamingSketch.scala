package graft.streaming

import graft.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Input / state / output rows for [[StreamingSketch.sessionizeStream]]. */
case class SessTurn(conv_id: String, turn_idx: Int, role: String,
    text: String, ts: java.sql.Timestamp)
case class SessState(lastEs: Long, sessIdx: Long)
/** A timestamped scalar sample — the [[StreamingSketch.windowedKsDrift]]
  * stream-input row shape. */
case class ValuePoint(ts: java.sql.Timestamp, x: Double)
case class SessOut(conv_id: String, turn_idx: Int, role: String,
    session_idx: Long)

/** Structured Streaming sketch aggregation.
  *
  * The reference is pure batch (SURVEY.md §2.9); streaming falls out of the
  * engine design for free because every sketch aggregate is an associative
  * TypedImperativeAggregate — the state store holds the partial sketch
  * buffer per (window, key) and merges late partials exactly like a shuffle
  * merge. Event-time windows + watermark bound the state.
  */
object StreamingSketch {
  /** Per-(event-time window, key) sketch aggregation over a streaming
    * transcripts source. Output columns: window, key, hll estimate of
    * distinct conv_id, KLL p50 of text length. */
  def windowedSketches(
      turns: DataFrame, // streaming: (conv_id, role, text, ts, ...)
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      p: Int = 12): DataFrame =
    turns
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("role"))
      .agg(
        hll_agg(col("conv_id"), p).as("hll_convs"),
        kll_agg(length(col("text")), 200).as("kll_len"))
      .select(col("window"), col("role"),
        hll_estimate(col("hll_convs")).as("distinct_convs_est"),
        kll_quantile(col("kll_len"), 0.5).as("median_len"))

  /** Per-window distribution-drift alarm vs a FROZEN reference: one KLL
    * blob per event-time window in the state store, compared to the
    * reference blob row-locally at emit (the `graft_kll_ks`
    * expression; the reference rides as one small literal — k·8B-scale).
    * This is the continuous form of [[graft.operators.Drift.ksDistance]]:
    * "did this hour's turn-length distribution move from the accepted
    * corpus?" — the alarm a 100 TB/day ingest monitors. Watermark bounds
    * state exactly like [[windowedSketches]]. */
  def windowedKsDrift(
      turns: DataFrame, // streaming, with event-time column ts
      xCol: String,
      referenceKll: Array[Byte],
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      k: Int = 200,
      threshold: Double = 0.2): DataFrame = {
    val ks = kll_ks(col("kll"), lit(referenceKll))
    // drop null samples BEFORE the window agg: kll_agg skips nulls, so an
    // all-null window would emit an n=0 blob and graft_kll_ks (which requires
    // both sketches non-empty) would crash the continuously-running drift
    // monitor at emit time — a data-quality blip must not kill the query.
    // Identical output for windows with any non-null sample.
    turns.where(col(xCol).isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(kll_agg(col(xCol), k).as("kll"))
      .select(col("window"), kll_n(col("kll")).as("n_rows"),
        ks.as("ks_est"), (ks >= threshold).as("drifted"))
  }

  /** Global (non-windowed) running sketches, complete-mode friendly. */
  def runningSketches(turns: DataFrame, p: Int = 12): DataFrame =
    turns.groupBy(col("role"))
      .agg(hll_agg(col("conv_id"), p).as("hll_convs"),
        cms_agg(col("tool"), 0.001, 0.01).as("cms_tools"))
      .select(col("role"),
        hll_estimate(col("hll_convs")).as("distinct_convs_est"),
        cms_total(col("cms_tools")).as("tool_events"))

  /** Per-(event-time window) heavy-hitter enumeration: the SpaceSaving
    * top-k aggregate over a streaming source — "hot tools/URLs/vocab this
    * hour" without an exact per-key groupBy, the one query shape a 100 TB/day
    * ingest monitors continuously. State per window = ONE O(capacity)
    * counter blob (not one row per distinct key): late partials merge into
    * the blob exactly like shuffle partials, so the Misra–Gries guarantees
    * (no overcount; undercount ≤ N/(capacity+1); every key above that bound
    * present) hold for the window total regardless of arrival order —
    * enumeration VALUES are arrival-order dependent, the bounds are not
    * (same posture as the batch `heavy_hitters_topk` gate). */
  def windowedTopK(
      events: DataFrame, // streaming: (<keyCol>, ts, ...)
      keyCol: String,
      capacity: Int = 16,
      k: Int = 10,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(topk_agg(col(keyCol), capacity).as("tk"))
      .select(col("window"),
        topk_items(col("tk"), k).as("items"),
        topk_total(col("tk")).as("n"),
        topk_dec(col("tk")).as("dec"))

  /** Streaming exact dedup: keep the FIRST arrival of each content hash
    * within the watermark horizon, drop later copies (the streaming twin of
    * Dedup.exactCanonical — an ingestion pipeline dedups documents as they
    * land, not in a nightly batch). State = one row per distinct content
    * hash inside the horizon, evicted by the watermark; emits append-mode.
    *
    * The horizon is a documented semantic: two identical documents farther
    * apart in event time than `watermark` both survive — at 100 TB/day an
    * unbounded exact-dedup state is the thing that kills a stream job, so
    * the engine makes the trade explicit (pair it with the batch
    * exactCanonical for the full-corpus pass). */
  def dedupStream(
      docs: DataFrame, // streaming: (id, text, ts)
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("__content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** Streaming twin of [[graft.operators.Dedup.dedupAgainstIndex]]: a
    * foreachBatch sink that dedups each micro-batch against a PERSISTED
    * fingerprint index and appends the matches to `outPath` — the shape an
    * ingestion pipeline actually runs ("is this incoming document a copy
    * of anything in the 100 TB corpus?") as documents land, not nightly.
    *
    * Batch/stream equivalence is EXACT, not approximate: every probe joins
    * the frozen index only and aggregates within a document, so
    * dedupAgainstIndex(b1 ∪ b2) = dedupAgainstIndex(b1) ∪
    * dedupAgainstIndex(b2) — micro-batch boundaries cannot change any
    * result row (asserted in StreamingSpec). In-stream duplicates are the
    * complementary concern: compose with [[dedupStream]] upstream, or
    * fold completed batches into the index with
    * `Dedup.buildFingerprintIndex` on a rebuild cadence.
    *
    * The sink is IDEMPOTENT under micro-batch retries: each batch writes
    * (mode overwrite) to its own `batch_id=<id>` partition directory, so
    * a foreachBatch re-run after a partial write — Spark's at-least-once
    * contract — replaces its own output instead of appending duplicates.
    * Read the result as `spark.read.parquet(outPath)` (batch_id appears
    * as a partition column). `outPath` must be fresh or previously
    * written by THIS sink — mixing flat parquet files into the same
    * directory breaks Spark's partition discovery.
    *
    * Usage:
    * {{{
    * docs.writeStream
    *   .foreachBatch(StreamingSketch.dedupAgainstIndexBatch(
    *     indexDir, "id", "text", outPath))
    *   .start()
    * }}} */
  /** Streaming twin of [[graft.operators.Conversations.sessionize]]:
    * per-conversation inactivity-gap session indices over a live turn
    * stream, via `flatMapGroupsWithState` — the custom-keyed-state facility
    * none of the sketch aggregates need (their state IS the sketch blob),
    * but sessionization does: the state is (last epoch second, current
    * session index) per conv_id, O(1) per live conversation.
    *
    * Batch equivalence is EXACT when each conversation's turns arrive in
    * canonical (turn_idx, role, text) order across micro-batches (the
    * append-log delivery shape); within a micro-batch the operator sorts,
    * so only cross-batch reordering breaks the contract (asserted in
    * StreamingSpec over real micro-batch boundaries, and driver-gated as
    * `stream_sessionize` against the same DuckDB oracle as the batch gate).
    *
    * State eviction is the dedupStream trade made explicit: a conversation
    * silent past `watermark` is evicted (timeout = last event + watermark),
    * and a later turn would restart it at session 0 — size `watermark`
    * above the longest silence worth bridging. */
  def sessionizeStream(
      turns: DataFrame, // streaming: (conv_id, turn_idx, role, text, ts)
      gapSeconds: Long,
      watermark: String = "2 hours"): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .selectExpr("conv_id", "cast(turn_idx as int) AS turn_idx", "role",
        "text", "ts")
      .withWatermark("ts", watermark)
      .as[SessTurn]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (conv, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toArray.sortBy(t => (t.turn_idx, t.role, t.text))
            var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
            val out = sorted.map { t =>
              val es = t.ts.getTime / 1000L
              val idx =
                if (st.lastEs != Long.MinValue && es - st.lastEs > gapSeconds)
                  st.sessIdx + 1
                else st.sessIdx
              st = SessState(es, idx)
              SessOut(t.conv_id, t.turn_idx, t.role, idx)
            }
            state.update(st)
            // timeout base must sit above the current watermark (Spark
            // requires it); late groups clamp to watermark + 1 ms
            state.setTimeoutTimestamp(
              math.max(st.lastEs * 1000L, state.getCurrentWatermarkMs + 1),
              watermark)
            out.iterator
          }
      }.toDF()
  }

  def dedupAgainstIndexBatch(
      indexDir: String,
      idCol: String,
      textCol: String,
      outPath: String,
      minJaccardX1m: Long = 500000L): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      graft.operators.Dedup
        .dedupAgainstIndex(batch, idCol, textCol, indexDir, minJaccardX1m)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
}
