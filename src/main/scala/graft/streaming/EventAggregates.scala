package graft.streaming

import graft.functions.FreqItemsAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming event-time aggregations over the `events` stream shape —
  * the watermarked counterparts of the batch queries `q_window_tumbling`,
  * `q_session_window`, and `reorder_dedup_events`, so the same semantics
  * run over `readStream` sources (Kafka/files) with bounded state.
  *
  * All operators take/return DataFrames and work identically on batch
  * inputs (Spark's unified semantics), which is how the specs pin their
  * results to the batch oracles.
  */
object EventAggregates {

  /** Tumbling-window counts/sums per event type; watermark bounds state
    * to (watermark + window) of event time.
    */
  def tumblingCounts(events: DataFrame, tsCol: String, windowLen: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding (hopping) window counts: each event contributes to
    * windowLen/slide windows; watermark bounds state as for tumbling.
    */
  def slidingCounts(events: DataFrame, tsCol: String, windowLen: String,
      slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Gap-based session aggregation per user (merging windows). */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Streaming exact dedup on arbitrary key columns within the watermark
    * horizon (first occurrence wins — the generalization of the
    * reference's S3 semantics to any key).
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static dimension enrichment: left-join a (small) static
    * dimension table onto the stream — the standard fact-stream × dim
    * lookup (user profile, product catalog). Stateless: no watermark or
    * state store involved; each micro-batch joins against the dim as-of
    * that batch. The dim is BROADCAST, so the stream side never shuffles
    * — at 100 TB/day of events the per-batch cost is a map-side hash
    * lookup. Re-broadcast of a refreshed dim is a restart (or a Delta-
    * style CDC join, out of scope here).
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, keyCol: String): DataFrame =
    stream.join(broadcast(dim), Seq(keyCol), "left")

  /** Stream-stream inner join within a bounded event-time interval: left
    * rows match right rows with the same key whose timestamp lies in
    * [left.ts - before, left.ts + after]. Both sides carry watermarks so
    * Spark can bound join state (state ∝ watermark + interval, not the
    * stream length). Column names on the right are taken as given — pass
    * pre-renamed frames to avoid ambiguity.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, watermark: String,
      before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after"))
      .drop(r(keyCol))
  }

  /** Tumbling-window distinct users via the theta sketch aggregate —
    * streaming COUNT(DISTINCT), which Spark disallows directly in
    * streaming aggregations (it can't be incrementally maintained
    * exactly in bounded state). The sketch CAN: per-window state is one
    * mergeable blob, exact below sketch capacity, watermark-bounded like
    * any windowed agg. Spark's built-in `theta_sketch_agg`, the one the
    * batch `sketch_overlap` query uses — one aggregate, both engines.
    * `theta_sketch_estimate` rounds the estimate to a BIGINT.
    */
  def tumblingDistinctUsers(events: DataFrame, tsCol: String,
      windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(theta_sketch_agg(col("user_id")).as("sk"))
      .select(col("w.start").as("window_start"),
        theta_sketch_estimate(col("sk")).as("distinct_users"))

  /** Tumbling-window heavy hitters via the Misra–Gries frequent-items
    * sketch ([[graft.functions.FreqItemsAgg]], the batch
    * `sketch_heavy_hitters` aggregate): WHICH items exceed `minShare` of
    * each window's stream, in bounded per-window state — the trending-
    * topics / hot-keys monitor a 100 TB/day event stream runs
    * continuously. Exact COUNT+filter needs per-window state linear in
    * item cardinality (and Spark would reject the two-level streaming
    * aggregation anyway); the sketch keeps one mergeable maxMapSize-
    * bounded blob per window, exact below map capacity, watermark-
    * evicted like any windowed agg. Output: one row per (window, item)
    * over the threshold, with the sketch's frequency estimate.
    */
  def tumblingHeavyHitters(events: DataFrame, tsCol: String, itemCol: String,
      windowLen: String, watermark: String, minShare: Double,
      maxMapSize: Int = 1024): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(FreqItemsAgg.freqItems(col(itemCol), maxMapSize).as("sk"))
      .select(col("w.start").as("window_start"),
        explode(FreqItemsAgg.itemsAbove(col("sk"), lit(minShare))))
      .select(col("window_start"), col("key").as("item"),
        col("value").as("freq"))
}
