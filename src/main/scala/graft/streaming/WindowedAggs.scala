package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** #48 streaming.WindowedAggs: watermarked event-time window aggregation
  * over a tick stream (Structured Streaming).
  *
  * The reference runs an incremental daily batch
  * (/root/reference/scripts/daily_update.py, src/pipeline.py — re-pull,
  * recompute, overwrite); the Spark-native twin is a continuous
  * `readStream → window agg → writeStream` with a watermark bounding
  * state: late ticks beyond the watermark are dropped, windows finalize
  * and evict incrementally. The same call works on any streaming source
  * (`spark.readStream.schema(...).parquet(dir)`, Kafka, or a test
  * feed) and on a batch DataFrame (windows compute, watermark is
  * a no-op) — the logical plan is identical, which is the point of
  * Structured Streaming.
  *
  * State size = (#keys × #open windows) — bounded by the watermark, not
  * the stream length; aggregation is partial/map-side before the keyed
  * shuffle exactly as in batch.
  */
object WindowedAggs {

  /** Per-(window, user) OHLC-ish aggregate with event-time watermark.
    * Output schema: window(start, end), user_id, n_events, avg_value,
    * min_value, max_value.
    */
  def userWindows(events: DataFrame,
                  windowDur: String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Streaming OHLCV bars — the streaming twin of Bars.resample, same
    * aggregate set including true open/close (min_by/max_by on event
    * time, which combine map-side in streaming state exactly as in
    * batch). A live quote board is this stream with a short window:
    * the continuous counterpart of price_extractor.py's 60 s-cached
    * realtime polling loop.
    */
  def ohlcvBars(events: DataFrame,
                windowDur: String = "1 minute",
                watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), windowDur))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("volume"),
        avg(col("value")).as("vwap"))
      .select(col("user_id"), col("window.start").as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("vwap"))

  /** Streaming twin of Quality.dataQuality (reference pipeline.py:377):
    * continuous per-(user, day) quality counters instead of a nightly
    * batch sweep — row count, null/non-positive value counts, freshness
    * (max ts), and a duplicate-timestamp estimate. The exact duplicate
    * count needs per-window distinct-ts state; streaming uses
    * `approx_count_distinct` (HLL — deterministic for a given input, ~2%
    * error) so state stays O(sketch) per open window; the batch operator
    * reports the exact count. Day-grain gaps/staleness stay batch-side:
    * they compare across windows, which an incremental per-window
    * aggregate by design cannot see.
    */
  def qualityCounters(events: DataFrame,
                      windowDur: String = "1 day",
                      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), windowDur))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, 1)).as("n_null_value"),
        count(when(col("value") <= 0, 1)).as("n_nonpos_value"),
        (count(lit(1)) - approx_count_distinct(col("ts"))).as("n_dup_ts_est"),
        max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("window.start").as("day"),
        col("n_rows"), col("n_null_value"), col("n_nonpos_value"),
        col("n_dup_ts_est"), col("last_ts"))

  /** Sliding-window market-wide event rate (window, slide) — the breadth
    * twin: events per type per sliding window.
    */
  def typeRates(events: DataFrame,
                windowDur: String = "1 hour",
                slide: String = "30 minutes",
                watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
}
