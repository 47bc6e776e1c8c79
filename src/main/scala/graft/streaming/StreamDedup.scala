package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming twin of the batch keep-last dedupe in
  * `operators.Cleaning.cleanEvents`: exactly-once event identity over an
  * unbounded stream.
  *
  * `dropDuplicates` on (user_id, ts) with a watermark bounds the dedupe
  * state: keys older than the watermark are evicted, so state size is
  * (arrival rate × watermark window), not stream length. Batch semantics
  * differ in one respect by necessity: a stream sees rows in arrival
  * order, so FIRST occurrence wins (the batch operator can pick the
  * highest event_id because it sees all duplicates at once) — the
  * standard streaming relaxation for idempotent upstream feeds.
  */
object StreamDedup {

  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("user_id", "ts")

  /** Within-watermark duplicate drop for document streams (content
    * identity = the exact-dedup hash of `operators.Dedup.exact`).
    *
    * Uses `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: the
    * dedup key (content_hash) does not include the event-time column,
    * and plain `dropDuplicates` only evicts state for keys that CONTAIN
    * the watermark column — on a content-keyed stream its state grows
    * with every distinct document ever seen. WithinWatermark expires
    * each key once the watermark passes its first-seen time, so state
    * is (ingest rate × watermark window), the only shape that survives
    * an unbounded corpus feed. Semantics trade: duplicates separated by
    * more than the watermark window BOTH survive — streaming dedup is a
    * within-horizon guarantee; corpus-lifetime identity stays a batch
    * pass ([[graft.operators.Dedup.exact]] / `dedupIncremental`).
    */
  def dedupDocuments(documents: DataFrame, watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions._
    documents
      .withColumn("content_hash", sha2(col("text"), 256))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
  }
}
