package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** #49k streaming NEAR-duplicate detection: minhash-LSH banding with
  * per-bucket state — the stateful streaming twin of the batch banding
  * front of [[graft.operators.Dedup.minhashPairsPortable]].
  *
  * The batch near-dup tier answers "which pairs exist in the corpus";
  * an ingest pipeline also needs "does THIS arriving document
  * near-duplicate anything recently seen" — online, as documents land,
  * without a corpus pass. [[graft.operators.StreamDedup.dedupDocuments]]
  * covers exact content identity (`dropDuplicatesWithinWatermark` on the
  * sha2 key); nothing built-in covers NEAR identity, because the dedup
  * key is a *similarity class*, not a value — this operator supplies it.
  *
  * Shape: the signature/banding front is the SAME projection the #49h
  * fuzzy gate runs ([[graft.functions.PortableMinhashSig]] native
  * expression + per-band md5 keys — bit-equal to the batch banding,
  * spec-pinned there), then `flatMapGroupsWithState` keyed by
  * (band, band_key) holds the bucket's recent members: (doc_id,
  * signature, event-time). An arriving document compares signatures
  * against its bucket — estimated Jaccard = matching-component share,
  * the standard minhash estimator — and emits every pair clearing
  * `minEstJaccard`. Exact-Jaccard confirmation (shingle sets) stays a
  * batch job by design: signatures are 32 longs/doc of state; shingle
  * sets are unbounded.
  *
  * State discipline (the 100 TB-feed contract):
  *  - eviction by EVENT TIME: entries older than the watermark drop at
  *    every invocation, and an armed event-time timeout sweeps buckets
  *    that stop receiving rows — state is (ingest rate × horizon), not
  *    stream length (the dedupDocuments rule).
  *  - bounded buckets: past `maxBucket` members a bucket STAR-CAPS —
  *    new arrivals compare against the bucket ROOT (lowest doc_id)
  *    only and are not stored, mirroring the batch `ListPairs`
  *    star rule (connectivity through the root survives; state and
  *    per-row work stay O(maxBucket)).
  *  - pairs surface once per COLLIDING BAND (band is an output column);
  *    consumers wanting pair grain take `dropDuplicates(id1, id2)` —
  *    the batch pipeline's candidate-`distinct()` is a shuffle the
  *    stream defers to the consumer.
  *  - a duplicate delivery of the same doc_id into the same bucket is
  *    compared but not re-stored (at-least-once feeds must not inflate
  *    buckets).
  *
  * Within a micro-batch the bucket folds rows in (event time, doc_id)
  * order, so the emitted pair SET is deterministic for a given
  * batch decomposition; like every within-horizon streaming relaxation,
  * pairs separated by more than the watermark horizon are a batch
  * pass's job ([[graft.operators.Dedup.minhashPairsPortable]]).
  */
object StreamNearDup {

  case class BandRow(band: Int, band_key: String, doc_id: Long,
                     ts: Timestamp, sig: Seq[Long])
  case class Entry(docId: Long, sig: Seq[Long], ms: Long)
  case class BucketState(entries: List[Entry])
  case class NearDupPair(id1: Long, id2: Long, band: Int, est_jaccard: Double)

  /** Minhash Jaccard estimator: share of matching signature components. */
  def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var m = 0
    var i = 0
    while (i < a.length) {
      if (a(i) == b(i)) m += 1
      i += 1
    }
    m.toDouble / a.length
  }

  private def round6(x: Double): Double = math.round(x * 1e6).toDouble / 1e6

  /** The streaming-safe banding front: shingles → native minhash
    * signature → one (band, band_key) row per band, watermarked on
    * `ingest_ts`. Empty-shingle documents (0/1-token, null text) emit
    * no rows — they have no posting rows in the batch pipeline either.
    */
  def bandRows(documents: DataFrame, watermarkDelay: String): Dataset[BandRow] = {
    import graft.functions.MinhashSigOps.minhash_sig
    val pA = (0 until Dedup.Perms).map(Dedup.permA).toArray
    val pB = (0 until Dedup.Perms).map(Dedup.permB).toArray
    val rpb = Dedup.Perms / Dedup.Bands
    implicit val enc = Encoders.product[BandRow]
    documents
      .withColumn("__sh", Dedup.bigramShingles(col("text")))
      .filter(size(col("__sh")) > 0)
      .withColumn("sig", minhash_sig(col("__sh"), pA, pB, Dedup.PermM))
      .withColumn("bk", explode(array((0 until Dedup.Bands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|", (b * rpb until (b + 1) * rpb)
            .map(i => element_at(col("sig"), i + 1).cast("string")): _*))
            .as("band_key"))
      }: _*)))
      .select(col("bk.band").as("band"), col("bk.band_key").as("band_key"),
        col("doc_id"), col("ingest_ts").as("ts"), col("sig"))
      .withWatermark("ts", watermarkDelay)
      .as[BandRow]
  }

  def candidatePairs(documents: DataFrame, watermarkDelay: String = "1 hour",
                     minEstJaccard: Double = 0.5,
                     maxBucket: Int = 1024): Dataset[NearDupPair] = {
    implicit val outEnc = Encoders.product[NearDupPair]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    bandRows(documents, watermarkDelay)
      .groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), it: Iterator[BandRow], state: GroupState[BucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          val kept = state.getOption.map(_.entries).getOrElse(Nil)
            .filter(_.ms >= wm)
          if (state.hasTimedOut) {
            if (kept.isEmpty) state.remove()
            else {
              state.update(BucketState(kept))
              state.setTimeoutTimestamp(kept.iterator.map(_.ms).max + 1L)
            }
            Iterator.empty
          } else {
            // flatMapGroupsWithState does not pre-filter late data
            // (the sessionsWithTimeout rule) — drop rows the watermark
            // already passed, then fold in deterministic order.
            val batch = it.toSeq.filter(_.ts.getTime >= wm)
              .sortBy(r => (r.ts.getTime, r.doc_id))
            var seen = kept
            val out = Seq.newBuilder[NearDupPair]
            batch.foreach { r =>
              if (seen.size >= maxBucket) {
                val root = seen.minBy(_.docId)
                if (root.docId != r.doc_id) {
                  val est = estJaccard(root.sig, r.sig)
                  if (est >= minEstJaccard)
                    out += NearDupPair(math.min(root.docId, r.doc_id),
                      math.max(root.docId, r.doc_id), key._1, round6(est))
                }
              } else {
                seen.foreach { e =>
                  if (e.docId != r.doc_id) {
                    val est = estJaccard(e.sig, r.sig)
                    if (est >= minEstJaccard)
                      out += NearDupPair(math.min(e.docId, r.doc_id),
                        math.max(e.docId, r.doc_id), key._1, round6(est))
                  }
                }
                if (!seen.exists(_.docId == r.doc_id))
                  seen = Entry(r.doc_id, r.sig, r.ts.getTime) :: seen
              }
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(BucketState(seen))
              state.setTimeoutTimestamp(seen.iterator.map(_.ms).max + 1L)
            }
            out.result().iterator
          }
      }
  }
}
