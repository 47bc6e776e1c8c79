package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** #49 streaming.Sessionize: stateful gap-based sessionization with
  * `flatMapGroupsWithState` — the streaming twin of the batch operator
  * `Analytics.sessionize` (same 30-minute-gap semantics, same output
  * fields).
  *
  * Per-key state is one open session (constant size); closed sessions
  * emit as soon as a later event proves the gap, so emission order is
  * deterministic given the event order. State lives in the streaming
  * state store, keyed and partitioned by user — scale = #active keys,
  * not stream length.
  */
object Sessionize {

  case class Event(user_id: Long, ts: Timestamp, value: Double)

  /** Open-session state. `grainV` exists ONLY to break state-store
    * schema compatibility with the pre-r9 millisecond-grain state:
    * Spark's compatibility check compares TYPES, not field names, so a
    * checkpoint written by the old (startMs, lastMs, nEvents) state
    * would restore into the µs fields silently — every restored ms
    * value read as µs closes instantly and emits 1970-dated sessions.
    * The extra field makes such a restart fail LOUDLY at the schema
    * check instead; start a fresh checkpoint across the upgrade.
    */
  case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long,
                         grainV: Int = 2)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Long, duration_sec: Double)

  def gapUs(gapMinutes: Int): Long = gapMinutes.toLong * 60L * 1000000L

  /** Event time at MICROSECOND grain. `Timestamp.getTime` alone is
    * millisecond-truncating — the batch sessionizer compares epoch_us,
    * so a ms-grain streaming fold silently truncated sub-ms boundaries
    * and emitted session timestamps that differ from the batch plan in
    * the µs digits (found r9 when the oracle row compared VALUES, not
    * the counts the original parity spec checked).
    */
  def usOf(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  def tsOfUs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Fold a batch of events for one key into (closed sessions, new open
    * state). Pure — shared by the streaming operator and its spec.
    * `gap` is in MICROSECONDS (see [[gapUs]]).
    */
  def advance(state: Option[OpenSession], sorted: Seq[Event], gap: Long,
              userId: Long): (Seq[Session], Option[OpenSession]) = {
    var open = state
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = usOf(e.ts)
      open match {
        case Some(s) if t - s.lastUs > gap =>
          closed += finish(userId, s)
          open = Some(OpenSession(t, t, 1))
        case Some(s) =>
          open = Some(OpenSession(s.startUs, math.max(s.lastUs, t), s.nEvents + 1))
        case None =>
          open = Some(OpenSession(t, t, 1))
      }
    }
    (closed.result(), open)
  }

  def finish(userId: Long, s: OpenSession): Session =
    Session(userId, tsOfUs(s.startUs), tsOfUs(s.lastUs),
      s.nEvents, (s.lastUs - s.startUs) / 1000000.0)

  /** Streaming sessionize with event-time timeout: the production
    * variant. [[sessions]] only closes a session when a LATER event for
    * the same user proves the gap — a user who goes quiet forever keeps
    * an open session in the state store and never emits. Here the
    * watermark drives the flush: each update arms a timeout at
    * last-event + gap, and when the watermark passes it the state
    * function fires with an empty iterator, emits the session and drops
    * the state — terminal sessions emit and state is bounded by the
    * watermark horizon.
    */
  def sessionsWithTimeout(events: Dataset[Event], gapMinutes: Int = 30,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val gap = gapUs(gapMinutes)
    implicit val sessionEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val longEnc = Encoders.scalaLong
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(finish(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            // flatMapGroupsWithState does NOT pre-filter late data: a
            // straggler older than the watermark could re-open state a
            // timeout flush already emitted and produce a second,
            // overlapping session for the same user in append mode. The
            // watermark is the flush contract — drop only STRICTLY
            // sub-watermark events (Spark's convention: event-time >=
            // watermark is on-time; `>` would silently discard boundary
            // events).
            val wm = state.getCurrentWatermarkMs
            val sorted = it.toSeq.filter(e => usOf(e.ts) >= wm * 1000L)
              .sortBy(e => usOf(e.ts))
            val (closed, open) = advance(state.getOption, sorted, gap, userId)
            open match {
              case Some(s) =>
                state.update(s)
                // Arm the flush at gap past the last event (timeouts are
                // ms-grain — round the µs deadline UP so the flush never
                // fires a sub-ms early); never earlier than the current
                // watermark (late data would make setTimeoutTimestamp
                // throw).
                state.setTimeoutTimestamp(math.max(
                  Math.floorDiv(s.lastUs + gap + 999L, 1000L),
                  state.getCurrentWatermarkMs + 1))
              case None => if (state.exists) state.remove()
            }
            closed.iterator
          }
      }
  }

  /** Streaming sessionize: append-mode, one open-session state per user.
    * Works identically on any streaming source and on a batch Dataset.
    * Gap closure requires a successor event — see [[sessionsWithTimeout]]
    * for the watermark-flushed production variant.
    */
  def sessions(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    val gap = gapUs(gapMinutes)
    implicit val sessionEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          val sorted = it.toSeq.sortBy(e => usOf(e.ts))
          val (closed, open) =
            advance(state.getOption, sorted, gap, userId)
          open match {
            case Some(s) => state.update(s)
            case None => if (state.exists) state.remove()
          }
          closed.iterator
      }
  }
}
