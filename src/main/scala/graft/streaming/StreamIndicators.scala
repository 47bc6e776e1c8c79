package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming technical indicators — the continuous twin of the batch
  * `operators/Indicators` chain (reference technical_indicators.py:17
  * add_moving_averages, :44 add_ema), for the live path the reference
  * serves with its 60 s-cached realtime polling loop
  * (price_extractor.py:109): each finalized bar updates per-symbol
  * indicator state and emits one enriched row, instead of recomputing
  * the whole history every poll.
  *
  * Indicator recursions are order-sensitive, so this is genuine
  * `flatMapGroupsWithState` territory (not a windowed agg): EMA is a
  * fold over the bar sequence, SMA needs the trailing p closes. State
  * per symbol is O(p) doubles — #symbols × p, watermark-independent and
  * tiny; 100 TB of history never enters state, only the running
  * recursion does.
  *
  * Ordering contract: bars must advance in event time per symbol.
  * Within a micro-batch the group iterator is sorted; ACROSS batches a
  * straggler older than already-folded state cannot be retro-fitted
  * into a recursion whose later values were already emitted — it is
  * dropped by the monotone guard (`ts > lastMs`), the streaming
  * equivalent of the batch job's sort-before-fold. Feed this operator
  * from a watermarked upstream (e.g. [[WindowedAggs.ohlcvBars]]) whose
  * finalized append output is naturally time-ordered per key.
  */
object StreamIndicators {

  /** A finalized per-symbol bar (what ohlcvBars emits, close-only). */
  case class Bar(user_id: Long, ts: Timestamp, close: Double)

  /** Per-symbol recursion state: bars seen, EMA value, last folded
    * event time, trailing closes (most-recent first, ≤ p).
    */
  case class IndState(nSeen: Long, ema: Double, lastMs: Long,
                      window: List[Double])

  /** One enriched bar: SMA/EMA null (None) until their min_periods —
    * p and span observations respectively — matching the batch
    * operators and pandas `rolling(p, min_periods=p)` /
    * `ewm(span, adjust=False)`.
    */
  case class IndRow(user_id: Long, ts: Timestamp, close: Double,
                    sma: Option[Double], ema: Option[Double])

  /** Per-symbol MACD/RSI recursion state: EMA fast/slow from bar 1,
    * signal EMA seeded at bar `slow` (the first non-null MACD, matching
    * the batch fold's seed), previous close for deltas, trailing
    * gain/loss windows (≤ rsiP each).
    */
  case class MacdRsiState(nSeen: Long, emaFast: Double, emaSlow: Double,
                          emaSig: Double, prevClose: Double, lastMs: Long,
                          gains: List[Double], losses: List[Double])

  /** One MACD/RSI row: macd null before `slow` bars, signal before
    * `slow + sig − 1`, rsi before `rsiP + 1` (p deltas need p+1 bars) or
    * on zero average loss — all matching the batch plan; `rsi_signal`
    * degrades to "neutral" on null rsi exactly as the batch `otherwise`.
    */
  case class MacdRsiRow(user_id: Long, ts: Timestamp, close: Double,
                        macd: Option[Double], macd_signal: Option[Double],
                        macd_hist: Option[Double], rsi: Option[Double],
                        rsi_signal: String)

  /** Streaming MACD(fast, slow, sig) + RSI(rsiP) per symbol — the rest
    * of the live indicator battery (reference technical_indicators.py:62
    * add_rsi, :83 add_macd). Same state/ordering contract as [[smaEma]]:
    * O(rsiP) state per symbol, sub-state stragglers dropped. The three
    * EMA recursions use the identical operation order as the batch
    * folds, and the RSI gain/loss windows sum oldest-first like the
    * batch window frame, so finalized values are bit-equal to the
    * batch plan.
    */
  def macdRsi(bars: Dataset[Bar], fast: Int = 12, slow: Int = 26,
              sig: Int = 9, rsiP: Int = 14): Dataset[MacdRsiRow] = {
    val (aF, aS, aG) = (2.0 / (fast + 1), 2.0 / (slow + 1), 2.0 / (sig + 1))
    implicit val rowEnc = Encoders.product[MacdRsiRow]
    implicit val stateEnc = Encoders.product[MacdRsiState]
    implicit val longEnc = Encoders.scalaLong
    bars
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Bar], state: GroupState[MacdRsiState]) =>
          var st = state.getOption.getOrElse(
            MacdRsiState(0L, 0.0, 0.0, 0.0, 0.0, Long.MinValue, Nil, Nil))
          val out = Seq.newBuilder[MacdRsiRow]
          it.toSeq.sortBy(_.ts.getTime).foreach { b =>
            if (b.ts.getTime > st.lastMs) {
              val n = st.nSeen + 1
              val first = st.nSeen == 0L
              val emaF = if (first) b.close else aF * b.close + (1 - aF) * st.emaFast
              val emaS = if (first) b.close else aS * b.close + (1 - aS) * st.emaSlow
              val macdVal = emaF - emaS
              val emaSig = if (n == slow) macdVal
                           else if (n > slow) aG * macdVal + (1 - aG) * st.emaSig
                           else 0.0
              val (gains, losses) =
                if (first) (Nil, Nil)
                else {
                  val d = b.close - st.prevClose
                  ((math.max(d, 0.0) :: st.gains).take(rsiP),
                   (math.max(-d, 0.0) :: st.losses).take(rsiP))
                }
              // reverse as in [[smaEma]]: fold the windows oldest-first,
              // matching the batch frame order bit-for-bit.
              val rsi =
                if (gains.length < rsiP) None
                else {
                  val al = losses.reverse.sum / rsiP
                  if (al == 0.0) None
                  else Some(100.0 - 100.0 / (1.0 + (gains.reverse.sum / rsiP) / al))
                }
              val macd = if (n >= slow) Some(macdVal) else None
              val signal = if (n >= slow + sig - 1) Some(emaSig) else None
              st = MacdRsiState(n, emaF, emaS, emaSig, b.close, b.ts.getTime,
                gains, losses)
              out += MacdRsiRow(uid, b.ts, b.close, macd, signal,
                for (m <- macd; s <- signal) yield m - s, rsi,
                rsi.map(r => if (r > 70) "overbought"
                             else if (r < 30) "oversold"
                             else "neutral").getOrElse("neutral"))
            }
          }
          if (st.nSeen > 0L) state.update(st)
          out.result().iterator
      }
  }

  /** Streaming SMA(p) + EMA(span) per symbol, append mode. EMA seeds at
    * the first bar and folds αx + (1−α)prev with α = 2/(span+1) — the
    * identical recursion (same operation order, bit-identical doubles)
    * as the batch `SeriesFoldExec`.
    */
  def smaEma(bars: Dataset[Bar], p: Int = 5, span: Int = 5): Dataset[IndRow] = {
    val alpha = 2.0 / (span + 1)
    implicit val rowEnc = Encoders.product[IndRow]
    implicit val stateEnc = Encoders.product[IndState]
    implicit val longEnc = Encoders.scalaLong
    bars
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Bar], state: GroupState[IndState]) =>
          var st = state.getOption.getOrElse(IndState(0L, 0.0, Long.MinValue, Nil))
          val out = Seq.newBuilder[IndRow]
          it.toSeq.sortBy(_.ts.getTime).foreach { b =>
            if (b.ts.getTime > st.lastMs) {
              val n = st.nSeen + 1
              val ema = if (st.nSeen == 0L) b.close
                        else alpha * b.close + (1 - alpha) * st.ema
              val win = (b.close :: st.window).take(p)
              st = IndState(n, ema, b.ts.getTime, win)
              // reverse: the window list is newest-first, but the batch
              // window aggregate folds its frame oldest-first — summing
              // in the same order keeps the bit-equality contract for
              // prices that are not exactly representable.
              out += IndRow(uid, b.ts, b.close,
                if (n >= p) Some(win.reverse.sum / p) else None,
                if (n >= span) Some(ema) else None)
            }
          }
          if (st.nSeen > 0L) state.update(st)
          out.result().iterator
      }
  }
}
