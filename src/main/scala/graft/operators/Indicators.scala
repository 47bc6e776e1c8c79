package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.plans.SeriesFold

/** Technical indicators over per-key ordered bar series.
  *
  * Spark re-expression of the reference's `TechnicalIndicators`
  * (src/transformers/technical_indicators.py). There each
  * indicator is a pandas rolling/ewm call on one symbol's frame inside a
  * per-symbol thread loop; here each is a window function over
  * `partitionBy(key).orderBy(date)` — one shuffle on the key shared by
  * every indicator, executed for the whole universe at once.
  *
  * Rolling semantics replicate pandas `rolling(window=p, min_periods=p)`:
  * the aggregate is null until p non-null observations fill the frame
  * (gated via `count(x) over frame == p`).
  *
  * EMA (`ewm(span, adjust=False)`) is a linear recursion, which no SQL
  * window expresses directly. EMA and MACD are one
  * [[graft.plans.SeriesFold]]: an operator that streams each key's
  * ordered rows once with O(spans) state, whatever the series length.
  *
  * Plan shape: every entry point ([[enrichAll]] and each `withX`) is one
  * call of [[build]], which evaluates any subset of the families in a
  * fixed number of projections:
  *  - one series fold for all fold families (EMA, MACD): a
  *    `SeriesFoldExec` over the rows clustered on the key and sorted by
  *    (key, date, the remaining bar columns), whose Exchange and Sort the
  *    level windows reuse;
  *  - one window projection per dependency level over `(key ORDER BY
  *    date)`: level 1 over bar columns (lags, gated rolling count / avg /
  *    stddev, row_number, running first), level 2 over level-1 values
  *    (RSI gain/loss and ATR true-range averages, the OBV running sum),
  *    then the month-partitioned first on its own;
  *  - one projection for every derived column.
  * Catalyst puts the window functions of one projection that share a
  * partitioning and an ordering into one `Window` operator, but stacks an
  * operator per projection: a `withColumn` chain pays a Window, a
  * re-analysis of the whole plan and its generated code per column. The
  * level form is bit-equal to the chain, since a sliding frame recomputes
  * its aggregate from its own rows in order (`PropertySpec` pins it).
  */
object Indicators {
  val KeyCol = "user_id"
  val OrdCol = "date"

  /** Full enrichment chain — every indicator family in one call, the
    * Spark twin of the reference applying its whole `TechnicalIndicators`
    * battery per symbol. Columns follow the bars in family order: MACD,
    * EMA, SMA, RSI, Bollinger, ATR, volume, returns.
    */
  def enrichAll(bars: DataFrame,
                smaPeriods: Seq[Int] = Seq(5, 10, 20),
                emaSpans: Seq[Int] = Seq(5, 12, 26),
                rsiPeriod: Int = 14,
                macd: (Int, Int, Int) = (12, 26, 9),
                bollinger: (Int, Double) = (20, 2.0),
                atrPeriod: Int = 20,
                momentumHorizons: Seq[Int] = Seq(5, 10)): DataFrame =
    build(bars, Families(macd = Some(macd), ema = Some(emaSpans), sma = smaPeriods,
      rsi = Some(rsiPeriod), bollinger = Some(bollinger), atr = Some(atrPeriod),
      volume = true, returns = Some(momentumHorizons)))

  def byKey: WindowSpec =
    Window.partitionBy(col(KeyCol)).orderBy(col(OrdCol))

  private def rolling(p: Int): WindowSpec = byKey.rowsBetween(-(p - 1), 0)

  private val running: WindowSpec = byKey.rowsBetween(Window.unboundedPreceding, 0)

  /** pandas rolling(p, min_periods=p).mean() */
  def gatedAvg(c: Column, p: Int): Column =
    when(count(c).over(rolling(p)) === p, avg(c).over(rolling(p)))

  /** pandas rolling(p, min_periods=p).std() (sample stddev) */
  def gatedStd(c: Column, p: Int): Column =
    when(count(c).over(rolling(p)) === p, stddev_samp(c).over(rolling(p)))

  /** SMA columns `ma_{p}` + distance-from-MA `dist_ma_{p}`
    * (technical_indicators.py:17 add_moving_averages, :175 dist columns).
    */
  def withSma(bars: DataFrame, periods: Seq[Int]): DataFrame =
    build(bars, Families(sma = periods))

  /** EMA columns `ema_{span}` (technical_indicators.py:44 add_ema):
    * null until span observations (min_periods), recursion seeded at the
    * first bar exactly as pandas ewm(adjust=False).
    */
  def withEma(bars: DataFrame, spans: Seq[Int]): DataFrame =
    build(bars, Families(ema = Some(spans)))

  /** MACD (technical_indicators.py:83 add_macd): macd = EMA_fast−EMA_slow
    * masked to null before `slow` observations; signal = EMA(span=sig) of
    * the masked macd series (recursion seeded at the first non-null macd,
    * matching pandas ewm over a leading-NaN series); hist = macd − signal.
    */
  def withMacd(bars: DataFrame, fast: Int = 12, slow: Int = 26, sig: Int = 9): DataFrame =
    build(bars, Families(macd = Some((fast, slow, sig))))

  /** RSI (technical_indicators.py:62 add_rsi): rolling-mean smoothing
    * (the reference's choice — not Wilder's), rs = avg_gain/avg_loss with
    * zero-loss → null, plus the overbought/oversold/neutral signal.
    */
  def withRsi(bars: DataFrame, p: Int = 14): DataFrame =
    build(bars, Families(rsi = Some(p)))

  /** Bollinger bands (technical_indicators.py:104): SMA ± k·stddev,
    * width, and 0–1 clipped band position.
    */
  def withBollinger(bars: DataFrame, p: Int = 20, k: Double = 2.0): DataFrame =
    build(bars, Families(bollinger = Some((p, k))))

  /** ATR + volatility (technical_indicators.py:136): true range is
    * high−low on the first bar (pandas rowwise max skips the NaN
    * prev-close terms), else max(h−l, |h−pc|, |l−pc|).
    */
  def withAtr(bars: DataFrame, p: Int = 20): DataFrame =
    build(bars, Families(atr = Some(p)))

  /** Volume metrics (technical_indicators.py:160): vol SMAs, ratio, OBV
    * (running sum of sign(Δclose)·volume, first direction = 0), VPT.
    */
  def withVolumeMetrics(bars: DataFrame): DataFrame =
    build(bars, Families(volume = true))

  /** Returns & momentum (technical_indicators.py:175): daily pct/abs
    * change, cumulative return (close/first − 1, null on the first bar as
    * pandas cumprod leaves the seed NaN), momentum over k bars, and
    * month-to-date momentum (the reference's YTD, scaled to the corpus).
    */
  def withReturns(bars: DataFrame, horizons: Seq[Int] = Seq(5, 10)): DataFrame =
    build(bars, Families(returns = Some(horizons)))

  /** The families one [[build]] evaluates; `None` / empty skips one. */
  private final case class Families(macd: Option[(Int, Int, Int)] = None,
    ema: Option[Seq[Int]] = None, sma: Seq[Int] = Nil, rsi: Option[Int] = None,
    bollinger: Option[(Int, Double)] = None, atr: Option[Int] = None, volume: Boolean = false,
    returns: Option[Seq[Int]] = None)

  /** Every requested family over `bars`: the series fold, the window
    * levels, then one projection appending the family columns in
    * [[enrichAll]]'s order (a column already in `bars` is replaced in
    * place, as `withColumn` does). Window inputs are named by what they
    * compute, so families that share one (SMA 10 and Bollinger 10, the
    * previous close) evaluate it once.
    */
  private def build(bars: DataFrame, f: Families): DataFrame = {
    val folded = if (f.macd.isEmpty && f.ema.isEmpty) bars
      else SeriesFold(bars, KeyCol, OrdCol, "close", f.ema.toSeq.flatten.distinct, f.macd)
    // level 1 over bar columns, level 2 over level-1 values, the month window
    val levels = Seq.fill(3)(mutable.LinkedHashMap.empty[String, Column])
    def at(level: Int, name: String, c: => Column): Column = {
      levels(level).getOrElseUpdate(name, c)
      col(name)
    }
    val close = col("close")
    def lagged(n: Int) = at(0, s"__lag$n", lag(close, n).over(byKey))
    def avgOf(c: String, p: Int) = at(0, s"__avg_${c}_$p", gatedAvg(col(c), p))
    def stdOf(c: String, p: Int) = at(0, s"__std_${c}_$p", gatedStd(col(c), p))
    def ratio(num: Column, den: Column) = num / nullif(den, lit(0.0)) - lit(1.0)
    lazy val delta = close - lagged(1)

    val out = mutable.ArrayBuffer.empty[(String, Column)]
    f.macd.foreach { _ =>
      val (macd, signal) = (col(SeriesFold.MacdName), col(SeriesFold.SignalName))
      out ++= Seq("macd" -> macd, "macd_signal" -> signal, "macd_hist" -> (macd - signal))
    }
    f.ema.toSeq.flatten.foreach(sp => out += s"ema_$sp" -> col(SeriesFold.emaName(sp)))
    f.sma.foreach { p =>
      val ma = avgOf("close", p)
      out ++= Seq(s"ma_$p" -> ma, s"dist_ma_$p" -> (close - ma) / nullif(ma, lit(0.0)))
    }
    f.rsi.foreach { p =>
      val gain = at(1, s"__gain_$p", gatedAvg(when(delta.isNotNull, greatest(delta, lit(0.0))), p))
      val loss = at(1, s"__loss_$p", gatedAvg(when(delta.isNotNull, greatest(-delta, lit(0.0))), p))
      val rsi = lit(100.0) - lit(100.0) / (lit(1.0) + gain / nullif(loss, lit(0.0)))
      out ++= Seq("rsi" -> rsi, "rsi_signal" ->
        when(rsi > 70, "overbought").when(rsi < 30, "oversold").otherwise("neutral"))
    }
    f.bollinger.foreach { case (p, k) =>
      val (mid, dev) = (avgOf("close", p), stdOf("close", p))
      val (upper, lower) = (mid + lit(k) * dev, mid - lit(k) * dev)
      out ++= Seq("bb_middle" -> mid, "bb_upper" -> upper, "bb_lower" -> lower,
        "bb_width" -> (upper - lower) / nullif(mid, lit(0.0)),
        "bb_position" -> least(greatest(
          (close - lower) / nullif(upper - lower, lit(0.0)), lit(0.0)), lit(1.0)))
    }
    f.atr.foreach { p =>
      val (high, low, pc) = (col("high"), col("low"), lagged(1))
      val tr = when(pc.isNull, high - low)
        .otherwise(greatest(high - low, abs(high - pc), abs(low - pc)))
      val atr = at(1, s"__atr_$p", gatedAvg(tr, p))
      out ++= Seq("atr" -> atr, "close_std" -> stdOf("close", p),
        "volatility_ratio" -> atr / nullif(close, lit(0.0)))
    }
    if (f.volume) {
      val volume = col("volume")
      val obv = sum(coalesce(signum(delta), lit(0.0)) * volume).over(running)
      out ++= Seq("vol_sma_10" -> avgOf("volume", 10), "vol_sma_20" -> avgOf("volume", 20),
        "volume_ratio" -> volume / avgOf("volume", 20), "obv" -> at(1, "__obv", obv),
        "volume_price_trend" -> volume * delta)
    }
    f.returns.foreach { horizons =>
      // nullif on every denominator: a 0.0 close (present in the raw feed)
      // must yield NULL as in the DuckDB oracle, not an ANSI divide error.
      val month = Window.partitionBy(col(KeyCol), date_trunc("month", col(OrdCol)))
        .orderBy(col(OrdCol)).rowsBetween(Window.unboundedPreceding, 0)
      out ++= Seq("daily_return_pct" -> ratio(close, lagged(1)),
        "daily_return_abs" -> (close - lagged(1)),
        "cumulative_return" -> when(at(0, "__rn", row_number().over(byKey)) >= 2,
          ratio(close, at(0, "__first", first(close).over(running)))),
        "momentum_mtd" -> ratio(close, at(2, "__month_first", first(close).over(month))))
      horizons.foreach(h => out += s"momentum_$h" -> ratio(close, lagged(h)))
    }
    val windowed = levels.filter(_.nonEmpty).foldLeft(folded) { (df, level) =>
      df.select(col("*") +: level.map { case (n, c) => c.as(n) }.toSeq: _*)
    }
    val outputs = out.toMap
    // With a fold family the key comes first: the published column order.
    val kept = if (folded eq bars) bars.columns.toSeq
      else KeyCol +: bars.columns.toSeq.filterNot(_ == KeyCol)
    windowed.select(kept.map(c => outputs.getOrElse(c, col(c)).as(c)) ++
      out.filterNot(o => kept.contains(o._1)).distinctBy(_._1).map { case (n, c) => c.as(n) }: _*)
  }
}
