package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.operators.Indicators

/** Spec reference for the indicator, screener and breadth window
  * operators ([[graft.operators.Indicators]], `Screener.signalScore`,
  * `Screener.breakouts`, `Breadth.withMoveFlags`): the `withColumn`-chain
  * forms they had before they were built as one series fold and one
  * window projection per dependency level, kept so the level form can be
  * pinned field for field (`PropertySpec`). Each family collects and
  * explodes its own series and stacks its own windows here: EMA and
  * MACD as the `collect_list` + `aggregate` array folds that
  * `graft.plans.SeriesFold` replaced, quadratic in series length, so
  * long series are checked against a driver loop instead.
  */
object IndicatorReference {
  val KeyCol = Indicators.KeyCol
  val OrdCol = Indicators.OrdCol

  def enrichAll(bars: DataFrame,
                smaPeriods: Seq[Int] = Seq(5, 10, 20),
                emaSpans: Seq[Int] = Seq(5, 12, 26),
                rsiPeriod: Int = 14,
                macd: (Int, Int, Int) = (12, 26, 9),
                bollinger: (Int, Double) = (20, 2.0),
                atrPeriod: Int = 20,
                momentumHorizons: Seq[Int] = Seq(5, 10)): DataFrame = {
    val (f, s, sig) = macd
    val (bp, bk) = bollinger
    val afterFolds = withEma(withMacd(bars, f, s, sig), emaSpans)
    withReturns(
      withVolumeMetrics(
        withAtr(
          withBollinger(
            withRsi(
              withSma(afterFolds, smaPeriods), rsiPeriod), bp, bk), atrPeriod)),
      momentumHorizons)
  }

  def byKey: WindowSpec =
    Window.partitionBy(col(KeyCol)).orderBy(col(OrdCol))

  private def rolling(p: Int): WindowSpec = byKey.rowsBetween(-(p - 1), 0)

  /** pandas rolling(p, min_periods=p).mean() */
  def gatedAvg(c: Column, p: Int): Column =
    when(count(c).over(rolling(p)) === p, avg(c).over(rolling(p)))

  /** pandas rolling(p, min_periods=p).std() (sample stddev) */
  def gatedStd(c: Column, p: Int): Column =
    when(count(c).over(rolling(p)) === p, stddev_samp(c).over(rolling(p)))

  def withSma(bars: DataFrame, periods: Seq[Int]): DataFrame =
    periods.foldLeft(bars) { (df, p) =>
      df.withColumn(s"ma_$p", gatedAvg(col("close"), p))
        .withColumn(s"dist_ma_$p",
          (col("close") - col(s"ma_$p")) / nullif(col(s"ma_$p"), lit(0.0)))
    }

  /** SQL fold expression: pandas ewm(span, adjust=False) over an array.
    * alpha is written as the expression `2.0/(span+1)` so Spark and the
    * DuckDB oracle evaluate the identical double.
    */
  private def emaFoldSql(src: String, span: Int): String = {
    // 2.0D: a plain `2.0` literal parses as DECIMAL(2,1) and decimal
    // division truncates alpha to 6 decimals (0.153846 != 2.0/13) —
    // the double literal keeps the full-precision recursion.
    val a = s"(2.0D/${span + 1})"
    s"""aggregate(
       |  slice($src, 2, size($src) - 1),
       |  array(element_at($src, 1)),
       |  (acc, v) -> array_append(acc, $a * v + (1.0 - $a) * element_at(acc, -1)))""".stripMargin
  }

  /** Collect the per-key series once: returns (grouped df with column `s`
    * = date-sorted array of row structs and `closes` = array of close).
    */
  private def collectSeries(bars: DataFrame): (DataFrame, Seq[String]) = {
    val others = bars.columns.filter(_ != KeyCol).toSeq
    val ordered = Seq(OrdCol) ++ others.filterNot(_ == OrdCol)
    val g = bars
      .groupBy(col(KeyCol))
      .agg(sort_array(collect_list(struct(ordered.map(col): _*))).as("s"))
      .withColumn("closes", expr("transform(s, x -> x.close)"))
    (g, others)
  }

  private def explodeSeries(g: DataFrame, others: Seq[String], extra: Seq[String]): DataFrame = {
    val exploded = g.select(
      (col(KeyCol) +: extra.map(col)) :+ posexplode(col("s")): _*)
    others.foldLeft(exploded)((df, c) => df.withColumn(c, col("col").getField(c)))
  }

  /** EMA columns `ema_{span}` (technical_indicators.py:44 add_ema):
    * null until span observations (min_periods), recursion seeded at the
    * first bar exactly as pandas ewm(adjust=False).
    */
  def withEma(bars: DataFrame, spans: Seq[Int]): DataFrame = {
    val (g0, others) = collectSeries(bars)
    val g = spans.foldLeft(g0) { (df, sp) =>
      df.withColumn(s"__ea_$sp", expr(emaFoldSql("closes", sp)))
    }
    val arrCols = spans.map(sp => s"__ea_$sp")
    val e = explodeSeries(g, others, arrCols)
    spans.foldLeft(e) { (df, sp) =>
      df.withColumn(s"ema_$sp",
        when(col("pos") >= sp - 1, element_at(col(s"__ea_$sp"), col("pos") + 1)))
    }.drop(Seq("col", "pos", "closes") ++ arrCols: _*)
  }
  /** MACD (technical_indicators.py:83 add_macd): macd = EMA_fast−EMA_slow
    * masked to null before `slow` observations; signal = EMA(span=sig) of
    * the masked macd series (recursion seeded at the first non-null macd,
    * matching pandas ewm over a leading-NaN series); hist = macd − signal.
    */
  def withMacd(bars: DataFrame, fast: Int = 12, slow: Int = 26, sig: Int = 9): DataFrame = {
    val (g0, others) = collectSeries(bars)
    val aSig = s"(2.0D/${sig + 1})"
    val g = g0
      .withColumn("__ef", expr(emaFoldSql("closes", fast)))
      .withColumn("__es", expr(emaFoldSql("closes", slow)))
      .withColumn("__macd", expr("zip_with(__ef, __es, (f, s) -> f - s)"))
      // A key with fewer than `slow` bars has no unmasked macd to seed
      // the signal (and slice/element_at would raise on the negative
      // length / missing index under ANSI): its signal array is null, so
      // macd, macd_signal and macd_hist stay null for the whole key.
      .withColumn("__sig", expr(
        s"""CASE WHEN size(__macd) >= $slow THEN aggregate(
           |  slice(__macd, ${slow + 1}, size(__macd) - $slow),
           |  array(element_at(__macd, $slow)),
           |  (acc, v) -> array_append(acc, $aSig * v + (1.0 - $aSig) * element_at(acc, -1))) END""".stripMargin))
    val e = explodeSeries(g, others, Seq("__macd", "__sig"))
    e.withColumn("macd",
        when(col("pos") >= slow - 1, element_at(col("__macd"), col("pos") + 1)))
      .withColumn("macd_signal",
        when(col("pos") >= slow + sig - 2, element_at(col("__sig"), col("pos") - slow + 2)))
      .withColumn("macd_hist", col("macd") - col("macd_signal"))
      .drop("col", "pos", "closes", "__macd", "__sig")
  }

  /** RSI (technical_indicators.py:62 add_rsi): rolling-mean smoothing
    * (the reference's choice — not Wilder's), rs = avg_gain/avg_loss with
    * zero-loss → null, plus the overbought/oversold/neutral signal.
    */
  def withRsi(bars: DataFrame, p: Int = 14): DataFrame = {
    val delta = col("close") - lag(col("close"), 1).over(byKey)
    val gain = when(delta.isNotNull, greatest(delta, lit(0.0)))
    val loss = when(delta.isNotNull, greatest(-delta, lit(0.0)))
    bars
      .withColumn("__gain", gain)
      .withColumn("__loss", loss)
      .withColumn("__ag", gatedAvg(col("__gain"), p))
      .withColumn("__al", gatedAvg(col("__loss"), p))
      .withColumn("rsi",
        lit(100.0) - lit(100.0) / (lit(1.0) + col("__ag") / nullif(col("__al"), lit(0.0))))
      .withColumn("rsi_signal",
        when(col("rsi") > 70, "overbought")
          .when(col("rsi") < 30, "oversold")
          .otherwise("neutral"))
      .drop("__gain", "__loss", "__ag", "__al")
  }

  /** Bollinger bands (technical_indicators.py:104): SMA ± k·stddev,
    * width, and 0–1 clipped band position.
    */
  def withBollinger(bars: DataFrame, p: Int = 20, k: Double = 2.0): DataFrame = {
    val middle = gatedAvg(col("close"), p)
    bars
      .withColumn("bb_middle", middle)
      .withColumn("__dev", gatedStd(col("close"), p))
      .withColumn("bb_upper", col("bb_middle") + lit(k) * col("__dev"))
      .withColumn("bb_lower", col("bb_middle") - lit(k) * col("__dev"))
      .withColumn("bb_width",
        (col("bb_upper") - col("bb_lower")) / nullif(col("bb_middle"), lit(0.0)))
      .withColumn("bb_position",
        least(greatest(
          (col("close") - col("bb_lower")) /
            nullif(col("bb_upper") - col("bb_lower"), lit(0.0)),
          lit(0.0)), lit(1.0)))
      .drop("__dev")
  }

  /** ATR + volatility (technical_indicators.py:136): true range is
    * high−low on the first bar (pandas rowwise max skips the NaN
    * prev-close terms), else max(h−l, |h−pc|, |l−pc|).
    */
  def withAtr(bars: DataFrame, p: Int = 20): DataFrame = {
    val pc = lag(col("close"), 1).over(byKey)
    val tr = when(pc.isNull, col("high") - col("low"))
      .otherwise(greatest(
        col("high") - col("low"),
        abs(col("high") - pc),
        abs(col("low") - pc)))
    bars
      .withColumn("__tr", tr)
      .withColumn("atr", gatedAvg(col("__tr"), p))
      .withColumn("close_std", gatedStd(col("close"), p))
      .withColumn("volatility_ratio", col("atr") / nullif(col("close"), lit(0.0)))
      .drop("__tr")
  }

  /** Volume metrics (technical_indicators.py:160): vol SMAs, ratio, OBV
    * (running sum of sign(Δclose)·volume, first direction = 0), VPT.
    */
  def withVolumeMetrics(bars: DataFrame): DataFrame = {
    val delta = col("close") - lag(col("close"), 1).over(byKey)
    val direction = coalesce(signum(delta), lit(0.0))
    bars
      .withColumn("vol_sma_10", gatedAvg(col("volume"), 10))
      .withColumn("vol_sma_20", gatedAvg(col("volume"), 20))
      .withColumn("volume_ratio", col("volume") / col("vol_sma_20"))
      .withColumn("obv", sum(direction * col("volume"))
        .over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("volume_price_trend", col("volume") * delta)
  }

  /** Returns & momentum (technical_indicators.py:175): daily pct/abs
    * change, cumulative return (close/first − 1, null on the first bar as
    * pandas cumprod leaves the seed NaN), momentum over k bars, and
    * month-to-date momentum (the reference's YTD, scaled to the corpus).
    */
  def withReturns(bars: DataFrame, horizons: Seq[Int] = Seq(5, 10)): DataFrame = {
    val prev = lag(col("close"), 1).over(byKey)
    val firstClose = first(col("close"))
      .over(byKey.rowsBetween(Window.unboundedPreceding, 0))
    val monthWin = Window
      .partitionBy(col(KeyCol), date_trunc("month", col(OrdCol)))
      .orderBy(col(OrdCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    // nullif on every denominator: a 0.0 close (present in the raw feed)
    // must yield NULL as in the DuckDB oracle, not an ANSI divide error.
    val withBase = bars
      .withColumn("daily_return_pct", col("close") / nullif(prev, lit(0.0)) - lit(1.0))
      .withColumn("daily_return_abs", col("close") - prev)
      .withColumn("cumulative_return",
        when(row_number().over(byKey) >= 2,
          col("close") / nullif(firstClose, lit(0.0)) - lit(1.0)))
      .withColumn("momentum_mtd",
        col("close") / nullif(first(col("close")).over(monthWin), lit(0.0)) - lit(1.0))
    horizons.foldLeft(withBase) { (df, h) =>
      df.withColumn(s"momentum_$h",
        col("close") / nullif(lag(col("close"), h).over(byKey), lit(0.0)) - lit(1.0))
    }
  }

  private val byUser = Window.partitionBy(col("user_id")).orderBy(col("date"))
  private val byUserDesc = Window.partitionBy(col("user_id")).orderBy(col("date").desc)

  def breakouts(bars: DataFrame, maPeriod: Int = 10, volPeriod: Int = 10,
                volMultiplier: Double = 1.2): DataFrame =
    bars
      .withColumn("ma", gatedAvg(col("close"), maPeriod))
      .withColumn("vol_sma", gatedAvg(col("volume"), volPeriod))
      .withColumn("__prev_close", lag(col("close"), 1).over(byUser))
      .withColumn("__prev_ma", lag(col("ma"), 1).over(byUser))
      .filter(
        col("close") > col("ma") &&
        col("__prev_close") <= col("__prev_ma") &&
        col("volume") > lit(volMultiplier) * col("vol_sma"))
      .withColumn("vol_mult", col("volume") / col("vol_sma"))
      .select(col("user_id"), col("date"), col("close"), col("ma"),
        col("volume"), col("vol_sma"), col("vol_mult"))

  def signalScore(enriched: DataFrame, volPeriod: Int = 10): DataFrame = {
    val latest2 = enriched
      .withColumn("vol_avg", gatedAvg(col("volume"), volPeriod))
      .withColumn("__prev_close", lag(col("close"), 1).over(byUser))
      .withColumn("__prev_ma", lag(col("ma_10"), 1).over(byUser))
      .withColumn("__prev_macd", lag(col("macd"), 1).over(byUser))
      .withColumn("__prev_sig", lag(col("macd_signal"), 1).over(byUser))
      .withColumn("__rn", row_number().over(byUserDesc))
      .filter(col("__rn") === 1)
    latest2
      .withColumn("rsi_pts",
        when(col("rsi") < 30, 2).when(col("rsi") > 70, -2).otherwise(0))
      .withColumn("ma_pts",
        when(col("__prev_close") <= col("__prev_ma") && col("__prev_ma") < col("close"), 2)
          .when(col("__prev_close") >= col("__prev_ma") && col("__prev_ma") > col("close"), -2)
          .otherwise(0))
      .withColumn("macd_pts",
        when(col("__prev_macd") <= col("__prev_sig") && col("__prev_sig") < col("macd"), 2)
          .when(col("__prev_macd") >= col("__prev_sig") && col("__prev_sig") > col("macd"), -2)
          .otherwise(0))
      .withColumn("vol_pts",
        when(col("vol_avg").isNotNull && col("vol_avg") =!= 0 &&
             col("volume") > col("vol_avg"), 1).otherwise(0))
      .withColumn("score",
        col("rsi_pts") + col("ma_pts") + col("macd_pts") + col("vol_pts"))
      .withColumn("overall_signal",
        when(col("score") > 1, "buy").when(col("score") < -1, "sell")
          .otherwise("neutral"))
      .withColumn("confidence", least(lit(1.0), abs(col("score")) / 6.0))
      .select(col("user_id"), col("date"), col("rsi_pts"), col("ma_pts"),
        col("macd_pts"), col("vol_pts"), col("score"),
        col("overall_signal"), col("confidence"))
  }

  def withMoveFlags(bars: DataFrame, p: Int): DataFrame = {
    val prior = byUser.rowsBetween(-(p - 1), -1)
    bars
      .withColumn("__delta", col("close") - lag(col("close"), 1).over(byUser))
      .withColumn("__prior_max",
        when(count(col("close")).over(prior) === (p - 1), max(col("close")).over(prior)))
      .withColumn("__prior_min",
        when(count(col("close")).over(prior) === (p - 1), min(col("close")).over(prior)))
      .withColumn("__new_high",
        (col("close") > col("__prior_max")).cast("int"))
      .withColumn("__new_low",
        (col("close") < col("__prior_min")).cast("int"))
  }
}
