package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Technical screeners — Spark re-expression of the reference's
  * `TechnicalScreener` (/root/reference/src/analyzers/technical_screener.py).
  *
  * The reference screens one symbol's DataFrame at a time inside a
  * per-symbol loop and mostly inspects only the latest row; here every
  * screen is a single whole-universe window scan: one shuffle on the
  * series key, all users screened in parallel, latest-row semantics
  * expressed as `row_number() over (user order by date desc) = 1`.
  * Window periods are scaled to the 30-day corpus (10/20 in place of the
  * reference's 50/200); periods are parameters, so reference defaults are
  * one call away.
  */
object Screener {

  private val byUser = Window.partitionBy(col("user_id")).orderBy(col("date"))
  private val byUserDesc = Window.partitionBy(col("user_id")).orderBy(col("date").desc)

  private def gatedAvg(c: Column, p: Int): Column = Indicators.gatedAvg(c, p)

  /** #22 screen_breakout (technical_screener.py:18 find_breakout): close
    * crosses above the MA while volume spikes over its SMA. The reference
    * checks only the latest bar; this scans every bar (the distributed
    * generalization — filter to max date for the reference's behavior).
    */
  def breakouts(bars: DataFrame, maPeriod: Int = 10, volPeriod: Int = 10,
                volMultiplier: Double = 1.2): DataFrame =
    bars
      .select(col("*"), gatedAvg(col("close"), maPeriod).as("ma"),
        gatedAvg(col("volume"), volPeriod).as("vol_sma"),
        lag(col("close"), 1).over(byUser).as("__prev_close"))
      .select(col("*"), lag(col("ma"), 1).over(byUser).as("__prev_ma"))
      .filter(
        col("close") > col("ma") &&
        col("__prev_close") <= col("__prev_ma") &&
        col("volume") > lit(volMultiplier) * col("vol_sma"))
      .select(col("user_id"), col("date"), col("close"), col("ma"),
        col("volume"), col("vol_sma"), (col("volume") / col("vol_sma")).as("vol_mult"))

  /** #23 support_resistance (technical_screener.py:50): rolling price
    * channels; the last 3 distinct channel highs (descending) and lows
    * (ascending) per user, plus the latest channel values.
    */
  def supportResistance(bars: DataFrame, window: Int = 10): DataFrame = {
    val channels = bars
      .withColumn("__rhigh", when(
        count(col("high")).over(byUser.rowsBetween(-(window - 1), 0)) === window,
        max(col("high")).over(byUser.rowsBetween(-(window - 1), 0))))
      .withColumn("__rlow", when(
        count(col("low")).over(byUser.rowsBetween(-(window - 1), 0)) === window,
        min(col("low")).over(byUser.rowsBetween(-(window - 1), 0))))
      .filter(col("__rhigh").isNotNull)
      .withColumn("__rn", row_number().over(byUserDesc))
    channels
      .filter(col("__rn") <= 3)
      .groupBy(col("user_id"))
      .agg(
        sort_array(collect_set(col("__rhigh")), asc = false).as("__res"),
        sort_array(collect_set(col("__rlow"))).as("__sup"),
        max(when(col("__rn") === 1, col("__rhigh"))).as("latest_high"),
        max(when(col("__rn") === 1, col("__rlow"))).as("latest_low"))
      .select(col("user_id"),
        // try_element_at: ≤3 DISTINCT levels may leave fewer than 3
        // entries, and ANSI element_at throws on out-of-bounds.
        expr("try_element_at(__res, 1)").as("res_1"),
        expr("try_element_at(__res, 2)").as("res_2"),
        expr("try_element_at(__res, 3)").as("res_3"),
        expr("try_element_at(__sup, 1)").as("sup_1"),
        expr("try_element_at(__sup, 2)").as("sup_2"),
        expr("try_element_at(__sup, 3)").as("sup_3"),
        col("latest_high"), col("latest_low"))
  }

  /** #24 trend_check (technical_screener.py:72): latest close vs fast/slow
    * MA plus their one-bar slopes → uptrend/downtrend/sideways, with the
    * last-3-bar higher-highs / lower-lows monotonicity flags (non-strict,
    * as pandas is_monotonic_*).
    */
  def trendCheck(bars: DataFrame, maFast: Int = 10, maSlow: Int = 20): DataFrame = {
    val enriched = bars
      .withColumn("ma_fast", gatedAvg(col("close"), maFast))
      .withColumn("ma_slow", gatedAvg(col("close"), maSlow))
      .withColumn("__slope_fast", col("ma_fast") - lag(col("ma_fast"), 1).over(byUser))
      .withColumn("__slope_slow", col("ma_slow") - lag(col("ma_slow"), 1).over(byUser))
      .withColumn("__h1", lag(col("high"), 2).over(byUser))
      .withColumn("__h2", lag(col("high"), 1).over(byUser))
      .withColumn("__l1", lag(col("low"), 2).over(byUser))
      .withColumn("__l2", lag(col("low"), 1).over(byUser))
      .withColumn("__rn", row_number().over(byUserDesc))
      .filter(col("__rn") === 1)
    enriched
      .withColumn("trend_strength", col("__slope_fast") + col("__slope_slow"))
      .withColumn("trend_type",
        when(col("close") > col("ma_fast") && col("ma_fast") > col("ma_slow") &&
             col("__slope_fast") > 0 && col("__slope_slow") > 0, "uptrend")
          .when(col("close") < col("ma_fast") && col("ma_fast") < col("ma_slow") &&
                col("__slope_fast") < 0, "downtrend")
          .otherwise("sideways"))
      // Explicit null gate: Spark's greatest() skips nulls, so a null
      // strength would otherwise collapse to confidence 0 instead of null.
      .withColumn("confidence",
        when(col("trend_strength").isNotNull,
          least(greatest(abs(col("trend_strength")), lit(0.0)), lit(1.0))))
      .withColumn("higher_highs",
        (col("__h1") <= col("__h2") && col("__h2") <= col("high")).cast("int"))
      .withColumn("lower_lows",
        (col("__l1") >= col("__l2") && col("__l2") >= col("low")).cast("int"))
      .select(col("user_id"), col("date"), col("close"),
        col("ma_fast"), col("ma_slow"), col("trend_type"),
        col("trend_strength"), col("confidence"),
        col("higher_highs"), col("lower_lows"))
  }

  /** #25 divergence (technical_screener.py:106 find_divergence): price
    * trend vs indicator trend over a sliding lookback window; emits one
    * row per (user, window-end bar) where the signs diverge. The
    * reference's loop emits at index idx−1 for windows [idx−L, idx−1] and
    * never at the final bar — mirrored via rn bounds.
    */
  def divergence(barsWithRsi: DataFrame, lookback: Int = 10): DataFrame = {
    val n = count(lit(1)).over(Window.partitionBy(col("user_id")))
    barsWithRsi
      .withColumn("__price_trend", col("close") - lag(col("close"), lookback - 1).over(byUser))
      .withColumn("__ind_trend", col("rsi") - lag(col("rsi"), lookback - 1).over(byUser))
      .withColumn("__rn", row_number().over(byUser))
      .withColumn("__n", n)
      .filter(col("__rn") >= lookback && col("__rn") < col("__n"))
      .withColumn("div_type",
        when(col("__price_trend") > 0 && col("__ind_trend") < 0, "regular")
          .when(col("__price_trend") < 0 && col("__ind_trend") > 0, "hidden"))
      .filter(col("div_type").isNotNull)
      .select(col("user_id"), col("date"), col("div_type"),
        col("__price_trend").as("price_trend"),
        col("__ind_trend").as("indicator_trend"))
  }

  /** #26 signal_score (technical_screener.py:143 calculate_signal):
    * composite of RSI level, MA crossover, MACD crossover and volume
    * spike on the latest bar → score, buy/sell/neutral, confidence.
    * Expects macd columns present (Indicators.withMacd upstream).
    */
  def signalScore(enriched: DataFrame, volPeriod: Int = 10): DataFrame = {
    val prev = (c: String) => lag(col(c), 1).over(byUser)
    // One window projection (the ascending lags and the latest-bar rank
    // are two Window operators, nothing more), then one derivation.
    val latest = enriched
      .select(col("*"), gatedAvg(col("volume"), volPeriod).as("vol_avg"),
        prev("close").as("__prev_close"), prev("ma_10").as("__prev_ma"),
        prev("macd").as("__prev_macd"), prev("macd_signal").as("__prev_sig"),
        row_number().over(byUserDesc).as("__rn"))
      .filter(col("__rn") === 1)
    // +2 when `line` crossed above `ref` since the previous bar, −2 below.
    def cross(prevLine: String, prevRef: String, line: String): Column =
      when(col(prevLine) <= col(prevRef) && col(prevRef) < col(line), 2)
        .when(col(prevLine) >= col(prevRef) && col(prevRef) > col(line), -2)
        .otherwise(0)
    val rsiPts = when(col("rsi") < 30, 2).when(col("rsi") > 70, -2).otherwise(0)
    val maPts = cross("__prev_close", "__prev_ma", "close")
    val macdPts = cross("__prev_macd", "__prev_sig", "macd")
    val volPts = when(col("vol_avg").isNotNull && col("vol_avg") =!= 0 &&
      col("volume") > col("vol_avg"), 1).otherwise(0)
    val score = rsiPts + maPts + macdPts + volPts
    latest.select(col("user_id"), col("date"), rsiPts.as("rsi_pts"), maPts.as("ma_pts"),
      macdPts.as("macd_pts"), volPts.as("vol_pts"), score.as("score"),
      when(score > 1, "buy").when(score < -1, "sell").otherwise("neutral").as("overall_signal"),
      least(lit(1.0), abs(score) / 6.0).as("confidence"))
  }

  /** #27 screen_criteria (technical_screener.py:205 screen_multiple_stocks):
    * latest-bar snapshot per user filtered on a fixed criteria set
    * (rsi in (30, 70), close above MA, volume ratio ≥ threshold). Null
    * metric ⇒ excluded, as the reference treats missing values.
    */
  def screenCriteria(enriched: DataFrame, volRatioMin: Double = 0.8): DataFrame =
    enriched
      .withColumn("vol_sma_10", gatedAvg(col("volume"), 10))
      .withColumn("volume_ratio", col("volume") / col("vol_sma_10"))
      .withColumn("__rn", row_number().over(byUserDesc))
      .filter(col("__rn") === 1)
      .filter(col("rsi") > 30 && col("rsi") < 70 &&
        col("close") > col("ma_10") && col("volume_ratio") >= volRatioMin)
      .select(col("user_id"), col("date"), col("close"), col("ma_10"),
        col("rsi"), col("volume_ratio"))
}
