package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Publish.roundCols
import graft.sources.Tables

/** Driver-contract wrappers + DuckDB oracles for the screener suite
  * (SURVEY §2 #22–27).
  */
object ScreenerQueries {

  private def bars(s: SparkSession, d: String): DataFrame =
    Bars.daily(Cleaning.cleanEvents(Tables.events(s, d)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "screen_breakout" -> ((s, d) =>
      roundCols(Screener.breakouts(bars(s, d)), Seq("ma", "vol_sma", "vol_mult"))
        .orderBy(col("user_id"), col("date"))),

    "support_resistance" -> ((s, d) =>
      Screener.supportResistance(bars(s, d)).orderBy(col("user_id"))),

    "trend_check" -> ((s, d) =>
      roundCols(Screener.trendCheck(bars(s, d)),
        Seq("ma_fast", "ma_slow", "trend_strength", "confidence"))
        .orderBy(col("user_id"))),

    "divergence" -> ((s, d) =>
      roundCols(Screener.divergence(Indicators.withRsi(bars(s, d), 14)),
        Seq("price_trend", "indicator_trend"))
        .orderBy(col("user_id"), col("date"))),

    "signal_score" -> ((s, d) => {
      val enriched = Indicators.withSma(
        Indicators.withRsi(
          Indicators.withMacd(bars(s, d), fast = 5, slow = 10, sig = 4), 14),
        Seq(10))
      roundCols(Screener.signalScore(enriched), Seq("confidence"))
        .orderBy(col("user_id"))
    }),

    "screen_criteria" -> ((s, d) => {
      val enriched = Indicators.withSma(
        Indicators.withRsi(bars(s, d), 14), Seq(10))
      roundCols(Screener.screenCriteria(enriched),
        Seq("ma_10", "rsi", "volume_ratio"))
        .orderBy(col("user_id"))
    }),
  )

  /** Rolling-MA CTE over bars (gated to min_periods=p, as everywhere). */
  private val IndCte: String =
    """ind AS (
      |  SELECT user_id, date, close, high, low, volume,
      |    CASE WHEN count(close) OVER w10 = 10 THEN avg(close) OVER w10 END AS ma_10,
      |    CASE WHEN count(close) OVER w20 = 20 THEN avg(close) OVER w20 END AS ma_20,
      |    CASE WHEN count(volume) OVER w10 = 10 THEN avg(volume) OVER w10 END AS vol_sma_10
      |  FROM bars
      |  WINDOW
      |    w10 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
      |    w20 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""".stripMargin

  /** RSI(14) CTE over bars (same recursion as the ind_rsi oracle). */
  private val RsiCte: String =
    """rsid AS (
      |  SELECT user_id, date, close,
      |    close - lag(close) OVER (PARTITION BY user_id ORDER BY date) AS delta
      |  FROM bars),
      |rsig AS (
      |  SELECT user_id, date, close,
      |    CASE WHEN delta IS NOT NULL THEN greatest(delta, 0.0) END AS gain,
      |    CASE WHEN delta IS NOT NULL THEN greatest(-delta, 0.0) END AS loss
      |  FROM rsid),
      |rsitab AS (
      |  SELECT user_id, date,
      |    100.0 - 100.0 / (1.0 + (CASE WHEN count(gain) OVER w = 14 THEN avg(gain) OVER w END)
      |      / nullif(CASE WHEN count(loss) OVER w = 14 THEN avg(loss) OVER w END, 0.0)) AS rsi_raw
      |  FROM rsig
      |  WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))""".stripMargin

  private def emaFold(alphaExpr: String): String =
    s"(acc, v) -> $alphaExpr * v + (1.0 - $alphaExpr) * acc"

  /** MACD(5,10,4) CTE over bars (same fold as the ind_macd oracle). */
  private val MacdCte: String =
    s"""mp AS (
       |  SELECT user_id, date,
       |    row_number() OVER wk AS rn,
       |    list(close) OVER wc AS vals
       |  FROM bars
       |  WINDOW wk AS (PARTITION BY user_id ORDER BY date),
       |         wc AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |mm AS (
       |  SELECT user_id, date,
       |    CASE WHEN rn >= 10 THEN
       |      list_reduce(vals, ${emaFold("(2.0/6)")})
       |      - list_reduce(vals, ${emaFold("(2.0/11)")}) END AS macd_raw
       |  FROM mp),
       |ms AS (
       |  SELECT user_id, date, macd_raw,
       |    list_filter(list(macd_raw) OVER (PARTITION BY user_id ORDER BY date
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |      x -> x IS NOT NULL) AS mvals
       |  FROM mm),
       |macdtab AS (
       |  SELECT user_id, date, macd_raw,
       |    CASE WHEN len(mvals) >= 4
       |      THEN list_reduce(mvals, ${emaFold("(2.0/5)")}) END AS sig_raw
       |  FROM ms)""".stripMargin

  def oracles: Map[String, String] = Map(
    "screen_breakout" ->
      s"""${MarketQueries.BarsCte},
         |$IndCte,
         |b AS (
         |  SELECT user_id, date, close, ma_10 AS ma, volume, vol_sma_10 AS vol_sma,
         |    lag(close) OVER wk AS prev_close,
         |    lag(ma_10) OVER wk AS prev_ma
         |  FROM ind WINDOW wk AS (PARTITION BY user_id ORDER BY date))
         |SELECT user_id, date, close, round(ma, 6) AS ma, volume,
         |  round(vol_sma, 6) AS vol_sma,
         |  round(volume / vol_sma, 6) AS vol_mult
         |FROM b
         |WHERE close > ma AND prev_close <= prev_ma AND volume > 1.2 * vol_sma
         |ORDER BY user_id, date""".stripMargin,

    "support_resistance" ->
      s"""${MarketQueries.BarsCte},
         |ch AS (
         |  SELECT user_id, date,
         |    CASE WHEN count(high) OVER w = 10 THEN max(high) OVER w END AS rhigh,
         |    CASE WHEN count(low) OVER w = 10 THEN min(low) OVER w END AS rlow
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
         |f AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY date DESC) AS rn
         |  FROM ch WHERE rhigh IS NOT NULL),
         |t3 AS (
         |  SELECT user_id,
         |    list_sort(list_distinct(list(rhigh)), 'DESC') AS res,
         |    list_sort(list_distinct(list(rlow)), 'ASC') AS sup,
         |    max(CASE WHEN rn = 1 THEN rhigh END) AS latest_high,
         |    max(CASE WHEN rn = 1 THEN rlow END) AS latest_low
         |  FROM f WHERE rn <= 3 GROUP BY user_id)
         |SELECT user_id, res[1] AS res_1, res[2] AS res_2, res[3] AS res_3,
         |  sup[1] AS sup_1, sup[2] AS sup_2, sup[3] AS sup_3,
         |  latest_high, latest_low
         |FROM t3 ORDER BY user_id""".stripMargin,

    "trend_check" ->
      s"""${MarketQueries.BarsCte},
         |$IndCte,
         |e AS (
         |  SELECT user_id, date, close, high, low,
         |    ma_10 AS ma_fast, ma_20 AS ma_slow,
         |    ma_10 - lag(ma_10) OVER wk AS slope_fast,
         |    ma_20 - lag(ma_20) OVER wk AS slope_slow,
         |    lag(high, 2) OVER wk AS h1, lag(high, 1) OVER wk AS h2,
         |    lag(low, 2) OVER wk AS l1, lag(low, 1) OVER wk AS l2,
         |    row_number() OVER (PARTITION BY user_id ORDER BY date DESC) AS rnd
         |  FROM ind WINDOW wk AS (PARTITION BY user_id ORDER BY date)),
         |t AS (SELECT *, slope_fast + slope_slow AS strength FROM e WHERE rnd = 1)
         |SELECT user_id, date, close,
         |  round(ma_fast, 6) AS ma_fast, round(ma_slow, 6) AS ma_slow,
         |  CASE WHEN close > ma_fast AND ma_fast > ma_slow
         |         AND slope_fast > 0 AND slope_slow > 0 THEN 'uptrend'
         |       WHEN close < ma_fast AND ma_fast < ma_slow
         |         AND slope_fast < 0 THEN 'downtrend'
         |       ELSE 'sideways' END AS trend_type,
         |  round(strength, 6) AS trend_strength,
         |  CASE WHEN strength IS NOT NULL
         |    THEN round(least(greatest(abs(strength), 0.0), 1.0), 6) END AS confidence,
         |  CAST(h1 <= h2 AND h2 <= high AS INT) AS higher_highs,
         |  CAST(l1 >= l2 AND l2 >= low AS INT) AS lower_lows
         |FROM t ORDER BY user_id""".stripMargin,

    "divergence" ->
      s"""${MarketQueries.BarsCte},
         |$RsiCte,
         |j AS (
         |  SELECT b.user_id, b.date, b.close, r.rsi_raw
         |  FROM bars b JOIN rsitab r ON b.user_id = r.user_id AND b.date = r.date),
         |d AS (
         |  SELECT user_id, date,
         |    close - lag(close, 9) OVER wk AS price_trend,
         |    rsi_raw - lag(rsi_raw, 9) OVER wk AS indicator_trend,
         |    row_number() OVER wk AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM j WINDOW wk AS (PARTITION BY user_id ORDER BY date))
         |SELECT user_id, date,
         |  CASE WHEN price_trend > 0 AND indicator_trend < 0 THEN 'regular'
         |       ELSE 'hidden' END AS div_type,
         |  round(price_trend, 6) AS price_trend,
         |  round(indicator_trend, 6) AS indicator_trend
         |FROM d
         |WHERE rn >= 10 AND rn < n
         |  AND ((price_trend > 0 AND indicator_trend < 0)
         |    OR (price_trend < 0 AND indicator_trend > 0))
         |ORDER BY user_id, date""".stripMargin,

    "signal_score" ->
      s"""${MarketQueries.BarsCte},
         |$IndCte,
         |$RsiCte,
         |$MacdCte,
         |j AS (
         |  SELECT i.user_id, i.date, i.close, i.volume, i.ma_10, i.vol_sma_10,
         |    r.rsi_raw, m.macd_raw, m.sig_raw
         |  FROM ind i
         |  JOIN rsitab r ON i.user_id = r.user_id AND i.date = r.date
         |  JOIN macdtab m ON i.user_id = m.user_id AND i.date = m.date),
         |e AS (
         |  SELECT *,
         |    lag(close) OVER wk AS prev_close,
         |    lag(ma_10) OVER wk AS prev_ma,
         |    lag(macd_raw) OVER wk AS prev_macd,
         |    lag(sig_raw) OVER wk AS prev_sig,
         |    row_number() OVER (PARTITION BY user_id ORDER BY date DESC) AS rnd
         |  FROM j WINDOW wk AS (PARTITION BY user_id ORDER BY date)),
         |t AS (SELECT * FROM e WHERE rnd = 1),
         |sc AS (
         |  SELECT user_id, date,
         |    CASE WHEN rsi_raw < 30 THEN 2 WHEN rsi_raw > 70 THEN -2 ELSE 0 END AS rsi_pts,
         |    CASE WHEN prev_close <= prev_ma AND prev_ma < close THEN 2
         |         WHEN prev_close >= prev_ma AND prev_ma > close THEN -2
         |         ELSE 0 END AS ma_pts,
         |    CASE WHEN prev_macd <= prev_sig AND prev_sig < macd_raw THEN 2
         |         WHEN prev_macd >= prev_sig AND prev_sig > macd_raw THEN -2
         |         ELSE 0 END AS macd_pts,
         |    CASE WHEN vol_sma_10 IS NOT NULL AND vol_sma_10 <> 0
         |           AND volume > vol_sma_10 THEN 1 ELSE 0 END AS vol_pts
         |  FROM t)
         |SELECT user_id, date, rsi_pts, ma_pts, macd_pts, vol_pts,
         |  rsi_pts + ma_pts + macd_pts + vol_pts AS score,
         |  CASE WHEN rsi_pts + ma_pts + macd_pts + vol_pts > 1 THEN 'buy'
         |       WHEN rsi_pts + ma_pts + macd_pts + vol_pts < -1 THEN 'sell'
         |       ELSE 'neutral' END AS overall_signal,
         |  round(least(1.0, abs(rsi_pts + ma_pts + macd_pts + vol_pts) / 6.0), 6) AS confidence
         |FROM sc ORDER BY user_id""".stripMargin,

    "screen_criteria" ->
      s"""${MarketQueries.BarsCte},
         |$IndCte,
         |$RsiCte,
         |j AS (
         |  SELECT i.user_id, i.date, i.close, i.volume, i.ma_10, i.vol_sma_10,
         |    r.rsi_raw
         |  FROM ind i
         |  JOIN rsitab r ON i.user_id = r.user_id AND i.date = r.date),
         |t AS (
         |  SELECT *, volume / vol_sma_10 AS volume_ratio,
         |    row_number() OVER (PARTITION BY user_id ORDER BY date DESC) AS rnd
         |  FROM j)
         |SELECT user_id, date, close,
         |  round(ma_10, 6) AS ma_10, round(rsi_raw, 6) AS rsi,
         |  round(volume_ratio, 6) AS volume_ratio
         |FROM t
         |WHERE rnd = 1 AND rsi_raw > 30 AND rsi_raw < 70
         |  AND close > ma_10 AND volume_ratio >= 0.8
         |ORDER BY user_id""".stripMargin,
  )
}
