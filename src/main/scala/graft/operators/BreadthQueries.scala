package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Publish.roundCols
import graft.sources.Tables

/** Driver-contract wrappers + DuckDB oracles for the breadth suite
  * (SURVEY §2 #16–21). Column aliases and rounding match the oracle SQL
  * exactly (the driver hash-compares after canon-sorting by name).
  */
object BreadthQueries {

  private def bars(s: SparkSession, d: String): DataFrame =
    Bars.daily(Cleaning.cleanEvents(Tables.events(s, d)))

  private def breadth(s: SparkSession, d: String): DataFrame =
    Breadth.breadthDaily(bars(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "breadth_daily" -> ((s, d) =>
      roundCols(breadth(s, d), Seq("breadth_percent", "adv_dec_ratio"))
        .orderBy(col("date"))),

    // #49c StreamBreadth as a driver-checked row: the two chained
    // stateful stages (per-symbol prev-close direction fold →
    // watermarked 1-day window counts) replay in three micro-batches,
    // and the sentinel file finalizes the windows. Each user's sentinel
    // bar has a previous close, so it emits a far-future direction row
    // that carries stage 2's watermark past every real window; that
    // row's own window never finalizes. Oracle = the batch
    // direction-count arithmetic on days that HAVE a direction row (the
    // streaming operator's contract: no calendar fill, no new-high/low
    // columns, which need the 10-day prior window the live fold doesn't
    // claim).
    "stream_breadth" -> ((s, d) => {
      import graft.streaming.{StreamBreadth, StreamIndicators}
      import s.implicits._
      val src = bars(s, d).select(col("user_id"),
        timestamp_seconds(unix_date(col("date")).cast("long") * 86400L).as("ts"),
        col("close"))
      val out = StreamHarness.replay(s, src, "ts", flushBy = Seq("user_id")) { in =>
        StreamBreadth.breadth(in.as[StreamIndicators.Bar], windowDur = "1 day",
          watermark = "10 minutes")
      }
      roundCols(out.select(MarketQueries.epochDate(col("bucket_start")).as("date"),
          col("advancers"), col("decliners"), col("unchanged"),
          col("total_issues"), col("breadth_percent"), col("adv_dec_ratio")),
        Seq("breadth_percent", "adv_dec_ratio"))
        .orderBy(col("date"))
    }),

    "market_health" -> ((s, d) =>
      roundCols(Breadth.marketHealth(breadth(s, d)),
        Seq("health_score", "adv_dec_ratio", "new_high_low_ratio", "confidence"))),

    "market_regime" -> ((s, d) =>
      roundCols(Breadth.marketRegime(breadth(s, d)), Seq("breadth_percent"))
        .orderBy(col("date"))),

    "market_summary" -> ((s, d) =>
      roundCols(Breadth.marketSummary(breadth(s, d), bars(s, d)),
        Seq("breadth_percent", "volume_vs_avg", "market_sentiment"))),

    "top_movers" -> ((s, d) =>
      roundCols(Breadth.topMovers(bars(s, d)), Seq("return_pct"))
        .orderBy(col("side"), col("rk"))),

    "sector_performance" -> ((s, d) =>
      roundCols(
        Breadth.sectorPerformance(Cleaning.cleanEvents(Tables.events(s, d))),
        Seq("change_pct"))
        .orderBy(col("rk"))),

    "foreign_flows" -> ((s, d) =>
      roundCols(
        Breadth.foreignFlows(Cleaning.cleanEvents(Tables.events(s, d))),
        Seq("value_buy", "value_sell", "net_value"))
        .orderBy(col("date").desc)),
  )

  /** Shared oracle CTE: bars → per-day breadth with calendar gap fill.
    * Appended after MarketQueries.BarsCte.
    */
  private val BreadthCte: String =
    """flag AS (
      |  SELECT user_id, date, close,
      |    close - lag(close) OVER w AS delta,
      |    CASE WHEN count(close) OVER wp = 9 THEN max(close) OVER wp END AS prior_max,
      |    CASE WHEN count(close) OVER wp = 9 THEN min(close) OVER wp END AS prior_min
      |  FROM bars
      |  WINDOW w AS (PARTITION BY user_id ORDER BY date),
      |         wp AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING)),
      |daily AS (
      |  SELECT date,
      |    count(*) FILTER (WHERE delta > 0) AS advancers,
      |    count(*) FILTER (WHERE delta < 0) AS decliners,
      |    count(*) FILTER (WHERE delta = 0) AS unchanged,
      |    count(*) FILTER (WHERE close > prior_max) AS new_highs,
      |    count(*) FILTER (WHERE close < prior_min) AS new_lows
      |  FROM flag GROUP BY date),
      |cal AS (
      |  SELECT CAST(unnest(generate_series(
      |    CAST((SELECT min(date) FROM bars) AS TIMESTAMP),
      |    CAST((SELECT max(date) FROM bars) AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS date),
      |breadth0 AS (
      |  SELECT cal.date,
      |    coalesce(advancers, 0) AS advancers,
      |    coalesce(decliners, 0) AS decliners,
      |    coalesce(unchanged, 0) AS unchanged,
      |    coalesce(new_highs, 0) AS new_highs,
      |    coalesce(new_lows, 0) AS new_lows,
      |    coalesce(advancers, 0) + coalesce(decliners, 0) + coalesce(unchanged, 0) AS total_issues
      |  FROM cal LEFT JOIN daily ON cal.date = daily.date),
      |breadthd AS (
      |  SELECT *,
      |    CASE WHEN total_issues > 0
      |      THEN least(greatest((advancers - decliners) / total_issues * 100, -100.0), 100.0)
      |    END AS breadth_percent,
      |    coalesce(advancers / nullif(decliners, 0), 0.0) AS adv_dec_ratio
      |  FROM breadth0)""".stripMargin

  private val Base: String = s"${MarketQueries.BarsCte},\n$BreadthCte"

  def oracles: Map[String, String] = Map(
    "breadth_daily" ->
      s"""$Base
         |SELECT date, advancers, decliners, unchanged, new_highs, new_lows,
         |  total_issues,
         |  round(breadth_percent, 6) AS breadth_percent,
         |  round(adv_dec_ratio, 6) AS adv_dec_ratio
         |FROM breadthd ORDER BY date""".stripMargin,

    // The streaming twin's contract: direction-count arithmetic on
    // days that HAVE a direction row — no calendar gap fill (a window
    // with no events never exists live) and no new-high/low columns
    // (they need the 10-day prior window the live fold doesn't claim).
    // delta IS NOT NULL drops all-first-bar days exactly as the
    // stream's lag-null rule does.
    "stream_breadth" ->
      s"""${MarketQueries.BarsCte},
         |flag AS (
         |  SELECT user_id, date, close,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY date) AS delta
         |  FROM bars),
         |d AS (
         |  SELECT date,
         |    count(*) FILTER (WHERE delta > 0) AS advancers,
         |    count(*) FILTER (WHERE delta < 0) AS decliners,
         |    count(*) FILTER (WHERE delta = 0) AS unchanged
         |  FROM flag WHERE delta IS NOT NULL GROUP BY date)
         |SELECT date, advancers, decliners, unchanged,
         |  advancers + decliners + unchanged AS total_issues,
         |  round(CASE WHEN advancers + decliners + unchanged > 0
         |    THEN least(greatest((advancers - decliners)
         |      / (advancers + decliners + unchanged) * 100, -100.0), 100.0)
         |    END, 6) AS breadth_percent,
         |  round(coalesce(advancers / nullif(decliners, 0), 0.0), 6) AS adv_dec_ratio
         |FROM d ORDER BY date""".stripMargin,

    "market_health" ->
      s"""$Base,
         |recent AS (SELECT * FROM breadthd ORDER BY date DESC LIMIT 20),
         |h AS (
         |  SELECT avg(breadth_percent) AS hs,
         |    sum(advancers) / nullif(sum(decliners), 0) AS adr,
         |    CASE WHEN sum(new_lows) > 0
         |      THEN sum(new_highs) / sum(new_lows) END AS nhl
         |  FROM recent)
         |SELECT round(hs, 6) AS health_score,
         |  round(adr, 6) AS adv_dec_ratio,
         |  round(nhl, 6) AS new_high_low_ratio,
         |  CASE WHEN hs >= 50 THEN 'bullish' ELSE 'bearish' END AS trend,
         |  round(least(1.0, abs(hs - 50) / 50), 6) AS confidence
         |FROM h""".stripMargin,

    "market_regime" ->
      s"""$Base
         |SELECT date, round(breadth_percent, 6) AS breadth_percent,
         |  CASE WHEN breadth_percent >= 70 THEN 'strong bullish'
         |       WHEN breadth_percent >= 50 THEN 'bullish'
         |       WHEN breadth_percent >= 40 THEN 'neutral'
         |       WHEN breadth_percent >= 20 THEN 'bearish'
         |       ELSE 'strong bearish' END AS regime
         |FROM breadthd WHERE breadth_percent IS NOT NULL
         |ORDER BY date""".stripMargin,

    "market_summary" ->
      s"""$Base,
         |mv AS (SELECT date, sum(volume) AS mkt_volume FROM bars GROUP BY date),
         |mv2 AS (
         |  SELECT date, mkt_volume,
         |    CASE WHEN count(mkt_volume) OVER w >= 5 THEN avg(mkt_volume) OVER w END AS vol_avg_20
         |  FROM mv
         |  WINDOW w AS (ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |lv AS (
         |  SELECT date,
         |    CASE WHEN vol_avg_20 > 0 THEN mkt_volume / vol_avg_20 END AS volume_vs_avg
         |  FROM mv2 ORDER BY date DESC LIMIT 1),
         |lb AS (
         |  SELECT date, advancers, decliners, breadth_percent
         |  FROM breadthd ORDER BY date DESC LIMIT 1)
         |SELECT lb.date, advancers, decliners,
         |  round(breadth_percent, 6) AS breadth_percent,
         |  round(volume_vs_avg, 6) AS volume_vs_avg,
         |  round(least(greatest(50.0 + (breadth_percent - 50) / 2, 0.0), 100.0), 6) AS market_sentiment
         |FROM lb JOIN lv ON lb.date = lv.date""".stripMargin,

    "top_movers" ->
      s"""${MarketQueries.BarsCte},
         |lastbar AS (
         |  SELECT user_id, date, close, prev FROM (
         |    SELECT user_id, date, close,
         |      lag(close) OVER (PARTITION BY user_id ORDER BY date) AS prev,
         |      row_number() OVER (PARTITION BY user_id ORDER BY date DESC) AS rn
         |    FROM bars) t
         |  WHERE rn = 1 AND prev IS NOT NULL AND prev <> 0),
         |r AS (
         |  SELECT user_id, date, close,
         |    (close / prev - 1) * 100 AS return_pct
         |  FROM lastbar),
         |g AS (SELECT 'gainer' AS side,
         |        row_number() OVER (ORDER BY return_pct DESC, user_id) AS rk,
         |        user_id, date, close, return_pct FROM r),
         |l AS (SELECT 'loser' AS side,
         |        row_number() OVER (ORDER BY return_pct ASC, user_id) AS rk,
         |        user_id, date, close, return_pct FROM r)
         |SELECT side, rk, user_id, date, close, round(return_pct, 6) AS return_pct
         |FROM (SELECT * FROM g WHERE rk <= 5 UNION ALL SELECT * FROM l WHERE rk <= 5) u
         |ORDER BY side, rk""".stripMargin,

    "sector_performance" ->
      s"""${MarketQueries.CleanCte}
         |, sd AS (
         |  SELECT event_type, date, avg(value) AS sector_value, count(*) AS volume
         |  FROM clean GROUP BY event_type, date),
         |lt AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY date DESC) AS rn
         |  FROM sd),
         |p AS (
         |  SELECT event_type,
         |    max(CASE WHEN rn = 1 THEN sector_value END) AS last_value,
         |    max(CASE WHEN rn = 2 THEN sector_value END) AS prev_value,
         |    max(CASE WHEN rn = 1 THEN volume END) AS volume
         |  FROM lt WHERE rn <= 2 GROUP BY event_type),
         |c AS (
         |  SELECT event_type,
         |    (last_value / nullif(prev_value, 0.0) - 1) * 100 AS change_pct,
         |    volume
         |  FROM p),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY change_pct DESC, event_type) AS rk,
         |    event_type AS sector, change_pct, volume
         |  FROM c)
         |SELECT rk, sector, round(change_pct, 6) AS change_pct, volume
         |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin,

    "foreign_flows" ->
      s"""${MarketQueries.CleanCte}
         |SELECT date,
         |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 6) AS value_buy,
         |  round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END), 6) AS value_sell,
         |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS volume_buy,
         |  count(CASE WHEN event_type = 'view' THEN 1 END) AS volume_sell,
         |  count(*) AS volume,
         |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)
         |    - sum(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END), 6) AS net_value
         |FROM clean
         |WHERE event_type IN ('purchase', 'view')
         |GROUP BY date ORDER BY date DESC""".stripMargin,
  )
}
