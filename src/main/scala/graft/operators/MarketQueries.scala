package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Publish.roundCols
import graft.sources.Tables

/** Driver-contract wrappers for the market-data surface: each query is
  * the full pipeline (raw events → clean → bars → indicator), selected,
  * rounded and ordered identically to its DuckDB oracle.
  */
object MarketQueries {

  private def bars(s: SparkSession, d: String): DataFrame =
    Bars.daily(Cleaning.cleanEvents(Tables.events(s, d)))

  private def ordered(df: DataFrame): DataFrame =
    df.orderBy(col("user_id"), col("date"))

  /** The UTC date of a timestamp by epoch-day arithmetic (zone-free). */
  private[operators] def epochDate(ts: Column): Column =
    date_from_unix_date((unix_seconds(ts) / 86400L).cast("int"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "clean_events" -> ((s, d) =>
      Cleaning.cleanEvents(Tables.events(s, d)).orderBy(col("user_id"), col("ts"))),

    "ticker_universe" -> ((s, d) =>
      Scope.tickerUniverse(Tables.customer(s, d), Tables.nation(s, d),
          exchanges = Seq("NATION_1", "nation_2 ", "NATION_3", "hsx"))
        .orderBy(col("symbol"))),

    "scope_universe" -> ((s, d) => {
      val univ = Scope.tickerUniverse(Tables.customer(s, d), Tables.nation(s, d))
      val act = Tables.orders(s, d)
        .select(col("o_custkey").as("entity_id"), col("o_totalprice"))
        .groupBy("entity_id").agg(sum("o_totalprice").as("liquidity"))
      Scope.capExchangeByLiquidity(univ, act,
          primary = Seq("NATION_1", "NATION_2", "NATION_3"),
          capped = "NATION_4", capN = 10)
        .withColumn("liquidity", round(col("liquidity"), 4))
        .orderBy(col("exchange"), col("symbol"))
    }),

    "bars_daily" -> ((s, d) =>
      ordered(roundCols(bars(s, d), Seq("vwap")))),

    "bars_hourly" -> ((s, d) =>
      roundCols(Bars.resample(Cleaning.cleanEvents(Tables.events(s, d)), "1 hour"),
        Seq("vwap"))
        .orderBy(col("user_id"), col("bucket_start"))),

    "realtime_snapshot" -> ((s, d) =>
      roundCols(Bars.realtimeSnapshot(Cleaning.cleanEvents(Tables.events(s, d))),
        Seq("price", "change", "pct_change"))
        .orderBy(col("user_id"))),

    "ind_sma" -> ((s, d) => {
      val df = Indicators.withSma(bars(s, d), Seq(5, 10, 20))
        .select("user_id", "date", "close",
          "ma_5", "ma_10", "ma_20", "dist_ma_5", "dist_ma_10", "dist_ma_20")
      ordered(roundCols(df, Seq("ma_5", "ma_10", "ma_20",
        "dist_ma_5", "dist_ma_10", "dist_ma_20")))
    }),

    "ind_ema" -> ((s, d) => {
      val df = Indicators.withEma(bars(s, d), Seq(5, 12, 26))
        .select("user_id", "date", "close", "ema_5", "ema_12", "ema_26")
      ordered(roundCols(df, Seq("ema_5", "ema_12", "ema_26")))
    }),

    // #49b StreamIndicators through the replay harness, checked
    // against the batch-plan oracle: daily bars replay in three
    // micro-batches (split on event time), smaEma folds them under
    // flatMapGroupsWithState with its state carried across batches, and
    // the append output is the row. Date → ts → date goes through
    // epoch-day arithmetic on both legs, which is zone-free (a
    // `java.sql.Date` round trip shifts a day whenever the JVM and
    // session zones differ).
    "stream_ind_sma" -> ((s, d) => {
      import graft.streaming.StreamIndicators
      import s.implicits._
      val src = bars(s, d).select(col("user_id"),
        timestamp_seconds(unix_date(col("date")).cast("long") * 86400L).as("ts"),
        col("close"))
      val out = StreamHarness.replay(s, src, "ts") { in =>
        StreamIndicators.smaEma(in.as[StreamIndicators.Bar], p = 5, span = 5).toDF()
      }
      ordered(roundCols(out.select(col("user_id"), epochDate(col("ts")).as("date"),
          col("close"), col("sma").as("ma_5"), col("ema").as("ema_5")),
        Seq("ma_5", "ema_5")))
    }),

    // #48b WindowedAggs.ohlcvBars through the replay harness,
    // hash-checked against the bars_daily oracle: cleaned ticks replay
    // in three micro-batches, the watermarked 1-day tumbling window
    // aggregates in append mode with windows open across batch
    // boundaries, and the sentinel file (every user at the far-future
    // time) advances the watermark past every real window end, so the
    // windows FINALIZE and emit: the row checks the finalization
    // machinery, not just the aggregate. The sentinels' own windows
    // never finalize. Session tz is UTC, so window(ts, "1 day")
    // boundaries coincide with CAST(ts AS DATE). Deterministic 1/5 user
    // subset: the same machinery at a fifth of the state-store work.
    "stream_bars" -> ((s, d) => {
      import graft.streaming.WindowedAggs
      val src = Cleaning.cleanEvents(Tables.events(s, d))
        .filter(pmod(col("user_id"), lit(5L)) === 0)
        .select(col("user_id"), col("ts"), col("value"))
      val out = StreamHarness.replay(s, src, "ts", flushBy = Seq("user_id")) { in =>
        WindowedAggs.ohlcvBars(in, windowDur = "1 day", watermark = "10 minutes")
      }
      ordered(roundCols(out.select(col("user_id"), epochDate(col("bucket_start")).as("date"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("vwap")), Seq("vwap")))
    }),

    "ind_rsi" -> ((s, d) => {
      val df = Indicators.withRsi(bars(s, d), 14)
        .select("user_id", "date", "close", "rsi", "rsi_signal")
      ordered(roundCols(df, Seq("rsi")))
    }),

    "ind_macd" -> ((s, d) => {
      val df = Indicators.withMacd(bars(s, d), fast = 5, slow = 10, sig = 4)
        .select("user_id", "date", "macd", "macd_signal", "macd_hist")
      ordered(roundCols(df, Seq("macd", "macd_signal", "macd_hist")))
    }),

    "ind_bollinger" -> ((s, d) => {
      val df = Indicators.withBollinger(bars(s, d), p = 10, k = 2.0)
        .select("user_id", "date", "close", "bb_middle", "bb_upper",
          "bb_lower", "bb_width", "bb_position")
      ordered(roundCols(df, Seq("bb_middle", "bb_upper", "bb_lower",
        "bb_width", "bb_position")))
    }),

    "ind_atr" -> ((s, d) => {
      val df = Indicators.withAtr(bars(s, d), 10)
        .select("user_id", "date", "close", "atr", "close_std", "volatility_ratio")
      ordered(roundCols(df, Seq("atr", "close_std", "volatility_ratio")))
    }),

    "ind_volume" -> ((s, d) => {
      val df = Indicators.withVolumeMetrics(bars(s, d))
        .select("user_id", "date", "volume", "vol_sma_10", "vol_sma_20",
          "volume_ratio", "obv", "volume_price_trend")
      ordered(roundCols(df, Seq("vol_sma_10", "vol_sma_20", "volume_ratio",
        "obv", "volume_price_trend")))
    }),

    "data_quality" -> ((s, d) =>
      Quality.dataQuality(Tables.events(s, d)).orderBy(col("user_id"))),

    // #48c WindowedAggs.qualityCounters through the replay harness
    // (the stream_bars pattern): raw ticks replay in three micro-batches,
    // the watermarked 1-day window counters aggregate in append mode,
    // the sentinel file finalizes every real window, and the EXACT
    // per-day counters (rows, nulls, non-positives, freshness)
    // hash-check against a per-(user, day) batch oracle. The HLL
    // duplicate ESTIMATE (n_dup_ts_est) stays out of the hash by design
    // (approx sketches are not cross-engine portable); the batch
    // `data_quality` row carries the exact count. Deterministic 1/5 user
    // subset, the stream_bars rule.
    "stream_quality" -> ((s, d) => {
      import graft.streaming.WindowedAggs
      val src = Tables.events(s, d)
        .filter(col("ts").isNotNull && pmod(col("user_id"), lit(5L)) === 0)
        .select(col("user_id"), col("ts"), col("value"))
      val out = StreamHarness.replay(s, src, "ts", flushBy = Seq("user_id")) { in =>
        WindowedAggs.qualityCounters(in, windowDur = "1 day", watermark = "1 hour")
      }
      ordered(out.select(col("user_id"), epochDate(col("day")).as("date"),
        col("n_rows"), col("n_null_value"), col("n_nonpos_value"), col("last_ts")))
    }),

    "feature_matrix" -> ((s, d) =>
      ordered(Features.featureMatrix(bars(s, d)))),

    "ind_returns" -> ((s, d) => {
      val df = Indicators.withReturns(bars(s, d), Seq(5, 10))
        .select("user_id", "date", "close", "daily_return_pct",
          "daily_return_abs", "cumulative_return", "momentum_5",
          "momentum_10", "momentum_mtd")
      ordered(roundCols(df, Seq("daily_return_pct", "daily_return_abs",
        "cumulative_return", "momentum_5", "momentum_10", "momentum_mtd")))
    }),
  )

  /** Shared oracle CTE: clean (dedupe keep-last) alone. */
  val CleanCte: String =
    """WITH clean AS (
      |  SELECT event_id, ts, user_id, event_type, value, props,
      |         CAST(ts AS DATE) AS date
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                     ORDER BY event_id DESC) AS rn
      |        FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
      |        WHERE ts IS NOT NULL)
      |  WHERE rn = 1)""".stripMargin

  /** Shared oracle CTE: clean (dedupe keep-last) + daily bars. */
  val BarsCte: String =
    s"""$CleanCte,
      |bars AS (
      |  SELECT user_id, CAST(ts AS DATE) AS date,
      |    arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
      |    arg_max(value, ts) AS close, count(*) AS volume, avg(value) AS vwap
      |  FROM clean GROUP BY user_id, CAST(ts AS DATE))""".stripMargin

  private def emaFold(alphaExpr: String): String =
    s"(acc, v) -> $alphaExpr * v + (1.0 - $alphaExpr) * acc"

  def oracles: Map[String, String] = Map(
    "clean_events" ->
      s"""$BarsCte
         |SELECT event_id, ts, user_id, event_type, value, props, date
         |FROM clean ORDER BY user_id, ts""".stripMargin,

    // 'nation_2 ' exercises trim+upper normalization; 'hsx' the alias
    // map (→HOSE, no such exchange — filters nothing extra).
    "ticker_universe" ->
      """SELECT DISTINCT c_custkey AS entity_id,
        |  upper(trim(c_name)) AS symbol,
        |  upper(trim(n_name)) AS exchange
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE upper(trim(n_name)) IN ('NATION_1', 'NATION_2', 'NATION_3', 'HOSE')
        |  AND NOT (upper(trim(c_name)) LIKE 'VF%'
        |    OR upper(trim(c_name)) LIKE 'FUE%'
        |    OR upper(trim(c_name)) LIKE 'E1VF%'
        |    OR upper(trim(c_name)) LIKE 'SSV%')
        |ORDER BY symbol""".stripMargin,

    "scope_universe" ->
      """WITH univ AS (
        |  SELECT DISTINCT c_custkey AS entity_id,
        |    upper(trim(c_name)) AS symbol,
        |    upper(trim(n_name)) AS exchange
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE NOT (upper(trim(c_name)) LIKE 'VF%'
        |    OR upper(trim(c_name)) LIKE 'FUE%'
        |    OR upper(trim(c_name)) LIKE 'E1VF%'
        |    OR upper(trim(c_name)) LIKE 'SSV%')),
        |act AS (
        |  SELECT o_custkey AS entity_id, sum(o_totalprice) AS liquidity
        |  FROM orders GROUP BY 1),
        |u AS (
        |  SELECT univ.entity_id, univ.symbol, univ.exchange, act.liquidity
        |  FROM univ LEFT JOIN act USING (entity_id)),
        |cap AS (SELECT * FROM u WHERE exchange = 'NATION_4'),
        |nl AS (SELECT count(liquidity) AS n FROM cap),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY liquidity DESC, symbol) AS rk
        |  FROM cap WHERE liquidity IS NOT NULL),
        |fallback AS (
        |  SELECT *, row_number() OVER (ORDER BY symbol) AS rk FROM cap)
        |SELECT entity_id, symbol, exchange, round(liquidity, 4) AS liquidity
        |FROM (
        |  SELECT entity_id, symbol, exchange, liquidity FROM u
        |  WHERE exchange IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  UNION ALL
        |  SELECT entity_id, symbol, exchange, liquidity FROM ranked
        |  WHERE rk <= 10 AND (SELECT n FROM nl) > 0
        |  UNION ALL
        |  SELECT entity_id, symbol, exchange, liquidity FROM fallback
        |  WHERE rk <= 10 AND (SELECT n FROM nl) = 0)
        |ORDER BY exchange, symbol""".stripMargin,

    "bars_daily" ->
      s"""$BarsCte
         |SELECT user_id, date, open, high, low, close, volume,
         |  round(vwap, 6) AS vwap
         |FROM bars ORDER BY user_id, date""".stripMargin,

    "realtime_snapshot" ->
      s"""$BarsCte,
         |lastbar AS (
         |  SELECT user_id, prev_close, volume FROM (
         |    SELECT user_id, volume,
         |      lead(close) OVER (PARTITION BY user_id ORDER BY date DESC) AS prev_close,
         |      row_number() OVER (PARTITION BY user_id ORDER BY date DESC) AS rn
         |    FROM bars) t
         |  WHERE rn = 1),
         |lasttick AS (
         |  SELECT user_id, arg_max(value, ts) AS price, max(ts) AS ts_last
         |  FROM clean GROUP BY user_id)
         |SELECT t.user_id, round(price, 6) AS price,
         |  round(price - prev_close, 6) AS change,
         |  round(CASE WHEN prev_close <> 0 THEN (price / prev_close - 1) * 100 END, 6) AS pct_change,
         |  volume,
         |  CAST(timezone('Asia/Ho_Chi_Minh', timezone('UTC', ts_last)) AS TIMESTAMP) AS time_local
         |FROM lasttick t JOIN lastbar b ON t.user_id = b.user_id
         |ORDER BY t.user_id""".stripMargin,

    "bars_hourly" ->
      s"""$CleanCte
         |SELECT user_id,
         |  time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
         |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         |  arg_max(value, ts) AS close, count(*) AS volume,
         |  round(avg(value), 6) AS vwap
         |FROM clean
         |GROUP BY user_id, time_bucket(INTERVAL '1 hour', ts)
         |ORDER BY user_id, bucket_start""".stripMargin,

    "ind_sma" ->
      s"""$BarsCte,
         |t AS (
         |  SELECT user_id, date, close,
         |    CASE WHEN count(close) OVER w5 = 5 THEN avg(close) OVER w5 END AS ma_5,
         |    CASE WHEN count(close) OVER w10 = 10 THEN avg(close) OVER w10 END AS ma_10,
         |    CASE WHEN count(close) OVER w20 = 20 THEN avg(close) OVER w20 END AS ma_20
         |  FROM bars
         |  WINDOW
         |    w5 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |    w10 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         |    w20 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT user_id, date, close,
         |  round(ma_5, 6) AS ma_5, round(ma_10, 6) AS ma_10, round(ma_20, 6) AS ma_20,
         |  round((close - ma_5) / ma_5, 6) AS dist_ma_5,
         |  round((close - ma_10) / ma_10, 6) AS dist_ma_10,
         |  round((close - ma_20) / ma_20, 6) AS dist_ma_20
         |FROM t ORDER BY user_id, date""".stripMargin,

    // each EMA re-folds the key's closes up to the row with list_reduce
    "ind_ema" ->
      s"""$BarsCte,
         |p AS (
         |  SELECT user_id, date, close,
         |    row_number() OVER wk AS rn,
         |    list(close) OVER wc AS vals
         |  FROM bars
         |  WINDOW wk AS (PARTITION BY user_id ORDER BY date),
         |         wc AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, date, close,
         |  CASE WHEN rn >= 5 THEN round(list_reduce(vals, ${emaFold("(2.0/6)")}), 6) END AS ema_5,
         |  CASE WHEN rn >= 12 THEN round(list_reduce(vals, ${emaFold("(2.0/13)")}), 6) END AS ema_12,
         |  CASE WHEN rn >= 26 THEN round(list_reduce(vals, ${emaFold("(2.0/27)")}), 6) END AS ema_26
         |FROM p ORDER BY user_id, date""".stripMargin,

    // The streaming twin checks against the same BATCH plan the spec
    // proves it bit-equal to: w5 rolling mean + the EMA list fold.
    "stream_ind_sma" ->
      s"""$BarsCte,
         |p AS (
         |  SELECT user_id, date, close,
         |    row_number() OVER wk AS rn,
         |    CASE WHEN count(close) OVER w5 = 5 THEN avg(close) OVER w5 END AS ma_5,
         |    list(close) OVER wc AS vals
         |  FROM bars
         |  WINDOW wk AS (PARTITION BY user_id ORDER BY date),
         |         w5 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |         wc AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, date, close, round(ma_5, 6) AS ma_5,
         |  CASE WHEN rn >= 5 THEN round(list_reduce(vals, ${emaFold("(2.0/6)")}), 6) END AS ema_5
         |FROM p ORDER BY user_id, date""".stripMargin,

    // The streaming windowed-agg twin finalizes to exactly the batch
    // daily bars — the oracle IS the bars_daily body (shared BarsCte)
    // on the row's deterministic 1/5 user subset.
    "stream_bars" ->
      s"""$BarsCte
         |SELECT user_id, date, open, high, low, close, volume,
         |  round(vwap, 6) AS vwap
         |FROM bars WHERE user_id % 5 = 0 ORDER BY user_id, date""".stripMargin,

    "ind_rsi" ->
      s"""$BarsCte,
         |d AS (
         |  SELECT user_id, date, close,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY date) AS delta
         |  FROM bars),
         |g AS (
         |  SELECT user_id, date, close,
         |    CASE WHEN delta IS NOT NULL THEN greatest(delta, 0.0) END AS gain,
         |    CASE WHEN delta IS NOT NULL THEN greatest(-delta, 0.0) END AS loss
         |  FROM d),
         |a AS (
         |  SELECT user_id, date, close,
         |    CASE WHEN count(gain) OVER w = 14 THEN avg(gain) OVER w END AS ag,
         |    CASE WHEN count(loss) OVER w = 14 THEN avg(loss) OVER w END AS al
         |  FROM g
         |  WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         |r AS (
         |  SELECT user_id, date, close,
         |    100.0 - 100.0 / (1.0 + ag / nullif(al, 0.0)) AS rsi_raw
         |  FROM a)
         |SELECT user_id, date, close, round(rsi_raw, 6) AS rsi,
         |  CASE WHEN rsi_raw > 70 THEN 'overbought'
         |       WHEN rsi_raw < 30 THEN 'oversold'
         |       ELSE 'neutral' END AS rsi_signal
         |FROM r ORDER BY user_id, date""".stripMargin,

    "ind_macd" ->
      s"""$BarsCte,
         |p AS (
         |  SELECT user_id, date,
         |    row_number() OVER wk AS rn,
         |    list(close) OVER wc AS vals
         |  FROM bars
         |  WINDOW wk AS (PARTITION BY user_id ORDER BY date),
         |         wc AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |m AS (
         |  SELECT user_id, date,
         |    CASE WHEN rn >= 10 THEN
         |      list_reduce(vals, ${emaFold("(2.0/6)")})
         |      - list_reduce(vals, ${emaFold("(2.0/11)")}) END AS macd_raw
         |  FROM p),
         |s AS (
         |  SELECT user_id, date, macd_raw,
         |    list_filter(list(macd_raw) OVER (PARTITION BY user_id ORDER BY date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |      x -> x IS NOT NULL) AS mvals
         |  FROM m),
         |f AS (
         |  SELECT user_id, date, macd_raw,
         |    CASE WHEN len(mvals) >= 4
         |      THEN list_reduce(mvals, ${emaFold("(2.0/5)")}) END AS sig_raw
         |  FROM s)
         |SELECT user_id, date, round(macd_raw, 6) AS macd,
         |  round(sig_raw, 6) AS macd_signal,
         |  round(macd_raw - sig_raw, 6) AS macd_hist
         |FROM f ORDER BY user_id, date""".stripMargin,

    "ind_bollinger" ->
      s"""$BarsCte,
         |b AS (
         |  SELECT user_id, date, close,
         |    CASE WHEN count(close) OVER w = 10 THEN avg(close) OVER w END AS bb_middle,
         |    CASE WHEN count(close) OVER w = 10 THEN stddev_samp(close) OVER w END AS dev
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
         |c AS (
         |  SELECT user_id, date, close, bb_middle,
         |    bb_middle + 2.0 * dev AS bb_upper,
         |    bb_middle - 2.0 * dev AS bb_lower
         |  FROM b)
         |SELECT user_id, date, close,
         |  round(bb_middle, 6) AS bb_middle,
         |  round(bb_upper, 6) AS bb_upper,
         |  round(bb_lower, 6) AS bb_lower,
         |  round((bb_upper - bb_lower) / nullif(bb_middle, 0.0), 6) AS bb_width,
         |  round(least(greatest((close - bb_lower) / nullif(bb_upper - bb_lower, 0.0), 0.0), 1.0), 6) AS bb_position
         |FROM c ORDER BY user_id, date""".stripMargin,

    "ind_atr" ->
      s"""$BarsCte,
         |d AS (
         |  SELECT user_id, date, close, high, low,
         |    lag(close) OVER (PARTITION BY user_id ORDER BY date) AS pc
         |  FROM bars),
         |t AS (
         |  SELECT user_id, date, close,
         |    CASE WHEN pc IS NULL THEN high - low
         |         ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr
         |  FROM d),
         |a AS (
         |  SELECT user_id, date, close,
         |    CASE WHEN count(tr) OVER w = 10 THEN avg(tr) OVER w END AS atr,
         |    CASE WHEN count(close) OVER w = 10 THEN stddev_samp(close) OVER w END AS close_std
         |  FROM t
         |  WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         |SELECT user_id, date, close,
         |  round(atr, 6) AS atr, round(close_std, 6) AS close_std,
         |  round(atr / nullif(close, 0.0), 6) AS volatility_ratio
         |FROM a ORDER BY user_id, date""".stripMargin,

    "ind_volume" ->
      s"""$BarsCte,
         |d AS (
         |  SELECT user_id, date, volume,
         |    close - lag(close) OVER (PARTITION BY user_id ORDER BY date) AS delta
         |  FROM bars),
         |v AS (
         |  SELECT user_id, date, volume, delta,
         |    CASE WHEN count(volume) OVER w10 = 10 THEN avg(volume) OVER w10 END AS vol_sma_10,
         |    CASE WHEN count(volume) OVER w20 = 20 THEN avg(volume) OVER w20 END AS vol_sma_20,
         |    sum(coalesce(CAST(sign(delta) AS DOUBLE), 0.0) * volume)
         |      OVER (PARTITION BY user_id ORDER BY date
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv
         |  FROM d
         |  WINDOW
         |    w10 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         |    w20 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT user_id, date, volume,
         |  round(vol_sma_10, 6) AS vol_sma_10,
         |  round(vol_sma_20, 6) AS vol_sma_20,
         |  round(volume / vol_sma_20, 6) AS volume_ratio,
         |  round(obv, 6) AS obv,
         |  round(volume * delta, 6) AS volume_price_trend
         |FROM v ORDER BY user_id, date""".stripMargin,

    // Leakage-safe ML matrix: every feature window ends at CURRENT ROW,
    // only the label looks forward; complete-case filter on the FINAL
    // feature values (a null-ma dist is null — same predicate Spark runs).
    "feature_matrix" ->
      s"""$BarsCte,
         |b AS (
         |  SELECT user_id, date, close, volume,
         |    close / nullif(lag(close, 1) OVER wk, 0) - 1 AS ret1,
         |    close / nullif(lag(close, 5) OVER wk, 0) - 1 AS mom5,
         |    CASE WHEN count(close) OVER w5 = 5 THEN avg(close) OVER w5 END AS ma5,
         |    CASE WHEN count(close) OVER w20 = 20 THEN avg(close) OVER w20 END AS ma20,
         |    CASE WHEN count(volume) OVER w20 = 20 THEN avg(volume) OVER w20 END AS vma20,
         |    lead(close, 1) OVER wk AS nxt
         |  FROM bars
         |  WINDOW
         |    wk AS (PARTITION BY user_id ORDER BY date),
         |    w5 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |    w20 AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |c AS (
         |  SELECT *,
         |    CASE WHEN count(ret1) OVER r20 = 20
         |      THEN stddev_samp(ret1) OVER r20 END AS vol20,
         |    (close - ma5) / nullif(ma5, 0) AS dist5,
         |    (close - ma20) / nullif(ma20, 0) AS dist20,
         |    volume / nullif(vma20, 0) AS vratio,
         |    nxt / nullif(close, 0) - 1 AS lab
         |  FROM b
         |  WINDOW r20 AS (PARTITION BY user_id ORDER BY date
         |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |SELECT user_id, date,
         |  round(ret1, 6) AS ret_1, round(mom5, 6) AS mom_5,
         |  round(dist5, 6) AS dist_ma_5, round(dist20, 6) AS dist_ma_20,
         |  round(vol20, 6) AS vol_20, round(vratio, 6) AS volume_ratio,
         |  round(lab, 6) AS label_fwd
         |FROM c
         |WHERE ret1 IS NOT NULL AND mom5 IS NOT NULL AND dist5 IS NOT NULL
         |  AND dist20 IS NOT NULL AND vol20 IS NOT NULL
         |  AND vratio IS NOT NULL AND lab IS NOT NULL
         |ORDER BY user_id, date""".stripMargin,

    // isodow <= 5 ≡ Spark's dayofweek ∉ {1=Sun, 7=Sat}: Mon–Fri.
    "data_quality" ->
      """WITH e AS (
        |  SELECT user_id, ts, CAST(ts AS DATE) AS date, value
        |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |  WHERE ts IS NOT NULL),
        |g AS (
        |  SELECT max(date) AS g_max,
        |    len(list_filter(generate_series(min(date), max(date), INTERVAL 1 DAY),
        |        d -> isodow(d) <= 5)) AS expected_days
        |  FROM e),
        |p AS (
        |  SELECT user_id,
        |    count(*) AS n_rows,
        |    count(DISTINCT date) AS n_days,
        |    count(*) - count(DISTINCT ts) AS n_dup_ts,
        |    count(CASE WHEN value IS NULL THEN 1 END) AS n_null_value,
        |    count(CASE WHEN value <= 0 THEN 1 END) AS n_nonpos_value,
        |    max(ts) AS last_ts,
        |    max(date) AS last_date
        |  FROM e GROUP BY user_id),
        |q AS (
        |  SELECT user_id, n_rows, n_days, expected_days,
        |    greatest(0, expected_days - n_days) AS n_missing_days,
        |    n_dup_ts, n_null_value, n_nonpos_value, last_ts,
        |    date_diff('day', last_date, g_max) AS days_stale,
        |    CAST(expected_days - n_days > 0 AS BIGINT)
        |      + CAST(n_dup_ts > 0 AS BIGINT)
        |      + CAST(n_nonpos_value > 0 AS BIGINT)
        |      + CAST(n_null_value > 0 AS BIGINT) AS n_issues
        |  FROM p, g)
        |SELECT user_id, n_rows, n_days, expected_days, n_missing_days,
        |  n_dup_ts, n_null_value, n_nonpos_value, last_ts, days_stale,
        |  n_issues, greatest(0, 100 - 10 * n_issues) AS quality_score
        |FROM q ORDER BY user_id""".stripMargin,

    // The streaming twin's finalized-window counters per (user, day) —
    // exact columns only (the HLL dup estimate is deliberately absent;
    // see the query row). Same 1/5 subset predicate as the harness.
    "stream_quality" ->
      """SELECT user_id, CAST(ts AS DATE) AS date,
        |  count(*) AS n_rows,
        |  count(CASE WHEN value IS NULL THEN 1 END) AS n_null_value,
        |  count(CASE WHEN value <= 0 THEN 1 END) AS n_nonpos_value,
        |  max(ts) AS last_ts
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |WHERE ts IS NOT NULL AND user_id % 5 = 0
        |GROUP BY 1, 2
        |ORDER BY user_id, date""".stripMargin,

    "ind_returns" ->
      s"""$BarsCte,
         |r AS (
         |  SELECT user_id, date, close,
         |    lag(close) OVER wk AS prev,
         |    lag(close, 5) OVER wk AS prev5,
         |    lag(close, 10) OVER wk AS prev10,
         |    row_number() OVER wk AS rn,
         |    first_value(close) OVER (PARTITION BY user_id ORDER BY date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc,
         |    first_value(close) OVER (PARTITION BY user_id, date_trunc('month', date)
         |      ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fm
         |  FROM bars WINDOW wk AS (PARTITION BY user_id ORDER BY date))
         |SELECT user_id, date, close,
         |  round(close / prev - 1.0, 6) AS daily_return_pct,
         |  round(close - prev, 6) AS daily_return_abs,
         |  CASE WHEN rn >= 2 THEN round(close / fc - 1.0, 6) END AS cumulative_return,
         |  round(close / prev5 - 1.0, 6) AS momentum_5,
         |  round(close / prev10 - 1.0, 6) AS momentum_10,
         |  round(close / fm - 1.0, 6) AS momentum_mtd
         |FROM r ORDER BY user_id, date""".stripMargin,
  )
}
