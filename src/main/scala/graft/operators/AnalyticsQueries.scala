package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Publish.roundCols
import graft.sources.Tables

/** Driver-contract wrappers + DuckDB oracles for the analytics suite
  * (SURVEY §2 #28–31).
  */
object AnalyticsQueries {

  private def clean(s: SparkSession, d: String): DataFrame =
    Cleaning.cleanEvents(Tables.events(s, d))

  private def bars(s: SparkSession, d: String): DataFrame =
    Bars.daily(clean(s, d))

  /** The batch session window chain shared by the sessionize and
    * stream_sessionize oracles (the SpanCte rule: one definition, so
    * the streaming row's oracle cannot drift from the batch row's);
    * `where` narrows the fed rows — the streaming row's user subset.
    */
  private def sessionChainSql(where: String): String =
    s"""${MarketQueries.CleanCte},
       |f AS (
       |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
       |    lag(epoch_us(ts)) OVER w AS prev_us
       |  FROM clean$where
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |g AS (
       |  SELECT *,
       |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
       |  FROM f),
       |h AS (
       |  SELECT *,
       |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM g)
       |SELECT user_id, session_id,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_events,
       |  round((max(us) - min(us)) / 1000000.0, 6) AS duration_sec
       |FROM h GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "correlation_pairs" -> ((s, d) =>
      roundCols(Analytics.correlationPairs(bars(s, d)), Seq("correlation"))
        .orderBy(col("u1"), col("u2"))),

    "rolling_correlation" -> ((s, d) =>
      roundCols(Analytics.rollingCorrelation(bars(s, d)), Seq("correlation"))
        .orderBy(col("u1"), col("u2"), col("date"))),

    "similar_series" -> ((s, d) =>
      Analytics.similarSeries(bars(s, d))
        .orderBy(col("user_id"), col("rk"))),

    "date_gaps" -> ((s, d) =>
      Analytics.dateGaps(bars(s, d))
        .orderBy(col("user_id"), col("missing_date"))),

    "max_drawdown" -> ((s, d) =>
      roundCols(Analytics.maxDrawdown(bars(s, d)),
        Seq("max_drawdown", "current_drawdown"))
        .orderBy(col("user_id"))),

    "beta_market" -> ((s, d) =>
      roundCols(Analytics.betaVsMarket(bars(s, d)), Seq("beta", "alpha"))
        .orderBy(col("user_id"))),

    "risk_metrics" -> ((s, d) =>
      roundCols(Analytics.riskMetrics(bars(s, d)), Seq("ann_volatility", "sharpe"))
        .orderBy(col("user_id"))),

    "anomaly_zscore" -> ((s, d) =>
      roundCols(Analytics.anomalyZscore(clean(s, d)), Seq("zscore"))
        .orderBy(col("user_id"), col("event_id"))),

    "sessionize" -> ((s, d) =>
      roundCols(Analytics.sessionize(clean(s, d)), Seq("duration_sec"))
        .orderBy(col("user_id"), col("session_id"))),

    // #49l Sessionize.sessions as a driver-checked row: the custom
    // flatMapGroupsWithState fold (the most state-shaped machinery in
    // the repo) replays in three micro-batches, with sessions open
    // across batch boundaries, and hash-checks against the batch
    // window-chain oracle. The sentinel file (every user at the
    // far-future time) proves the trailing gap, so every real session
    // CLOSES and emits; the sentinels' own sessions never close.
    // session_id is re-derived over the emitted sessions (the append
    // stream cannot carry a per-user running index). Deterministic 1/5
    // user subset, the stream_bars rule. The µs-grain fold
    // (usOf/tsOfUs) is what makes VALUE parity possible: events carry
    // microsecond timestamps.
    "stream_sessionize" -> ((s, d) => {
      import graft.streaming.Sessionize
      import s.implicits._
      val src = clean(s, d)
        .filter(pmod(col("user_id"), lit(5L)) === 0)
        .select(col("user_id"), col("ts"), col("value"))
      val out = StreamHarness.replay(s, src, "ts", flushBy = Seq("user_id")) { in =>
        Sessionize.sessions(in.as[Sessionize.Event], gapMinutes = 30).toDF()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("session_start"))
      roundCols(out.withColumn("session_id", row_number().over(w).cast("long"))
          .select(col("user_id"), col("session_id"), col("session_start"),
            col("session_end"), col("n_events"), col("duration_sec")),
        Seq("duration_sec"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "event_funnel" -> ((s, d) =>
      Analytics.eventFunnel(clean(s, d))
        .orderBy(col("user_id"))),

    "asof_join" -> ((s, d) => {
      val c = clean(s, d)
      val purchases = c.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = c.filter(col("event_type") === "view")
      Analytics.asofJoin(purchases, views, "user_id", "ts", Seq("value"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").as("purchase_value"),
          col("__match.__asof_ts").as("view_ts"),
          col("__match.value").as("view_value"))
        .orderBy(col("user_id"), col("ts"))
    }),

    // Binned interval join (#31d): every purchase ← the same user's
    // clicks in the preceding 24 h. The ORACLE states the range
    // predicate directly; the ENGINE runs the ×2-replicated
    // (user, time-bin) equi join — a genuinely different plan checked
    // pair-for-pair equal.
    "range_join" -> ((s, d) =>
      Analytics.rangeJoin(clean(s, d))
        .orderBy(col("right_id"), col("left_id"))),

    // #49m StreamRangeJoin as a driver-checked row: the native
    // watermarked stream-stream interval join between the clicks and
    // the purchases of one replayed event stream (three micro-batches,
    // so clicks buffered in one batch match purchases of a later one),
    // hash-checked against the SAME oracle as the batch `range_join`
    // (one shared SQL constant: the two rows assert one predicate
    // through two different plans, binned-equi batch vs buffered
    // stream-stream). One source, split in the operator, derives the
    // clean chain once. Inner-join rows emit as they match, so no
    // sentinel is needed (the watermark only bounds state retention).
    // Deterministic 1/5 user subset, the stream_bars rule.
    "stream_range_join" -> ((s, d) => {
      val src = clean(s, d)
        .filter(pmod(col("user_id"), lit(5L)) === 0 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      StreamHarness.replay(s, src, "ts") { in =>
        def side(tpe: String) = in.filter(col("event_type") === tpe).drop("event_type")
        graft.streaming.StreamRangeJoin.attribution(side("click"), side("purchase"))
      }.orderBy(col("right_id"), col("left_id"))
    }),

    // #49d StreamAsOf as a driver-checked row (THE market-data
    // streaming join): purchases (side 1) and views (side 0) tag into
    // one union that replays in three micro-batches, and the
    // single-row-state fold enriches every purchase with the latest
    // view at or before it, that view often held from an earlier batch.
    // Hash-checked against the same DuckDB ASOF JOIN shape the batch
    // twins carry (without event_id: the tagged union carries (key, ts,
    // value), and (user_id, ts) is unique post-clean, so nothing is
    // lost). flatMapGroupsWithState in append mode emits within the
    // batch, so no sentinel is needed.
    "stream_asof" -> ((s, d) => {
      import graft.streaming.StreamAsOf
      import s.implicits._
      val src = clean(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("user_id"), col("ts"),
          (col("event_type") === lit("purchase")).cast("int").as("side"),
          col("value"))
      StreamHarness.replay(s, src, "ts") { in =>
        StreamAsOf.enrich(in.as[StreamAsOf.Tagged]).toDF()
      }.select(col("user_id"), col("ts"),
          col("value").as("purchase_value"),
          col("asof_ts").as("view_ts"), col("asof_value").as("view_value"))
        .orderBy(col("user_id"), col("ts"))
    }),

    // Z-order key (#31e): the write-side layout key over
    // (user, days-since-epoch) — the oracle replays the identical
    // generated interleave chain (Layout.zorderKeySql).
    "zorder_key" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"), col("user_id"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
            .cast("long").as("day"),
          Layout.zorderKey(col("user_id"),
            datediff(to_date(col("ts")), to_date(lit("1970-01-01")))).as("zkey"))
        .orderBy(col("event_id"))),

    // The NATIVE custom-plan twin (#31c): graft.plans.AsOf — same
    // semantics through the LogicalPlan/Strategy/SparkPlan path, checked
    // against the identical DuckDB ASOF JOIN oracle.
    "asof_join_native" -> ((s, d) => {
      val c = clean(s, d)
      val purchases = c.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = c.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.plans.AsOf.join(purchases, views, "user_id", "ts")
        .toDF("user_id", "ts", "event_id", "purchase_value",
          "__r_user", "view_ts", "view_value")
        .drop("__r_user")
        .orderBy(col("user_id"), col("ts"))
    }),
  )

  private val AsOfOracle: String =
    s"""${MarketQueries.CleanCte},
       |p AS (SELECT user_id, ts, event_id, value FROM clean
       |      WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts, value FROM clean
       |      WHERE event_type = 'view')
       |SELECT p.user_id, p.ts, p.event_id,
       |  p.value AS purchase_value,
       |  v.ts AS view_ts, v.value AS view_value
       |FROM p ASOF LEFT JOIN v
       |  ON p.user_id = v.user_id AND p.ts >= v.ts
       |ORDER BY p.user_id, p.ts""".stripMargin

  /** The range predicate stated directly — ONE definition shared by
    * the batch `range_join` (binned-equi plan, `where` = "") and the
    * streaming `stream_range_join` (watermarked stream-stream join,
    * `where` = its 1/5 user subset): two plans, one asserted semantics
    * (the sessionChainSql rule — the subset predicate is the only
    * variable).
    */
  private def rangeJoinSql(where: String): String =
    s"""${MarketQueries.CleanCte}
       |SELECT r.user_id, r.event_id AS right_id, r.ts AS right_ts,
       |  l.event_id AS left_id, l.ts AS left_ts,
       |  epoch_us(r.ts) - epoch_us(l.ts) AS lag_us
       |FROM clean r JOIN clean l
       |  ON r.user_id = l.user_id
       | AND r.event_type = 'purchase' AND l.event_type = 'click'
       | AND epoch_us(l.ts) >= epoch_us(r.ts) - ${Analytics.DefaultRangeWindowSec * 1000000L}
       | AND epoch_us(l.ts) < epoch_us(r.ts)$where
       |ORDER BY right_id, left_id""".stripMargin

  /** The ASOF JOIN at (key, ts, value) grain — the streaming fold's
    * oracle (the batch twins additionally carry event_id).
    */
  private val StreamAsOfOracle: String =
    s"""${MarketQueries.CleanCte},
       |p AS (SELECT user_id, ts, value FROM clean
       |      WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts, value FROM clean
       |      WHERE event_type = 'view')
       |SELECT p.user_id, p.ts, p.value AS purchase_value,
       |  v.ts AS view_ts, v.value AS view_value
       |FROM p ASOF LEFT JOIN v
       |  ON p.user_id = v.user_id AND p.ts >= v.ts
       |ORDER BY p.user_id, p.ts""".stripMargin

  def oracles: Map[String, String] = Map(
    "asof_join_native" -> AsOfOracle,

    "stream_asof" -> StreamAsOfOracle,

    "stream_range_join" -> rangeJoinSql("\n AND r.user_id % 5 = 0"),

    // The identical generated shift/mask interleave chain — the SQL is
    // produced by the same Scala loop as the Column expression.
    "zorder_key" ->
      s"""SELECT event_id, user_id,
         |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         |  ${Layout.zorderKeySql("user_id",
              "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))")} AS zkey
         |FROM events ORDER BY event_id""".stripMargin,

    // The range predicate stated directly — the specification the
    // binned-replication plan must reproduce pair-for-pair (shared
    // body with stream_range_join).
    "range_join" -> rangeJoinSql(""),
    "correlation_pairs" ->
      s"""${MarketQueries.BarsCte},
         |ret AS (
         |  SELECT user_id, date,
         |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY date), 0.0) - 1 AS ret
         |  FROM bars),
         |retn AS (SELECT * FROM ret WHERE ret IS NOT NULL),
         |topu AS (
         |  SELECT user_id FROM (
         |    SELECT user_id,
         |      row_number() OVER (ORDER BY sum(volume) DESC, user_id) AS rk
         |    FROM bars GROUP BY user_id) t
         |  WHERE rk <= 10),
         |active AS (SELECT r.* FROM retn r JOIN topu USING (user_id))
         |SELECT a.user_id AS u1, b.user_id AS u2,
         |  round(corr(a.ret, b.ret), 6) AS correlation,
         |  count(*) AS n_days
         |FROM active a JOIN active b ON a.date = b.date AND a.user_id < b.user_id
         |GROUP BY a.user_id, b.user_id
         |HAVING count(*) >= 5
         |ORDER BY u1, u2""".stripMargin,

    "rolling_correlation" ->
      s"""${MarketQueries.BarsCte},
         |ret AS (
         |  SELECT user_id, date,
         |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY date), 0.0) - 1 AS ret
         |  FROM bars),
         |retn AS (SELECT * FROM ret WHERE ret IS NOT NULL),
         |topu AS (
         |  SELECT user_id FROM (
         |    SELECT user_id,
         |      row_number() OVER (ORDER BY sum(volume) DESC, user_id) AS rk
         |    FROM bars GROUP BY user_id) t
         |  WHERE rk <= 3),
         |active AS (SELECT r.* FROM retn r JOIN topu USING (user_id)),
         |j AS (
         |  SELECT a.user_id AS u1, b.user_id AS u2, a.date,
         |    a.ret AS ret1, b.ret AS ret2
         |  FROM active a JOIN active b ON a.date = b.date AND a.user_id < b.user_id),
         |rc AS (
         |  SELECT u1, u2, date,
         |    CASE WHEN count(ret1) OVER w = 10 THEN corr(ret1, ret2) OVER w END AS correlation
         |  FROM j
         |  WINDOW w AS (PARTITION BY u1, u2 ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         |SELECT u1, u2, date, round(correlation, 6) AS correlation
         |FROM rc WHERE correlation IS NOT NULL
         |ORDER BY u1, u2, date""".stripMargin,

    "similar_series" ->
      s"""${MarketQueries.BarsCte},
         |ret AS (
         |  SELECT user_id, date,
         |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY date), 0.0) - 1 AS ret
         |  FROM bars),
         |retn AS (SELECT * FROM ret WHERE ret IS NOT NULL),
         |topu AS (
         |  SELECT user_id FROM (
         |    SELECT user_id,
         |      row_number() OVER (ORDER BY sum(volume) DESC, user_id) AS rk
         |    FROM bars GROUP BY user_id) t
         |  WHERE rk <= 20),
         |active AS (SELECT r.* FROM retn r JOIN topu USING (user_id)),
         |p AS (
         |  SELECT a.user_id, b.user_id AS neighbor_id,
         |    round(corr(a.ret, b.ret), 6) AS correlation,
         |    count(*) AS n_days
         |  FROM active a JOIN active b
         |    ON a.date = b.date AND a.user_id <> b.user_id
         |  GROUP BY a.user_id, b.user_id
         |  HAVING count(*) >= 10 AND corr(a.ret, b.ret) IS NOT NULL),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY user_id
         |    ORDER BY correlation DESC, neighbor_id) AS rk
         |  FROM p)
         |SELECT user_id, rk, neighbor_id, correlation, n_days
         |FROM r WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,

    "date_gaps" ->
      s"""${MarketQueries.BarsCte},
         |spans AS (
         |  SELECT user_id, min(date) AS d0, max(date) AS d1
         |  FROM bars GROUP BY user_id),
         |cal AS (
         |  SELECT user_id,
         |    CAST(unnest(generate_series(CAST(d0 AS DATE), CAST(d1 AS DATE),
         |      INTERVAL 1 DAY)) AS DATE) AS date
         |  FROM spans)
         |SELECT cal.user_id, cal.date AS missing_date
         |FROM cal LEFT JOIN bars
         |  ON cal.user_id = bars.user_id AND cal.date = bars.date
         |WHERE bars.user_id IS NULL
         |ORDER BY cal.user_id, missing_date""".stripMargin,

    "max_drawdown" ->
      s"""${MarketQueries.BarsCte},
         |dd AS (
         |  SELECT user_id, date,
         |    close / nullif(max(close) OVER (PARTITION BY user_id ORDER BY date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) - 1 AS ddv
         |  FROM bars)
         |SELECT user_id, count(*) AS n_days,
         |  round(min(ddv), 6) AS max_drawdown,
         |  round(arg_max(ddv, date), 6) AS current_drawdown
         |FROM dd GROUP BY user_id ORDER BY user_id""".stripMargin,

    "beta_market" ->
      s"""${MarketQueries.BarsCte},
         |ret AS (
         |  SELECT user_id, date,
         |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY date), 0.0) - 1 AS ret
         |  FROM bars),
         |retn AS (SELECT * FROM ret WHERE ret IS NOT NULL),
         |mkt AS (SELECT date, avg(ret) AS mret FROM retn GROUP BY date),
         |j AS (SELECT r.user_id, r.ret, m.mret FROM retn r JOIN mkt m USING (date)),
         |g AS (
         |  SELECT user_id, count(*) AS n_days,
         |    covar_samp(ret, mret) AS cv, var_samp(mret) AS vr,
         |    avg(ret) AS avgr, avg(mret) AS avgm
         |  FROM j GROUP BY user_id)
         |SELECT user_id, n_days,
         |  round(cv / nullif(vr, 0.0), 6) AS beta,
         |  round(avgr - cv / nullif(vr, 0.0) * avgm, 6) AS alpha
         |FROM g WHERE n_days >= 5 ORDER BY user_id""".stripMargin,

    "risk_metrics" ->
      s"""${MarketQueries.BarsCte},
         |ret AS (
         |  SELECT user_id,
         |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY date), 0.0) - 1 AS ret
         |  FROM bars),
         |retn AS (SELECT * FROM ret WHERE ret IS NOT NULL),
         |g AS (
         |  SELECT user_id, count(*) AS n_days,
         |    avg(ret) AS av, stddev_samp(ret) AS sd
         |  FROM retn GROUP BY user_id)
         |SELECT user_id, n_days,
         |  round(sd * sqrt(252.0), 6) AS ann_volatility,
         |  round(av / nullif(sd, 0.0) * sqrt(252.0), 6) AS sharpe
         |FROM g WHERE n_days >= 5 ORDER BY user_id""".stripMargin,

    "anomaly_zscore" ->
      s"""${MarketQueries.CleanCte},
         |st AS (
         |  SELECT user_id, avg(value) AS m, stddev_samp(value) AS sd
         |  FROM clean GROUP BY user_id)
         |SELECT c.user_id, c.event_id, c.ts, c.value,
         |  round((c.value - st.m) / nullif(st.sd, 0.0), 6) AS zscore
         |FROM clean c JOIN st ON c.user_id = st.user_id
         |WHERE abs((c.value - st.m) / nullif(st.sd, 0.0)) > 2.5
         |ORDER BY c.user_id, c.event_id""".stripMargin,

    "sessionize" -> sessionChainSql(""),

    // The streaming fold finalizes to exactly the batch sessions on
    // the row's 1/5 user subset — the oracle IS the sessionize body
    // (one shared chain, the subset predicate the only variable) with
    // the filter pushed into the first windowed CTE.
    "stream_sessionize" -> sessionChainSql(" WHERE user_id % 5 = 0"),

    "event_funnel" ->
      s"""${MarketQueries.CleanCte},
         |v AS (SELECT user_id, min(ts) AS t_view FROM clean
         |      WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS t_click
         |      FROM clean e JOIN v USING (user_id)
         |      WHERE e.event_type = 'click' AND e.ts > v.t_view
         |      GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
         |      FROM clean e JOIN c USING (user_id)
         |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
         |      GROUP BY e.user_id)
         |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
         |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
         |       WHEN c.t_click IS NOT NULL THEN 2
         |       ELSE 1 END AS stage
         |FROM v
         |LEFT JOIN c ON v.user_id = c.user_id
         |LEFT JOIN p ON v.user_id = p.user_id
         |ORDER BY v.user_id""".stripMargin,

    "asof_join" -> AsOfOracle,
  )
}
