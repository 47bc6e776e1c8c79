package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-series analytics: pairwise correlation, z-score anomalies,
  * sessionization and funnels.
  *
  * Correlation matches `BreadthAnalyzer.calculate_correlation`
  * (/root/reference/src/analyzers/breadth_analyzer.py:92 — inner-join two
  * series on time, Pearson corr), generalized from one pair to all pairs
  * of the top-active universe. Anomaly and correlation also complete the
  * reference's EMPTY stubs (`analyzers/anomaly_detector.py`,
  * `analyzers/correlation_analyzer.py` — 0 lines) as z-score outliers
  * and a correlation matrix, per SURVEY §2 #28–29.
  *
  * Scale shape: the pair join is restricted to a top-K universe first
  * (K² pairs of day-grain series, never the full symbol cross product);
  * sessionize is one window over (user, ts) — single shuffle; the funnel
  * is three filtered aggregations co-partitioned on user_id.
  */
object Analytics {

  private val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  /** Daily close-over-close returns per symbol — the shared input of
    * every return-based analytic here (#28, #28b, #28d, #28e). nullif
    * turns a 0.0 previous close into NULL rather than an ANSI divide
    * error; the first bar (no lag) drops with the NULL filter.
    */
  private def dailyReturns(bars: DataFrame): DataFrame = {
    val byDate = Window.partitionBy(col("user_id")).orderBy(col("date"))
    bars
      .withColumn("ret",
        col("close") / nullif(lag(col("close"), 1).over(byDate), lit(0.0)) - 1)
      .filter(col("ret").isNotNull)
      .select(col("user_id"), col("date"), col("ret"))
  }

  /** #28 correlation_pairs: Pearson correlation of daily returns for
    * every unordered pair of the top-K most active users (by total bar
    * volume). Inner join on date mirrors the reference's merge-on-time.
    */
  def correlationPairs(bars: DataFrame, topK: Int = 10, minDays: Int = 5): DataFrame = {
    val returns = dailyReturns(bars)
    // Distributed top-k (TakeOrderedAndProject): the set of top users is
    // all that's needed — no rank column, no global window.
    val topUsers = bars.groupBy(col("user_id"))
      .agg(sum(col("volume")).as("total_volume"))
      .orderBy(col("total_volume").desc, col("user_id"))
      .limit(topK)
      .select(col("user_id"))
    // Top-K universe is tiny — broadcast it into the returns filter, then
    // self-join day-grain series (K² pairs max, never full cross product).
    // The active frame feeds BOTH self-join sides and Spark reuses no
    // exchanges across them (ReuseProbe r12: the whole bars→cleaning→
    // returns derivation executed once per side, scans=4/windows=8 on a
    // two-table query) — the checkpoint materializes the K×day-grain
    // rows once (bounded: topK users × trading days), the guarded-
    // postings idiom.
    val active = returns.join(broadcast(topUsers), Seq("user_id"))
      .transform(graft.Ckpt.frame)
    val a = active.select(col("user_id").as("u1"), col("date"), col("ret").as("ret1"))
    val b = active.select(col("user_id").as("u2"), col("date"), col("ret").as("ret2"))
    a.join(b, Seq("date"))
      .filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(corr(col("ret1"), col("ret2")).as("correlation"),
        count(lit(1)).as("n_days"))
      .filter(col("n_days") >= minDays)
  }

  /** #28f similar_series: time-series similarity search — for every
    * symbol of the top-active universe, the k most return-correlated
    * peers (the distributed top-k similarity-search shape of the EDBT
    * 2019 / ICDE 2021 retrieval line, with Pearson correlation over
    * daily returns as the distance). Ranks on the ROUNDED correlation
    * (6 dp, the published precision) with the neighbor id as
    * tie-break, so the ordering is engine-portable.
    *
    * Scale shape: pair correlations once per unordered pair (K²/2 over
    * day-grain series), mirrored to both directions, then ranked by
    * the bounded [[TopK.groupedWithRank]] aggregate — map-side
    * truncation to k per symbol, no per-symbol window.
    */
  def similarSeries(bars: DataFrame, topK: Int = 20, k: Int = 3,
                    minDays: Int = 10): DataFrame = {
    // Zero-variance guard: Spark's corr is NaN for a constant series
    // (and descNum deliberately ranks NaN first), while SQL engines
    // yield NULL and rank it last — drop the undefined pairs so the
    // ranking is identical everywhere and a flat series cannot flood
    // every peer list.
    // pairs feeds the union's TWO direction projections — without
    // materialization the entire correlationPairs pipeline (bars
    // derivation, returns window, K² self-join) executes once per
    // direction (ReuseProbe r12: similar_series read scans=8/windows=16
    // = exactly 2× correlation_pairs' plan). ≤ K²/2 rows by
    // construction — the cheapest checkpoint in the repo.
    val pairs = correlationPairs(bars, topK, minDays)
      .filter(col("correlation").isNotNull && !isnan(col("correlation")))
      .withColumn("correlation", Publish.round6(col("correlation")))
      .transform(graft.Ckpt.frame)
    val sym = pairs.select(col("u1").as("user_id"), col("u2").as("neighbor_id"),
        col("correlation"), col("n_days"))
      .unionByName(pairs.select(col("u2").as("user_id"), col("u1").as("neighbor_id"),
        col("correlation"), col("n_days")))
    TopK.groupedWithRank(sym, Seq(col("user_id")), k,
      Seq(TopK.descNum(col("correlation")), col("neighbor_id")))
      .select(col("user_id"), col("rk"), col("neighbor_id"),
        col("correlation"), col("n_days"))
  }

  /** Rolling-window Pearson correlation for top-K user pairs
    * (breadth_analyzer.py:92 calculate_correlation with its `window`
    * argument — the reference returns only the last value; the whole
    * rolling series is the distributed generalization). Gated to full
    * windows like pandas rolling(w).corr.
    */
  def rollingCorrelation(bars: DataFrame, topK: Int = 3, window: Int = 10): DataFrame = {
    val returns = dailyReturns(bars)
    val topUsers = bars.groupBy(col("user_id"))
      .agg(sum(col("volume")).as("total_volume"))
      .orderBy(col("total_volume").desc, col("user_id"))
      .limit(topK)
      .select(col("user_id"))
    // Same two-sided self-join as correlationPairs — checkpoint the
    // K×day-grain frame once instead of re-deriving the bars pipeline
    // per side (ReuseProbe r12: scans=4/windows=9 before).
    val active = returns.join(broadcast(topUsers), Seq("user_id"))
      .transform(graft.Ckpt.frame)
    val a = active.select(col("user_id").as("u1"), col("date"), col("ret").as("ret1"))
    val b = active.select(col("user_id").as("u2"), col("date"), col("ret").as("ret2"))
    val w = Window.partitionBy(col("u1"), col("u2")).orderBy(col("date"))
      .rowsBetween(-(window - 1), 0)
    a.join(b, Seq("date"))
      .filter(col("u1") < col("u2"))
      .withColumn("correlation",
        when(count(col("ret1")).over(w) === window,
          corr(col("ret1"), col("ret2")).over(w)))
      .filter(col("correlation").isNotNull)
      .select(col("u1"), col("u2"), col("date"), col("correlation"))
  }

  /** #28c max_drawdown: per-symbol drawdown profile — running peak over
    * the bar history, drawdown = close/peak − 1, summarized as the
    * worst (max) drawdown and the latest bar's current drawdown. The
    * risk metric every portfolio report leads with; the reference's
    * stubbed risk assessment (report_generator.py:357) names it.
    *
    * Scale shape: one per-key ordered window (bar-grain, KBs per
    * symbol) and one map-side-combinable aggregate — no cross-symbol
    * shuffle beyond the key partition.
    */
  def maxDrawdown(bars: DataFrame): DataFrame = {
    val peakW = Window.partitionBy(col("user_id")).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bars
      .withColumn("__peak", max(col("close")).over(peakW))
      .withColumn("__dd", col("close") / nullif(col("__peak"), lit(0.0)) - 1)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        min(col("__dd")).as("max_drawdown"),
        // max-of-struct over NULL-gated rows, not max_by: a NULL
        // drawdown on the LATEST bar (zero running peak) would be
        // returned by max_by but skipped by the oracle's arg_max —
        // this form skips it in both engines.
        max(when(col("__dd").isNotNull, struct(col("date"), col("__dd"))))
          .as("__cur"))
      .select(col("user_id"), col("n_days"), col("max_drawdown"),
        col("__cur.__dd").as("current_drawdown"))
  }

  /** #28d beta_market: per-symbol CAPM beta/alpha against the
    * equal-weight market return (avg of all symbols' daily returns) —
    * beta = cov(ret, mret)/var(mret), alpha = avg(ret) − beta·avg(mret).
    *
    * Scale shape: the market return rides a day-partitioned window on
    * the SAME pass over the returns (a date partition holds one row per
    * symbol — thousands, never corpus-sized), so the lag window is
    * evaluated once, not once per side of a self-join; betas then come
    * from one covar/var aggregate per symbol — two shuffles total
    * (date, key), both map-side combined, no symbol×symbol join.
    */
  def betaVsMarket(bars: DataFrame, minDays: Int = 5): DataFrame = {
    dailyReturns(bars)
      .withColumn("mret", avg(col("ret")).over(Window.partitionBy(col("date"))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        covar_samp(col("ret"), col("mret")).as("__cov"),
        var_samp(col("mret")).as("__var"),
        avg(col("ret")).as("__avgr"),
        avg(col("mret")).as("__avgm"))
      .filter(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"),
        (col("__cov") / nullif(col("__var"), lit(0.0))).as("beta"),
        (col("__avgr") - col("__cov") / nullif(col("__var"), lit(0.0)) * col("__avgm"))
          .as("alpha"))
  }

  /** #28e risk_metrics: per-symbol return-risk summary — annualized
    * volatility (stddev·√252) and Sharpe ratio (avg/stddev·√252, zero
    * risk-free rate as the reference's report assumes). Same shape as
    * [[betaVsMarket]] minus the market join: one returns window, one
    * map-side-combinable aggregate per symbol.
    */
  def riskMetrics(bars: DataFrame, minDays: Int = 5,
                  periodsPerYear: Int = 252): DataFrame = {
    val ann = math.sqrt(periodsPerYear.toDouble)
    dailyReturns(bars)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        avg(col("ret")).as("__avg"),
        stddev_samp(col("ret")).as("__sd"))
      .filter(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"),
        (col("__sd") * ann).as("ann_volatility"),
        (col("__avg") / nullif(col("__sd"), lit(0.0)) * ann).as("sharpe"))
  }

  /** #6b date_gaps: per-symbol missing calendar days between a symbol's
    * first and last bar — the detection half of the reference's
    * date-range reindex + zero-fill (data_cleaner.py:89 clean_breadth;
    * the breadth path zero-fills these, this op reports them per
    * symbol for data-quality review).
    *
    * Scale shape: per-symbol span is one map-side-combinable min/max
    * aggregate; the calendar explodes from the (tiny, per-symbol) span
    * row — days per symbol, not days × corpus — and the present-day
    * anti-join co-partitions on the same key.
    */
  def dateGaps(bars: DataFrame): DataFrame = {
    val spans = bars.groupBy(col("user_id"))
      .agg(min(col("date")).as("__d0"), max(col("date")).as("__d1"))
    val calendar = spans.select(col("user_id"),
      explode(sequence(col("__d0"), col("__d1"))).as("date"))
    calendar.join(bars.select(col("user_id"), col("date")),
        Seq("user_id", "date"), "left_anti")
      .select(col("user_id"), col("date").as("missing_date"))
  }

  /** #29 anomaly_zscore (completes the reference's empty
    * anomaly_detector.py): per-user z-score of the tick value against the
    * user's full-history mean/stddev; |z| above the threshold is an
    * anomaly.
    */
  def anomalyZscore(cleanEvents: DataFrame, threshold: Double = 2.5): DataFrame = {
    val stats = cleanEvents.groupBy(col("user_id")).agg(
      avg(col("value")).as("__mean"),
      stddev_samp(col("value")).as("__std"))
    cleanEvents.join(stats, Seq("user_id"))
      .withColumn("zscore", (col("value") - col("__mean")) / nullif(col("__std"), lit(0.0)))
      .filter(abs(col("zscore")) > threshold)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"), col("zscore"))
  }

  /** #30 sessionize: 30-minute-gap sessions per user (batch twin of
    * streaming.Sessionize). One window pass: flag gap starts, running-sum
    * the flags into session ids, aggregate per session.
    */
  def sessionize(cleanEvents: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val withFlag = cleanEvents
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__prev_us", lag(col("__us"), 1).over(byUser))
      .withColumn("__new_session",
        (col("__prev_us").isNull || (col("__us") - col("__prev_us")) > gapUs).cast("long"))
      .withColumn("session_id",
        sum(col("__new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withFlag.groupBy(col("user_id"), col("session_id")).agg(
      min(col("ts")).as("session_start"),
      max(col("ts")).as("session_end"),
      count(lit(1)).as("n_events"),
      ((max(col("__us")) - min(col("__us"))) / lit(1000000.0)).as("duration_sec"))
  }

  /** #31d range_join: each `rightType` event joined to every `leftType`
    * event of the SAME user in the half-open preceding window
    * [r.ts − windowSec, r.ts) — the attribution / impact interval join
    * (purchase ← the clicks that may have driven it). Output one row
    * per (right, left) pair with `lag_us` = how long before.
    *
    * Spark has no native range join; the naive formulation (equi key +
    * range predicate) hash-joins on user_id alone and filters after —
    * fine for small keys, but one power user makes the per-key cross
    * product quadratic. This plan BINS the time axis instead:
    * bin = us div windowUs; a left event in bin b can only match right
    * events in bins {b, b+1}, so the left side replicates ×2 onto
    * (user_id, bin) and the join is a pure equi shuffle join whose key
    * cardinality GROWS with the time axis — per-task work is bounded by
    * events-per-user-per-window, not events-per-user. The exact range
    * predicate filters after the equi join; every true pair appears
    * exactly once (the two left replicas land in distinct bins and the
    * right event owns exactly one bin). Bin arithmetic stays in exact
    * integer space (µs − µs mod w, quotient ≪ 2^53).
    *
    * At 100 TB: shuffle keys are (user, day-ish bin) — fine-grained,
    * skew-bounded by the densest single window, AQE-splittable; the
    * window parameter trades replication (always exactly 2×) for key
    * granularity, unlike the per-key-window sort approach which
    * serializes a hot user into one task.
    */
  /** Default [[rangeJoin]] window — shared with the generated oracle
    * so the two cannot drift (the zorderKeySql rule).
    */
  val DefaultRangeWindowSec: Long = 86400L

  /** Upper window bound: 10 years in seconds. Two jobs: `windowSec ×
    * 1e6` can never overflow a long (ADVICE r9 — the old positive-only
    * require allowed silent overflow for absurd windows), and the
    * exact-integer bin/divide argument (µs values < 2^53) keeps
    * civilization-scale headroom (~year 2255) rather than being
    * consumed by the window itself. No real attribution window
    * approaches a decade.
    */
  val MaxRangeWindowSec: Long = 315360000L

  def rangeJoin(cleanEvents: DataFrame, leftType: String = "click",
                rightType: String = "purchase",
                windowSec: Long = DefaultRangeWindowSec): DataFrame = {
    require(windowSec > 0 && windowSec <= MaxRangeWindowSec,
      s"rangeJoin: windowSec must be in (0, $MaxRangeWindowSec] " +
        s"(10 years — keeps wUs exact and overflow-free), got $windowSec")
    val wUs = windowSec * 1000000L
    // The input feeds BOTH join sides; without materialization the
    // whole upstream derivation (scan + the cleaner's dedup window)
    // executes once per side — ReuseProbe read scans=2, windows=2,
    // reused=0 (the guarded-postings rule: exchange reuse does not
    // cross separately-instantiated branches). One combined type
    // filter first, then the checkpoint holds only the narrow
    // 4-column rows both sides actually read.
    val typed = cleanEvents
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .transform(graft.Ckpt.frame)
    def side(tpe: String, prefix: String) = typed
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("event_id").as(s"${prefix}_id"),
        col("ts").as(s"${prefix}_ts"), unix_micros(col("ts")).as(s"__${prefix}_us"))
    val l = side(leftType, "left")
      .withColumn("__q",
        ((col("__left_us") - pmod(col("__left_us"), lit(wUs))) / lit(wUs)).cast("long"))
      .withColumn("__bin", explode(array(col("__q"), col("__q") + 1)))
      .drop("__q")
    val r = side(rightType, "right")
      .withColumn("__bin",
        ((col("__right_us") - pmod(col("__right_us"), lit(wUs))) / lit(wUs)).cast("long"))
    l.join(r, Seq("user_id", "__bin"))
      .filter(col("__left_us") >= col("__right_us") - lit(wUs) &&
        col("__left_us") < col("__right_us"))
      .select(col("user_id"), col("right_id"), col("right_ts"),
        col("left_id"), col("left_ts"),
        (col("__right_us") - col("__left_us")).as("lag_us"))
  }

  /** As-of join: each left row picks the most recent right row with
    * right.ts ≤ left.ts for the same key — the canonical market-data
    * enrichment (trade → prevailing quote) that Spark lacks natively.
    *
    * Composed from built-ins (the design brief's preference (a), before
    * any custom SparkPlan): tag both sides, union, and carry the right
    * payload forward with last(ignoreNulls) over one (key, ts, side)
    * window — a single shuffle on the key, linear scan, no range join
    * and no per-key loop. At equal ts the right side sorts first, so the
    * match is inclusive, exactly DuckDB's `ASOF JOIN ... ON l.ts >= r.ts`.
    * Right-side (key, ts) must be unique (true post-cleanEvents).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
               payloadCols: Seq[String]): DataFrame = {
    val payload = struct(col(tsCol).as("__asof_ts") +: payloadCols.map(col): _*)
    val l = left.withColumn("__side", lit(1)).withColumn("__payload",
      lit(null).cast(right.select(payload).schema.fields.head.dataType))
    val r = right.select(
      (col(key) +: col(tsCol) +: Seq(lit(0).as("__side"), payload.as("__payload"))): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__payload")
  }

  /** #31 event_funnel: ordered view→click→purchase conversion per user —
    * first view, first click strictly after it, first purchase strictly
    * after that. stage = furthest step reached.
    *
    * Single-shuffle plan: one groupBy(user) collects the (tiny, filtered)
    * step events in time order and a linear fold assigns the funnel
    * timestamps — the canonical per-key funnel at scale, vs the naive
    * three-aggregation/two-join chain (11 shuffles). Sorted-first-match
    * equals the min-with-strict-inequality semantics of the staged form.
    */
  def eventFunnel(cleanEvents: DataFrame): DataFrame = {
    val nullTs = lit(null).cast("timestamp")
    val folded = cleanEvents
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_type")))).as("__evs"))
      .withColumn("__acc", aggregate(
        col("__evs"),
        struct(nullTs.as("v"), nullTs.as("c"), nullTs.as("p")),
        (acc, e) => struct(
          when(acc("v").isNull && e("event_type") === "view", e("ts"))
            .otherwise(acc("v")).as("v"),
          when(acc("c").isNull && acc("v").isNotNull &&
            e("event_type") === "click" && e("ts") > acc("v"), e("ts"))
            .otherwise(acc("c")).as("c"),
          when(acc("p").isNull && acc("c").isNotNull &&
            e("event_type") === "purchase" && e("ts") > acc("c"), e("ts"))
            .otherwise(acc("p")).as("p"))))
    folded
      .select(col("user_id"), col("__acc.v").as("t_view"),
        col("__acc.c").as("t_click"), col("__acc.p").as("t_purchase"))
      .filter(col("t_view").isNotNull)
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .otherwise(1))
  }
}
