package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-breadth analytics — Spark re-expression of the reference's
  * `BreadthAnalyzer` (/root/reference/src/analyzers/breadth_analyzer.py)
  * plus the breadth-cleaning derivations of `DataCleaner.clean_breadth`
  * (/root/reference/src/transformers/data_cleaner.py:89): calendar gap
  * reindex with zero-fill, total_issues, breadth_percent =
  * (advancers−decliners)/total·100 clipped to ±100, adv_dec_ratio with
  * zero-decliner days coalesced to 0.
  *
  * Scale shape: everything here consumes DAILY BARS (already one
  * aggregation down from the tick feed), so per-day breadth is a tiny
  * aggregate — the only shuffle is bars→(date) regroup; the generated
  * calendar is a handful of rows and broadcast into the gap-fill join.
  */
object Breadth {

  /** Per-user-day movement flags: delta vs previous bar, plus strict
    * new-high/new-low flags over the prior (p−1)-bar window
    * (breadth_extractor.py:146 normalizes the same adv/dec/unchanged and
    * high/low counts from the exchange feed; here they are derived from
    * bars directly).
    */
  private[graft] def withMoveFlags(bars: DataFrame, p: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("date"))
    val prior = byUser.rowsBetween(-(p - 1), -1)
    val full = count(col("close")).over(prior) === (p - 1)
    bars
      .select(col("*"), (col("close") - lag(col("close"), 1).over(byUser)).as("__delta"),
        when(full, max(col("close")).over(prior)).as("__prior_max"),
        when(full, min(col("close")).over(prior)).as("__prior_min"))
      .select(col("*"), (col("close") > col("__prior_max")).cast("int").as("__new_high"),
        (col("close") < col("__prior_min")).cast("int").as("__new_low"))
  }

  /** #16 breadth_daily: market breadth per calendar day. Days with no
    * bars at all (calendar gaps) appear zero-filled with null
    * breadth_percent, exactly as the reference's date-range reindex.
    */
  def breadthDaily(bars: DataFrame, newHighPeriod: Int = 10): DataFrame = {
    val flagged = withMoveFlags(bars, newHighPeriod)
    val daily = flagged.groupBy(col("date")).agg(
      count(when(col("__delta") > 0, 1)).as("advancers"),
      count(when(col("__delta") < 0, 1)).as("decliners"),
      count(when(col("__delta") === 0, 1)).as("unchanged"),
      coalesce(sum(col("__new_high")), lit(0L)).as("new_highs"),
      coalesce(sum(col("__new_low")), lit(0L)).as("new_lows"))
    // Calendar spine: one generated row per day between min and max date.
    // Single-row agg exploded → tiny; Catalyst broadcasts it into the join.
    val calendar = bars
      .agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("date"))
    calendar.join(daily, Seq("date"), "left")
      .select(
        col("date"),
        coalesce(col("advancers"), lit(0L)).as("advancers"),
        coalesce(col("decliners"), lit(0L)).as("decliners"),
        coalesce(col("unchanged"), lit(0L)).as("unchanged"),
        coalesce(col("new_highs"), lit(0L)).as("new_highs"),
        coalesce(col("new_lows"), lit(0L)).as("new_lows"))
      .withColumn("total_issues",
        col("advancers") + col("decliners") + col("unchanged"))
      // Null gate before the clip: least/greatest SKIP nulls in both
      // Spark and DuckDB, so clipping a null ratio would turn a no-data
      // day into −100 instead of null (pandas clips NaN to NaN).
      .withColumn("breadth_percent",
        when(col("total_issues") > 0,
          least(greatest(
            (col("advancers") - col("decliners")) / col("total_issues") * 100,
            lit(-100.0)), lit(100.0))))
      .withColumn("adv_dec_ratio",
        coalesce(col("advancers") / nullif(col("decliners"), lit(0L)), lit(0.0)))
  }

  /** #17 market_health (breadth_analyzer.py:18): lookback-window mean
    * breadth, Σadv/Σdec, Σnew_highs/Σnew_lows, bullish/bearish trend and
    * |health−50|/50 confidence. One output row.
    */
  def marketHealth(breadth: DataFrame, lookback: Int = 20): DataFrame = {
    val recent = breadth.orderBy(col("date").desc).limit(lookback)
    recent.agg(
      avg(col("breadth_percent")).as("health_score"),
      (sum(col("advancers")) / nullif(sum(col("decliners")), lit(0L))).as("adv_dec_ratio"),
      when(sum(col("new_lows")) > 0,
        sum(col("new_highs")) / sum(col("new_lows"))).as("new_high_low_ratio"))
      .withColumn("trend",
        when(col("health_score") >= 50, "bullish").otherwise("bearish"))
      .withColumn("confidence",
        least(lit(1.0), abs(col("health_score") - 50) / 50))
  }

  /** #18 market_regime (breadth_analyzer.py:48): banded classification of
    * breadth_percent, emitted for every day with breadth data (the
    * whole-history generalization of the reference's latest-row lookup).
    */
  def marketRegime(breadth: DataFrame): DataFrame =
    breadth
      .filter(col("breadth_percent").isNotNull)
      .select(col("date"), col("breadth_percent"))
      .withColumn("regime",
        when(col("breadth_percent") >= 70, "strong bullish")
          .when(col("breadth_percent") >= 50, "bullish")
          .when(col("breadth_percent") >= 40, "neutral")
          .when(col("breadth_percent") >= 20, "bearish")
          .otherwise("strong bearish"))

  /** #19 market_summary (breadth_analyzer.py:116): latest-day breadth
    * numbers, market volume vs its trailing-20 mean (min 5 days), and the
    * 0–100 clipped sentiment 50 + (breadth−50)/2. One output row.
    */
  def marketSummary(breadth: DataFrame, bars: DataFrame): DataFrame = {
    // Only the LATEST day's trailing-20 volume average is needed, so
    // instead of a global (single-partition) window over the whole day
    // series: distributed top-20-days (TakeOrderedAndProject) → one
    // 20-row aggregate. max_by picks the latest day's own volume.
    val mktVol = bars.groupBy(col("date")).agg(sum(col("volume")).as("mkt_volume"))
    val latestVol = mktVol.orderBy(col("date").desc).limit(20)
      .agg(
        max(col("date")).as("date"),
        max_by(col("mkt_volume"), col("date")).as("mkt_volume"),
        avg(col("mkt_volume")).as("vol_avg_20"),
        count(lit(1)).as("n_days"))
      .select(col("date"),
        when(col("n_days") >= 5 && col("vol_avg_20") > 0,
          col("mkt_volume") / col("vol_avg_20"))
          .as("volume_vs_avg"))
    val latestBreadth = breadth.orderBy(col("date").desc).limit(1)
      .select(col("date"), col("advancers"), col("decliners"), col("breadth_percent"))
    latestBreadth.join(latestVol, Seq("date"))
      .withColumn("market_sentiment",
        least(greatest(lit(50.0) + (col("breadth_percent") - 50) / 2, lit(0.0)), lit(100.0)))
  }

  /** #20 top_movers: top-k gainers and losers by last-day return per user
    * (the reference's market summary top gainers/losers, computed from
    * returns rather than raw price level).
    */
  def topMovers(bars: DataFrame, k: Int = 5): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("date"))
    val lastBar = bars
      .select(col("*"), lag(col("close"), 1).over(byUser).as("__prev"), row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("date").desc)).as("__rn"))
      .filter(col("__rn") === 1 && col("__prev").isNotNull)
      .withColumn("return_pct", (col("close") / nullif(col("__prev"), lit(0.0)) - 1) * 100)
      .filter(col("return_pct").isNotNull)
      .select(col("user_id"), col("date"), col("close"), col("return_pct"))
    // Both sides rank the ONE latest-bar derivation: each bar fans out to
    // a gainer and a loser row, and a bounded per-side top-k aggregate
    // ranks them (two top-k arms would each re-run the lag + latest-bar
    // windows over the bars). No global row_number window — the ranking
    // never sorts the whole universe on one partition.
    val sided = lastBar.select(explode(array(lit("gainer"), lit("loser"))).as("side"),
      col("*"))
    TopK.groupedWithRank(sided, Seq(col("side")), k,
        Seq(when(col("side") === "gainer", TopK.descNum(col("return_pct")))
          .otherwise(col("return_pct")), col("user_id")))
      .select(col("side"), col("rk"), col("user_id"), col("date"),
        col("close"), col("return_pct"))
  }

  /** foreign_flows (breadth_extractor.py:87 `get_foreign_trading`, :187
    * `_normalize_foreign_trading`): per-day buy/sell value aggregation
    * with net flow. The reference pulls a pre-aggregated exchange feed
    * and normalizes it (numeric coercion, date parse, drop null dates,
    * sort date desc); graft derives the same frame from the event feed —
    * `buyType` events play the foreign-buy role, `sellType` the
    * foreign-sell role (role mapping is a parameter, like the
    * reference's column aliasing). One (date) aggregate over the cleaned
    * feed: map-side combinable, day-grain output.
    */
  def foreignFlows(cleanEvents: DataFrame, buyType: String = "purchase",
                   sellType: String = "view"): DataFrame =
    cleanEvents
      .filter(col("event_type").isin(buyType, sellType))
      .groupBy(col("date"))
      .agg(
        sum(when(col("event_type") === buyType, col("value")).otherwise(lit(0.0)))
          .as("value_buy"),
        sum(when(col("event_type") === sellType, col("value")).otherwise(lit(0.0)))
          .as("value_sell"),
        count(when(col("event_type") === buyType, 1)).as("volume_buy"),
        count(when(col("event_type") === sellType, 1)).as("volume_sell"),
        count(lit(1)).as("volume"))
      .withColumn("net_value", col("value_buy") - col("value_sell"))

  /** #21 sector_performance (breadth_analyzer.py:73 find_leading_sectors):
    * event_type plays the sector role; per-sector index = mean value per
    * day; change_pct over the sector's last two trading days; ranked
    * descending, top 10.
    */
  def sectorPerformance(cleanEvents: DataFrame, topN: Int = 10): DataFrame = {
    val sectorDay = cleanEvents.groupBy(col("event_type"), col("date"))
      .agg(avg(col("value")).as("sector_value"), count(lit(1)).as("volume"))
    val bySector = Window.partitionBy(col("event_type")).orderBy(col("date").desc)
    val lastTwo = sectorDay
      .withColumn("__rn", row_number().over(bySector))
      .filter(col("__rn") <= 2)
    val pivoted = lastTwo.groupBy(col("event_type")).agg(
      max(when(col("__rn") === 1, col("sector_value"))).as("last_value"),
      max(when(col("__rn") === 2, col("sector_value"))).as("prev_value"),
      max(when(col("__rn") === 1, col("volume"))).as("volume"))
    val changed = pivoted
      .withColumn("change_pct",
        (col("last_value") / nullif(col("prev_value"), lit(0.0)) - 1) * 100)
    TopK.withRank(changed, topN,
        Seq(TopK.descNum(col("change_pct")), col("event_type")))
      .select(col("rk"), col("event_type").as("sector"), col("change_pct"),
        col("volume"))
  }
}
