package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature engineering over bar series — completes the reference's
  * EMPTY `transformers/feature_engineering.py` stub (0 lines: declared
  * in the pipeline's module layout but never written; completed here
  * rather than mirrored, the `anomaly_detector` precedent).
  *
  * The one semantic a feature-engineering stage owns that the indicator
  * battery ([[Indicators]]) does not: LEAKAGE DISCIPLINE. Every feature
  * at row (key, t) folds data from ≤ t only (all windows end at
  * CURRENT ROW); the label is the only forward-looking column
  * (`lead(close, horizon)`), and incomplete rows — warmup frames, gaps,
  * missing forward bar — are dropped so the emitted matrix is
  * complete-case, ready for a trainer without imputation.
  *
  * Scale shape: one shuffle on the key; every window and both lags/leads
  * reuse that single (key, date) sort — the [[Indicators]] exchange-
  * sharing argument. The complete-case filter is a post-window predicate
  * on the same pass; no second scan, no join.
  */
object Features {

  /** Leakage-safe daily feature matrix: per (user, date) —
    * `ret_1` (1-bar return), `mom_5` (5-bar momentum), `dist_ma_5` /
    * `dist_ma_20` (close vs gated SMA), `vol_20` (20-bar sample stddev
    * of ret_1), `volume_ratio` (volume vs gated 20-bar volume SMA), and
    * `label_fwd` = forward `horizon`-bar return. Gating replicates
    * pandas `min_periods=p` via [[Indicators.gatedAvg]]/[[Indicators.gatedStd]].
    */
  def featureMatrix(bars: DataFrame, horizon: Int = 1): DataFrame = {
    val byKey = Indicators.byKey
    val prev = lag(col("close"), 1).over(byKey)
    val base = bars
      .withColumn("__ret1", col("close") / nullif(prev, lit(0.0)) - lit(1.0))
      .withColumn("__mom5",
        col("close") / nullif(lag(col("close"), 5).over(byKey), lit(0.0)) - lit(1.0))
      .withColumn("__ma5", Indicators.gatedAvg(col("close"), 5))
      .withColumn("__ma20", Indicators.gatedAvg(col("close"), 20))
      .withColumn("__vma20", Indicators.gatedAvg(col("volume"), 20))
      .withColumn("__nxt", lead(col("close"), horizon).over(byKey))
    // Second window phase: vol_20 aggregates the ret_1 WINDOW RESULT —
    // same partitioning, the sort is reused, still one Exchange.
    val feats = base
      .withColumn("__vol20", Indicators.gatedStd(col("__ret1"), 20))
      .withColumn("__dist5", (col("close") - col("__ma5")) / nullif(col("__ma5"), lit(0.0)))
      .withColumn("__dist20", (col("close") - col("__ma20")) / nullif(col("__ma20"), lit(0.0)))
      .withColumn("__vratio", col("volume") / nullif(col("__vma20"), lit(0.0)))
      .withColumn("__label", col("__nxt") / nullif(col("close"), lit(0.0)) - lit(1.0))
    val required = Seq("__ret1", "__mom5", "__dist5", "__dist20",
      "__vol20", "__vratio", "__label")
    feats
      .filter(required.map(col(_).isNotNull).reduce(_ && _))
      .select(col(Indicators.KeyCol), col(Indicators.OrdCol),
        Publish.round6(col("__ret1")).as("ret_1"),
        Publish.round6(col("__mom5")).as("mom_5"),
        Publish.round6(col("__dist5")).as("dist_ma_5"),
        Publish.round6(col("__dist20")).as("dist_ma_20"),
        Publish.round6(col("__vol20")).as("vol_20"),
        Publish.round6(col("__vratio")).as("volume_ratio"),
        Publish.round6(col("__label")).as("label_fwd"))
  }
}
