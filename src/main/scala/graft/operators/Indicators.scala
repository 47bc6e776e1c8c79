package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

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
  * window expresses directly. It's computed as a per-key fold:
  * `collect_list` the (small, bar-grain) series per key, fold with the
  * `aggregate` higher-order function (stays inside Catalyst/codegen),
  * `posexplode` back. Parallelism is across keys; per-key state is the
  * bar-grain series (years of daily bars ≈ KBs), never tick grain.
  *
  * Plan shape: every entry point ([[enrichAll]] and each `withX`) is one
  * call of [[build]], which evaluates any subset of the families in a
  * fixed number of projections:
  *  - one series fold for all fold families (EMA, MACD): one guarded
  *    `collect_list`, the fold arrays in projections of their own (a HOF
  *    fold is interpreted; below the explode it runs once per key, not
  *    once per column that reads it), one `posexplode` that reads the bar
  *    fields back and slices each array;
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

  /** Hard ceiling on the per-key series length the collect_list fold
    * paths ([[withEma]]/[[withMacd]]) will materialize. One key's whole
    * series becomes a single array in one task — bar-grain series are
    * KBs, but a tick-grain misuse would OOM the executor silently.
    * Past the ceiling the fold raises instead (use
    * [[withEmaStreaming]], whose per-key state is O(spans), or raise
    * the limit knowingly). 100k rows ≈ a year of minute bars ≈ 800 KB
    * per array — comfortably inside a task, far outside accident range.
    */
  val MaxFoldSeriesLen: Int = 100000

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
  def withEma(bars: DataFrame, spans: Seq[Int],
              maxSeriesLen: Int = MaxFoldSeriesLen): DataFrame =
    build(bars, Families(ema = Some(spans), maxSeriesLen = maxSeriesLen))

  /** MACD (technical_indicators.py:83 add_macd): macd = EMA_fast−EMA_slow
    * masked to null before `slow` observations; signal = EMA(span=sig) of
    * the masked macd series (recursion seeded at the first non-null macd,
    * matching pandas ewm over a leading-NaN series); hist = macd − signal.
    */
  def withMacd(bars: DataFrame, fast: Int = 12, slow: Int = 26, sig: Int = 9,
               maxSeriesLen: Int = MaxFoldSeriesLen): DataFrame =
    build(bars, Families(macd = Some((fast, slow, sig)), maxSeriesLen = maxSeriesLen))

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

  /** Long-series EMA: the same `ema_{span}` columns and pandas
    * ewm(adjust=False) recursion as [[withEma]], computed as a streaming
    * per-partition fold instead of a per-key collect_list array —
    * per-key state is O(spans) doubles regardless of series length, so
    * a minute-grain 100×-scale deployment (millions of rows per key)
    * never materializes a series. Shape: one hash repartition on the
    * key, sortWithinPartitions on (key, date, remaining columns) — the
    * exact per-key order `sort_array` gives the fold — then a single
    * mapPartitions pass carrying the running EMA per span. Arithmetic
    * is the identical `a*v + (1-a)*prev` double recursion with
    * a = 2.0/(span+1): bit-equal output (spec-asserted), including the
    * null-close poison semantics of the array fold (a null close nulls
    * that key's EMAs from that row on).
    */
  def withEmaStreaming(bars: DataFrame, spans: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val inSchema = bars.schema
    val outSchema = StructType(inSchema.fields ++
      spans.map(sp => StructField(s"ema_$sp", DoubleType, nullable = true)))
    val keyIdx = inSchema.fieldIndex(KeyCol)
    val closeIdx = inSchema.fieldIndex("close")
    val spanArr = spans.toArray
    val alphas = spanArr.map(sp => 2.0 / (sp + 1))
    val others = bars.columns.filter(_ != KeyCol).toSeq
    val ordered = Seq(OrdCol) ++ others.filterNot(_ == OrdCol)
    bars
      .repartition(col(KeyCol))
      .sortWithinPartitions((KeyCol +: ordered).map(col): _*)
      .mapPartitions { it =>
        var started = false
        var curKey: Any = null
        var pos = 0L
        var poisoned = false
        val e = new Array[Double](spanArr.length)
        it.map { row =>
          val k = row.get(keyIdx)
          if (!started || k != curKey) {
            started = true; curKey = k; pos = 0L; poisoned = false
          } else pos += 1
          val cNull = row.isNullAt(closeIdx)
          if (cNull) poisoned = true
          else {
            val c = row.getDouble(closeIdx)
            var i = 0
            while (i < e.length) {
              e(i) = if (pos == 0L) c else alphas(i) * c + (1.0 - alphas(i)) * e(i)
              i += 1
            }
          }
          val out = new Array[Any](spanArr.length)
          var i = 0
          while (i < spanArr.length) {
            out(i) = if (!poisoned && pos >= spanArr(i) - 1)
              java.lang.Double.valueOf(e(i)) else null
            i += 1
          }
          Row.fromSeq(row.toSeq ++ out)
        }
      }(Encoders.row(outSchema))
  }

  /** The families one [[build]] evaluates; `None` / empty skips one. */
  private final case class Families(macd: Option[(Int, Int, Int)] = None,
    ema: Option[Seq[Int]] = None, sma: Seq[Int] = Nil, rsi: Option[Int] = None,
    bollinger: Option[(Int, Double)] = None, atr: Option[Int] = None, volume: Boolean = false,
    returns: Option[Seq[Int]] = None, maxSeriesLen: Int = MaxFoldSeriesLen)

  /** Every requested family over `bars`: the series fold, the window
    * levels, then one projection appending the family columns in
    * [[enrichAll]]'s order (a column already in `bars` is replaced in
    * place, as `withColumn` does). Window inputs are named by what they
    * compute, so families that share one (SMA 10 and Bollinger 10, the
    * previous close) evaluate it once.
    */
  private def build(bars: DataFrame, f: Families): DataFrame = {
    val folded = if (f.macd.isEmpty && f.ema.isEmpty) bars else foldSeries(bars, f)
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
    f.macd.foreach(_ => out ++= Seq("macd" -> col("__f_macd"), "macd_signal" -> col("__f_sig"),
      "macd_hist" -> (col("__f_macd") - col("__f_sig"))))
    f.ema.toSeq.flatten.foreach(sp => out += s"ema_$sp" -> col(s"__f_ema$sp"))
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
    val kept = folded.columns.toSeq.filterNot(_.startsWith("__f_"))
    windowed.select(kept.map(c => outputs.getOrElse(c, col(c)).as(c)) ++
      out.filterNot(o => kept.contains(o._1)).distinctBy(_._1).map { case (n, c) => c.as(n) }: _*)
  }

  /** SQL fold expression: pandas ewm(span, adjust=False) over an array,
    * seeded at its first element by default. alpha is written as the
    * expression `2.0/(span+1)` so Spark and the DuckDB oracle evaluate the
    * identical double.
    */
  private def emaFold(src: String, span: Int)(seed: String = s"element_at($src, 1)",
                      rest: String = s"slice($src, 2, size($src) - 1)"): String = {
    // 2.0D: a plain `2.0` literal parses as DECIMAL(2,1) and decimal
    // division truncates alpha to 6 decimals (0.153846 != 2.0/13) —
    // the double literal keeps the full-precision recursion.
    val a = s"(2.0D/${span + 1})"
    s"""aggregate($rest, array($seed),
       |  (acc, v) -> array_append(acc, $a * v + (1.0 - $a) * element_at(acc, -1)))""".stripMargin
  }

  /** The bars with `__f_ema{span}` / `__f_macd` / `__f_sig` appended
    * (key first, then the other bar columns in order): one guarded
    * series collect per key, the span folds in one projection, MACD and
    * its signal over them, one posexplode slicing every array at `pos`.
    */
  private def foldSeries(bars: DataFrame, f: Families): DataFrame = {
    val others = bars.columns.filter(_ != KeyCol).toSeq
    val ordered = Seq(OrdCol) ++ others.filterNot(_ == OrdCol)
    val spans = (f.macd.toSeq.flatMap { case (fast, slow, _) => Seq(fast, slow) } ++
      f.ema.toSeq.flatten).distinct
    val series = guarded(bars, f.maxSeriesLen)
      .groupBy(col(KeyCol))
      .agg(sort_array(collect_list(struct(ordered.map(col): _*))).as("s"))
      .withColumn("closes", expr("transform(s, x -> x.close)"))
      .select(col(KeyCol) +: col("s") +: spans.map(sp => expr(emaFold("closes", sp)()).as(s"__e$sp")): _*)
    val pos = col("pos")
    // A key with fewer than `slow` bars has no unmasked macd to seed the
    // signal (and slice/element_at would raise on the negative length /
    // missing index under ANSI): its signal array is null, so macd,
    // macd_signal and macd_hist stay null for the whole key.
    val (arrays, sliced) = f.macd.fold((series, Seq.empty[Column])) { case (fast, slow, sig) =>
      val withMacd = series
        .withColumn("__macd", expr(s"zip_with(__e$fast, __e$slow, (f, s) -> f - s)"))
        .withColumn("__sig", expr(s"CASE WHEN size(__macd) >= $slow THEN " + emaFold("__macd", sig)(
          s"element_at(__macd, $slow)", s"slice(__macd, ${slow + 1}, size(__macd) - $slow)") + " END"))
      (withMacd, Seq(
        when(pos >= slow - 1, element_at(col("__macd"), pos + 1)).as("__f_macd"),
        when(pos >= slow + sig - 2, element_at(col("__sig"), pos - slow + 2)).as("__f_sig")))
    }
    val emas = f.ema.toSeq.flatten.distinct.map(sp =>
      when(pos >= sp - 1, element_at(col(s"__e$sp"), pos + 1)).as(s"__f_ema$sp"))
    arrays.select(col(KeyCol) +: arrays.columns.filterNot(Set(KeyCol, "s")).map(col).toSeq :+
        posexplode(col("s")): _*)
      .select((col(KeyCol) +: others.map(c => col("col").getField(c).as(c))) ++ sliced ++ emas: _*)
  }

  /** `bars`, raising on a key with more than `maxLen` rows BEFORE
    * collect_list materializes its series (a post-hoc size(s) check would
    * OOM the aggregate first for a truly tick-grain key). A keyed window
    * count buffers rows in a spill-safe sorter, inside the same single
    * derivation of `bars` (an aggregate-plus-join guard re-derived the
    * upstream bars, 2× on enrichAll queries), and shares the collect's
    * Exchange on the key.
    */
  private def guarded(bars: DataFrame, maxLen: Int): DataFrame =
    bars.withColumn("__n", count(lit(1)).over(Window.partitionBy(col(KeyCol))))
      .filter(when(col("__n") > maxLen, raise_error(concat(
        lit(s"Indicators fold: per-key series exceeds maxSeriesLen=$maxLen (n="),
        col("__n").cast("string"),
        lit(") — the array fold holds one key's whole series in a task; " +
          "use withEmaStreaming for long series or raise maxSeriesLen"))))
        .otherwise(lit(true)))
      .drop("__n")
}
