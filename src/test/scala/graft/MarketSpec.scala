package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bars, Cleaning, Indicators, Quality}

/** Hand-computed fixtures for the cleaning→bars→indicators chain. The EMA
  * fixture recomputes the pandas ewm(adjust=False) recursion in plain
  * Scala — exactly the class of test that catches a truncated alpha.
  */
class MarketSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = Date.valueOf(s)

  private def barsOf(closes: Seq[Double]): DataFrame =
    closes.zipWithIndex.map { case (c, i) =>
      (1L, d(f"2024-01-${i + 1}%02d"), c)
    }.toDF("user_id", "date", "close")

  private def col1(df: DataFrame, name: String): Seq[Option[Double]] =
    df.orderBy("date").collect().map(r =>
      if (r.isNullAt(r.fieldIndex(name))) None else Some(r.getAs[Double](name))).toSeq

  test("cleanEvents dedupes keep-last and derives date") {
    val events = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), 5.0),
      (2L, 10L, ts("2024-01-01 10:00:00"), 7.0), // same (user, ts) — higher id wins
      (3L, 10L, ts("2024-01-02 11:00:00"), 9.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Cleaning.cleanEvents(events).orderBy("ts").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("value") == 7.0, "keep-last must pick event_id 2")
    assert(out(1).getAs[Date]("date") == d("2024-01-02"))
  }

  test("data quality report: gaps, dup timestamps, bad values, freshness, score") {
    // Corpus span Mon 2024-01-01 .. Fri 2024-01-05 → 5 business days.
    val events = Seq(
      // user 1: all 5 days, one duplicated ts, one non-positive value
      (1L, 1L, ts("2024-01-01 10:00:00"), 5.0),
      (2L, 1L, ts("2024-01-01 10:00:00"), 6.0),  // dup ts
      (3L, 1L, ts("2024-01-02 10:00:00"), -1.0), // non-positive
      (4L, 1L, ts("2024-01-03 10:00:00"), 7.0),
      (5L, 1L, ts("2024-01-04 10:00:00"), 8.0),
      (6L, 1L, ts("2024-01-05 10:00:00"), 9.0),
      // user 2: 2 of 5 days, stale by 3 days, clean values
      (7L, 2L, ts("2024-01-01 10:00:00"), 1.0),
      (8L, 2L, ts("2024-01-02 10:00:00"), 2.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Quality.dataQuality(events).orderBy("user_id").collect()
    val u1 = out(0)
    assert(u1.getAs[Long]("n_rows") == 6L && u1.getAs[Long]("n_days") == 5L)
    assert(u1.getAs[Long]("expected_days") == 5L)
    assert(u1.getAs[Long]("n_missing_days") == 0L)
    assert(u1.getAs[Long]("n_dup_ts") == 1L)
    assert(u1.getAs[Long]("n_nonpos_value") == 1L)
    assert(u1.getAs[Long]("n_null_value") == 0L)
    assert(u1.getAs[Long]("days_stale") == 0L)
    // issues: dup ts + non-positive → score 80
    assert(u1.getAs[Long]("n_issues") == 2L && u1.getAs[Long]("quality_score") == 80L)
    val u2 = out(1)
    assert(u2.getAs[Long]("n_missing_days") == 3L)
    assert(u2.getAs[Long]("days_stale") == 3L)
    assert(u2.getAs[Long]("n_issues") == 1L && u2.getAs[Long]("quality_score") == 90L)
    assert(u2.getAs[Timestamp]("last_ts") == ts("2024-01-02 10:00:00"))
  }

  test("data quality report on an empty feed returns no rows, no error") {
    val empty = Seq.empty[(Long, Long, Timestamp, Double)]
      .toDF("event_id", "user_id", "ts", "value")
    assert(Quality.dataQuality(empty).collect().isEmpty)
  }

  test("daily bars: open/high/low/close/volume/vwap from ticks") {
    val events = Seq(
      (1L, 1L, ts("2024-01-01 09:00:00"), 10.0),
      (2L, 1L, ts("2024-01-01 12:00:00"), 14.0),
      (3L, 1L, ts("2024-01-01 16:00:00"), 12.0)
    ).toDF("event_id", "user_id", "ts", "value").withColumn("date",
      org.apache.spark.sql.functions.to_date($"ts"))
    val b = Bars.daily(events).collect().head
    assert(b.getAs[Double]("open") == 10.0)
    assert(b.getAs[Double]("high") == 14.0)
    assert(b.getAs[Double]("low") == 10.0)
    assert(b.getAs[Double]("close") == 12.0)
    assert(b.getAs[Long]("volume") == 3L)
    assert(math.abs(b.getAs[Double]("vwap") - 12.0) < 1e-12)
  }

  test("realtime snapshot: last tick, change vs prev close, exchange tz") {
    val events = Seq(
      // u1: two days — prev close 12.0, last tick 15.0 at 10:00 UTC
      (1L, 1L, ts("2024-01-01 09:00:00"), 10.0),
      (2L, 1L, ts("2024-01-01 16:00:00"), 12.0),
      (3L, 1L, ts("2024-01-02 09:00:00"), 14.0),
      (4L, 1L, ts("2024-01-02 10:00:00"), 15.0),
      // u2: single day — no prev close, change/pct null
      (5L, 2L, ts("2024-01-02 09:00:00"), 8.0)
    ).toDF("event_id", "user_id", "ts", "value").withColumn("date",
      org.apache.spark.sql.functions.to_date($"ts"))
    val out = Bars.realtimeSnapshot(events).orderBy("user_id").collect()
    assert(out.length == 2)
    val u1 = out(0)
    assert(u1.getAs[Double]("price") == 15.0)
    assert(u1.getAs[Double]("change") == 3.0)
    assert(math.abs(u1.getAs[Double]("pct_change") - 25.0) < 1e-9)
    assert(u1.getAs[Long]("volume") == 2L, "volume counts last-day ticks")
    assert(u1.getAs[Timestamp]("time_local") == ts("2024-01-02 17:00:00"),
      "UTC 10:00 renders as 17:00 Asia/Ho_Chi_Minh (+7)")
    val u2 = out(1)
    assert(u2.isNullAt(u2.fieldIndex("change")))
    assert(u2.isNullAt(u2.fieldIndex("pct_change")))
  }

  test("interval resample buckets ticks into hourly bars") {
    val events = Seq(
      (1L, 1L, ts("2024-01-01 09:10:00"), 10.0),
      (2L, 1L, ts("2024-01-01 09:50:00"), 12.0),
      (3L, 1L, ts("2024-01-01 10:05:00"), 11.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = operators.Bars.resample(events, "1 hour")
      .orderBy("bucket_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Timestamp]("bucket_start") == ts("2024-01-01 09:00:00"))
    assert(out(0).getAs[Double]("open") == 10.0 && out(0).getAs[Double]("close") == 12.0)
    assert(out(1).getAs[Long]("volume") == 1L)
  }

  /** pandas ewm(span, adjust=False) reference recursion. */
  private def ewm(xs: Seq[Double], span: Int): Seq[Double] = {
    val a = 2.0 / (span + 1)
    xs.tail.scanLeft(xs.head)((acc, v) => a * v + (1 - a) * acc)
  }

  test("EMA matches the full-precision pandas recursion with min_periods gating") {
    val closes = Seq(10.0, 11.0, 12.0, 13.0, 14.0)
    val out = col1(Indicators.withEma(barsOf(closes), Seq(3)), "ema_3")
    val exp = ewm(closes, 3)
    assert(out.take(2).forall(_.isEmpty), "null until span observations")
    (2 until 5).foreach { i =>
      assert(math.abs(out(i).get - exp(i)) < 1e-12, s"row $i: ${out(i)} vs ${exp(i)}")
    }
    // The alpha must be the full double 2/(span+1): with span 12 the
    // round-1 bug truncated 2/13 to 6 decimals.
    val closes2 = (1 to 14).map(_.toDouble)
    val out2 = col1(Indicators.withEma(barsOf(closes2), Seq(12)), "ema_12")
    val exp2 = ewm(closes2, 12)
    assert(math.abs(out2(13).get - exp2(13)) < 1e-12)
  }

  test("streaming EMA fold is bit-equal to the collect_list array fold") {
    // Multiple keys, uneven lengths, awkward doubles, one null close —
    // every branch of SeriesFoldExec's streaming fold vs the reference
    // array fold.
    val jan1 = d("2024-01-01")
    def day(n: Int) = Date.valueOf(jan1.toLocalDate.plusDays(n - 1))
    val rows = (1 to 40).map(i => (1L, day(i),
        Option(100.0 + math.sin(i) * 7.31 + i * 0.013))) ++
      (1 to 7).map(i => (2L, d(f"2024-02-${i}%02d"), Option(50.0 / i))) ++
      Seq((3L, d("2024-03-01"), Option(10.0)), (3L, d("2024-03-02"), None),
        (3L, d("2024-03-03"), Option(12.0)))
    val bars = rows.toDF("user_id", "date", "close")
    val spans = Seq(3, 12)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("user_id"), r.getAs[Date]("date"))
    val a = IndicatorReference.withEma(bars, spans).collect().map(r => key(r) -> r).toMap
    val b = Indicators.withEma(bars, spans).collect()
    assert(b.length == rows.length && a.size == rows.length)
    b.foreach { r =>
      val exp = a(key(r))
      spans.foreach { sp =>
        val c = s"ema_$sp"
        val (en, bn) = (exp.isNullAt(exp.fieldIndex(c)), r.isNullAt(r.fieldIndex(c)))
        assert(en == bn, s"$c null mismatch at ${key(r)}")
        if (!en) assert(
          java.lang.Double.doubleToLongBits(exp.getAs[Double](c)) ==
            java.lang.Double.doubleToLongBits(r.getAs[Double](c)),
          s"$c not bit-equal at ${key(r)}: ${exp.getAs[Double](c)} vs ${r.getAs[Double](c)}")
      }
    }
    // key 3: null close at row 2 poisons both folds from that row on
    assert(a((3L, d("2024-03-03"))).isNullAt(a((3L, d("2024-03-03"))).fieldIndex("ema_3")))
    // one row out per bar in, ten bars of one key
    assert(Indicators.withEma(barsOf((1 to 10).map(_.toDouble)), Seq(3)).count() == 10)
  }

  test("streaming EMA matches the array fold on the real bar pipeline") {
    // The fixture test proves bit-equality on hand data; this one runs
    // both folds over the actual cleaned-events bar pipeline (150 keys,
    // multi-partition), where each partition holds many keys and the
    // exec's state resets at every key boundary.
    val bars = operators.Bars.daily(operators.Cleaning.cleanEvents(
      graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
    val spans = Seq(5, 12)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("user_id"), r.getAs[Date]("date"))
    val a = IndicatorReference.withEma(bars, spans).collect().map(r => key(r) -> r).toMap
    val b = Indicators.withEma(bars, spans).collect()
    assert(b.nonEmpty && b.length == a.size)
    b.foreach { r =>
      val exp = a(key(r))
      spans.foreach { sp =>
        val c = s"ema_$sp"
        val (en, bn) = (exp.isNullAt(exp.fieldIndex(c)), r.isNullAt(r.fieldIndex(c)))
        assert(en == bn, s"$c null mismatch at ${key(r)}")
        if (!en) assert(
          java.lang.Double.doubleToLongBits(exp.getAs[Double](c)) ==
            java.lang.Double.doubleToLongBits(r.getAs[Double](c)),
          s"$c not bit-equal at ${key(r)}")
      }
    }
  }

  test("MACD: fast/slow EMA difference, signal seeded at first valid macd") {
    val closes = Seq(10.0, 11.0, 12.0, 13.0, 14.0)
    val macdFull = ewm(closes, 2).zip(ewm(closes, 3)).map { case (f, s) => f - s }
    val sigFull = ewm(macdFull.drop(2), 2) // seeded at the first unmasked macd
    val df = Indicators.withMacd(barsOf(closes), fast = 2, slow = 3, sig = 2)
    val macd = col1(df, "macd")
    val sig = col1(df, "macd_signal")
    val hist = col1(df, "macd_hist")
    assert(macd.take(2).forall(_.isEmpty) && sig.take(3).forall(_.isEmpty))
    (2 until 5).foreach(i => assert(math.abs(macd(i).get - macdFull(i)) < 1e-12))
    (3 until 5).foreach { i =>
      assert(math.abs(sig(i).get - sigFull(i - 2)) < 1e-12)
      assert(math.abs(hist(i).get - (macdFull(i) - sigFull(i - 2))) < 1e-12)
    }
  }

  test("MACD: a key shorter than the slow span is null, longer keys unchanged") {
    // A newly listed symbol (5 bars) next to a 30-bar one, at the daily
    // pipeline's (5, 10, 4): the short key has no unmasked macd to seed
    // the signal, so all three columns are null (pandas semantics).
    def series(uid: Long, n: Int) = (0 until n).map { i =>
      (uid, Date.valueOf(d("2024-01-01").toLocalDate.plusDays(i)), 10.0 + math.sin(i * 0.7) + i * 0.1)
    }.toDF("user_id", "date", "close")
    val long = series(2L, 30)
    val mixed = series(1L, 5).union(long)
    val cols = Seq("macd", "macd_signal", "macd_hist")
    def rows(df: DataFrame, uid: Long) =
      df.filter($"user_id" === uid).orderBy("date").select("date", cols: _*).collect().toSeq
    val out = Indicators.withMacd(mixed, fast = 5, slow = 10, sig = 4)
    val short = rows(out, 1L)
    assert(short.length == 5 && short.forall(r => cols.indices.forall(i => r.isNullAt(i + 1))),
      s"short key must be all-null: $short")
    assert(rows(out, 2L) == rows(Indicators.withMacd(long, fast = 5, slow = 10, sig = 4), 2L),
      "the long key must be bit-identical with or without the short key")
    assert(rows(out, 2L).count(r => !r.isNullAt(2)) == 30 - (10 + 4 - 2))
  }

  test("SMA gates on min_periods and RSI uses rolling-mean gains/losses") {
    val sma = col1(Indicators.withSma(barsOf(Seq(10.0, 12.0, 14.0)), Seq(2)), "ma_2")
    assert(sma == Seq(None, Some(11.0), Some(13.0)))
    val rsi = col1(Indicators.withRsi(barsOf(Seq(10.0, 12.0, 11.0, 13.0)), 2), "rsi")
    assert(rsi.take(2).forall(_.isEmpty), "needs p deltas")
    // gains (2,0) losses (0,1): rs=2 → rsi = 100 − 100/3
    assert(math.abs(rsi(2).get - (100.0 - 100.0 / 3)) < 1e-12)
  }

  test("ATR first bar uses high−low; OBV accumulates signed volume") {
    val bars = Seq(
      (1L, d("2024-01-01"), 10.0, 11.0, 9.0, 5L),
      (1L, d("2024-01-02"), 12.0, 13.0, 10.0, 3L),
      (1L, d("2024-01-03"), 11.0, 12.5, 10.5, 4L)
    ).toDF("user_id", "date", "close", "high", "low", "volume")
    val atr = Indicators.withAtr(bars, 2)
    val tr2 = math.max(13.0 - 10.0, math.max(math.abs(13.0 - 10.0), math.abs(10.0 - 10.0)))
    val atr2 = col1(atr, "atr")(1)
    assert(math.abs(atr2.get - ((11.0 - 9.0) + tr2) / 2) < 1e-12)
    val obv = col1(Indicators.withVolumeMetrics(bars), "obv")
    assert(obv == Seq(Some(0.0), Some(3.0), Some(-1.0)), "0, +3 (up), 3−4 (down)")
  }

  test("returns: daily pct, cumulative seeded null, momentum horizons") {
    val df = Indicators.withReturns(barsOf(Seq(10.0, 11.0, 12.1)), Seq(2))
    val pct = col1(df, "daily_return_pct")
    assert(pct(0).isEmpty && math.abs(pct(1).get - 0.1) < 1e-12)
    val cum = col1(df, "cumulative_return")
    assert(cum(0).isEmpty && math.abs(cum(2).get - 0.21) < 1e-12)
    val m2 = col1(df, "momentum_2")
    assert(m2.take(2).forall(_.isEmpty) && math.abs(m2(2).get - 0.21) < 1e-12)
  }

  test("feature matrix: leakage-safe — a future bar mutation moves only the label") {
    // 30 daily bars, one key; closes vary so no division degenerates.
    def mk(closes: Seq[Double]) =
      closes.zipWithIndex.map { case (c, i) =>
        (1L, d(f"2024-01-${i + 1}%02d"), c, 100L + i)
      }.toDF("user_id", "date", "close", "volume")
    val closes = (1 to 30).map(i => 100.0 + 3 * math.sin(i) + i * 0.5)
    val a = graft.operators.Features.featureMatrix(mk(closes))
      .orderBy("date").collect()
    // Warmup: ret_1 needs 2 bars, mom_5 needs 6, ma/vol need 20, vol_20
    // needs 21 (20 returns); label needs a next bar → rows are days
    // 21..29.
    assert(a.length == 9)
    assert(a.head.getAs[Date]("date") == d("2024-01-21"))
    // Mutate ONLY the last close: every feature row before day 29 must
    // be bit-identical; day 29's label (and nothing else of day 29)
    // moves.
    val b = graft.operators.Features.featureMatrix(
      mk(closes.init :+ (closes.last + 50.0))).orderBy("date").collect()
    assert(b.length == 9)
    a.init.zip(b.init).foreach { case (x, y) => assert(x == y) }
    val (x29, y29) = (a.last, b.last)
    Seq("ret_1", "mom_5", "dist_ma_5", "dist_ma_20", "vol_20", "volume_ratio")
      .foreach(c => assert(x29.getAs[Double](c) == y29.getAs[Double](c), c))
    assert(x29.getAs[Double]("label_fwd") != y29.getAs[Double]("label_fwd"))
  }
}
