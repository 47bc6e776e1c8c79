package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Sessionize, WindowedAggs}

class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed aggs finalize watermarked event-time windows (append mode)") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = WindowedAggs.userWindows(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("winagg").outputMode("append").start()
    try {
      // Window [10:00, 11:00) for user 1.
      input.addData((ts("2024-01-01 10:00:00"), 1L, 10.0),
        (ts("2024-01-01 10:30:00"), 1L, 20.0))
      query.processAllAvailable()
      // Advance event time well past the window, then once more so the
      // post-batch watermark update finalizes [10:00, 11:00).
      input.addData((ts("2024-01-01 13:00:00"), 1L, 30.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), 1L, 40.0))
      query.processAllAvailable()
      val out = spark.table("winagg").collect()
      assert(out.nonEmpty, "finalized window should be emitted")
      val w1 = out.find(_.getAs[Long]("n_events") == 2L)
      assert(w1.isDefined, s"expected the 2-event window, got ${out.mkString(";")}")
      assert(w1.get.getAs[Double]("avg_value") == 15.0)
      assert(w1.get.getAs[Double]("min_value") == 10.0)
      assert(w1.get.getAs[Double]("max_value") == 20.0)
    } finally query.stop()
  }

  test("streaming quality counters match the batch plan once finalized") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = WindowedAggs.qualityCounters(events, "1 day", "1 hour")
      .writeStream.format("memory").queryName("qual").outputMode("append").start()
    try {
      val day1 = Seq(
        (ts("2024-01-01 10:00:00"), 1L, 5.0),
        (ts("2024-01-01 10:00:00"), 1L, 6.0),  // dup ts
        (ts("2024-01-01 11:00:00"), 1L, -1.0), // non-positive
        (ts("2024-01-01 12:00:00"), 1L, 7.0))
      input.addData(day1: _*)
      query.processAllAvailable()
      // Push the watermark past day 1 (twice: post-batch watermark update).
      input.addData((ts("2024-01-03 12:00:00"), 1L, 8.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-04 12:00:00"), 1L, 9.0))
      query.processAllAvailable()
      val out = spark.table("qual").collect()
        .filter(_.getAs[Timestamp]("day") == ts("2024-01-01 00:00:00"))
      assert(out.length == 1, s"day-1 window should finalize once, got ${out.length}")
      val r = out.head
      assert(r.getAs[Long]("n_rows") == 4L)
      assert(r.getAs[Long]("n_nonpos_value") == 1L)
      assert(r.getAs[Long]("n_null_value") == 0L)
      assert(r.getAs[Long]("n_dup_ts_est") == 1L, "HLL is exact at 3 distinct ts")
      assert(r.getAs[Timestamp]("last_ts") == ts("2024-01-01 12:00:00"))
      // Batch parity: the SAME plan on a static frame, same counters.
      val batch = WindowedAggs.qualityCounters(
          day1.toDF("ts", "user_id", "value"), "1 day", "1 hour")
        .collect().head
      assert(batch.getAs[Long]("n_rows") == 4L &&
        batch.getAs[Long]("n_dup_ts_est") == 1L &&
        batch.getAs[Long]("n_nonpos_value") == 1L)
    } finally query.stop()
  }

  test("streaming OHLCV bars agree with the batch resampler once finalized") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = WindowedAggs.ohlcvBars(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("sbars").outputMode("append").start()
    val batchRows = Seq(
      (ts("2024-01-01 10:05:00"), 1L, 12.0),
      (ts("2024-01-01 10:20:00"), 1L, 15.0),
      (ts("2024-01-01 10:40:00"), 1L, 9.0),
      (ts("2024-01-01 10:55:00"), 1L, 11.0))
    try {
      input.addData(batchRows: _*)
      query.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), 1L, 30.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), 1L, 40.0))
      query.processAllAvailable()
      val streamed = spark.table("sbars")
        .filter($"bucket_start" === ts("2024-01-01 10:00:00")).collect()
      assert(streamed.length == 1, s"one finalized bar expected")
      val batch = graft.operators.Bars.resample(
        batchRows.toDF("ts", "user_id", "value"), "1 hour").collect().head
      val s = streamed.head
      for (c <- Seq("open", "high", "low", "close", "vwap"))
        assert(s.getAs[Double](c) == batch.getAs[Double](c), s"$c differs from batch")
      assert(s.getAs[Long]("volume") == batch.getAs[Long]("volume"))
      assert(s.getAs[Double]("open") == 12.0 && s.getAs[Double]("close") == 11.0)
    } finally query.stop()
  }

  test("streaming sessionize emits closed sessions on gap, keeps open state") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[Sessionize.Event]
    val query = Sessionize.sessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 10:10:00"), 2.0),
        Sessionize.Event(2L, ts("2024-01-01 10:00:00"), 3.0))
      query.processAllAvailable()
      assert(spark.table("sessions").isEmpty, "no gap proven yet — nothing closes")
      // 80-minute gap for user 1 closes their first session; user 2 stays open.
      input.addData(Sessionize.Event(1L, ts("2024-01-01 11:30:00"), 4.0))
      query.processAllAvailable()
      val out = spark.table("sessions").collect()
      assert(out.length == 1)
      val s = out.head
      assert(s.getAs[Long]("user_id") == 1L)
      assert(s.getAs[Timestamp]("session_start") == ts("2024-01-01 10:00:00"))
      assert(s.getAs[Timestamp]("session_end") == ts("2024-01-01 10:10:00"))
      assert(s.getAs[Long]("n_events") == 2L)
      assert(s.getAs[Double]("duration_sec") == 600.0)
    } finally query.stop()
  }

  test("event-time timeout flushes the terminal session without a successor event") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[Sessionize.Event]
    val query = Sessionize.sessionsWithTimeout(input.toDS(), gapMinutes = 30,
      watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sess_timeout").outputMode("append").start()
    try {
      input.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 10:10:00"), 2.0))
      query.processAllAvailable()
      assert(spark.table("sess_timeout").isEmpty)
      // ANOTHER user's event drives the watermark past 10:10 + 30min gap;
      // user 1 never sends again. One more batch lets the post-batch
      // watermark trigger the timeout.
      input.addData(Sessionize.Event(2L, ts("2024-01-01 12:00:00"), 3.0))
      query.processAllAvailable()
      input.addData(Sessionize.Event(2L, ts("2024-01-01 12:01:00"), 4.0))
      query.processAllAvailable()
      val out = spark.table("sess_timeout").collect()
      assert(out.exists(r => r.getAs[Long]("user_id") == 1L &&
        r.getAs[Long]("n_events") == 2L &&
        r.getAs[Double]("duration_sec") == 600.0),
        s"user 1's terminal session must flush on watermark, got ${out.mkString(";")}")
    } finally query.stop()
  }

  test("advance() folds batches like the batch sessionizer") {
    val gap = Sessionize.gapUs(30)
    val evs = Seq(
      Sessionize.Event(7L, ts("2024-01-01 09:00:00"), 1.0),
      Sessionize.Event(7L, ts("2024-01-01 09:05:00"), 1.0),
      Sessionize.Event(7L, ts("2024-01-01 10:00:00"), 1.0))
    val (closed, open) = Sessionize.advance(None, evs, gap, 7L)
    assert(closed.length == 1)
    assert(closed.head.n_events == 2 && closed.head.duration_sec == 300.0)
    assert(open.exists(_.nEvents == 1))
    // Continuing within the gap extends the open session across batches.
    val (closed2, open2) = Sessionize.advance(open,
      Seq(Sessionize.Event(7L, ts("2024-01-01 10:20:00"), 1.0)), gap, 7L)
    assert(closed2.isEmpty && open2.exists(_.nEvents == 2))
  }

  test("streaming dedup drops duplicate (user, ts) across micro-batches") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val query = graft.streaming.StreamDedup.dedupEvents(events, "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L, 5.0),
        (ts("2024-01-01 10:00:00"), 1L, 7.0), // same key, same batch
        (ts("2024-01-01 10:01:00"), 1L, 8.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 10:00:00"), 1L, 9.0)) // dup, later batch
      query.processAllAvailable()
      val out = spark.table("dedup_stream").collect()
      assert(out.length == 2, s"expected 2 unique (user, ts), got ${out.length}")
      assert(out.map(_.getAs[Double]("value")).toSet.intersect(Set(9.0)).isEmpty,
        "cross-batch duplicate must be dropped by state")
    } finally query.stop()
  }

  test("streaming document dedup: content-keyed state evicts within watermark") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ingest_ts", "doc_id", "text")
    val query = graft.streaming.StreamDedup.dedupDocuments(docs, "1 hour")
      .writeStream.format("memory").queryName("docdedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "alpha"),
        (ts("2024-01-01 10:00:30"), 2L, "alpha"), // same-batch content dup
        (ts("2024-01-01 10:01:00"), 3L, "beta"))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 10:20:00"), 4L, "alpha")) // cross-batch dup
      query.processAllAvailable()
      val out = spark.table("docdedup_stream").collect()
      assert(out.map(_.getAs[String]("text")).sorted.toSeq == Seq("alpha", "beta"),
        s"expected one row per content within the horizon, got ${out.toSeq}")
      assert(out.filter(_.getAs[String]("text") == "alpha")
        .forall(_.getAs[Long]("doc_id") == 1L),
        "first occurrence wins on a content-keyed stream")
    } finally query.stop()
  }

  test("streaming indicators: EMA/SMA recursion across batches, stragglers dropped") {
    import graft.streaming.StreamIndicators
    import graft.streaming.StreamIndicators.Bar
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Bar]
    val query = StreamIndicators.smaEma(input.toDS(), p = 3, span = 3)
      .writeStream.format("memory").queryName("sind").outputMode("append").start()
    try {
      // α = 0.5; closes exact in binary so SMA sum order cannot matter.
      input.addData(Bar(1L, ts("2024-01-01 00:00:00"), 10.0),
        Bar(1L, ts("2024-01-02 00:00:00"), 20.0))
      query.processAllAvailable()
      input.addData(Bar(1L, ts("2024-01-03 00:00:00"), 30.0),
        Bar(1L, ts("2024-01-04 00:00:00"), 28.0))
      query.processAllAvailable()
      // Straggler BEHIND folded state: must be dropped, not retro-fitted.
      input.addData(Bar(1L, ts("2024-01-02 12:00:00"), 999.0))
      query.processAllAvailable()
      input.addData(Bar(1L, ts("2024-01-05 00:00:00"), 17.0))
      query.processAllAvailable()
      val out = spark.table("sind").collect()
        .map(r => (r.getAs[Timestamp]("ts"), r.getAs[Double]("close"),
          Option(r.getAs[java.lang.Double]("sma")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("ema")).map(_.doubleValue)))
        .sortBy(_._1.getTime)
      assert(!out.exists(_._2 == 999.0), "sub-state straggler must be dropped")
      assert(out.map(t => (t._3, t._4)).toSeq == Seq(
        (None, None), (None, None),
        (Some(20.0), Some(22.5)),             // e3 = .5·30 + .5·15
        (Some(26.0), Some(25.25)),
        (Some(25.0), Some(21.125))))          // window (30,28,17); recursion intact
      // Batch parity: the identical recursion via the fold/window plan.
      import spark.implicits._
      val bars = Seq(("2024-01-01", 10.0), ("2024-01-02", 20.0),
        ("2024-01-03", 30.0), ("2024-01-04", 28.0), ("2024-01-05", 17.0))
        .map { case (d, c) => (1L, java.sql.Date.valueOf(d), c) }
        .toDF("user_id", "date", "close")
      val batch = graft.operators.Indicators.withEma(
          graft.operators.Indicators.withSma(bars, Seq(3)), Seq(3))
        .orderBy("date").collect()
        .map(r => (Option(r.getAs[java.lang.Double]("ma_3")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("ema_3")).map(_.doubleValue)))
      assert(out.map(t => (t._3, t._4)).toSeq == batch.toSeq,
        "streaming recursion must equal the batch fold/window plan")
    } finally query.stop()
  }

  test("streaming SMA bit-equals batch on non-binary-exact prices") {
    // 0.1 + 0.2 + 0.3 summed newest-first vs oldest-first differ in the
    // last ulp — this pins the window fold to the batch frame order.
    import graft.streaming.StreamIndicators
    import graft.streaming.StreamIndicators.Bar
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val closes = Seq(0.1, 0.2, 0.3, 0.4, 0.57)
    val input = MemoryStream[Bar]
    val query = StreamIndicators.smaEma(input.toDS(), p = 3, span = 3)
      .writeStream.format("memory").queryName("sdec").outputMode("append").start()
    try {
      input.addData(closes.zipWithIndex.map { case (c, i) =>
        Bar(1L, ts(f"2024-01-${i + 1}%02d 00:00:00"), c) })
      query.processAllAvailable()
      val streamed = spark.table("sdec").collect()
        .map(r => r.getAs[Timestamp]("ts").getTime ->
          Option(r.getAs[java.lang.Double]("sma")).map(_.doubleValue))
        .sortBy(_._1).map(_._2)
      val batch = graft.operators.Indicators.withSma(
          closes.zipWithIndex.map { case (c, i) =>
            (1L, java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), c) }
            .toDF("user_id", "date", "close"), Seq(3))
        .orderBy("date").collect()
        .map(r => Option(r.getAs[java.lang.Double]("ma_3")).map(_.doubleValue))
      assert(streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
    } finally query.stop()
  }

  test("streaming MACD/RSI equal the batch plan row-for-row") {
    import graft.streaming.StreamIndicators
    import graft.streaming.StreamIndicators.Bar
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val closes = Seq(10.0, 20.0, 30.0, 28.0, 17.0, 24.0, 16.0, 20.0)
    val input = MemoryStream[Bar]
    val query = StreamIndicators.macdRsi(input.toDS(),
        fast = 2, slow = 3, sig = 2, rsiP = 3)
      .writeStream.format("memory").queryName("smacd").outputMode("append").start()
    try {
      val bars = closes.zipWithIndex.map { case (c, i) =>
        Bar(1L, ts(f"2024-01-${i + 1}%02d 00:00:00"), c) }
      // Two chronological chunks — state must carry across batches.
      input.addData(bars.take(3))
      query.processAllAvailable()
      input.addData(bars.drop(3))
      query.processAllAvailable()
      val streamed = spark.table("smacd").collect()
        .map(r => (r.getAs[Timestamp]("ts").getTime,
          (Option(r.getAs[java.lang.Double]("macd")).map(_.doubleValue),
           Option(r.getAs[java.lang.Double]("macd_signal")).map(_.doubleValue),
           Option(r.getAs[java.lang.Double]("macd_hist")).map(_.doubleValue),
           Option(r.getAs[java.lang.Double]("rsi")).map(_.doubleValue),
           r.getAs[String]("rsi_signal"))))
        .sortBy(_._1).map(_._2)
      val batchDf = closes.zipWithIndex.map { case (c, i) =>
        (1L, java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), c) }
        .toDF("user_id", "date", "close")
      val batch = graft.operators.Indicators.withRsi(
          graft.operators.Indicators.withMacd(batchDf, 2, 3, 2), 3)
        .orderBy("date").collect()
        .map(r => (Option(r.getAs[java.lang.Double]("macd")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("macd_signal")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("macd_hist")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("rsi")).map(_.doubleValue),
          r.getAs[String]("rsi_signal")))
      assert(streamed.toSeq == batch.toSeq,
        s"streamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
      // Nullability contract: macd from bar 3, signal from bar 4, rsi
      // from bar 4 (3 deltas).
      assert(streamed(1)._1.isEmpty && streamed(2)._1.isDefined)
      assert(streamed(2)._2.isEmpty && streamed(3)._2.isDefined)
      assert(streamed(2)._4.isEmpty && streamed(3)._4.isDefined)
    } finally query.stop()
  }

  test("streaming breadth finalizes windows matching the batch daily counts") {
    import graft.streaming.StreamBreadth
    import graft.streaming.StreamIndicators.Bar
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Bar]
    val query = StreamBreadth.breadth(input.toDS(), "1 day", "10 minutes")
      .writeStream.format("memory").queryName("sbreadth").outputMode("append").start()
    try {
      input.addData(                                   // day 1: first bars only
        Bar(1L, ts("2024-01-01 12:00:00"), 10.0),
        Bar(2L, ts("2024-01-01 12:00:00"), 20.0),
        Bar(3L, ts("2024-01-01 12:00:00"), 30.0))
      query.processAllAvailable()
      input.addData(                                   // day 2: +, −, 0
        Bar(1L, ts("2024-01-02 12:00:00"), 11.0),
        Bar(2L, ts("2024-01-02 12:00:00"), 19.0),
        Bar(3L, ts("2024-01-02 12:00:00"), 30.0))
      query.processAllAvailable()
      input.addData(                                   // day 3: +, +, −
        Bar(1L, ts("2024-01-03 12:00:00"), 12.0),
        Bar(2L, ts("2024-01-03 12:00:00"), 21.0),
        Bar(3L, ts("2024-01-03 12:00:00"), 29.0))
      query.processAllAvailable()
      // Far-future bars advance the watermark past days 2–3; twice so
      // the post-batch watermark update finalizes them.
      input.addData(Bar(1L, ts("2024-01-10 00:00:00"), 1.0))
      query.processAllAvailable()
      input.addData(Bar(1L, ts("2024-01-11 00:00:00"), 1.0))
      query.processAllAvailable()
      val rows = spark.table("sbreadth").collect()
        .map(r => r.getAs[Timestamp]("bucket_start") ->
          (r.getAs[Long]("advancers"), r.getAs[Long]("decliners"),
           r.getAs[Long]("unchanged"), r.getAs[Long]("total_issues"),
           r.getAs[Double]("breadth_percent"), r.getAs[Double]("adv_dec_ratio")))
        .toMap
      assert(!rows.contains(ts("2024-01-01 00:00:00")),
        "first bars carry no direction — no day-1 window")
      assert(rows(ts("2024-01-02 00:00:00")) == ((1L, 1L, 1L, 3L, 0.0, 1.0)))
      val d3 = rows(ts("2024-01-03 00:00:00"))
      assert((d3._1, d3._2, d3._3, d3._4, d3._6) == ((2L, 1L, 0L, 3L, 2.0)))
      // Batch parity on the shared columns for day 2 and 3.
      val bars = Seq(
        (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-01", 30.0),
        (1L, "2024-01-02", 11.0), (2L, "2024-01-02", 19.0), (3L, "2024-01-02", 30.0),
        (1L, "2024-01-03", 12.0), (2L, "2024-01-03", 21.0), (3L, "2024-01-03", 29.0))
        .map { case (u, d, c) => (u, java.sql.Date.valueOf(d), c) }
        .toDF("user_id", "date", "close")
      val batch = graft.operators.Breadth.breadthDaily(bars)
        .filter($"date" > java.sql.Date.valueOf("2024-01-01"))
        .orderBy("date").collect()
        .map(r => (r.getAs[Long]("advancers"), r.getAs[Long]("decliners"),
          r.getAs[Long]("unchanged"), r.getAs[Long]("total_issues"),
          r.getAs[Double]("breadth_percent"), r.getAs[Double]("adv_dec_ratio")))
      val streamed = Seq(rows(ts("2024-01-02 00:00:00")), rows(ts("2024-01-03 00:00:00")))
      assert(streamed == batch.toSeq,
        s"streamed=$streamed batch=${batch.toSeq}")
    } finally query.stop()
  }

  test("streaming top movers: bounded per-window ranking via the custom aggregate") {
    import graft.streaming.StreamBreadth
    import graft.streaming.StreamIndicators.Bar
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Bar]
    val query = StreamBreadth.topMovers(input.toDS(), k = 2, "1 day", "10 minutes")
      .writeStream.format("memory").queryName("smovers").outputMode("append").start()
    try {
      input.addData(
        Bar(1L, ts("2024-01-01 12:00:00"), 10.0),
        Bar(2L, ts("2024-01-01 12:00:00"), 20.0),
        Bar(3L, ts("2024-01-01 12:00:00"), 30.0),
        Bar(4L, ts("2024-01-01 12:00:00"), 40.0))
      query.processAllAvailable()
      input.addData(                       // day-2 returns: +10%, −5%, +20%, 0%
        Bar(1L, ts("2024-01-02 12:00:00"), 11.0),
        Bar(2L, ts("2024-01-02 12:00:00"), 19.0),
        Bar(3L, ts("2024-01-02 12:00:00"), 36.0),
        Bar(4L, ts("2024-01-02 12:00:00"), 40.0))
      query.processAllAvailable()
      input.addData(Bar(1L, ts("2024-01-10 00:00:00"), 1.0))
      query.processAllAvailable()
      input.addData(Bar(1L, ts("2024-01-11 00:00:00"), 1.0))
      query.processAllAvailable()
      val rows = spark.table("smovers").collect()
        .map(r => r.getAs[java.sql.Timestamp]("bucket_start") ->
          (r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getDouble(1))),
           r.getSeq[org.apache.spark.sql.Row](2).map(x => (x.getLong(0), x.getDouble(1)))))
        .toMap
      val (gainers, losers) = rows(ts("2024-01-02 00:00:00"))
      assert(gainers.map(_._1) == Seq(3L, 1L), s"top gainers 3 then 1, got $gainers")
      assert(math.abs(gainers.head._2 - 20.0) < 1e-9)
      assert(losers.map(_._1) == Seq(2L, 4L), s"worst 2 then 4, got $losers")
      assert(math.abs(losers.head._2 - (-5.0)) < 1e-9)
    } finally query.stop()
  }

  test("streaming as-of enrich: latest quote per trade, O(1) state, ties inclusive") {
    import graft.streaming.StreamAsOf
    import graft.streaming.StreamAsOf.Tagged
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Tagged]
    val query = StreamAsOf.enrich(input.toDS())
      .writeStream.format("memory").queryName("sasof").outputMode("append").start()
    try {
      input.addData(
        Tagged(1L, ts("2024-01-01 10:00:00"), 1, 500.0),  // trade before any quote
        Tagged(1L, ts("2024-01-01 10:01:00"), 0, 10.0),   // quote
        Tagged(1L, ts("2024-01-01 10:02:00"), 1, 501.0))  // trade → quote 10.0
      query.processAllAvailable()
      input.addData(
        Tagged(1L, ts("2024-01-01 10:03:00"), 0, 11.0),
        Tagged(1L, ts("2024-01-01 10:03:00"), 1, 502.0),  // tie → quote 11.0
        Tagged(2L, ts("2024-01-01 10:00:00"), 1, 900.0))  // other key, no quote
      query.processAllAvailable()
      // Quote straggler older than folded state must NOT retro-match.
      input.addData(
        Tagged(1L, ts("2024-01-01 10:02:30"), 0, 99.0),
        Tagged(1L, ts("2024-01-01 10:04:00"), 1, 503.0))  // still quote 11.0
      query.processAllAvailable()
      val out = spark.table("sasof").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value"),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
        .sortBy(t => (t._1, t._2))
      assert(out.toSeq == Seq(
        (1L, 500.0, None),
        (1L, 501.0, Some(10.0)),
        (1L, 502.0, Some(11.0)),
        (1L, 503.0, Some(11.0)),
        (2L, 900.0, None)))
    } finally query.stop()
  }

  test("streaming as-of folds at µs grain: same-ms ordering and µs-exact match time") {
    import graft.streaming.StreamAsOf
    import graft.streaming.StreamAsOf.Tagged
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    // Events carry µs timestamps; a Timestamp.getTime (ms) fold ordered
    // same-millisecond quote/trade pairs by SIDE and truncated the
    // emitted match time (the r10 fix — the stream_sessionize defect
    // class). All three events share one millisecond here.
    def tsUs(us: Int): java.sql.Timestamp = {
      val t = ts("2024-01-01 10:00:00"); t.setNanos(us * 1000); t
    }
    val input = MemoryStream[Tagged]
    val query = StreamAsOf.enrich(input.toDS())
      .writeStream.format("memory").queryName("sasof_us").outputMode("append").start()
    try {
      input.addData(
        Tagged(1L, tsUs(300), 1, 500.0), // trade 300µs — BEFORE the quote
        Tagged(1L, tsUs(400), 0, 10.0),  // quote 400µs
        Tagged(1L, tsUs(500), 1, 501.0)) // trade 500µs — matches, µs-exact
      query.processAllAvailable()
      val out = spark.table("sasof_us").collect()
        .map(r => (r.getAs[Double]("value"),
          Option(r.getAs[java.sql.Timestamp]("asof_ts")),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
        .sortBy(_._1)
      // the 300µs trade must NOT see the 400µs quote (an ms fold
      // matched it: equal getTime, quote-first tie-break)…
      assert(out(0) == ((500.0, None, None)), out.mkString(";"))
      // …and the 500µs trade's match time keeps its microseconds.
      assert(out(1)._3 == Some(10.0))
      assert(out(1)._2.contains(tsUs(400)),
        s"asof_ts lost µs: ${out(1)._2} vs ${tsUs(400)}")
    } finally query.stop()
  }

  test("streaming as-of disorder: fresher late quotes accepted, late trades emit correct-or-stale") {
    import graft.streaming.StreamAsOf
    import graft.streaming.StreamAsOf.Tagged
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Tagged]
    val query = StreamAsOf.enrich(input.toDS())
      .writeStream.format("memory").queryName("sasof_late").outputMode("append").start()
    try {
      input.addData(
        Tagged(1L, ts("2024-01-01 10:00:00"), 0, 10.0),   // quote Q1
        Tagged(1L, ts("2024-01-01 10:05:00"), 1, 500.0))  // trade → 10.0
      query.processAllAvailable()
      // A quote older than the folded trade but FRESHER than the held
      // quote must replace state (ADVICE r5): future trades enrich
      // against it, not against stale Q1.
      input.addData(
        Tagged(1L, ts("2024-01-01 10:02:00"), 0, 11.0),   // late quote Q2
        Tagged(1L, ts("2024-01-01 10:06:00"), 1, 501.0))  // trade → 11.0
      query.processAllAvailable()
      // Late trades are never dropped (the batch twins enrich every
      // row): at-or-after the held quote they match it (correct-or-
      // stale); before it they emit unmatched — never a future quote.
      input.addData(
        Tagged(1L, ts("2024-01-01 10:03:00"), 1, 502.0),  // late, ≥ Q2 → 11.0
        Tagged(1L, ts("2024-01-01 10:01:00"), 1, 503.0))  // late, < Q2 → None
      query.processAllAvailable()
      val out = spark.table("sasof_late").collect()
        .map(r => (r.getAs[Double]("value"),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
        .sortBy(_._1)
      assert(out.toSeq == Seq(
        (500.0, Some(10.0)),
        (501.0, Some(11.0)),
        (502.0, Some(11.0)),
        (503.0, None)))
    } finally query.stop()
  }

  test("streaming as-of idle timeout expires held quotes past the watermark horizon") {
    import graft.streaming.StreamAsOf
    import graft.streaming.StreamAsOf.Tagged
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Tagged]
    val query = StreamAsOf.enrich(
        input.toDS().withWatermark("ts", "1 minute"),
        idleTimeout = Some(java.time.Duration.ofMinutes(5)))
      .writeStream.format("memory").queryName("sasof_ttl").outputMode("append").start()
    try {
      input.addData(Tagged(1L, ts("2024-01-01 10:00:00"), 0, 10.0))
      query.processAllAvailable()
      // Key 2 traffic advances the watermark (10:31 − 1 min = 10:30)
      // past key 1's (10:00 + 5 min) deadline → key 1's held quote
      // expires on the following trigger.
      input.addData(Tagged(2L, ts("2024-01-01 10:31:00"), 0, 99.0))
      query.processAllAvailable()
      // A key-1 trade after expiry (and ahead of the watermark, so not
      // itself dropped as late) starts from empty state: unmatched,
      // even though a quote at 10:00 preceded it.
      input.addData(Tagged(1L, ts("2024-01-01 10:45:00"), 1, 500.0))
      query.processAllAvailable()
      val out = spark.table("sasof_ttl").collect()
        .map(r => (r.getAs[Double]("value"),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
      assert(out.toSeq == Seq((500.0, None)))
    } finally query.stop()
  }

  test("streaming as-of: a late-only batch never shortens an armed idle deadline") {
    // Regression pin (round-6 review): the timer re-arm anchored on this
    // batch's newest event only, so a batch of late stragglers moved an
    // armed deadline EARLIER and expired fresh state. The deadline must
    // anchor on the held row too.
    import graft.streaming.StreamAsOf
    import graft.streaming.StreamAsOf.Tagged
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val input = MemoryStream[Tagged]
    val query = StreamAsOf.enrich(
        input.toDS().withWatermark("ts", "10 minutes"),
        idleTimeout = Some(java.time.Duration.ofMinutes(5)))
      .writeStream.format("memory").queryName("sasof_anchor").outputMode("append").start()
    try {
      // Quote at 10:00 arms key 1's deadline at 10:05.
      input.addData(Tagged(1L, ts("2024-01-01 10:00:00"), 0, 10.0))
      query.processAllAvailable()
      // A LATE trade (9:58, behind the held quote) re-arms the timer.
      // Anchored on the held row it stays 10:05; anchored on the batch
      // it would shrink to ~10:03. The trade emits with the 10:00 quote
      // unmatched for it (correct-or-stale: quote is newer than trade).
      input.addData(Tagged(1L, ts("2024-01-01 09:58:00"), 1, 100.0))
      query.processAllAvailable()
      // Key-2 traffic moves the watermark to 10:04 (10:14 − 10 min):
      // past a wrongly-shortened deadline, short of the correct 10:05.
      input.addData(Tagged(2L, ts("2024-01-01 10:14:00"), 0, 99.0))
      query.processAllAvailable()
      // A trade just after: the held quote MUST still be there.
      input.addData(Tagged(1L, ts("2024-01-01 10:04:30"), 1, 500.0))
      query.processAllAvailable()
      val out = spark.table("sasof_anchor").collect()
        .map(r => (r.getAs[Double]("value"),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
        .sortBy(_._1)
      assert(out.toSeq == Seq((100.0, None), (500.0, Some(10.0))), out.mkString(", "))
    } finally query.stop()
  }

  test("streaming and batch sessionize agree on the events table") {
    import spark.implicits._
    val sqlCtx = spark.sqlContext
    implicit val ctx = sqlCtx
    val clean = graft.operators.Cleaning
      .cleanEvents(graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
    val evs = clean.select($"user_id", $"ts", $"value").as[Sessionize.Event]
      .collect().sortBy(e => (e.user_id, e.ts.getTime))
    val input = MemoryStream[Sessionize.Event]
    val query = Sessionize.sessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_all").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      // A far-future event per user closes every real session.
      val flush = evs.map(_.user_id).distinct
        .map(u => Sessionize.Event(u, ts("2099-01-01 00:00:00"), 0.0))
      input.addData(flush.toSeq)
      query.processAllAvailable()
      // FULL-ROW parity, not just counts: the events table carries
      // MICROSECOND timestamps, so this also pins the µs-grain fold
      // (a ms-grain Timestamp.getTime fold truncates session bounds
      // and durations — the r9 finding the count-only form missed).
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"),
          math.round(r.getAs[Double]("duration_sec") * 1e6))
      val streamed = spark.table("sess_all").collect().map(key).toSet
      val batch = graft.operators.Analytics.sessionize(clean)
        .collect().map(key).toSet
      assert(streamed == batch,
        s"sessions differ: onlyStreamed=${(streamed -- batch).take(3)} " +
          s"onlyBatch=${(batch -- streamed).take(3)}")
    } finally query.stop()
  }

  test("stream range join: watermarked interval join equals the batch binned plan") {
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    // The batch spec's fixture, split into the two live streams.
    val clickRows = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),  // lag = window → in
      (2L, 1L, ts("2024-01-01 10:30:00")),  // straddles the bin edge
      (4L, 1L, ts("2024-01-01 11:00:00")),  // lag 0 → out (half-open)
      (5L, 2L, ts("2024-01-01 09:59:59")),  // 1s past window → out
      (7L, 3L, ts("2024-01-01 10:45:00")),  // other user → out
      (8L, 4L, ts("2024-01-01 10:10:00")))  // same-bin pair
    val purchaseRows = Seq(
      (3L, 1L, ts("2024-01-01 11:00:00")),
      (6L, 2L, ts("2024-01-01 11:00:00")),
      (9L, 4L, ts("2024-01-01 10:50:00")))
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    def shape(s: MemoryStream[(Long, Long, Timestamp)]) =
      s.toDF().toDF("event_id", "user_id", "ts")
    val joined = graft.streaming.StreamRangeJoin.attribution(
      shape(clicks), shape(purchases), windowSec = 3600L)
    val query = joined.writeStream.format("memory")
      .queryName("range_stream").outputMode("append").start()
    try {
      clicks.addData(clickRows: _*)
      purchases.addData(purchaseRows: _*)
      query.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("user_id"), r.getAs[Long]("right_id"),
          r.getAs[Long]("left_id"), r.getAs[Long]("lag_us"))
      // MULTISET comparison (sorted seq, not set): a duplicate
      // re-emission from the streaming side must fail the parity claim.
      val streamed = spark.table("range_stream").collect().map(key).toSeq.sorted
      // Batch twin on the union of the same events.
      val events = (clickRows.map { case (e, u, t) => (e, u, "click", t) } ++
        purchaseRows.map { case (e, u, t) => (e, u, "purchase", t) })
        .toDF("event_id", "user_id", "event_type", "ts")
      val batch = graft.operators.Analytics.rangeJoin(events, windowSec = 3600L)
        .collect().map(key).toSeq.sorted
      assert(streamed == batch && streamed.size == 3,
        s"streamed=$streamed batch=$batch")
    } finally query.stop()
  }

  test("html extraction is streaming-safe: the crawl front runs unchanged on a stream") {
    // Html.textCol/titleCol are stateless regex projections (the
    // gopher/normalize rule below), so live crawl ingest can extract
    // markup in-stream before the batch curation pass ever sees it.
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String)]
    val streamed = input.toDF().toDF("doc_id", "html")
      .select(col("doc_id"),
        graft.operators.Html.titleCol(col("html")).as("title"),
        graft.operators.Html.textCol(col("html")).as("text"))
    val query = streamed.writeStream.format("memory")
      .queryName("html_stream").outputMode("append").start()
    try {
      input.addData(
        1L -> "<html><head><title>T1</title><script>x()</script></head><body><p>alpha beta</p></body></html>",
        2L -> "plain &amp; simple",
        3L -> (null: String))
      query.processAllAvailable()
      val live = spark.table("html_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(live == Set(
        (1L, "T1", "alpha beta"),
        (2L, "", "plain & simple"),
        (3L, "", "")))
    } finally query.stop()
  }

  test("corpus signals are streaming-safe: gopher + normalize run unchanged on a stream") {
    // The round-8 quality signals are stateless projections — no
    // aggregation, no watermark, no state store — so the SAME operator
    // code must run under Structured Streaming and emit batch-identical
    // rows. This is the live-ingest quality gate: score documents as
    // they arrive, before the batch curation pass.
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val streamed = graft.operators.TextSignals.withGopher(
        docs.withColumn("norm_text",
          graft.operators.TextSignals.normalizeExpr(org.apache.spark.sql.functions.col("text"))))
      .select("doc_id", "n_words", "gopher_keep", "reasons", "norm_text")
    val query = streamed.writeStream.format("memory")
      .queryName("sig_stream").outputMode("append").start()
    try {
      val rows = Seq(
        5L -> "The cat sat on the mat and it is very big today",
        6L -> "  NOISY\tdoc  ",
        7L -> ("the of " + "x" * 35 + " and is here now ok"))
      input.addData(rows: _*)
      query.processAllAvailable()
      val live = spark.table("sig_stream").collect()
        .map(r => r.getLong(0) -> r).toMap
      // Batch twin on the same rows, same projection.
      val batch = graft.operators.TextSignals.withGopher(
          rows.toDF("doc_id", "text").withColumn("norm_text",
            graft.operators.TextSignals.normalizeExpr(org.apache.spark.sql.functions.col("text"))))
        .select("doc_id", "n_words", "gopher_keep", "reasons", "norm_text")
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(live.keySet == batch.keySet)
      live.keySet.foreach { id =>
        assert(live(id) == batch(id), s"doc $id diverged: ${live(id)} vs ${batch(id)}")
      }
      assert(live(5L).getAs[Boolean]("gopher_keep"))
      assert(!live(7L).getAs[Boolean]("gopher_keep"))
      assert(live(6L).getAs[String]("norm_text") == "noisy doc")
    } finally query.stop()
  }

  test("streaming decontamination gate flags leakage on ingest, batch-identical") {
    // The withContamination projection (literal bench gram set, no
    // join/aggregation/state) is the live-ingest decontamination gate:
    // the SAME operator code under readStream, append mode, emitting
    // batch-identical verdicts per arriving document.
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    import graft.operators.Dedup
    val benchDoc = "alpha beta gamma delta epsilon"
    val bench = Dedup.benchGramSet(
      Seq((0L, benchDoc)).toDF("doc_id", "text"))
    assert(bench.nonEmpty)
    val input = MemoryStream[(Long, String)]
    val gated = Dedup.withContamination(input.toDF().toDF("doc_id", "text"), bench)
    val query = gated.writeStream.format("memory")
      .queryName("decon_stream").outputMode("append").start()
    try {
      val rows = Seq(
        1L -> "x1 x2 alpha beta gamma delta x3", // shares one bench 4-gram
        2L -> "p q r s t u",                     // clean
        3L -> (null: String))                    // null text → clean row
      input.addData(rows: _*)
      query.processAllAvailable()
      val live = spark.table("decon_stream").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_hits"),
          r.getAs[Int]("is_contaminated"))).toSeq.sorted
      val batch = Dedup.withContamination(rows.toDF("doc_id", "text"), bench)
        .collect().map(r => (r.getLong(0), r.getAs[Long]("n_hits"),
          r.getAs[Int]("is_contaminated"))).toSeq.sorted
      assert(live == batch, s"live=$live batch=$batch")
      assert(live == Seq((1L, 1L, 1), (2L, 0L, 0), (3L, 0L, 0)), live.toString)
    } finally query.stop()
  }

  test("streaming FUZZY decontamination gate: row-equal to the batch join, live under append") {
    // r7 verdict item 7: decontaminateFuzzy's verdict as a stateless
    // projection against the two benchFuzzyArtifact literals — same
    // portable band family, same exact-Jaccard verify — so the batch
    // oracle carries transitively, and the identical operator runs
    // under readStream in append mode.
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    import graft.operators.Dedup
    val benchText = (1 to 40).map(i => s"tok$i").mkString(" ")      // doc 0 = bench
    val nearDup = benchText.replace("tok7", "changed")              // J ≈ 0.85
    val unrelated = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val corpus = Seq(
      (0L, benchText), (1L, nearDup), (2L, unrelated), (3L, "a b"))
      .map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val (keys, shingles) = Dedup.benchFuzzyArtifact(corpus)
    assert(keys.nonEmpty && shingles.length == 1)
    // Row-equality with the batch join on the non-bench rows (bench
    // docs self-hit in the projection, by documented contract).
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bench_matches"),
        r.getAs[Double]("best_jaccard"), Option(r.getAs[java.lang.Long]("best_bench_id")),
        r.getAs[Int]("is_contaminated"))).toSeq.sortBy(_._1)
    val proj = verdicts(Dedup.withContaminationFuzzy(corpus, keys, shingles)
      .filter($"doc_id" % 20 =!= 0))
    val batch = verdicts(Dedup.decontaminateFuzzy(corpus))
    assert(proj == batch, s"proj=$proj batch=$batch")
    assert(proj.map(v => (v._1, v._5)) == Seq((1L, 1), (2L, 0), (3L, 0)), proj.toString)
    assert(proj.head._4.contains(0L) && proj.head._3 > 0.8, proj.head.toString)
    // The same operator, streaming: verdicts as documents land.
    val input = MemoryStream[(Long, String)]
    val gated = Dedup.withContaminationFuzzy(
      input.toDF().toDF("doc_id", "text"), keys, shingles)
    val query = gated.writeStream.format("memory")
      .queryName("fuzzy_decon_stream").outputMode("append").start()
    try {
      input.addData(1L -> nearDup, 2L -> unrelated, 3L -> (null: String))
      query.processAllAvailable()
      val live = spark.table("fuzzy_decon_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bench_matches"),
          r.getAs[Int]("is_contaminated"))).toSeq.sorted
      assert(live == Seq((1L, 1L, 1), (2L, 0L, 0), (3L, 0L, 0)), live.toString)
    } finally query.stop()
  }

  test("streaming topic routing: kmeans assignment batch-identical under append") {
    // #49i: assignCell with a precomputed kmeansFit artifact is a
    // stateless projection (literal centroids, no join/agg/state) —
    // the identical operator routes arriving embeddings to topic
    // cells; the fit stays a batch job.
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(9f, 0f), 0),
      (3L, Array(1f, 2f), 0), (4L, Array(9f, 2f), 0),
      (5L, Array(1f, 4f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansFit(corpus, k = 2, iters = 2)
    val input = MemoryStream[(Long, Array[Float])]
    val routed = Similarity.kmeansAssign(
      input.toDF().toDF("vec_id", "embedding"), cents)
    val query = routed.writeStream.format("memory")
      .queryName("kmeans_route_stream").outputMode("append").start()
    try {
      val arriving = Seq(6L -> Array(0f, 3f), 7L -> Array(10f, 1f),
        8L -> Array(0f, 0f)) // zero-norm → dropped, the batch rule
      input.addData(arriving: _*)
      query.processAllAvailable()
      val live = spark.table("kmeans_route_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sorted
      val batch = Similarity.kmeansAssign(
        arriving.map { case (id, v) => (id, v, 0) }
          .toDF("vec_id", "embedding", "label"), cents)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sorted
      assert(live == batch, s"live=$live batch=$batch")
      // (0,3)→c0=(1,2): 1+1=2; (10,1)→c1=(9,1): 1+0=1; zero-norm absent
      assert(live == Seq((6L, 0, 2.0), (7L, 1, 1.0)), live.toString)
    } finally query.stop()
  }

  test("streaming BPE segmentation: trained-artifact tokenize batch-identical under append") {
    // #49j: Bpe.tokenize with a precomputed merge table is a stateless
    // projection (the merges fold into one nested column expression —
    // no join, no agg, no state), so the identical operator segments
    // documents as they land; training stays a batch job, exactly the
    // kmeansAssign fit/route split. tokenizeByVocab is the corpus-batch
    // twin (distinct+join+groupBy — not append-safe by construction).
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    import graft.operators.Bpe
    val fitCorpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val merges = BpeReference.train(Seq((1L, fitCorpus)).toDF("doc_id", "text"), merges = 5)
    val input = MemoryStream[(Long, String)]
    val segmented = Bpe.tokenize(input.toDF().toDF("doc_id", "text"), merges)
    val query = segmented.writeStream.format("memory")
      .queryName("bpe_stream").outputMode("append").start()
    try {
      val arriving = Seq(10L -> "lowest newest", 11L -> "", 12L -> "wide low")
      input.addData(arriving: _*)
      query.processAllAvailable()
      val live = spark.table("bpe_stream").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq.sortBy(_._1)
      val batch = Bpe.tokenize(arriving.toDF("doc_id", "text"), merges)
        .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq.sortBy(_._1)
      assert(live == batch, s"live=$live batch=$batch")
      assert(live.head._2 == List("low", "est" + Bpe.Eow, "n", "e", "w",
        "est" + Bpe.Eow), live.head.toString)
      assert(live(1)._2.isEmpty, "wordless doc must keep its row with [] tokens")
    } finally query.stop()
  }

  test("streaming near-dup: banding candidates match batch, est-verify, horizon evicts") {
    import graft.streaming.StreamNearDup
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words occupy this document space entirely"
    val input = MemoryStream[(Long, String, Timestamp)]
    val docsDf = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val query = StreamNearDup.candidatePairs(docsDf,
        watermarkDelay = "10 minutes", minEstJaccard = 0.0)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, dup, ts("2024-01-01 10:00:00")),
        (2L, dup, ts("2024-01-01 10:00:30")),
        (3L, other, ts("2024-01-01 10:01:00")))
      query.processAllAvailable()
      // cross-batch: state carries batch-1 members within the horizon
      input.addData((4L, dup, ts("2024-01-01 10:05:00")))
      query.processAllAvailable()
      val got = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      val gotPairs = got.map(p => (p._1, p._2)).toSet
      // batch parity: distinct streamed pairs == the batch banding
      // candidate pairs over the same four documents
      val batchDocs = Seq((1L, dup), (2L, dup), (3L, other), (4L, dup))
        .toDF("doc_id", "text")
      val expected = graft.operators.Dedup.portableBandKeys(batchDocs)
        .collect().map(r => ((r.getInt(1), r.getString(2)), r.getLong(0)))
        .groupBy(_._1).values.flatMap { g =>
          val ids = g.map(_._2).distinct.sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            yield (ids(i), ids(j))
        }.toSet
      assert(gotPairs == expected, s"streamed=$gotPairs batch=$expected")
      // identical texts estimate at exactly 1.0 in every colliding band
      assert(got.filter(p => Set((1L, 2L), (1L, 4L), (2L, 4L))(p._1 -> p._2))
        .forall(_._3 == 1.0), got.mkString(","))
      // horizon: the watermark advances AFTER a batch, so first push it
      // forward with an unrelated doc, then feed a fresh duplicate —
      // the original members are evicted and it pairs with nothing old
      input.addData((7L, other + " padded", ts("2024-01-01 11:00:00")))
      query.processAllAvailable()
      input.addData((5L, dup, ts("2024-01-01 12:00:00")))
      query.processAllAvailable()
      input.addData((6L, dup, ts("2024-01-01 12:00:05")))
      query.processAllAvailable()
      val late = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!late.exists(p => p._2 == 5L && p._1 < 5L),
        s"doc 5 must not pair across the expired horizon: $late")
      assert(late.contains((5L, 6L)),
        s"doc 6 must pair with the in-horizon doc 5: $late")
    } finally query.stop()
  }

  test("streaming near-dup: oversized buckets star-cap to the root, state stays bounded") {
    import graft.streaming.StreamNearDup
    val sqlCtx = spark.sqlContext
    import spark.implicits._
    implicit val ctx = sqlCtx
    val dup = "identical content for every document in this bucket always"
    val input = MemoryStream[(Long, String, Timestamp)]
    val docsDf = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val query = StreamNearDup.candidatePairs(docsDf,
        watermarkDelay = "10 minutes", minEstJaccard = 0.0, maxBucket = 2)
      .writeStream.format("memory").queryName("neardup_cap")
      .outputMode("append").start()
    try {
      // Sequential batches so arrival order (and thus the stored pair
      // of members) is deterministic: 1 then 2 fill the bucket, 3 and 4
      // arrive into a FULL bucket.
      input.addData((1L, dup, ts("2024-01-01 10:00:00")))
      query.processAllAvailable()
      input.addData((2L, dup, ts("2024-01-01 10:00:10")))
      query.processAllAvailable()
      input.addData((3L, dup, ts("2024-01-01 10:00:20")))
      query.processAllAvailable()
      input.addData((4L, dup, ts("2024-01-01 10:00:30")))
      query.processAllAvailable()
      val got = spark.table("neardup_cap").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // full pairing among the stored members, then star edges only:
      // 3 and 4 each pair with root 1 (connectivity survives), never
      // with 2 or each other (capped state never grows past maxBucket).
      assert(got == Set((1L, 2L), (1L, 3L), (1L, 4L)), got.toString)
    } finally query.stop()
  }

  test("replay harness: every key's state carries across the three micro-batches") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    import graft.operators.StreamHarness
    // Per key: the number of micro-batches that reached its state, and
    // the running sum of v.
    def counted(in: DataFrame): DataFrame =
      in.select($"k", $"v").as[(Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (k: Long, it: Iterator[(Long, Long)], st: GroupState[(Long, Long)]) =>
            val (calls, sum) = st.getOption.getOrElse((0L, 0L))
            val next = (calls + 1, sum + it.map(_._2).sum)
            st.update(next)
            Iterator((k, next._1, next._2))
        }.toDF("k", "calls", "sum")
    def last(out: DataFrame): Map[Long, (Long, Long)] =
      out.groupBy("k").agg(max("calls"), max("sum")).as[(Long, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // Four keys with events at nine distinct hours each: every key has
    // rows in all three value ranges of ts.
    val src = (for (k <- 1L to 4L; h <- 1 to 9)
      yield (k, new Timestamp(h * 3600000L), k * 100L + h)).toDF("k", "ts", "v")
    val sums = src.groupBy("k").agg(sum("v")).as[(Long, Long)].collect().toMap
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert(last(StreamHarness.replay(spark, src, "ts")(counted)) ==
      sums.map { case (k, v) => k -> (3L, v) })
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts,
      "the caller's session conf is untouched")
    // One distinct ts: both quantiles equal it, the later two files are
    // empty, and each key's state sees the one batch that has rows.
    val flat = src.withColumn("ts", lit(new Timestamp(3600000L)))
    assert(last(StreamHarness.replay(spark, flat, "ts")(counted)) ==
      sums.map { case (k, v) => k -> (1L, v) })
  }

  test("stream_bars query row: finalized streaming windows equal batch bars_daily") {
    // The driver-checked row itself (replayed micro-batches + sentinel
    // watermark flush inside MarketQueries) must reproduce the batch
    // daily bars row-for-row — same columns, same rounding, same order —
    // so the DuckDB oracle carries over verbatim.
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.operators.MarketQueries.queries("stream_bars")(spark, sf)
      .collect().map(_.toSeq)
    val batch = graft.operators.MarketQueries.queries("bars_daily")(spark, sf)
      .collect().filter(_.getLong(0) % 5 == 0).map(_.toSeq)
    assert(streamed.nonEmpty, "streaming windows must finalize and emit")
    assert(streamed.toSeq == batch.toSeq,
      s"first diff: ${streamed.zip(batch).find(p => p._1 != p._2)}")
  }

  test("stream_dedup_docs query row: within-watermark dedupe equals the distinct content set") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.operators.LlmQueries.queries("stream_dedup_docs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val batch = graft.sources.Tables.documents(spark, sf)
      .select(sha2(col("text"), 256).as("content_hash"),
        length(col("text")).cast("long").as("n_chars"))
      .distinct().orderBy(col("content_hash"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"streamed=${streamed.length} batch=${batch.length}")
  }
}
