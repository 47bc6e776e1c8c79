package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators._
import graft.ops.{Export, Report}
import graft.sources.Tables

/** End-to-end daily pipeline — the orchestration role of the reference's
  * `src/pipeline.py` + `scripts/daily_update.py`, re-expressed as one
  * DAG of DataFrames instead of a per-symbol thread loop with per-symbol
  * error isolation: a failed symbol in the reference skips that symbol;
  * here correctness is per-row and fault tolerance is per-task (Spark
  * retries), which is the isolation model that actually survives a
  * 1000-executor run.
  *
  * Every stage below derives from the single cleaned feed; [[runDaily]]
  * persists the two shared cut points (bars, enriched) for the span of
  * the run — each output is its own Spark action, and without the cut
  * every one would re-derive the feed→clean→bars lineage. At production
  * scale the same cut points are checkpoint/bucketed-table candidates
  * (`Export.bucketedTable`).
  */
object Pipeline {

  /** Severity-tagged run notification (reference `Pipeline._notify`,
    * /root/reference/src/pipeline.py:408): the reference logs and, when
    * configured, POSTs to a messaging API. The engine keeps the seam and
    * not the transport — callers inject the delivery (webhook, queue,
    * pager); the default logs. Severities follow the reference: "info",
    * "warning", "error".
    */
  type Notifier = (String, String) => Unit

  object Notify {
    /** Default sink: severity-tagged log line, like the reference's
      * `logger.info('Notify [%s]: %s', ...)`.
      */
    val log: Notifier = (severity, message) =>
      System.err.println(s"[graft][notify][$severity] $message")

    /** Drop notifications (tests, library embedding). */
    val silent: Notifier = (_, _) => ()
  }

  /** Exponential-backoff retry around a driver-side action — the engine
    * twin of the reference's `_run_with_retries` (pipeline.py:433):
    * attempt, on failure wait `delay`, multiply by `backoff`, re-raise
    * after `maxAttempts`. Spark already retries TASKS; this wraps whole
    * ACTIONS (a snapshot write against flaky object storage, a source
    * refresh) where the retryable unit is the job, not the task. Each
    * retry notifies at "warning" with the attempt count and cause, the
    * final failure at "error" — the severity contract of the
    * reference's notify path. `sleep` is injectable so specs don't
    * wall-clock.
    */
  def withRetries[T](label: String, maxAttempts: Int = 3, delay: Double = 1.0,
                     backoff: Double = 2.0, notify: Notifier = Notify.log,
                     sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong))
                    (action: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    var currentDelay = delay
    while (true) {
      try return action
      catch {
        // NonFatal only: an OOM/LinkageError is not retryable JVM state,
        // and an interrupt must propagate immediately, not sleep through
        // a backoff schedule.
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          if (attempt >= maxAttempts) {
            notify("error", s"$label failed after $maxAttempts attempts: ${e.getMessage}")
            throw e
          }
          notify("warning",
            f"$label attempt $attempt/$maxAttempts failed (${e.getMessage}); retry in $currentDelay%.1fs")
          sleep(currentDelay)
          currentDelay *= backoff
      }
    }
    throw new IllegalStateException("unreachable")
  }

  final case class Outputs(
    bars: DataFrame,
    enriched: DataFrame,
    breadth: DataFrame,
    health: DataFrame,
    movers: DataFrame,
    signals: DataFrame,
    breakouts: DataFrame)

  /** Build the full analytic DAG from the raw feed (no actions). */
  def build(spark: SparkSession, dir: String): Outputs = {
    val clean = Cleaning.cleanEvents(Tables.events(spark, dir))
    val bars = Bars.daily(clean)
    val enriched = Indicators.enrichAll(bars,
      smaPeriods = Seq(5, 10, 20), emaSpans = Seq(5, 12, 26),
      rsiPeriod = 14, macd = (5, 10, 4), bollinger = (10, 2.0),
      atrPeriod = 10)
    val breadth = Breadth.breadthDaily(bars)
    Outputs(
      bars = bars,
      enriched = enriched,
      breadth = breadth,
      health = Breadth.marketHealth(breadth),
      movers = Breadth.topMovers(bars),
      signals = Screener.signalScore(enriched),
      breakouts = Screener.breakouts(bars))
  }

  /** Run the weekly summary (report_generator.py:217 via the weekly
    * scripts' cadence): trailing-week per-symbol performance from the
    * same bar DAG, parquet'd next to the daily snapshots, markdown
    * returned. One extra day-grain aggregate on top of [[build]]'s bars
    * — no second pass over the tick feed.
    */
  def runWeekly(spark: SparkSession, dir: String, outDir: String,
                yearWeek: String): String = {
    val bars = Bars.daily(Cleaning.cleanEvents(Tables.events(spark, dir)))
    // Two actions (write + the markdown collect) — cut once.
    val perf = Report.weeklyPerformance(bars)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Export.parquet(perf, s"${Export.snapshotPath(outDir, yearWeek)}/weekly",
        maxFiles = 1)
      Report.weeklyMarkdown(perf, yearWeek)
    } finally perf.unpersist()
  }

  /** Run the daily snapshot: parquet every output under
    * `outDir/snapshot=<stamp>`, return the markdown report.
    */
  def runDaily(spark: SparkSession, dir: String, outDir: String, stamp: String,
               notify: Notifier = Notify.log, retryAttempts: Int = 3): String =
    try {
      val o = build(spark, dir)
      // The run fires ~10 actions (7 exports + the report's collects);
      // without a cut each one re-derives the raw feed → clean → bars
      // (→ indicators) lineage from scratch. Persist the two frames
      // every downstream output branches from — the same caller-owned
      // cut CorpusPipeline.curate uses — and release them on exit.
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      o.bars.persist(lvl); o.enriched.persist(lvl)
      try {
        val base = Export.snapshotPath(outDir, stamp)
        // Per-stage retry (reference daily loop + _run_with_retries):
        // every export is an Overwrite write, so a retry is idempotent.
        def stage(name: String)(a: => Unit): Unit =
          withRetries(s"daily/$name", maxAttempts = retryAttempts, notify = notify)(a)
        // One writer task per date: without the repartition every task
        // holds every date and the partitioned write fans out
        // tasks × dates small files (120 of a 30-day snapshot's 135).
        stage("bars")(Export.parquet(o.bars.repartition(col("date")), s"$base/bars",
          partitionCols = Seq("date")))
        stage("indicators")(Export.parquet(o.enriched, s"$base/indicators"))
        stage("breadth")(Export.parquet(o.breadth, s"$base/breadth"))
        stage("health")(Export.parquet(o.health, s"$base/health", maxFiles = 1))
        stage("movers")(Export.parquet(o.movers, s"$base/movers", maxFiles = 1))
        stage("signals")(Export.parquet(o.signals, s"$base/signals"))
        stage("breakouts")(Export.parquet(o.breakouts, s"$base/breakouts"))
        val md = Report.dailyMarkdown(
          Breadth.marketSummary(o.breadth, o.bars), o.movers,
          Breadth.marketRegime(o.breadth))
        notify("info", s"daily snapshot $stamp complete: $base")
        md
      } finally {
        o.bars.unpersist(); o.enriched.unpersist()
      }
    } catch {
      case e: Throwable =>
        notify("error", s"daily snapshot $stamp failed: ${e.getMessage}")
        throw e
    }
}
