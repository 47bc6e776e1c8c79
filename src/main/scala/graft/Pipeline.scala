package graft

import java.util.concurrent.{ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

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
  * Every stage below derives from the single cleaned feed. [[runDaily]]
  * persists its cuts for the span of the run: bars and enriched, which
  * every output branches from (without them each output re-derives the
  * feed→clean→bars lineage), and breadth and movers, the day-grain frames
  * more than one output reads. Its seven exports and the report are then
  * independent branches over those cuts, run concurrently ([[branches]]):
  * most of a snapshot's stages are one task wide, so one output at a time
  * leaves the cluster idle while the driver plans and commits the next.
  * At production scale the same cut points are checkpoint/bucketed-table
  * candidates (`Export.bucketedTable`).
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
    val perf = Report.weeklyPerformance(bars)
    val path = s"${Export.snapshotPath(outDir, yearWeek)}/weekly"
    var md: String = null
    // Two actions (write + the markdown collect) over one cut. The weekly
    // run neither notifies nor retries.
    branches("weekly", s"weekly summary $path", Seq(perf), Notify.silent, retryAttempts = 1)(
      "weekly" -> (() => Export.parquet(perf, path, maxFiles = 1)),
      "report" -> (() => md = Report.weeklyMarkdown(perf, yearWeek)))
    md
  }

  /** Run the daily snapshot: parquet every output under
    * `outDir/snapshot=<stamp>`, return the markdown report. Notifies
    * "info" once on success; on failure notifies "error" once and
    * rethrows (see [[branches]]).
    */
  def runDaily(spark: SparkSession, dir: String, outDir: String, stamp: String,
               notify: Notifier = Notify.log, retryAttempts: Int = 3): String = {
    val base = Export.snapshotPath(outDir, stamp)
    val run = s"daily snapshot $base"
    val o = try build(spark, dir) catch {
      case e: Throwable =>
        notify("error", s"$run failed: ${e.getMessage}")
        throw e
    }
    var md: String = null
    // The cuts, in dependency order so each later one caches over the
    // earlier ones. bars and enriched carry the feed → clean → bars
    // (→ indicators) lineage every output branches from; without them
    // each branch re-derives it from the raw feed. breadth (its own and
    // health's export, the report's summary and regime) and movers (its
    // export and the report) are day-grain frames read by more than one
    // branch.
    branches("daily", run, Seq(o.bars, o.enriched, o.breadth, o.movers), notify,
        retryAttempts)(
      // One writer task per date: without the repartition every task
      // holds every date and the partitioned write fans out
      // tasks × dates small files (120 of a 30-day snapshot's 135).
      "bars" -> (() => Export.parquet(o.bars.repartition(col("date")), s"$base/bars",
        partitionCols = Seq("date"))),
      "indicators" -> (() => Export.parquet(o.enriched, s"$base/indicators")),
      "breadth" -> (() => Export.parquet(o.breadth, s"$base/breadth")),
      "health" -> (() => Export.parquet(o.health, s"$base/health", maxFiles = 1)),
      "movers" -> (() => Export.parquet(o.movers, s"$base/movers", maxFiles = 1)),
      "signals" -> (() => Export.parquet(o.signals, s"$base/signals")),
      "breakouts" -> (() => Export.parquet(o.breakouts, s"$base/breakouts")),
      "report" -> (() => md = Report.dailyMarkdown(
        Breadth.marketSummary(o.breadth, o.bars), o.movers,
        Breadth.marketRegime(o.breadth))))
    md
  }

  /** Run a snapshot's independent outputs concurrently over its cuts.
    *
    * Persists `cuts` (in order), runs every named branch on its own pool
    * thread under [[withRetries]] (the reference's per-stage
    * `_run_with_retries`, label `<label>/<name>`; every output is an
    * Overwrite write or a read, so a retry is idempotent), and waits for
    * all of them. Only then are the cuts released: a branch still
    * running when another fails keeps its cuts. If any branch failed,
    * the first failure in declaration order is notified once at "error"
    * (`<run> failed: …`) and rethrown; otherwise "info" (`<run> complete`)
    * is notified. Notifications go through one lock per call, so the
    * caller's sink never sees concurrent calls; the retries' final
    * "error"s are left to the single run-level one.
    *
    * One thread per branch: the width is the DAG's, not a setting. The
    * pool is created inside the call, so its threads inherit the
    * caller's Spark local properties (job group, description, scheduler
    * pool) and `cancelJobGroup` still reaches every branch.
    */
  private[graft] def branches(label: String, run: String, cuts: Seq[DataFrame],
                              notify: Notifier, retryAttempts: Int)
                             (named: (String, () => Unit)*): Unit = {
    val lock = new Object
    val note: Notifier = (severity, message) => lock.synchronized(notify(severity, message))
    val retryNote: Notifier = (severity, message) => if (severity != "error") note(severity, message)
    cuts.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    val pool = Executors.newFixedThreadPool(named.size)
    val failures = try {
      val running = named.map { case (name, body) =>
        pool.submit[Unit](() =>
          withRetries(s"$label/$name", maxAttempts = retryAttempts, notify = retryNote)(body()))
      }
      running.map { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
    } finally {
      pool.shutdownNow()
      // Reverse order: a cut released before one cached over it would
      // make Spark re-plan the dependent cache.
      cuts.reverse.foreach(_.unpersist())
    }
    failures.flatten.headOption match {
      case Some(e) =>
        note("error", s"$run failed: ${e.getMessage}")
        throw e
      case None => note("info", s"$run complete")
    }
  }
}
