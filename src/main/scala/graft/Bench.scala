package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of wall-times.
  *
  * Each query is materialized through the noop sink so the full plan
  * (windows, folds, final sort) executes — a bare `count()` lets Catalyst
  * prune unreferenced projections and under-measures indicator work.
  * Failures are recorded as -1 (and logged), never as a fast success.
  *
  * Each row also records where its time went: `layers`, keyed like
  * `queries`, holds the [[Layers]] of its last main pass.
  *
  * Regression gate: BASELINE.md's fenced `baseline` block freezes the
  * best demonstrated per-query time at sf0.1. A query slower than
  * drift × max(2 × baseline, baseline + 1 s) is a SUSPECT, where
  * `drift` is the run-wide median of time/baseline clamped to ≥1 —
  * ambient machine slowdown moves every query together and must not
  * trip a per-query gate (round 3 drifted 1.33× globally with zero code
  * change and rc=2'd three untouched queries). Suspects are then
  * re-timed in steady state — once, and on a second GC-settled probe
  * if the first also reads over — and only CONFIRMED regressions
  * (every re-probe over threshold) fail the run (rc=2), AFTER the JSON
  * line prints so the driver's parse survives a gated round. Before a
  * suspect may confirm, ambient drift is RE-ESTIMATED at re-probe time
  * from the five cheapest baselined rows (r12 — a sustained machine
  * burst that outlives the main run's drift window must not confirm as
  * code; the r11 driver run rc=1'd exactly that way), and the confirm
  * threshold uses max(run drift, re-probe drift), both clamped to 1.5. The JSON
  * publishes min(measurement, re-probes) per query plus a `reprobes`
  * map recording the numbers, the per-suspect gate threshold and the
  * verdict — the artifact never shows a transient the gate cleared
  * without proof beside it.
  * Armed only on the sf0.1 testdata; `SPARK_GRAFT_BASELINE=off` skips.
  */
object Bench {
  /** name → frozen seconds, from BASELINE.md's ```baseline fence. */
  def loadBaseline(path: String = "BASELINE.md"): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val lines = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
    try {
      lines.getLines()
        .dropWhile(!_.startsWith("```baseline")).drop(1)
        .takeWhile(!_.startsWith("```"))
        .flatMap { l =>
          l.trim.split("\\s+") match {
            case Array(name, secs) => secs.toDoubleOption.map(name -> _)
            case _ => None
          }
        }.toMap
    } finally lines.close()
  }

  def regressionThreshold(base: Double): Double = math.max(2 * base, base + 1.0)

  /** Passes per row; a row reports the minimum (steady state, not
    * first-run codegen), and a failure in any pass is a failure.
    */
  val Passes = 2

  /** Where one measured pass's time went. `jobs`, `stages` (completed)
    * and `tasks` count what the pass launched, eager jobs run while the
    * frame was built included; a job over zero partitions runs no stage,
    * so `stages` can read below `jobs`. `taskS`/`gcS` sum executor run
    * and GC time over its tasks and `maxTaskS` is its longest task.
    * `planMs` sums the Catalyst phases of the write's `QueryExecution`,
    * and `plan` counts [[PlanKinds]] in the plan the write executed.
    */
  final case class Layers(jobs: Int, stages: Int, tasks: Int, taskS: Double, gcS: Double,
                          maxTaskS: Double, planMs: Long, plan: Map[String, Int]) {
    def json: String =
      f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":$taskS%.3f,""" +
        f""""gc_s":$gcS%.3f,"max_task_s":$maxTaskS%.3f,"plan_ms":$planMs""" +
        PlanKinds.map(k => s""","$k":${plan(k)}""").mkString + "}"
  }

  /** Executed-plan node kinds counted per row: file scans, scans of
    * materialized RDDs (checkpointed frames), live and reused shuffle
    * exchanges, broadcasts, windows, sorts, in-memory cache reads, and
    * Cartesian or nested-loop joins.
    */
  val PlanKinds: Seq[String] = Seq("file_scans", "rdd_scans", "exchanges", "reused",
    "broadcasts", "windows", "sorts", "cache_reads", "nested_loops")

  /** [[PlanKinds]] counts over an executed plan. The walk enters what
    * plain children hide — AQE's current plan and its query stages,
    * subqueries, and each cached relation's plan once (a frame cached
    * and read twice is computed once) — but not a reused exchange,
    * which is counted as such.
    */
  def planCounts(plan: SparkPlan): Map[String, Int] = {
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val hidden = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec if caches.add(m.relation.cacheBuilder) =>
          Seq(m.relation.cachedPlan)
        case _ => Nil
      }
      p +: (p.children ++ p.subqueries ++ hidden).flatMap(walk)
    }
    val found = walk(plan).collect {
      case _: FileSourceScanExec => "file_scans"
      case _: RDDScanExec => "rdd_scans"
      case _: ShuffleExchangeExec => "exchanges"
      case _: ReusedExchangeExec => "reused"
      case _: BroadcastExchangeExec => "broadcasts"
      case _: WindowExec => "windows"
      case _: SortExec => "sorts"
      case _: InMemoryTableScanExec => "cache_reads"
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => "nested_loops"
    }
    PlanKinds.map(k => k -> found.count(_ == k)).toMap
  }

  /** A row's minimum over [[Passes]] (-1 if one failed) and its last pass's layers. */
  final case class Row(name: String, secs: Double, layers: Option[Layers])

  /** `{"name":layers,...}` in row order; a failed pass reads null. */
  def layersJson(rows: Seq[Row]): String =
    rows.map(r => "\"" + r.name + "\":" + r.layers.fold("null")(_.json))
      .mkString("{", ",", "}")

  /** Times noop-sink passes and records each one's [[Layers]], through
    * one `SparkListener` (jobs, stages, tasks) and one
    * `QueryExecutionListener` (the write's plan). The plan must come
    * from the listener: the write runs its own `QueryExecution`, and the
    * frame's `queryExecution.executedPlan` is, under AQE, an initial
    * plan that never ran — no stage reuse is decided in it.
    */
  final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val jobs, stages, tasks = new AtomicInteger
    private val taskMs, gcMs, maxTaskMs = new AtomicLong
    @volatile private var lastQe: QueryExecution = null
    var failures = 0
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskMetrics != null) {
        val ms = e.taskMetrics.executorRunTime
        taskMs.addAndGet(ms)
        gcMs.addAndGet(e.taskMetrics.jvmGCTime)
        maxTaskMs.accumulateAndGet(ms, (a, b) => math.max(a, b))
      }
    }
    // The write is a pass's last action, so its execution arrives last.
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lastQe = qe
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** One pass: seconds to build `mk` and write it to the noop sink.
      * The listener bus is drained before and after, outside the timer.
      */
    def pass(mk: () => DataFrame): (Double, Layers) = {
      Bus.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0L); gcMs.set(0L); maxTaskMs.set(0L); lastQe = null
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Bus.drain(spark.sparkContext)
      val qe = Option(lastQe).getOrElse(sys.error("the noop write reported no query execution"))
      (secs, Layers(jobs.get, stages.get, tasks.get, taskMs.get / 1e3, gcMs.get / 1e3,
        maxTaskMs.get / 1e3, qe.tracker.phases.values.map(_.durationMs).sum,
        planCounts(qe.executedPlan)))
    }

    /** [[pass]], with a failure logged, counted and read as -1. */
    def run(name: String, mk: () => DataFrame): (Double, Option[Layers]) =
      try pass(mk) match { case (secs, layers) => (secs, Some(layers)) }
      catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (-1.0, None)
      } finally
        // Several operators persist() intermediates they cannot safely
        // unpersist themselves (the caller owns the returned frame's
        // lifetime). In a 60+ query shared JVM those leak and one query's
        // cache pressure degrades another's timing — drop them between
        // measurements so every query starts from the same storage state.
        spark.catalog.clearCache()

    def row(name: String, mk: () => DataFrame): Row = {
      val runs = (1 to Passes).map(_ => run(name, mk))
      Row(name, if (runs.exists(_._1 < 0)) -1.0 else runs.map(_._1).min, runs.last._2)
    }
  }

  /** A run's rows, optionally filtered by name: SparkEntry queries,
    * then the report-over-frame twins (r7 item 8), whose setup runs
    * here, UNTIMED (builds + eagerly checkpoints the upstream frame,
    * which survives clearCache()), so the row times the report alone.
    * A setup failure surfaces as that row's -1 through [[Meter.run]],
    * never as a crash before the JSON line prints.
    */
  def rowThunks(spark: SparkSession, sfDir: String,
                only: Option[Set[String]]): Seq[(String, () => DataFrame)] = {
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, fn) => n -> (() => fn(spark, sfDir)) }
    val reports = graft.operators.LlmQueries.reportQueries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, setup) =>
        n -> (try setup(spark, sfDir) catch {
          case e: Throwable =>
            System.err.println(s"[bench] $n setup FAILED: ${e.getMessage}")
            () => throw new RuntimeException(s"report setup failed: ${e.getMessage}", e)
        })
      }
    selected ++ reports
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed steady-state warmup: JIT, codegen cache, parquet footers.
    // Without it the alphabetically-first query absorbs several seconds
    // of one-time JVM cost and the per-query numbers lie.
    graft.sources.Tables.all.foreach { t =>
      try {
        (if (t == "events") graft.sources.Tables.events(spark, sfDir)
         else graft.sources.Tables.load(spark, sfDir, t)).count()
      } catch { case _: Throwable => () }
    }
    val meter = new Meter(spark)
    // Optional name filter (local profiling: `runMain graft.Bench q1,q2`);
    // a filtered run never arms the regression gate.
    val only = args.headOption.map(_.split(",").toSet)
    val thunks = rowThunks(spark, sfDir, only)
    // In a full run the 60+ earlier queries amortize JVM/codegen warmup;
    // a filtered run has no such cushion and its first timed pass reads
    // 1.5–2× hot (observed repeatedly) — warm each selected row once
    // untimed so solo numbers are comparable to in-run ones.
    if (only.isDefined) thunks.foreach { case (name, mk) => meter.run(name, mk) }
    meter.failures = 0
    val rows = thunks.map { case (name, mk) => meter.row(name, mk) }
    val results = rows.map(r => r.name -> r.secs)
    val baseline = loadBaseline()
    // Run-wide drift: median of time/baseline over baselined queries,
    // clamped to ≥1 (a fast environment never tightens the gate). Printed
    // in the JSON line so every round records how hot the machine ran.
    val ratios = results.collect {
      case (n, t) if t >= 0 && baseline.contains(n) => t / baseline(n)
    }.sorted
    // Clamp [1, 1.5]: a fast environment never tightens the gate, and a
    // genuine run-wide regression (shared helper / session config / table
    // loader touching every query) must not inflate drift without bound
    // and gate-proof itself — past 1.5× the slowdown is treated as code.
    val rawDrift = if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    val drift = math.min(1.5, math.max(1.0, rawDrift))
    if (rawDrift > 1.5)
      System.err.println(
        f"[bench] WARNING run-wide drift $rawDrift%.2f exceeds the 1.5 cap — " +
          "either the machine is badly loaded or a shared-path change slowed everything")
    val mainFailures = meter.failures
    val gateArmed = mainFailures == 0 && only.isEmpty && sfDir.contains("sf0.1") &&
      !sys.env.get("SPARK_GRAFT_BASELINE").contains("off")
    def over(name: String, t: Double): Boolean =
      t > drift * regressionThreshold(baseline(name))
    // Reproduce-before-fail: a one-off scheduler/GC hiccup in a 60+
    // query shared-JVM run must not read as a code regression. Suspects
    // re-time BEFORE the JSON is built so the artifact publishes the
    // number the gate judged — min(measurement, re-probes) — with the
    // re-probes themselves beside it in a machine-readable `reprobes`
    // map (round-5 verdict: the artifact showed 5× transients the gate
    // had already cleared, with no way to tell them from real
    // regressions). Each re-probe runs GC-settled (round-6 lesson: the
    // two "confirmed" regressions were adjacent in run order and their
    // re-probes ran back-to-back into the same heap churn — a re-probe
    // that inherits the previous query's garbage is not steady state),
    // and a suspect gets a SECOND settled re-probe before it can
    // confirm: under the burst noise the r6 artifact records (ind_macd
    // 9.08 s measured, 0.89 s re-probed — a 10× ambient spike on
    // untouched code), one unlucky re-probe must not fail the round,
    // while a real regression fails every probe anyway. The map also
    // publishes the gate's per-suspect `threshold`
    // (drift × max(2×baseline, baseline+1s)) so a red artifact is
    // self-explaining without BASELINE.md in hand.
    final case class Reprobe(name: String, t: Double, t2: Double,
                             t3: Option[Double], confirmed: Boolean,
                             reprobeDrift: Option[Double])
    val thunkMap = thunks.toMap
    def reprobeOnce(name: String): Double = meter.run(name, thunkMap(name))._1
    def settledTime(name: String): Double = {
      System.gc(); Thread.sleep(200); System.gc()
      reprobeOnce(name)
    }
    // Ambient drift AT RE-PROBE TIME (r12 — the measurement fix behind
    // BENCH_r11's rc=1): re-probes run minutes after the drift window
    // they are judged by, and on a machine still inside a sustained
    // load burst (the r11 driver run had 17 suspects; an untouched row
    // read 13.8 s then 1.9 s) the MAIN run's median drift understates
    // ambient where the re-probe actually executes — so a burst
    // confirms as a code regression. Before a suspect may CONFIRM, the
    // gate re-times the five cheapest baselined rows (settled, same
    // methodology) and takes the median of time/baseline, clamped to
    // the same [1, 1.5] band as the run drift; the confirm threshold
    // uses max(run drift, re-probe drift). A real regression is
    // unaffected — it is the SUSPECT that is slow, not the sentinels —
    // and the published per-row numbers keep the exact old methodology
    // (min over measurement and re-probes). The sentinel drift is
    // published per suspect in the reprobes map.
    lazy val sentinels: Seq[String] = results.collect {
      case (n, t) if t >= 0 && baseline.contains(n) => n
    }.sortBy(baseline).take(5)
    def reprobeDriftNow(exclude: String): Double = {
      val rs = sentinels.filterNot(_ == exclude).map { n =>
        val t = settledTime(n)
        if (t >= 0) t / baseline(n) else 1.0
      }.sorted
      if (rs.isEmpty) 1.0 else math.min(1.5, math.max(1.0, rs(rs.size / 2)))
    }
    def overAt(name: String, t: Double, d: Double): Boolean =
      t > d * regressionThreshold(baseline(name))
    val reprobes: Seq[Reprobe] =
      if (!gateArmed) Seq.empty
      else results.collect {
        case (name, t) if t >= 0 && baseline.contains(name) && over(name, t) =>
          val t2 = reprobeOnce(name)
          val t2Clear = t2 >= 0 && !over(name, t2)
          val rd = if (t2Clear) None else Some(reprobeDriftNow(name))
          val eff = rd.fold(drift)(v => math.max(drift, v))
          val t3 = if (t2Clear) None else Some(settledTime(name))
          val confirmed = !t2Clear && !(t2 >= 0 && !overAt(name, t2, eff)) &&
            !t3.exists(v => v >= 0 && !overAt(name, v, eff))
          if (!confirmed)
            System.err.println(
              f"[bench] transient slowdown $name: ${t}%.2fs, re-probes ${t2}%.2fs/${t3.fold("-")(v => f"$v%.2fs")} (baseline ${baseline(name)}%.2fs, drift $drift%.2f, reprobe drift ${rd.fold("-")(v => f"$v%.2f")}) — not gated")
          Reprobe(name, t, t2, t3, confirmed, rd)
      }
    val reprobeMap = reprobes.map(r => r.name -> r).toMap
    val published = results.map { case (n, t) =>
      n -> (reprobeMap.get(n) match {
        case Some(r) =>
          (Seq(t, r.t2) ++ r.t3.toSeq).filter(_ >= 0) match {
            case Seq() => t
            case ok => ok.min
          }
        case _ => t
      })
    }
    val qs = published.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rp = reprobes.map { r =>
      val effDrift = r.reprobeDrift.fold(drift)(v => math.max(drift, v))
      val thr = effDrift * regressionThreshold(baseline(r.name))
      val t3s = r.t3.fold("")(v => s""","reprobe2":$v""")
      val rds = r.reprobeDrift.fold("")(v => f""","reprobe_drift":$v%.3f""")
      f""""${r.name}":{"time":${r.t},"reprobe":${r.t2}$t3s,"threshold":$thr%.3f$rds,"suspect":true,"confirmed":${r.confirmed}}"""
    }.mkString("{", ",", "}")
    val total = published.collect { case (_, v) if v >= 0 => v }.sum
    val jsonLine =
      f"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"layers":${layersJson(rows)},"reprobes":$rp,"failures":$mainFailures,"drift":$drift%.3f,"raw_drift":$rawDrift%.3f,"sf":"$sfDir"}"""
    println(jsonLine)
    // The driver's capture lost the JSON line on both gated rounds (r3,
    // r4 record `parsed: null`) — persist it to a file too, and re-print
    // it as the very last stdout line after the gate decides, so a rc!=0
    // exit still leaves parseable numbers. FULL runs only: a filtered
    // profiling run must not clobber the suite-wide artifact with a
    // partial total (that happened — three round-8 seeding runs each
    // overwrote the 100-query snapshot).
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter("bench_result.json", "UTF-8")
      try w.println(jsonLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_result.json: ${e.getMessage}")
    }
    def finalReport(): Unit = println(jsonLine)
    spark.stop()
    if (mainFailures > 0) { finalReport(); sys.exit(1) }
    val confirmed = reprobes.collect { case r if r.confirmed =>
      f"${r.name}: ${r.t}%.2fs, re-probes ${r.t2}%.2fs/${r.t3.fold("-")(v => f"$v%.2fs")} vs baseline ${baseline(r.name)}%.2fs (drift $drift%.2f)"
    }
    if (confirmed.nonEmpty) {
      confirmed.foreach(r => System.err.println(s"[bench] REGRESSION $r"))
      finalReport()
      sys.exit(2)
    }
    finalReport()
  }
}
