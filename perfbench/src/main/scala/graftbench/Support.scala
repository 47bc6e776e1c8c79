package graftbench

import scala.collection.mutable

/** Opens spans around calls into graft; the untraced form runs the body
  * alone.
  */
trait Spanner {
  def apply[T](name: String)(body: => T): T
  /** The operation's root span; returns its id (-1 when untraced). */
  def root[T](name: String)(body: => T): (T, Int)
}

object NoSpans extends Spanner {
  def apply[T](name: String)(body: => T): T = body
  def root[T](name: String)(body: => T): (T, Int) = (body, -1)
}

final class TracingSpanner(t: Tracer) extends Spanner {
  def apply[T](name: String)(body: => T): T = t.span(name)(body)._1
  def root[T](name: String)(body: => T): (T, Int) = {
    val (v, s) = t.span(name)(body)
    (v, s.id)
  }
}

/** Just enough JSON writing for the result file (values arrive rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

/** Per-layer numbers of the traced operations, as means per operation.
  *
  * Every ratio is printed next to its base: `query.plan_share` and
  * `scheduler.idle_frac` against `op.wall_ms`, `query.exec_share` against
  * `executor.task_s` and `executor.cores`, `sources.read_passes` against
  * `sources.input_mb`, `Dedup.pair_yield` against `Dedup.pairs`, and
  * `curate.keep_frac` against `curate.docs_in`.
  */
object Layers {
  private val MB = 1e6

  /** Snapshot output directory → the stage of `runDaily` that produced it. */
  val DailyStage: Map[String, String] = Map(
    "bars" -> "Bars", "indicators" -> "Indicators", "breadth" -> "Breadth",
    "health" -> "Breadth", "movers" -> "Breadth", "signals" -> "Screener",
    "breakouts" -> "Screener")
  private val SnapshotOutput = """snapshot=[^/]+/([A-Za-z_]+)""".r.unanchored

  def summarize(t: Tracer, ops: Seq[Main.Op], w: Main.Workload, cores: Int): Seq[(String, Double, String)] = {
    require(ops.nonEmpty, "a traced run needs at least one traced operation")
    val n = ops.size.toDouble
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    def add(name: String, unit: String, v: Double): Unit = {
      val (old, _) = out.getOrElse(name, (0.0, unit))
      out(name) = (old + v / n, unit)
    }
    val spansByName = t.spans.groupBy(_.name)
    def spanWithin(root: Int, name: String): Seq[t.Span] =
      spansByName.getOrElse(name, Nil).filter(s => t.subtree(root).contains(s.id)).toSeq

    for (op <- ops) {
      val root = t.spans(op.root)
      val ids = t.subtree(op.root)
      val wallMs = root.wallNs / 1e6
      val jobs = t.jobs.values.filter(j => ids.contains(j.span)).toSeq
      val accs = ids.toSeq.flatMap(t.acc.get)
      def sum(f: t.Acc => Long): Double = accs.map(f).sum.toDouble
      val execs = t.execs.filter(e => ids.contains(e.span)).toSeq
      val planMs = execs.map(_.planMs).sum.toDouble
      // Time with at least one job running, as a union of intervals
      // clipped to the operation.
      val busyMs = jobs.map(j => (math.max(j.startMs, root.startMs), math.min(j.endMs, root.endMs)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
          if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
        }._1.toDouble

      add("op.wall_ms", "ms", wallMs)
      add("catalyst.plan_ms", "ms", planMs)
      add("catalyst.plan_nodes", "count", if (execs.isEmpty) 0 else execs.map(_.planNodes).sum.toDouble / execs.size)
      add("query.plan_share", "frac", planMs / wallMs)
      add("scheduler.jobs", "count", jobs.size)
      add("scheduler.stages", "count", ids.toSeq.map(t.stageCount).sum)
      add("scheduler.tasks", "count", sum(_.tasks))
      add("scheduler.delay_ms", "ms", sum(_.delayMs))
      add("scheduler.idle_frac", "frac", 1 - busyMs / wallMs)
      add("query.jobs_per_query", "count", jobs.size)
      add("executor.task_s", "s", sum(_.taskMs) / 1e3)
      add("executor.cpu_s", "s", sum(_.cpuNs) / 1e9)
      add("executor.gc_s", "s", sum(_.gcMs) / 1e3)
      add("query.exec_share", "frac", sum(_.taskMs) / (wallMs * cores))
      add("shuffle.write_mb", "MB", sum(_.shuffleWrite) / MB)
      add("shuffle.read_mb", "MB", sum(_.shuffleRead) / MB)
      add("shuffle.fetch_wait_ms", "ms", sum(_.fetchWaitMs))
      add("shuffle.spill_mb", "MB", sum(_.spill) / MB)
      add("sources.read_mb", "MB", sum(_.inputBytes) / MB)
      add("sources.read_passes", "ratio", sum(_.inputBytes) / w.inputBytes)
      add("driver.result_mb", "MB", sum(_.resultBytes) / MB)
      add("storage.blocks_mb", "MB", t.peakBlockBytes(op.root) / MB)
      add("storage.ckpt_rdds", "count", t.rddsSeen.get(op.root).map(_.size).getOrElse(0).toDouble)

      // runDaily, attributed per output by the path each execution wrote.
      val stageSecs = mutable.Map[String, Double]().withDefaultValue(0.0)
      var exportBytes = 0.0
      execs.foreach { e =>
        e.outputPath match {
          case Some(SnapshotOutput(out)) =>
            stageSecs(DailyStage.getOrElse(out, out)) += e.durationNs / 1e9
          case Some(_) =>
          case None => if (root.name == "runDaily") stageSecs("Report") += e.durationNs / 1e9
        }
      }
      if (root.name == "runDaily") exportBytes = sum(_.outputBytes)
      Seq("Bars", "Indicators", "Breadth", "Screener", "Report").foreach(s =>
        add(s"$s.s", "s", stageSecs(s)))
      add("Export.write_mb", "MB", exportBytes / MB)
      add("Export.files", "count", if (root.name == "runDaily") op.files.toDouble else 0.0)

      // curate: the eager work inside the call, the write, and the pair stage.
      def secs(name: String) = spanWithin(op.root, name).map(_.wallNs / 1e9).sum
      val pairSpans = spanWithin(op.root, "Dedup.pairsOf").flatMap(s => t.subtree(s.id))
      val buildSpans = spanWithin(op.root, "CorpusPipeline.curate").flatMap(s => t.subtree(s.id)).toSet
      val writeSpans = spanWithin(op.root, "CorpusPipeline.write").flatMap(s => t.subtree(s.id)).toSet
      add("CorpusPipeline.build_s", "s", secs("CorpusPipeline.curate"))
      add("CorpusPipeline.write_s", "s", secs("CorpusPipeline.write"))
      add("Components.jobs", "count",
        jobs.count(j => buildSpans.contains(j.span) && !pairSpans.contains(j.span)).toDouble)
      add("Dedup.build_ms", "ms", secs("Dedup.pairsOf") * 1e3)
      val docsOut = writeSpans.toSeq.flatMap(t.acc.get).map(_.outputRecords).sum.toDouble
      val docsIn = if (root.name == "curate") w.inputRows.toDouble else 0.0
      val (pairInput, pairs) = w.pairCounts.getOrElse(op.root, (0L, 0L))
      val nearDrops = math.max(0.0, pairInput - docsOut)
      add("Dedup.pairs", "count", pairs.toDouble)
      add("Dedup.near_dup_drops", "count", nearDrops)
      add("Dedup.pair_yield", "frac", if (pairs > 0) nearDrops / pairs else 0.0)
      add("curate.docs_in", "count", docsIn)
      add("curate.docs_out", "count", docsOut)
      add("curate.keep_frac", "frac", if (docsIn > 0) docsOut / docsIn else 0.0)
    }
    out("sources.input_mb") = (w.inputBytes / MB, "MB")
    out("executor.cores") = (cores.toDouble, "count")
    out("op.count") = (n, "count")
    out.toSeq.map { case (k, (v, u)) => (k, v, u) }
  }
}
