package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.SqlEvents
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans opened by the benchmark around its calls into graft, with the
  * Spark work each one caused.
  *
  * A `SparkListener` and a `QueryExecutionListener` registered from the
  * benchmark's own code see every job, stage, task, block update and SQL
  * execution. Each is attributed to the innermost span whose wall-clock
  * interval holds its start (one caller, so spans never overlap except by
  * nesting). Nothing here reaches into graft: per-output cost inside
  * `Pipeline.runDaily` comes from matching each SQL execution to the path
  * it wrote.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long) {
    var endMs: Long = Long.MaxValue
    var wallNs: Long = 0L
  }

  /** Per-span sums of task metrics. */
  final class Acc {
    var tasks, taskMs, cpuNs, gcMs, delayMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var inputBytes, resultBytes, outputBytes, outputRecords = 0L
  }

  private val lock = new Object
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageSpan = mutable.Map[Int, Int]()
  val stageCount = mutable.Map[Int, Int]().withDefaultValue(0)
  val acc = mutable.Map[Int, Acc]()
  private val execStart = mutable.Map[Long, Long]()
  val execs = mutable.ArrayBuffer[Exec]()
  // The listener callback and the execution-end event reach this object in
  // either order; whichever comes second completes the record.
  private val execByQe = new java.util.IdentityHashMap[QueryExecution, Exec]()
  private val spanByQe = new java.util.IdentityHashMap[QueryExecution, Integer]()
  // RDD block bytes held now, and the most held while each span was open.
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  val peakBlockBytes = mutable.Map[Int, Long]().withDefaultValue(0L)
  val rddsSeen = mutable.Map[Int, mutable.Set[Int]]()

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Run `body` inside a new span; returns the span with its wall time. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = lock.synchronized {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis())
      spans += s
      stack = s :: stack
      peakBlockBytes(s.id) = blockBytes
      s
    }
    val t0 = System.nanoTime()
    try (body, s)
    finally {
      s.wallNs = System.nanoTime() - t0
      lock.synchronized {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }
  }

  /** Wait until every event posted so far has been attributed. */
  def settle(): Unit = Bus.drain(spark.sparkContext)

  /** Innermost span open at wall time `ms`; -1 when none was. */
  private def spanAt(ms: Long): Int = lock.synchronized {
    var best: Span = null
    spans.foreach { s =>
      if (s.startMs <= ms && ms <= s.endMs && (best == null || s.startMs >= best.startMs)) best = s
    }
    if (best == null) -1 else best.id
  }

  /** `id` and every span nested in it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.flatMap(subtree).toSet + id
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val sp = spanAt(e.time)
    jobs(e.jobId) = Job(sp, e.time, e.time)
    e.stageIds.foreach { st => stageSpan(st) = sp; stageCount(sp) += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new Acc)
      val info = e.taskInfo
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      // Spark's own definition of scheduler delay.
      a.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.resultBytes += m.resultSize
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      stack.foreach { s =>
        peakBlockBytes(s.id) = math.max(peakBlockBytes(s.id), blockBytes)
        if (size > 0) rddsSeen.getOrElseUpdate(s.id, mutable.Set[Int]()) += rdd.rddId
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized(execStart(s.executionId) = s.time)
    case end: SparkListenerSQLExecutionEnd => lock.synchronized {
      val qe = SqlEvents.queryExecution(end)
      val sp = execStart.remove(end.executionId).map(spanAt).getOrElse(-1)
      if (qe != null) Option(execByQe.remove(qe)) match {
        case Some(x) => x.span = sp
        case None => spanByQe.put(qe, sp)
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val nodes = qe.optimizedPlan.collect { case p => p }.size
    val out = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    lock.synchronized {
      val x = Exec(durationNs, planMs, nodes, out)
      Option(spanByQe.remove(qe)) match {
        case Some(sp) => x.span = sp
        case None => execByQe.put(qe, x)
      }
      execs += x
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  final case class Job(span: Int, startMs: Long, var endMs: Long)
  final case class Exec(durationNs: Long, planMs: Long, planNodes: Int, outputPath: Option[String]) {
    var span: Int = -1
  }
}
