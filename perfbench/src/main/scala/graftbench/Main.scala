package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CorpusPipeline, GraftSession, Pipeline, SparkEntry}
import graft.operators.Dedup
import graft.sources.Tables

/** Runs one benchmark workload against graft's public calls, closed loop
  * with one caller, and writes the raw samples as JSON.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <input dir> --work <scratch dir> --result <json file>
  * }}}
  *
  * Set-up is what a scheduled caller waits for before its first result:
  * from the JVM's start through a fresh session and the first operation,
  * which pays class loading, JIT and code generation. The measured loop
  * then runs at least [[Workload.minOps]] operations and more until
  * `--seconds` have passed. With `--trace 1` one more operation runs
  * unrecorded, then the measured operations go untraced, traced, traced,
  * untraced, ..., which gives both the per-layer numbers and the tracing
  * overhead from one run.
  * Outputs the correctness check needs are written under `<work>/check`;
  * the check itself runs outside the JVM.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, result: String)

  /** One timed operation: its output size in bytes and files, and its
    * root span (-1 when untraced).
    */
  final case class Op(name: String, ms: Double, bytes: Long, files: Int,
                      traced: Boolean, root: Int, failed: Boolean)

  /** What an operation returns: its name, and how to size its output once
    * the clock has stopped.
    */
  final case class Done(name: String, size: () => (Long, Int))

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("work"), need("result"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val workload: Workload = a.workload match {
      case "daily_snapshot" => new DailySnapshot(a)
      case "curate_corpus" => new CurateCorpus(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = GraftSession.builder("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    workload.op(spark, -1, NoSpans)
    spark.catalog.clearCache()
    workload.cleanup(keepLast = false)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark)
    val ops = workload.measure(spark, tracer)
    tracer.detach()
    workload.writeCheck(spark)
    val layers = if (a.trace) Layers.summarize(tracer, ops.filter(_.traced), workload, cores) else Nil
    val json = Json.obj(
      "setup_s" -> setupS.toString,
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "name" -> Json.str(o.name), "ms" -> o.ms.toString, "bytes" -> o.bytes.toString,
        "traced" -> o.traced.toString, "failed" -> o.failed.toString))),
      "layers" -> Json.obj(layers.map { case (k, v, u) =>
        k -> Json.obj("value" -> v.toString, "unit" -> Json.str(u)) }: _*))
    Files.writeString(Paths.get(a.result), json)
    spark.stop()
  }

  // ---------------------------------------------------------------- workloads

  abstract class Workload(val a: Args) {
    val checkDir = s"${a.work}/check"
    /** Input bytes a single pass over the workload's tables reads. */
    def inputBytes: Long = Files.list(Paths.get(a.data)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(p => Files.size(p)).sum

    /** Run one operation. Spans are opened through `span`, which is a
      * no-op on untraced operations.
      */
    def op(spark: SparkSession, i: Int, span: Spanner): Done

    /** Rows in the workload's main input table, once `writeCheck` ran. */
    def inputRows: Long = 0L

    /** Output directories of finished operations not yet deleted. */
    protected var written: Vector[String] = Vector.empty

    /** Delete the output of every finished operation (all but the last one
      * when `keepLast`, which the correctness check reads).
      */
    def cleanup(keepLast: Boolean): Unit = {
      val (gone, kept) = written.splitAt(if (keepLast) written.size - 1 else written.size)
      gone.foreach(d => delete(new File(d)))
      written = kept
    }

    /** Extra, untimed counts a traced operation needs; runs before the
      * per-operation cache clear.
      */
    def afterTraced(spark: SparkSession, root: Int): Unit = ()

    /** Per traced operation (by root span): rows entering the near-dup
      * stage and pairs it emitted.
      */
    val pairCounts = scala.collection.mutable.Map[Int, (Long, Long)]()

    def writeCheck(spark: SparkSession): Unit

    def measure(spark: SparkSession, tracer: Tracer): Seq[Op] = {
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      // A traced run first runs one operation it does not record: the
      // JVM's second operation is the one the JIT slows most, which would
      // bias the tracing overhead.
      val warmUps = if (a.trace) 1 else 0
      val out = Seq.newBuilder[Op]
      var i = 0
      while (i < warmUps + minOps || System.nanoTime() < deadline) {
        // Untraced, traced, traced, untraced, ...: the traced and untraced
        // medians share their place in the JIT's progress, so their
        // difference is the tracing overhead.
        val n = i - warmUps
        val traced = n >= 0 && a.trace && (n % 4 == 1 || n % 4 == 2)
        if (traced) tracer.attach() else tracer.detach()
        val span: Spanner = if (traced) new TracingSpanner(tracer) else NoSpans
        val t0 = System.nanoTime()
        val (done, root) = span.root(rootName) {
          try Right(op(spark, i, span))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val (name, bytes, files) = done match {
          case Right(d) => val (b, f) = d.size(); (d.name, b, f)
          case Left(e) =>
            System.err.println(s"[perfbench] operation $i failed: $e")
            (rootName, 0L, 0)
        }
        if (traced) {
          tracer.settle()
          if (done.isRight) afterTraced(spark, root)
          tracer.settle()
        }
        spark.catalog.clearCache()
        cleanup(keepLast = true)
        // Start every operation from a collected heap, so one operation's
        // garbage is not charged to the next.
        System.gc()
        if (n >= 0 || done.isLeft) out += Op(name, ms, bytes, files, traced, root, done.isLeft)
        i += 1
      }
      out.result()
    }

    def rootName: String
    /** Operations every run measures, whatever `--seconds` says: two
      * traced and two untraced in a traced run. More operations per run
      * do not steady the figures: runs differ by the box's speed, while
      * operations within a run agree.
      */
    def minOps: Int = if (a.trace) 4 else 1

    protected def dirBytes(path: String): (Long, Int) = {
      val files = listFiles(new File(path)).filter(f => f.getName.startsWith("part-"))
      (files.map(_.length).sum, files.size)
    }

    protected def listFiles(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

    protected def delete(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
      f.delete()
    }

    protected def writeOracle(names: Seq[String]): Unit = {
      new File(checkDir).mkdirs()
      Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
        Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql(n))): _*))
    }
  }

  /** `Pipeline.runDaily` on the generated tick feed: one snapshot per op. */
  final class DailySnapshot(a: Args) extends Workload(a) {
    val outDir = s"${a.work}/daily"
    def rootName = "runDaily"

    def op(spark: SparkSession, i: Int, span: Spanner): Done = {
      val stamp = if (i < 0) "first" else f"it$i%05d"
      Pipeline.runDaily(spark, a.data, outDir, stamp, notify = Pipeline.Notify.silent)
      val dir = s"$outDir/snapshot=$stamp"
      written :+= dir
      Done("runDaily", () => dirBytes(dir))
    }

    def writeCheck(spark: SparkSession): Unit = {
      writeOracle(Seq("bars_daily", "breadth_daily", "market_health", "top_movers"))
      Files.writeString(Paths.get(s"$checkDir/snapshot.txt"), written.last)
    }
  }

  /** `CorpusPipeline.curate` with the `corpus_pipeline_full` arguments,
    * its released split written as parquet: one release per op.
    */
  final class CurateCorpus(a: Args) extends Workload(a) {
    val outDir = s"${a.work}/curate"
    private var pairs: DataFrame = null
    private var pairsInput: DataFrame = null
    def rootName = "curate"

    def op(spark: SparkSession, i: Int, span: Spanner): Done = {
      val dir = s"$outDir/release=${if (i < 0) "first" else f"it$i%05d"}"
      val pairsOf = (dd: DataFrame) => span("Dedup.pairsOf") {
        pairsInput = dd
        pairs = Dedup.ngramJaccardInvertedIndex(dd, minJaccard = 0.5)
        pairs
      }
      val released = span("CorpusPipeline.curate") {
        CorpusPipeline.curate(Tables.documents(spark, a.data), pairsOf = pairsOf,
          blocklistTerms = Some(Seq("slow", "merge")), scrubPii = true)
      }
      span("CorpusPipeline.write")(released.write.parquet(dir))
      written :+= dir
      Done("curate", () => dirBytes(dir))
    }

    private var docsIn = 0L
    override def inputRows: Long = docsIn

    override def afterTraced(spark: SparkSession, root: Int): Unit =
      pairCounts(root) = (pairsInput.count(), pairs.count())

    /** Besides the last release, the same curation run by the
      * oracle-checked query on a slice small enough for the oracle's
      * all-pairs join.
      */
    def writeCheck(spark: SparkSession): Unit = {
      SparkEntry.queries("corpus_pipeline_full")(spark, s"${a.data}/slice")
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/corpus_pipeline_full")
      docsIn = Tables.documents(spark, a.data).count()
      writeOracle(Seq("corpus_pipeline_full"))
      Files.writeString(Paths.get(s"$checkDir/release.txt"), written.last)
    }
  }
}
