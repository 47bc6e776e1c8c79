package graft.operators

import java.io.{File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The replay harness behind the `stream_*` oracle rows. Structured
  * Streaming's guarantee is that an incremental query's output equals
  * the batch query over the same input prefix; a row checks it by
  * replaying its batch source through a streaming operator and
  * publishing what the operator emitted, which the row's oracle then
  * hash-checks against the batch answer.
  *
  * The replay contract of [[replay]]:
  *  - The source is written once, as parquet, under a per-call directory
  *    (on /dev/shm when it is writable, else the JVM temp dir), and the
  *    write observes the 1/3 and 2/3 quantiles of its ordering key.
  *  - The written rows split into [[Batches]] files by those value
  *    ranges, so rows with equal keys share a file: a row in a later
  *    file is strictly later than every row before it, which keeps
  *    watermarks and ties exact. Every range gets a file, empty or not,
  *    so the batch count does not depend on the data. Three is a
  *    constant, not an option: three data batches are what make a row
  *    check state that crosses a batch boundary with data on both sides.
  *  - An optional sentinel file comes last: one row per distinct value
  *    of the `flushBy` columns, its ordering key moved to [[FarFuture]].
  *    It carries the watermark past every real window and closes every
  *    open session, so the operator's held state flushes; the
  *    sentinels' own windows and sessions never close.
  *  - File modification times increase strictly with the batch, and the
  *    files stream back through `maxFilesPerTrigger = 1` under
  *    `Trigger.AvailableNow`: one file per micro-batch, then the no-data
  *    batch the last watermark asks for.
  *  - The query runs in an isolated `newSession()` that copies the
  *    caller's SQL confs and sets 4 shuffle partitions (per-partition
  *    state-store work dominates a small micro-batch; key-sharded state
  *    gives the same results at any count). Its checkpoint is a
  *    per-query option, written through [[ReplayCheckpointFiles]]. The
  *    caller's session conf is never written.
  */
object StreamHarness {

  /** Data files a source replays as, one micro-batch each. */
  val Batches = 3

  /** The sentinel event time: after every event the fixtures hold. */
  val FarFuture = new Timestamp(4102444800000L) // 2100-01-01T00:00:00Z

  /** Replay `rows` through `op`, split on the ordering column `key`,
    * with a sentinel row per distinct `flushBy` value (none when empty),
    * and return what `op` emitted in append mode, as a frame planned in
    * the caller's session `s`.
    */
  def replay(s: SparkSession, rows: DataFrame, key: String, flushBy: Seq[String] = Nil)
            (op: DataFrame => DataFrame): DataFrame = {
    val dir = new File(tmpBase, s"graft-replay-${UUID.randomUUID}")
    try {
      val source = new File(dir, "source")
      writeFiles(rows, key, flushBy, new File(dir, "stage"), source)
      val ns = s.newSession()
      s.conf.getAll.foreach { case (k, v) => if (ns.conf.isModifiable(k)) ns.conf.set(k, v) }
      ns.conf.set("spark.sql.shuffle.partitions", "4")
      ns.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        classOf[ReplayCheckpointFiles].getName)
      val stream = ns.readStream.schema(rows.schema).option("maxFilesPerTrigger", 1L)
        .parquet(source.getPath)
      val q = op(stream).writeStream.format("memory").queryName("replay")
        .option("checkpointLocation", new File(dir, "checkpoint").getPath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally q.stop()
      val out = ns.table("replay")
      s.createDataFrame(out.rdd, out.schema)
    } finally deleteRecursively(dir)
  }

  /** Write `rows` once under `stage`, then its batch files (and sentinel
    * file) into `out` as `part-<i>.parquet` with increasing mtimes.
    */
  private def writeFiles(rows: DataFrame, key: String, flushBy: Seq[String],
                         stage: File, out: File): Unit = {
    val k = col(key)
    val fractions = (1 until Batches).map(_.toDouble / Batches)
    // The source runs once: the write that materializes it also
    // observes the key quantiles (null on an empty source).
    val quantiles = Observation()
    val whole = new File(stage, "whole").getPath
    rows.observe(quantiles, percentile_approx(k, lit(fractions.toArray), lit(10000)).as("q"))
      .write.parquet(whole)
    val written = rows.sparkSession.read.parquet(whole)
    val bounds = Option(quantiles.get("q").asInstanceOf[collection.Seq[Any]])
      .getOrElse(fractions.map(_ => null))
    val batch = bounds.zipWithIndex.foldRight(lit(Batches - 1)) {
      case ((b, i), later) => when(k <= lit(b), i).otherwise(later)
    }
    val sentinel =
      if (flushBy.isEmpty) Nil
      else Seq(written.dropDuplicates(flushBy).withColumn(key, lit(FarFuture))
        .withColumn("__file", lit(Batches)))
    // One task writes every file; a range with no rows gets an empty one.
    val split = new File(stage, "split")
    (written.withColumn("__file", batch) +: sentinel).reduce(_ unionByName _)
      .coalesce(1).write.partitionBy("__file").parquet(split.getPath)
    out.mkdirs()
    val t0 = System.currentTimeMillis()
    (0 until Batches + sentinel.size).foreach { i =>
      val d = new File(split, s"__file=$i")
      if (!d.isDirectory) written.limit(0).coalesce(1).write.parquet(d.getPath)
      val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
      val f = new File(out, s"part-$i.parquet")
      Files.move(part.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
      f.setLastModified(t0 + i * 1000L)
    }
  }

  private def tmpBase: File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm else new File(System.getProperty("java.io.tmpdir"))
  }

  private def deleteRecursively(f: File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRecursively)
    f.delete()
    ()
  }
}

/** How the replay checkpoint writes its files: Spark's rename-based
  * file-system manager, except that on a local path a new file or
  * directory is created through java.io. Without Hadoop's native
  * library the local file system sets each new file's permissions by
  * forking `chmod` (~8 ms each on a 4-core box), and every state store
  * of every partition writes a delta file per micro-batch: through the
  * stock manager `stream_range_join` took 3.56 s at sf0.1, through this
  * one 3.21 s. The checkpoint belongs to one replay and is deleted with
  * it, so its permissions are never read.
  */
class ReplayCheckpointFiles(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else {
      val f = new File(p.toUri.getPath)
      f.getParentFile.mkdirs()
      new FSDataOutputStream(new FileOutputStream(f), null)
    }

  override def mkdirs(p: Path): Unit =
    if (!isLocal) super.mkdirs(p) else { new File(p.toUri.getPath).mkdirs(); () }
}
