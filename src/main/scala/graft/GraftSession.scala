package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration graft assumes everywhere.
  *
  * Local runs use `local[N]`; on a real cluster the same builder applies —
  * only master/shuffle-partitions change (config, not code). AQE is on so
  * skewed joins and over-partitioned shuffles self-correct at runtime.
  *
  * Generated code stays resident across operations. Spark keeps compiled
  * whole-stage and expression classes in one JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` entries (default 100).
  * `Pipeline.runDaily` generates 242 distinct classes per snapshot and
  * `CorpusPipeline.curate` ~92 (86 on a cold JVM), so under the default
  * every snapshot evicted its own classes before reusing them and
  * recompiled (and re-JITted) 259–265 of them. 1000 entries is ~3× the
  * union of those working sets. The conf is static: it is read once per
  * JVM, when that JVM first generates code, so it must be set before the
  * session exists (here); executors get it through the SparkConf.
  *
  * Whole-stage class names carry no stage id: AQE numbers a plan's
  * codegen stages in the order its query stages finish, so the same
  * stage can come back under another id and, with the id in its class
  * name, compile again (seen as 2–10 extra classes on some repeated
  * snapshots). Without it a repeated `runDaily` on sf0.001 compiles 229
  * classes cold and none after that. A warm 50k-tick snapshot on a
  * 4-core box went from 12.6 s to 8.6 s (medians of ten alternating
  * runs, perfbench `daily_snapshot`).
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.ts is parquet TIMESTAMP(NANOS); read as long (Tables.events
      // truncates to micros). Set here so loaders never mutate session conf.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
  }

  /** Local session for tests and ad-hoc runs. */
  def local(appName: String = "graft", cores: Int = 4): SparkSession = {
    val s = builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-${sys.props("user.name")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
