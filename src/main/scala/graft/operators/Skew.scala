package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation join helpers (SURVEY §5: "Skewed keys → salting or
  * AQE skew-join"). AQE's runtime skew split handles sort-merge joins;
  * salting is the explicit, planner-independent tool when one hot key
  * dominates a shuffle (the classic 100 TB failure mode: one symbol or
  * one document source carrying half the feed).
  */
object Skew {

  /** Salted equi-join of a skewed fact side against a (replicable)
    * dimension side: fact rows scatter across `salts` sub-keys, the
    * dimension replicates once per salt, and the shuffle key becomes
    * (key, salt) — the hot key's rows spread over `salts` reducers.
    * Result set is identical to `fact.join(dim, key)`; only the
    * partitioning changes. Inner joins only (replication would
    * duplicate outer-side null rows).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts.toLong)))
    val repDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedFact.join(repDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Scale-adaptive scan fan-out (r11): repartition a frame up to the
    * session shuffle width ONLY when its scan produces fewer partitions
    * — a small input read as one or two splits single-threads every
    * derivation stage above it (tokenize/shingle/hash pipelines measured
    * wall ≈ summed task time on 32 idle cores). At corpus scale the
    * scan already carries ≥ width splits and this is a NO-OP — no
    * shuffle is added, so it is free insurance, not a local-mode tune.
    * The explicit width matters: AQE exempts user repartitions from
    * coalescing, while a byte-based coalesce would immediately re-fuse
    * a small-but-CPU-heavy frame back to one partition.
    *
    * The partition count comes from the physical plan, so the probe
    * runs no job (ADVICE r11 #1; it used to read `df.rdd`, and under
    * AQE `Dataset.rdd` on a frame with exchanges or a persisted input
    * runs the upstream stages at plan-build time): a plan whose
    * `outputPartitioning` states its count (an exchange, a coalesce) is
    * taken at its word; a scan, through any narrow projection or
    * filter, reports the split count of its input RDD (file splits, a
    * checkpointed RDD's partitions, a local relation's slices); a
    * persisted frame is read through its cached plan. Anything else (a
    * join or union at the top) is not counted and is fanned out.
    *
    * PRECONDITION: `df` should be a scan/projection-only frame. On a
    * frame whose top is an AQE exchange the count is the PLANNED one;
    * AQE may coalesce it to fewer partitions at run time.
    */
  def fanOutScan(df: DataFrame, key: String): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    if (plannedPartitions(df).exists(_ >= width)) df
    else df.repartition(width, col(key))
  }

  /** The partition count `df`'s physical plan states without running a
    * job, or None when the plan does not state one (see [[fanOutScan]]).
    */
  private[graft] def plannedPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Option[Int] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ if p.outputPartitioning.numPartitions > 0 =>
        Some(p.outputPartitioning.numPartitions)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case f: FileSourceScanExec => Some(f.inputRDD.getNumPartitions)
      // RDD and local-relation scans
      case leaf: CodegenSupport if leaf.children.isEmpty =>
        leaf.inputRDDs().headOption.map(_.getNumPartitions)
      case _ if p.children.size == 1 => walk(p.children.head)
      case _ => None
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Per-key frequency profile — find the hot keys that justify salting
    * (or an AQE skew threshold bump) before paying for either.
    */
  def keyProfile(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    df.groupBy(col(key)).count()
      .orderBy(col("count").desc, col(key))
      .limit(topN)
}
