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
    * PRECONDITION (ADVICE r11): `df` should be a scan/projection-only
    * frame. The partition-count probe reads `df.rdd` at plan-build
    * time, and under AQE `Dataset.rdd` eagerly materializes upstream
    * query stages — on a frame whose plan contains exchanges that
    * would run upstream jobs whose results the subsequent execution
    * does not reuse. Not every call site keeps to it:
    * [[graft.CorpusPipeline.curate]] hands its persisted exact-dedup
    * frame (content-hash shuffle + window) to the pair emitter, e.g.
    * [[Dedup.ngramJaccardInvertedIndex]] → [[Dedup.shinglePostings]],
    * and there the `df.rdd` probe runs a job of its own (`rdd at
    * Skew.scala`, one task per cached partition). Replacing the probe
    * with the file-scan relation's split count is still open.
    */
  def fanOutScan(df: DataFrame, key: String): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= width) df
    else df.repartition(width, col(key))
  }

  /** Per-key frequency profile — find the hot keys that justify salting
    * (or an AQE skew threshold bump) before paying for either.
    */
  def keyProfile(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    df.groupBy(col(key)).count()
      .orderBy(col("count").desc, col(key))
      .limit(topN)
}
