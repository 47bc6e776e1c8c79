package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
  * score raw documents by how much more likely their hashed n-gram
  * features are under a target distribution than under the raw corpus
  * distribution, then resample proportionally. The modern data-selection
  * stage of an LLM training pipeline (select web text that "looks like"
  * a curated target set).
  *
  * Spark-first scale shape: the ONLY corpus-scale pass is one
  * unigram+bigram posting explode folded immediately to per-doc BUCKET
  * multiplicities (map-side-combinable groupBy on (doc_id, bucket)).
  * Both feature distributions then fold FROM that per-doc frame — the
  * target by filtering the flag, the raw over everything — into tables
  * bounded by [[Buckets]] rows, which join back per-bucket. At 100 TB
  * the model is KBs (2×1024 counts) while the corpus pass stays one
  * shuffle keyed on (doc_id, bucket); nothing corpus-sized is ever
  * collected or broadcast.
  *
  * Hashing is the portable md5 32-bit fold of the minhash family
  * ([[Dedup.minhashPairsPortable]]) mod [[Buckets]], so DuckDB replays
  * the bucket assignment byte-for-byte and the `dsir_weights` row is
  * hash-checked cross-engine. Probabilities are add-one smoothed per
  * bucket; the only float steps are the two ln's and the Σ m·ln fold,
  * rounded to 6 (the round-6 policy shared with [[TextAnalysis.lmScore]]).
  */
object Dsir {

  val Buckets = 1024

  /** Unigram + bigram postings (one row per OCCURRENCE), hashed to
    * buckets, carrying the target flag as a PROJECTION of the document
    * row — so the fit never joins a corpus-cardinality flag table back
    * on doc_id (the flag rides the one posting pass instead).
    */
  private def bucketPostings(documents: DataFrame, isTarget: Column): DataFrame = {
    val toks = Skew.fanOutScan(documents, "doc_id")
      .select(col("doc_id"), isTarget.as("__is_target"),
        Dedup.nonEmptyTokens(col("text")).as("__t"))
    // r11: unigrams and bigrams ride ONE explode — array_concat of the
    // token array with the native TokenKgrams bigram array (ordered,
    // non-distinct: multiplicity feeds the bucket counts) halves the
    // corpus scans the old uni/bi unionAll paid and drops the
    // interpreted transform/element_at lambda per bigram. Same gram
    // multiset, so the md5 bucket fold is bit-identical.
    toks.select(col("doc_id"), col("__is_target"),
        explode(concat(col("__t"),
          graft.functions.TokenKgrams.tokenKgrams(col("__t"), 2,
            distinct = false))).as("g"))
      .select(col("doc_id"), col("__is_target"),
        (graft.functions.Md5Prefix.md5Prefix32(col("g"))
          % lit(Buckets)).as("bucket"))
  }

  /** #47m dsir_weights: per-document importance log-weight
    * ln p_target(doc) − ln p_raw(doc) under hashed-n-gram bucket
    * unigram models. `isTarget` marks the rows whose feature
    * distribution defines the target (e.g. `col("lang") === "en"`);
    * weights are emitted for EVERY document (target rows included —
    * selection downstream decides the pool). Output:
    * (doc_id, n_grams, log_weight).
    */
  def weights(documents: DataFrame, isTarget: Column): DataFrame = {
    // Per-doc bucket multiplicities: the one corpus-scale aggregate.
    // The flag is functionally dependent on doc_id, so grouping by it
    // adds no cardinality — and saves a corpus-sized doc_id join.
    // Persisted: this frame feeds BOTH the distribution fit and the
    // final scoring join — without the cut the posting explode re-scans
    // the corpus per consumer (plan-contract-asserted at 2 scans).
    val dbk = bucketPostings(documents, isTarget)
      .groupBy(col("doc_id"), col("__is_target"), col("bucket"))
      .agg(count(lit(1)).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Feature distributions fold FROM the per-doc counts (≤ Buckets rows
    // each) — no second pass over raw postings.
    val rc = dbk.groupBy(col("bucket")).agg(
      sum(col("m")).as("cr"),
      sum(when(col("__is_target"), col("m")).otherwise(0L)).as("ct"))
    val tot = rc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    // Per-bucket log likelihood ratio, add-one smoothed; bucket tables
    // are bounded by Buckets rows → broadcast back into the doc frame.
    val lr = rc.crossJoin(broadcast(tot)).select(
      col("bucket"),
      (log((col("ct") + lit(1.0)) / (col("nt") + lit(Buckets)))
        - log((col("cr") + lit(1.0)) / (col("nr") + lit(Buckets)))).as("lw"))
    dbk.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_grams"),
        Publish.round6(sum(col("m") * col("lw"))).as("log_weight"))
  }

  /** Gumbel-top-k importance resampling — the paper's "sample without
    * replacement ∝ exp(log_weight)" step, derandomized: each doc's
    * Gumbel noise g = −ln(−ln(u)) comes from a uniform u folded from
    * md5(doc_id) (u ∈ (0,1), never 0 or 1 by the +1/+2 shift), so the
    * draw is reproducible across engines and runs. Top-k by perturbed
    * weight via the bounded TakeOrdered shape — no global sort of the
    * corpus ([[TopK.withRank]]).
    */
  def resample(weighted: DataFrame, k: Int): DataFrame = {
    val u = (graft.functions.Md5Prefix.md5Prefix32(col("doc_id").cast("string"))
      .cast("double") + lit(1.0)) / lit(4294967298.0)   // (h+1)/(2^32+2)
    // Rounded to 6 before ranking (ties then break on doc_id): the
    // perturbed key compares UNROUNDED nowhere, so a sub-ulp libm ln
    // difference can never flip a cross-engine rank.
    val perturbed = weighted.withColumn("__g",
      Publish.round6(col("log_weight") - log(-log(u))))
    TopK.withRank(perturbed, k,
        Seq(TopK.descNum(col("__g")), col("doc_id")))
      .select(col("rk"), col("doc_id"), col("n_grams"), col("log_weight"))
  }
}
