package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 lexical ranking (Robertson–Spärck Jones; the Lucene
  * positive-idf variant) — the retrieval scorer a training-data
  * pipeline leans on for decontamination lookups and retrieval-based
  * dedup next to the ANN family.
  *
  * Scale shape for a fixed query-term set: document length is a
  * zero-shuffle projection (`size(tokens)`), the posting explode is
  * FILTERED to the query terms before any aggregation (the only
  * corpus-scale pass, and it carries q·|docs-matching| rows, not the
  * corpus), document frequencies fold from the per-doc matches into a
  * q-row table, and N/avgdl are a 1-row aggregate — both broadcast
  * back. Ranking is the bounded TakeOrdered top-k ([[TopK.withRank]]),
  * never a global sort. Floats follow the round-6 policy: integer
  * tf/df/dl/N exact cross-engine; idf's ln and the Σ-over-terms fold
  * round to 6.
  */
object Bm25 {

  /** #47n bm25_topk: top-k documents for `terms` under
    * BM25(k1, b) with idf = ln(1 + (N − df + 0.5)/(df + 0.5)).
    * Ties break on doc_id. Output: (rk, doc_id, n_terms_matched, score).
    */
  private def toks(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), Dedup.nonEmptyTokens(col("text")).as("__t"))
      .select(col("doc_id"), col("__t"), size(col("__t")).as("dl"))

  /** The query-filtered term-frequency posting, UN-checkpointed — the
    * plan-shape test target (the [[Dedup.portableBandKeys]] pattern:
    * [[topk]] checkpoints this frame, which hides the filter-precedes-
    * explode contract from the row plan).
    */
  private[graft] def tfPlan(documents: DataFrame, terms: Seq[String]): DataFrame =
    // Query-term postings only: filter INSIDE the array before exploding,
    // so the explode fans out matched occurrences, not the corpus.
    toks(documents)
      .select(col("doc_id"), col("dl"),
        explode(filter(col("__t"), t => t.isInCollection(terms))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  def topk(documents: DataFrame, terms: Seq[String], k: Int = 20,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: empty query")
    // 1-row corpus stats, broadcast.
    val stats = toks(documents)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // tf feeds BOTH the df fold and the scorer join — without
    // materialization the corpus tokenize pass runs once per consumer
    // (ReuseProbe r12: scans=3 on a one-table query). The stored rows
    // are the query-filtered posting (q · |matching docs|, the scale
    // note's bound), so the checkpoint is retrieval-sized, not
    // corpus-sized. stats keeps its own pass — it must see every doc.
    val tf = tfPlan(documents, terms).transform(graft.Ckpt.frame)
    // q-row document frequencies, folded from per-doc matches.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("__s",
        col("__idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        Publish.round6(sum(col("__s"))).as("score"))
    TopK.withRank(scored, k,
        Seq(TopK.descNum(col("score")), col("doc_id")))
      .select(col("rk"), col("doc_id"), col("n_terms_matched"), col("score"))
  }
}
