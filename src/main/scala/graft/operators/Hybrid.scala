package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid lexical+dense retrieval with reciprocal-rank fusion
  * (Cormack et al. 2009) — the modern retrieval primitive a
  * training-data pipeline uses for retrieval-based dedup, hard-negative
  * mining and contamination lookups: BM25 catches exact-term evidence,
  * the embedding arm catches paraphrase, and RRF fuses the two rank
  * lists without score calibration (ranks are scale-free; raw BM25 and
  * cosine live on incomparable scales).
  *
  * Scale shape: each arm ends in a bounded TopK ([[TopK.withRank]] —
  * map-side-truncating, never a global sort) BEFORE fusion, so the
  * full-outer fuse joins two ≤poolK-row frames on the driver-side of
  * the cost curve no matter the corpus size. The lexical arm is
  * [[Bm25.topk]]'s filtered-posting scan; the dense arm is one
  * broadcast-query pass over the embeddings (the exactness baseline —
  * at 100 TB the ANN tiers plug in as the candidate source, same
  * fusion tail).
  */
object Hybrid {

  /** #47u hybrid_topk: top-k documents for a term query + an embedding
    * query under RRF(rrfK): score(d) = Σ_arms 1/(rrfK + rank_arm(d))
    * over the arms that retrieved d in their top `poolK`. The synthetic
    * tables are id-aligned (embeddings.vec_id IS documents.doc_id), so
    * `queryVecId` names the query document's embedding — and that
    * document is excluded from BOTH arms' candidate pools (in
    * retrieval-based dedup the query IS a corpus doc; ranked only
    * lexically it would fill a result slot with a deflated
    * self-match). Ties break on doc_id. Output: (rk, doc_id, lex_rk,
    * dense_rk, rrf_score) with NULL arm ranks for single-arm hits.
    */
  def topk(documents: DataFrame, embeddings: DataFrame, terms: Seq[String],
           queryVecId: Long = 7L, k: Int = 10, poolK: Int = 20,
           rrfK: Int = 60): DataFrame = {
    val lex = Bm25.topk(documents.filter(col("doc_id") =!= queryVecId),
        terms, poolK)
      .select(col("doc_id"), col("rk").cast("long").as("lex_rk"))
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    // Fail-loudly guard (ADVICE r7, made lazy per ADVICE r8): a
    // missing or zero-norm query vector would make the dense arm
    // empty and fuse would still return top-k — silently
    // lexical-only. The guard rides INSIDE the plan as the broadcast
    // 1-row raise_error (the Similarity.nearDupPairs idiom): the
    // keyed agg always yields exactly one row (count 0 on no match),
    // so the crossJoin never silently drops, and the filter
    // referencing __chk keeps the raise_error alive. No eager
    // driver action at operator construction.
    val q = e.filter(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val cand = e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        Publish.round6(Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .as("cos_sim"))
    val dense = TopK.withRank(cand, poolK,
        Seq(TopK.descNum(col("cos_sim")), col("doc_id")))
      .select(col("doc_id"), col("rk").cast("long").as("dense_rk"))
    // Fail-loudly guard (ADVICE r7, lazy per ADVICE r8): a missing or
    // zero-norm query vector makes the dense arm empty and fuse would
    // silently return lexical-only results. Shape history, because two
    // prior forms each had a pruning hole: a guard riding the dense
    // arm is eliminated with the whole join when the candidate side is
    // provably empty, and a guard crossJoined onto the fused tail is
    // eliminated when the LEXICAL arm is empty (no term matches →
    // fused is empty → empty-relation propagation drops the join and
    // the guard with it — second r9 review finding). The robust shape
    // is a ZERO-ROW UNION SENTINEL: a branch whose child is an
    // aggregate (always exactly one row — never statically prunable)
    // that raises during evaluation when the count is wrong and
    // filters itself away when it is right. Union branches always
    // execute, whatever the other branch's cardinality. The sentinel
    // re-scans the vec_id filter (a pushdown-pruned narrow scan — the
    // in-policy re-scan shape) rather than sharing `q`'s subplan:
    // sharing would not be reused across branches anyway (the
    // ReuseProbe rule), and an eager localCheckpoint would reintroduce
    // the ADVICE-r8 construction-time action.
    val guard = e.filter(col("vec_id") === queryVecId)
      .agg(count(lit(1)).as("__nq"))
      .withColumn("__chk",
        when(col("__nq") =!= 1, raise_error(concat(
          lit(s"hybrid topk: queryVecId=$queryVecId must have exactly one " +
            "nonzero-norm embedding row, found "),
          col("__nq").cast("string"),
          lit(" — an empty dense arm would silently degrade the fusion " +
            "to lexical-only results")))).otherwise(lit(1)))
    val fused = fuse(lex, dense, k, rrfK)
    // Null-typed projection of the guard row, NOT a join against an
    // empty frame (a statically-empty side would get the whole branch
    // pruned — the exact hole this shape closes).
    val sentinel = guard.filter(col("__chk") =!= 1)
      .select(fused.schema.fields.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
    fused.unionByName(sentinel)
  }

  /** The fusion tail alone: RRF-fuse a lexical and a dense candidate
    * list — `(doc_id, lex_rk)` / `(doc_id, dense_rk)`, both already
    * bounded — into the final top-k. This is the plug point the ANN
    * tiers use at scale: any ranker whose output maps to
    * `(doc_id, dense_rk)` swaps in for [[topk]]'s brute-force arm with
    * the identical fusion semantics — lshTopK, or, for a single query,
    * ivfTopK / pqTopK / ivfpqTopK over their fitted artifacts
    * (`Similarity.kmeansFit` centroids, `Similarity.pqCodebook`).
    */
  def fuse(lex: DataFrame, dense: DataFrame, k: Int = 10,
           rrfK: Int = 60): DataFrame = {
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", Publish.round6(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rk")), lit(0.0))))
    TopK.withRank(fused, k, Seq(TopK.descNum(col("rrf_score")), col("doc_id")))
      .select(col("rk"), col("doc_id"), col("lex_rk"), col("dense_rk"),
        col("rrf_score"))
  }
}
