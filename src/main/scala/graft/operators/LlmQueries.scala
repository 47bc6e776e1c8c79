package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Driver-contract wrappers + DuckDB oracles for the LLM-training-data
  * ops (SURVEY §2 #37–47). Since round 6 every row carries a full
  * cross-engine oracle: the hash-seeded operators either embed their
  * driver-deterministic constants as literals the SQL replays
  * (hyperplane LSH, zero-iteration IVF/PQ quantizers) or run a portable
  * hash family (md5-based minhash/simhash — the only near-dup emitters,
  * so the curation default is the checked path — and string-keyed
  * exact spans, whose xxhash64-key default is spec-asserted equivalent).
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** The event time every document carries in the document-stream rows.
    * Not epoch 0: Spark's watermark starts there, and the
    * within-watermark dedupe treats a row at the watermark as late.
    */
  private val IngestT0 = new java.sql.Timestamp(1704067200000L) // 2024-01-01T00:00:00Z
  private def emb(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  /** The media-dedup planted corpus (shared by #50c/#50d): the natural
    * documents plus exact payload twins (doc_id%50==0, +1e6 — hamming
    * 0 by construction) and leading-byte perturbations (doc_id%50==25,
    * +2e6 — the gradient flips only in cells that sample byte 0), the
    * pii_scrub planting discipline.
    */
  private def mediaAug(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val twins = base.filter(pmod(col("doc_id"), lit(50L)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val perturbed = base.filter(pmod(col("doc_id"), lit(50L)) === 25)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("Z"), substring(col("text"), 2, 1000000)).as("text"))
    base.unionByName(twins).unionByName(perturbed)
  }

  /** Report-over-frame bench twins (r7 verdict item 8): the registry
    * rows for cluster_stats / span_stats / dedup_keep_best re-derive
    * their full upstream pipelines each run so the DuckDB oracle can
    * check them end-to-end; in production those reports read an
    * already-materialized frame. Each entry here SETS UP untimed (outer
    * call: build + eagerly checkpoint the upstream frame) and
    * returns a thunk that is the report alone — [[graft.Bench]] times
    * the thunk, so BENCH_r*.json splits pipeline cost from report cost
    * as two rows per operator. Not part of the Verify/oracle surface
    * (the full-pipeline rows carry correctness).
    */
  def reportQueries: Map[String, (SparkSession, String) => () => DataFrame] = Map(
    "cluster_stats_report" -> ((s, d) => {
      val clusters = Components.dedupClusters(
        Similarity.nearDupPairs(emb(s, d), minCosine = 0.3), "id1", "id2",
        pointerJump = true).transform(graft.Ckpt.frame)
      () => Components.clusterStats(clusters).orderBy(col("cluster_size"))
    }),
    "span_stats_report" -> ((s, d) => {
      val spans = Dedup.maximalSpans(docs(s, d), minLen = 40).transform(graft.Ckpt.frame)
      () => Dedup.spanStats(spans).orderBy(col("len_bucket"))
    }),
    "dedup_keep_best_report" -> ((s, d) => {
      val documents = docs(s, d)
      val pairs = Dedup.ngramJaccardInvertedIndex(documents, minJaccard = 0.5)
        .transform(graft.Ckpt.frame)
      () => Dedup.keepBest(documents, pairs)
        .orderBy(col("cluster_id"), col("doc_id"))
    }),
    "bpe_fertility_report" -> ((s, d) => {
      // In production the merge table is a fitted artifact read from
      // the model store — this row prices the fertility read alone
      // (segmentation + two bounded aggregates) without the trainer's
      // driver rounds the bpe_* registry rows re-run per invocation.
      val documents = docs(s, d)
      val (merges, _) = Bpe.trainBatched(documents, merges = BpeTokenizeMerges)
      () => Bpe.fertility(documents, merges).orderBy(col("lang"))
    }))

  /** Shared CTE body for the DSIR oracles: hashed unigram+bigram bucket
    * fit against the lang='en' target, per-doc log-weights in `w`.
    */
  private val dsirWeightsCte: String =
    s"""t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'),
       |      x -> x <> '') AS tk
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(tk) AS g FROM t
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    i -> tk[i] || ' ' || tk[i+1])) AS g
       |  FROM t WHERE len(tk) >= 2),
       |dbk AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)
       |      % ${Dsir.Buckets} AS bucket,
       |    count(*) AS m
       |  FROM grams GROUP BY 1, 2),
       |rc AS (
       |  SELECT d.bucket, sum(d.m) AS cr,
       |    sum(CASE WHEN doc.lang = 'en' THEN d.m ELSE 0 END) AS ct
       |  FROM dbk d JOIN documents doc USING (doc_id)
       |  GROUP BY d.bucket),
       |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM rc),
       |lr AS (
       |  SELECT bucket,
       |    ln((ct + 1.0) / (nt + ${Dsir.Buckets}))
       |      - ln((cr + 1.0) / (nr + ${Dsir.Buckets})) AS lw
       |  FROM rc CROSS JOIN tot),
       |w AS (
       |  SELECT d.doc_id, CAST(sum(d.m) AS BIGINT) AS n_grams,
       |    round(sum(d.m * l.lw), 6) AS log_weight
       |  FROM dbk d JOIN lr l USING (bucket)
       |  GROUP BY d.doc_id)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy(col("canonical_id"))),

    // #49e StreamDedup.dedupDocuments through the replay harness,
    // hash-checked against the distinct-content oracle: the streaming
    // content-identity gate (dropDuplicatesWithinWatermark in append
    // mode). The documents table has no event time, so every row gets
    // the constant IngestT0; the replay splits on doc_id instead, and
    // the watermark after the first batch (IngestT0 − 1 h) keeps later
    // batches on time while the seen hashes stay in state. The stream
    // is projected to (text, ingest_ts) BEFORE the dedupe, so every
    // duplicate is value-identical and whichever arrives first carries
    // the same output values: the only shape that makes a
    // first-arrival-wins operator hash-checkable.
    "stream_dedup_docs" -> ((s, d) => {
      import graft.streaming.StreamDedup
      val src = docs(s, d).select(col("doc_id"), col("text"),
        lit(IngestT0).as("ingest_ts"))
      StreamHarness.replay(s, src, "doc_id") { in =>
        StreamDedup.dedupDocuments(in.drop("doc_id"))
      }.select(col("content_hash"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("content_hash"))
    }),

    // The md5-permutation family: the oracle replays it byte for byte,
    // and it is CorpusPipeline.curate's default pair emitter.
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairsPortable(docs(s, d))
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id1"), col("id2"))),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairsPortable(docs(s, d)).orderBy(col("id1"), col("id2"))),

    // #40v banding-recall evaluation: the dedup-tier twin of ann_recall
    // — how many exact near-dup pairs the minhash banding actually
    // surfaces at the deletion threshold.
    "minhash_recall" -> ((s, d) => Dedup.minhashRecall(docs(s, d))),

    "ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardInvertedIndex(docs(s, d))
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id1"), col("id2"))),

    // Asymmetric containment — the quote/excerpt detector symmetric
    // Jaccard misses (snippet-in-page pairs score ~0 Jaccard).
    "containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(docs(s, d), minContainment = 0.2)
        .orderBy(col("id1"), col("id2"))),

    // Sentence-grain duplicate profile (the CCNet line-dedup view).
    "sentence_dedup" -> ((s, d) =>
      Dedup.sentenceDedup(docs(s, d)).orderBy(col("doc_id"))),

    // The report's removal tier: cut every occurrence of a
    // corpus-duplicated sentence, rebuild the doc from the survivors —
    // n_cut ≡ sentence_dedup.n_dup_sents at the default threshold, so
    // the report is the cutter's exact preview.
    "sentence_dedup_clean" -> ((s, d) =>
      Dedup.sentenceDedupClean(docs(s, d)).orderBy(col("doc_id"))),

    "embed_near_dup" -> ((s, d) =>
      Similarity.nearDupPairs(emb(s, d))
        .withColumn("cos_sim", round(col("cos_sim"), 6))
        .orderBy(col("id1"), col("id2"))),

    // Label-bucketed emitter: oracle-expressible (the recursive CTE
    // below mirrors it exactly) — kept as the cross-engine-checked row.
    "dedup_clusters" -> ((s, d) =>
      Components.dedupClusters(
        Similarity.nearDupPairs(emb(s, d), minCosine = 0.3), "id1", "id2",
        pointerJump = true)
        .orderBy(col("cluster_id"), col("id"))),

    // Cluster-size profile over the same resolution — the report read
    // before committing a dedup threshold.
    "cluster_stats" -> ((s, d) =>
      Components.clusterStats(Components.dedupClusters(
        Similarity.nearDupPairs(emb(s, d), minCosine = 0.3), "id1", "id2",
        pointerJump = true))
        .orderBy(col("cluster_size"))),

    // The production default: LSH-signature-bucketed emitter — candidate
    // count tracks bucket occupancy, not per-label density (the label
    // variant is quadratic in dense labels; SURVEY §5 caveat).
    // Oracle-checked since round 6: the hyperplanes are driver-side
    // literals, so the oracle embeds the exact values and replays the
    // banding + ListPairs + verify + CC pipeline in SQL.
    // pointerJump: the banded emitter's recall<1 yields sparse chains
    // (19 plain hash-min rounds measured); the jump halves the rounds.
    "dedup_clusters_lsh" -> ((s, d) =>
      Components.dedupClusters(
        Similarity.nearDupPairsLsh(emb(s, d), minCosine = 0.3), "id1", "id2",
        pointerJump = true)
        .orderBy(col("cluster_id"), col("id"))),

    // SemDeDup over a zero-iteration kmeansFit (the first 16 nonzero
    // vectors as centroids, the init every fit starts from): the whole
    // assign → within-cell pair → CC → keep-diverse pipeline is
    // oracle-checked; refined fits keep their spec.
    "semantic_dedup" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.semanticDedup(e, Similarity.kmeansFit(e, 16, iters = 0))
        .orderBy(col("vec_id"))
    }),

    // Embedding-space outlier gate over the same cells — z of
    // centroid cosine against the cell's own distribution.
    "embed_outliers" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.embedOutliers(e, Similarity.kmeansFit(e, 16, iters = 0))
        .orderBy(col("vec_id"))
    }),

    // IVF occupancy/tightness report over the same cells — the
    // capacity-planning read before deploying the IVF/IVF-PQ tiers.
    "ivf_stats" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfStats(e, Similarity.kmeansFit(e, 16, iters = 0))
        .orderBy(col("cell"))
    }),

    // Distributed Lloyd (k=8, 2 rounds) + cluster profile — the one
    // coarse-quantizer fit (the rows above deploy its zero-iteration
    // init); integer micro-unit centroid means keep the ladder
    // bit-deterministic, so the oracle replays it round for round.
    "kmeans_clusters" -> ((s, d) =>
      Similarity.kmeansClusters(emb(s, d)).orderBy(col("cluster"))),

    "ann_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(emb(s, d)).orderBy(col("query_id"), col("rk"))),

    "ann_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d)).orderBy(col("query_id"), col("rk"))),

    // IVF search over a zero-iteration kmeansFit: the artifact is the
    // first 16 nonzero vectors, so the full search machinery (assignment
    // argmin, probe ranking, in-cell exact ranking) is oracle-checked.
    // Refined fits (iters > 0) share the search and are gated by
    // DedupTextSpec's recall-vs-brute-force floor.
    "ann_ivf_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(e, Similarity.kmeansFit(e, 16, iters = 0))
        .orderBy(col("query_id"), col("rk"))
    }),

    // PQ/ADC over a zero-iteration pqCodebook (the first 16 unit
    // vectors as codes): the encode → LUT → ADC → refine machinery is
    // oracle-checked end to end; Lloyd-refined codebooks share the
    // search and are gated by DedupTextSpec's recall floor.
    "ann_pq_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.pqTopK(e, Similarity.pqCodebook(e, 8, 16, iters = 0))
        .orderBy(col("query_id"), col("rk"))
    }),

    // The composed FAISS production index: IVF prunes the scan, PQ
    // compresses it. Zero-iteration artifacts for both levels carry the
    // oracle; refined ones keep the recall-floor spec.
    "ann_ivfpq_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfpqTopK(e, Similarity.kmeansFit(e, 16, iters = 0),
        Similarity.pqCodebook(e, 8, 16, iters = 0))
        .orderBy(col("query_id"), col("rk"))
    }),

    // #43g index-quality evaluation: recall@k of the LSH index vs the
    // brute-force ground truth — both arms the oracle-checked operators
    // above, so the row checks the EVALUATION join end to end.
    "ann_recall" -> ((s, d) =>
      Similarity.annRecall(emb(s, d)).orderBy(col("query_id"))),

    // Per-benchmark-item leak rollup — the eval owner's face of #40d.
    "contamination_report" -> ((s, d) =>
      Dedup.contaminationReport(docs(s, d)).orderBy(col("bench_id"))),

    // Its fuzzy twin: paraphrase-grade leakage per bench item (#40p).
    "contamination_report_fuzzy" -> ((s, d) =>
      Dedup.contaminationReportFuzzy(docs(s, d)).orderBy(col("bench_id"))),

    "decontaminate" -> ((s, d) =>
      Dedup.decontaminate(docs(s, d)).orderBy(col("doc_id"))),

    // The minhash near-dup twin of the verbatim row above — catches
    // paraphrased/edited benchmark leakage verbatim grams miss.
    "decontaminate_fuzzy" -> ((s, d) =>
      Dedup.decontaminateFuzzy(docs(s, d)).orderBy(col("doc_id"))),

    // The ExactSubstr tier of the decontamination trio: char-grain
    // spans locating WHERE benchmark text leaks into corpus docs
    // (xxhash64-key default; the string-key mode carries the oracle,
    // output-identical by the shared charGramKeys spec argument).
    "decontaminate_spans" -> ((s, d) =>
      Dedup.contaminationSpans(docs(s, d), minLen = 40)
        .orderBy(col("doc_id"), col("span_start"))),

    // ...and the cut: keep the document, drop only the leaked bytes.
    "decontaminate_spans_clean" -> ((s, d) =>
      Dedup.decontaminateSpans(docs(s, d), minLen = 40)
        .orderBy(col("doc_id"))),

    "chunk_dedup" -> ((s, d) =>
      Dedup.chunkDedup(docs(s, d)).orderBy(col("doc_id"))),

    // The xxhash64-key default runs here (8-byte shuffle keys — the
    // string-key mode shuffles the 40-char grams themselves, twice, and
    // its allocation churn was the round-6 bench confirmed-regression);
    // the DuckDB oracle still computes over gram strings, which is fine
    // because the two modes are output-identical (spec-asserted,
    // DedupTextSpec "string-key (oracle) mode").
    "dedup_spans" -> ((s, d) =>
      Dedup.exactSpans(docs(s, d), minLen = 40)
        .orderBy(col("doc_id"), col("span_start"))),

    "dedup_spans_clean" -> ((s, d) =>
      Dedup.removeSpans(docs(s, d), minLen = 40)
        .orderBy(col("doc_id"))),

    // Suffix-grade maximal repeats (Lee et al. span statistics); the
    // window-exact row above stays as the cheap detection tier.
    "dedup_spans_maximal" -> ((s, d) =>
      Dedup.maximalSpans(docs(s, d), minLen = 40)
        .orderBy(col("doc_id"), col("span_start"))),

    // Corpus-level duplication profile over the maximal repeats — the
    // report a curation run reads before picking a removal threshold.
    "span_stats" -> ((s, d) =>
      Dedup.spanStats(Dedup.maximalSpans(docs(s, d), minLen = 40))
        .orderBy(col("len_bucket"))),

    // Removal at the SAME grain the statistics tier reports: cut the
    // interval union of the maximal repeats (r8 — previously the
    // cleaner cut window-exact islands while span_stats reported
    // maximal lengths).
    "dedup_spans_maximal_clean" -> ((s, d) =>
      Dedup.cutSpans(docs(s, d),
          Dedup.mergeSpans(Dedup.maximalSpans(docs(s, d), minLen = 40)))
        .orderBy(col("doc_id"))),

    // Quality-aware canonical selection over the oracle-friendly ngram
    // emitter (same pair source as corpus_pipeline's dedup stage).
    "dedup_keep_best" -> ((s, d) =>
      Dedup.keepBest(docs(s, d),
          Dedup.ngramJaccardInvertedIndex(docs(s, d), minJaccard = 0.5))
        .orderBy(col("cluster_id"), col("doc_id"))),

    // The corpus-scale default pair source: banded minhash-LSH (the
    // dedup_clusters / dedup_clusters_lsh split mirrored at keep-best
    // grain — at 100 TB the banded emitter is the one that bounds
    // candidate generation; the ngram emitter's posting-intersection
    // cost tracks pair count). Portable md5 family carries the oracle.
    "dedup_keep_best_lsh" -> ((s, d) =>
      Dedup.keepBest(docs(s, d),
          Dedup.minhashPairsPortable(docs(s, d), minJaccard = 0.5))
        .orderBy(col("cluster_id"), col("doc_id"))),

    "corpus_mix" -> ((s, d) =>
      TextAnalysis.corpusMix(docs(s, d)).orderBy(col("doc_id"))),

    "shard_pack" -> ((s, d) =>
      Shard.shardPack(docs(s, d)).orderBy(col("doc_id"))),

    // The trainer-grain layout: fixed 512-token sequences, docs split
    // across boundaries — the packing manifest a data loader consumes.
    "sequence_pack" -> ((s, d) =>
      Shard.sequencePack(docs(s, d)).orderBy(col("doc_id"), col("seq_id"))),

    "lang_id" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy(col("doc_id"))),

    "text_quality" -> ((s, d) => {
      val df = TextAnalysis.textQuality(docs(s, d))
      Seq("avg_word_len", "punct_ratio", "upper_ratio", "stop_ratio")
        .foldLeft(df)((acc, c) => acc.withColumn(c, round(col(c), 6)))
        .orderBy(col("doc_id"))
    }),

    "doc_repetition" -> ((s, d) =>
      TextAnalysis.docRepetition(docs(s, d)).orderBy(col("doc_id"))),

    "stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(docs(s, d))
        .select(col("doc_id"), col("lang"), col("n_stratum"), col("keep_thr"))
        .orderBy(col("doc_id"))),

    "token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(docs(s, d)).orderBy(col("doc_id"))),

    "doc_fingerprint" -> ((s, d) =>
      TextAnalysis.docFingerprint(docs(s, d)).orderBy(col("doc_id"))),

    "lm_score" -> ((s, d) =>
      TextAnalysis.lmScore(docs(s, d)).orderBy(col("doc_id"))),

    // CCNet deployment shape: LM fitted on the trusted slice (en),
    // every doc scored against it — out-of-domain docs surface as
    // high-ppl outliers the self-fitted lm_score cannot see.
    "lm_score_ref" -> ((s, d) =>
      TextAnalysis.lmScoreRef(docs(s, d), col("lang") === "en")
        .orderBy(col("doc_id"))),

    // CCNet head/middle/tail: per-lang exact ppl terciles broadcast
    // back over the lm_score pipeline.
    "lm_buckets" -> ((s, d) =>
      TextAnalysis.lmBuckets(docs(s, d)).orderBy(col("doc_id"))),

    "vocab_topk" -> ((s, d) =>
      TextAnalysis.vocabTopK(docs(s, d)).orderBy(col("lang"), col("rk"))),

    "bpe_pairs" -> ((s, d) =>
      Bpe.bpePairs(docs(s, d)).orderBy(col("rk"))),

    // Production tokenization with the trained merge table — the
    // apply-tier completing the BPE family: the batched trainer fits
    // the model artifact (spec-pinned sequential-equal), then the
    // VOCABULARY-grain fold segments the corpus (one merge fold per
    // distinct word; positions join the segmentation back — the
    // trainer's own positions-vs-vocabulary scale argument). The
    // oracle replays the whole sequential train-then-apply ladder in
    // SQL (see [[BpeTokenizeSql]]).
    "bpe_tokenize" -> ((s, d) => {
      val documents = docs(s, d)
      val (merges, _) = Bpe.trainBatched(documents, merges = BpeTokenizeMerges)
      Bpe.tokenizeByVocab(documents, merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_bpe"),
          concat_ws(" ", col("bpe_tokens")).as("bpe_str"))
        .orderBy(col("doc_id"))
    }),

    // The merge table itself as an oracle row — the model artifact the
    // apply-tier ships, checked round for round against the SQL
    // ladder's per-round argmax.
    "bpe_vocab" -> ((s, d) => {
      val (merges, _) = Bpe.trainBatched(docs(s, d), merges = BpeTokenizeMerges)
      import s.implicits._
      merges.toDF()
        .select(col("round"), col("lhs"), col("rhs"), col("merged"),
          col("pair_count"))
        .orderBy(col("round"))
    }),

    // Tokenizer fertility (BPE tokens per word) per language — the
    // vocab-sizing capacity read: a lang whose fertility stays high
    // after training is under-served by the merge budget.
    "bpe_fertility" -> ((s, d) => {
      val documents = docs(s, d)
      val (merges, _) = Bpe.trainBatched(documents, merges = BpeTokenizeMerges)
      Bpe.fertility(documents, merges).orderBy(col("lang"))
    }),

    // The actual trainer feed: fixed 512-token sequences of REAL BPE
    // tokens (sequence_pack lays out whitespace counts; this packs the
    // tokenizer output itself, docs split across boundaries).
    "sequence_pack_bpe" -> ((s, d) => {
      val documents = docs(s, d)
      val (merges, _) = Bpe.trainBatched(documents, merges = BpeTokenizeMerges)
      Bpe.packedSequences(documents, merges).orderBy(col("seq_id"))
    }),

    // DSIR importance weights against the lang='en' target slice — the
    // hashed-feature fit and scoring replayed exactly by the oracle.
    "dsir_weights" -> ((s, d) =>
      Dsir.weights(docs(s, d), col("lang") === "en").orderBy(col("doc_id"))),

    // The paper's resampling step on those weights — derandomized
    // Gumbel-top-k, the draw replayed exactly by the oracle.
    "dsir_resample" -> ((s, d) =>
      Dsir.resample(
        Dsir.weights(docs(s, d), col("lang") === "en"), k = 50)
        .orderBy(col("rk"))),

    // BM25 retrieval ranking for a fixed term set drawn from the corpus
    // vocabulary — the lexical twin of the ANN rankers.
    "bm25_topk" -> ((s, d) =>
      Bm25.topk(docs(s, d), Seq("table", "scan", "join", "window"))
        .orderBy(col("rk"))),

    // Hybrid retrieval: BM25 ∪ embedding-cosine arms fused by
    // reciprocal rank — both arms bounded-TopK'd BEFORE the fuse.
    "hybrid_topk" -> ((s, d) =>
      Hybrid.topk(docs(s, d), emb(s, d), Seq("table", "scan", "join", "window"))
        .orderBy(col("rk"))),

    // #50's oracle-checkable face: the full media plumbing (documents →
    // MediaRecord → mapPartitions featurize) with the byte-level
    // StubCodec, whose histogram/mean are pure arithmetic DuckDB can
    // recompute from the same utf-8 bytes (corpus is printable ASCII, so
    // char stats == byte stats). ImageIoCodec/WavCodec take the same
    // seam, spec-verified against hand-computed pixels/samples.
    "media_features" -> ((s, d) => {
      val feats = graft.ops.Multimodal.featurize(docs(s, d)).toDF()
      feats.select(col("doc_id"), col("n_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"),
          posexplode(col("histogram")).as(Seq("bin", "bin_count")))
        .orderBy(col("doc_id"), col("bin"))
    }),

    // #50c media_near_dup (r11, VERDICT r10 next-round #2): dHash
    // perceptual signatures through the hamming-band machinery, with
    // the byte-level StubCodec twin carrying the DuckDB oracle (the
    // media_features rule: printable-ASCII corpus, so DuckDB rebuilds
    // the 9×8 byte grid, the 64 gradient bits and the four chunk keys
    // from the same utf-8 bytes). The natural corpus has few pairs
    // within hamming 3, so the row plants deterministic twins — exact
    // payload copies (hamming 0) and single-leading-byte perturbations
    // (the gradient flips only in the cells that sample byte 0) — the
    // pii_scrub planting discipline. At maxHamming 3 the banding is
    // exact by pigeonhole, so both engines enumerate the identical
    // pair set; the real ImageIoCodec/WavCodec grids ride the same
    // seam, spec-pinned on hand-computed pixels/samples.
    "media_near_dup" -> ((s, d) =>
      graft.ops.Multimodal.mediaNearDup(graft.ops.Multimodal.asMedia(mediaAug(s, d)))
        .orderBy(col("id1"), col("id2"))),

    // #50d media_dedup_clusters (r11): the media-dedup RESOLUTION —
    // the #50c perceptual pairs through the same connected-components
    // machinery the text tier uses (Components.dedupClusters: cluster
    // = min reachable id, canonical = the kept member), so a
    // multimodal corpus gets its image keep/drop list exactly like its
    // text one. Oracle: the shared pair chain + the recursive-CTE CC
    // (the CcLabelChain rule).
    "media_dedup_clusters" -> ((s, d) =>
      Components.dedupClusters(
        graft.ops.Multimodal.mediaNearDup(graft.ops.Multimodal.asMedia(mediaAug(s, d)))
          .select(col("id1"), col("id2")), "id1", "id2")
        .orderBy(col("cluster_id"), col("id"))),

    // #50g media_near_dup_wide (r11): the 128-bit / 8-chunk dHash —
    // exact at hamming ≤ 7 by pigeonhole, bucket keys from a space the
    // corpus fills 2× slower per chunk (the §5 occupancy dial made
    // real). Same planted corpus, same generated chain at 16 grid rows.
    "media_near_dup_wide" -> ((s, d) =>
      graft.ops.Multimodal.mediaNearDupWide(
          graft.ops.Multimodal.asMedia(mediaAug(s, d)))
        .orderBy(col("id1"), col("id2"))),

    // #50e media_keep_best (r11): per perceptual cluster keep the
    // highest-fidelity member (max payload bytes, tie → lowest id) —
    // the media analog of dedup_keep_best, decided by one
    // max(struct) hash aggregate, never a cluster window.
    "media_keep_best" -> ((s, d) =>
      graft.ops.Multimodal.mediaKeepBest(
          graft.ops.Multimodal.asMedia(mediaAug(s, d)))
        .orderBy(col("cluster_id"), col("doc_id"))),

    // #50f media_dedup_incremental (r11): the daily-crawl shape — the
    // planted additions (ids ≥ 1e6) probe the natural corpus (the
    // seen side) through the bipartite chunk-bucket join; only
    // NEW×SEEN work runs, never seen×seen. Exact twins land is_dup=1
    // at best_hamming 0 by construction.
    "media_dedup_incremental" -> ((s, d) =>
      graft.ops.Multimodal.mediaIncrementalNew(
          graft.ops.Multimodal.asMedia(mediaAug(s, d)),
          col("doc_id") < 1000000L)
        .orderBy(col("doc_id"))),

    // #49n media_gate (r11): the STATELESS streaming media gate driven
    // through the driver contract — the seen side builds the bounded
    // signature artifact (driver collect BY CONTRACT, the
    // benchFuzzyArtifact rule), the NEW records run the pure
    // projection, and the verdict hash-checks against the SAME SQL
    // constant as media_dedup_incremental: one oracle, two genuinely
    // different plans (distributed bipartite join vs literal-artifact
    // projection) — the range_join shared-constant rule.
    "media_gate" -> ((s, d) => {
      val media = graft.ops.Multimodal.asMedia(mediaAug(s, d))
      val seen = graft.ops.Multimodal.mediaSeenArtifact(
        media.filter(col("doc_id") < 1000000L))
      graft.ops.Multimodal.withMediaSeen(
          media.filter(col("doc_id") >= 1000000L), seen)
        .orderBy(col("doc_id"))
    }),

    "corpus_stats" -> ((s, d) =>
      TextAnalysis.corpusStats(docs(s, d))
        .withColumn("avg_words", round(col("avg_words"), 6))
        .orderBy(col("lang"))),

    // The synthetic corpus carries no digits/emails, so the scrub query
    // plants deterministic PII (doc_id-derived email / IPv4 / account
    // number / phone) the oracle rebuilds verbatim — the cross-engine
    // check then exercises real extraction + redaction, not a no-op.
    "pii_scrub" -> ((s, d) => {
      val aug = docs(s, d).withColumn("text", concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10."),
        pmod(col("doc_id"), lit(200L)).cast("string"), lit(".0.7 acct 9"),
        lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 9, "0"),
        lit(" tel +1 (555) 01"),
        lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 2, "0")))
      TextAnalysis.piiScrub(aug).orderBy(col("doc_id"))
    }),

    // #47h2 per-source PII rollup — plants on every third doc so each
    // source carries both affected and clean documents.
    "pii_report" -> ((s, d) => {
      val aug = docs(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(3L)) === 0, concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10."),
          pmod(col("doc_id"), lit(200L)).cast("string"), lit(".0.7 acct 9"),
          lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 9, "0"),
          lit(" tel +1 (555) 01"),
          lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 2, "0")))
          .otherwise(col("text")))
      TextAnalysis.piiReport(aug).orderBy(col("source"))
    }),

    // Corpus-specific terms (the default list models NSFW filters and
    // matches nothing synthetic); 0.05 splits the corpus ~170 keep /
    // ~330 drop at sf0.01 so both outcomes are exercised.
    "blocklist_filter" -> ((s, d) =>
      TextAnalysis.blocklistFilter(docs(s, d), Seq("slow", "merge"), maxRatio = 0.05)
        .orderBy(col("doc_id"))),

    // Seen corpus = src0–src4; the canonical bag-of-words key makes the
    // check non-trivial (35 of 375 incoming docs collide at sf0.01 —
    // no verbatim text repeats across sources, by construction).
    "dedup_incremental" -> ((s, d) =>
      Dedup.incrementalNew(docs(s, d),
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .orderBy(col("doc_id"))),

    // #37d2 the BLOOM-prefilter twin driven through the driver gate
    // (r10): definite-new rows take the codegen'd
    // BloomFilterMightContain path and skip the join entirely;
    // maybe-dup rows confirm against the exact key set. No false
    // negatives ⇒ row-identical to the exact path — so it shares
    // dedup_incremental's oracle VERBATIM (one SQL constant, two
    // genuinely different plans — the range_join precedent).
    "dedup_incremental_bloom" -> ((s, d) =>
      Dedup.incrementalNewBloom(docs(s, d),
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .orderBy(col("doc_id"))),

    // Snapshot diff over two deterministic carves of the documents
    // table (old: drops doc_id%11==3, halves text at doc_id%7==2;
    // new: drops doc_id%13==5) — so all four statuses populate and the
    // oracle reproduces the carve in SQL.
    "corpus_diff" -> ((s, d) =>
      Snapshot.corpusDiff(oldSnapshot(docs(s, d)), newSnapshot(docs(s, d)))
        .orderBy(col("doc_id"))),

    "corpus_diff_stats" -> ((s, d) =>
      Snapshot.diffStats(
        Snapshot.corpusDiff(oldSnapshot(docs(s, d)), newSnapshot(docs(s, d))))
        .orderBy(col("status"))),

    "length_profile" -> ((s, d) =>
      TextAnalysis.lengthProfile(docs(s, d)).orderBy(col("lang"))),

    // The composed curation DAG with the exact ngram-Jaccard pair
    // emitter (the minhash default is oracle-checked on its own rows:
    // dedup_minhash, dedup_keep_best_lsh).
    // The split column is deterministic engine-side hashing — excluded
    // here, covered by the splitByHash spec.
    "corpus_pipeline" -> ((s, d) =>
      graft.CorpusPipeline.curate(docs(s, d),
          pairsOf = dd => Dedup.ngramJaccardInvertedIndex(dd, minJaccard = 0.5))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("quality_score"))
        .orderBy(col("doc_id"))),

    // #47c2 the COMPLETE curation DAG as one oracle-checked query:
    // quality gate + banned-term gate → exact dedup → near-dup CC →
    // PII redaction → split, end to end. PII is planted on every third
    // doc (the pii_report plant) so the scrub genuinely transforms
    // surviving documents, and the published content_hash is the sha2
    // of the RELEASED text — the redaction is value-checked, not
    // assumed.
    "corpus_pipeline_full" -> ((s, d) => {
      val aug = docs(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(3L)) === 0, concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10."),
          pmod(col("doc_id"), lit(200L)).cast("string"), lit(".0.7 acct 9"),
          lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 9, "0"),
          lit(" tel +1 (555) 01"),
          lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 2, "0")))
          .otherwise(col("text")))
      graft.CorpusPipeline.curate(aug,
          pairsOf = dd => Dedup.ngramJaccardInvertedIndex(dd, minJaccard = 0.5),
          blocklistTerms = Some(Seq("slow", "merge")),
          scrubPii = true)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("quality_score"), sha2(col("text"), 256).as("content_hash"))
        .orderBy(col("doc_id"))
    }),

    // #47c3 the incremental-release composition driven as a THEOREM
    // (r10 — VERDICT r9 next-round #7, the production re-crawl shape):
    // the ENGINE runs the add-only path — prior release ∪ curated
    // additions deduped against the prior keys — while the ORACLE
    // re-curates the WHOLE refreshed corpus from scratch; the hash
    // match proves add-only == full re-curation on real data. Prior
    // corpus = src0–src4 (the dedup_incremental seen-set); additions =
    // the other sources with doc_ids shifted +10^6 (the id-monotone
    // production contract: new crawl docs get new ids).
    "curate_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      val seen = col("source").isin("src0", "src1", "src2", "src3", "src4")
      val additions = dd.filter(!seen)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      // The prior release feeds TWO consumers inside curateIncremental
      // (key set + union); in production it is a storage-backed table,
      // so the fixture materializes its derivation once instead of
      // re-running the gate+window per consumer (ReuseProbe r10:
      // scans 3 → 2, windows 3 → 2).
      graft.CorpusPipeline.curateIncremental(
          graft.CorpusPipeline.curateLite(dd.filter(seen)).transform(graft.Ckpt.frame),
          additions)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // #49k StreamNearDup as a driver-checked row (the last streaming
    // operator with an SQL-expressible twin): the per-bucket
    // signature-state fold replays the corpus in three micro-batches
    // (constant IngestT0, split on doc_id, the stream_dedup_docs rule),
    // and the emitted candidate pairs hash-check against the SAME
    // banding chain the dedup_minhash oracle replays, with est-Jaccard
    // as a generated 32-term component-match count: one row per
    // colliding band, est ≥ 0.5. Values are exact binary fractions
    // (m/32), so round(…, 6) is lossless cross-engine. The fixture's
    // buckets stay far under maxBucket, so the all-pairs branch is
    // what's checked; the star-cap branch stays spec-pinned (its
    // fold-order contract has no batch-SQL twin). Per-(band, doc)
    // state-store work dominates (~0.1 ms per bucket-group op,
    // measured; text length is irrelevant), so the fixture is the 1/25
    // doc subset truncated to 300 chars (the truncation bounds the
    // oracle's shingle replay too), with a planted near-dup TWIN per
    // doc (doc_id + 10⁷, ' twin tail marker' appended, the
    // url_normalize plant rule: rebuilt verbatim by the oracle), so the
    // detector has value-checked pairs at every sf. The twins sort
    // after every base doc, so most pairs join a twin in a later batch
    // to its base held in state. repartition(4) spreads each batch's
    // shingle+minhash pass, which otherwise runs as one task per file;
    // per-bucket folds are partition-invariant.
    "stream_near_dup" -> ((s, d) => {
      val base = docs(s, d).filter(pmod(col("doc_id"), lit(25L)) === 0)
        .select(col("doc_id"), substring(col("text"), 1, 300).as("text"))
      val src = base.unionByName(base.select(
          (col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text"), lit(" twin tail marker")).as("text")))
        .withColumn("ingest_ts", lit(IngestT0))
      StreamHarness.replay(s, src, "doc_id") { in =>
        graft.streaming.StreamNearDup.candidatePairs(in.repartition(4)).toDF()
      }.orderBy(col("id1"), col("id2"), col("band"))
    }),
  )

  /** Shared vector CTE: double-widened embeddings with L2 norms, and the
    * left-fold dot product both engines evaluate in identical order.
    */
  private val VecCte: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nn AS (
      |  SELECT vec_id, label, v,
      |    sqrt(list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
      |      (s, x) -> s + x)) AS nrm
      |  FROM e)""".stripMargin

  /** The planted media corpus → StubCodec byte grid → dHash chunk keys
    * → all-pairs hamming, ending at `p(id1, id2, hamming)` — shared by
    * the media_near_dup / media_dedup_clusters / media_keep_best /
    * media_dedup_incremental oracles (the SpanCte rule), GENERATED for
    * the requested grid height (8 rows = 64-bit/4-chunk default,
    * 16 = the wide 128-bit/8-chunk variant) so the two widths cannot
    * drift from one another. Callers prepend `WITH ` (or
    * `WITH RECURSIVE `) themselves.
    */
  private def mediaPairChainOf(rows: Int): String = {
    val nChunks = rows / 2
    val kDefs = (0 until nChunks).map(c =>
      s"CAST(list_sum(list_transform(range(16), j -> bits[${c * 16} + j + 1] * (1 << j))) AS INT) AS k$c")
      .mkString(",\n    ")
    // Each term cast to INT: DuckDB's bit_count returns TINYINT, and
    // eight 16-bit chunk counts overflow its sum (112 + 16) before the
    // outer cast.
    val ham = (0 until nChunks).map(c => s"CAST(bit_count(xor(a.k$c, b.k$c)) AS INT)")
      .mkString(" +\n         ")
    s"""aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, 'Z' || substr(text, 2)
       |  FROM documents WHERE doc_id % 50 = 25),
       |md AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    length(text) % 64 + 1 AS w, length(text) // 64 + 1 AS ht
       |  FROM aug),
       |mg AS (
       |  SELECT doc_id,
       |    list_transform(range(${9 * rows}), i ->
       |      CASE WHEN n = 0 THEN 0 ELSE ascii(substr(text,
       |        least(((i // 9) * ht // $rows) * w + ((i % 9) * w // 9), n - 1) + 1,
       |        1)) END) AS grid
       |  FROM md),
       |mb AS (
       |  SELECT doc_id,
       |    list_transform(range(${rows * 8}), bb ->
       |      CASE WHEN grid[(bb // 8) * 9 + (bb % 8) + 2] >
       |                grid[(bb // 8) * 9 + (bb % 8) + 1]
       |           THEN 1 ELSE 0 END) AS bits
       |  FROM mg),
       |mk AS (
       |  SELECT doc_id,
       |    $kDefs
       |  FROM mb),
       |p AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST($ham AS INT) AS hamming
       |  FROM mk a JOIN mk b ON a.doc_id < b.doc_id)""".stripMargin
  }

  private val MediaPairChain: String = mediaPairChainOf(8)
  private val MediaWidePairChain: String = mediaPairChainOf(16)

  /** The incremental media verdict as SQL — shared verbatim by the
    * `media_dedup_incremental` (distributed bipartite join) and
    * `media_gate` (stateless artifact projection) rows: one predicate,
    * two plans.
    */
  private val MediaIncrementalSql: String =
    s"""WITH $MediaPairChain,
       |cand AS (
       |  SELECT n.doc_id AS id, s.doc_id AS sid,
       |    CAST(bit_count(xor(n.k0, s.k0)) + bit_count(xor(n.k1, s.k1)) +
       |         bit_count(xor(n.k2, s.k2)) + bit_count(xor(n.k3, s.k3)) AS INT) AS h
       |  FROM mk n JOIN mk s
       |    ON n.doc_id >= 1000000 AND s.doc_id < 1000000),
       |m AS (
       |  SELECT id, min(h) AS best_hamming, count(*) AS n_matches
       |  FROM cand WHERE h <= 3 GROUP BY id)
       |SELECT a.doc_id,
       |  CAST(m.id IS NOT NULL AS INT) AS is_dup,
       |  CAST(m.id IS NULL AS INT) AS is_new,
       |  m.best_hamming,
       |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches
       |FROM (SELECT doc_id FROM aug WHERE doc_id >= 1000000) a
       |LEFT JOIN m ON m.id = a.doc_id
       |ORDER BY a.doc_id""".stripMargin

  /** Label-bucketed cosine pairs → recursive-CTE connected components,
    * ending at `labels(id, cluster_id)` — shared by the dedup_clusters
    * and cluster_stats oracles (the SpanCte rule).
    */
  private val CcLabelChain: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nn AS (
      |  SELECT vec_id, label, v,
      |    sqrt(list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
      |      (s, x) -> s + x)) AS nrm
      |  FROM e),
      |nz AS (SELECT * FROM nn WHERE nrm > 0),
      |p AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2
      |  FROM nz a JOIN nz b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]),
      |      (s, x) -> s + x) / (a.nrm * b.nrm) >= 0.3),
      |edges AS (SELECT id1 AS a, id2 AS b FROM p
      |          UNION ALL SELECT id2, id1 FROM p),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
      |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  /** Zero-iteration kmeansFit cell assignment ending at
    * `asg(vec_id, cell, cen_cos)` — shared by the embed_outliers and
    * ivf_stats oracles (the SpanCte rule): 16 centroids = the first 16
    * nonzero vectors by id, argmin by (d2, cell), cen_cos folded from
    * the argmin's own d2 — the exact arithmetic the Spark plan runs.
    */
  private val SeedAsgChain: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nn AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
      |      (s, x) -> s + x)) AS nrm
      |  FROM e),
      |nz AS (SELECT * FROM nn WHERE nrm > 0),
      |cb AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv,
      |    list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
      |      (s, x) -> s + x) AS n2
      |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id LIMIT 16)),
      |dist AS (
      |  SELECT z.vec_id, z.nrm, b.cell, b.n2,
      |    b.n2 - 2.0 * list_reduce(
      |      list_transform(range(len(z.v)), i -> z.v[i+1] * b.cv[i+1]),
      |      (s, x) -> s + x) AS d2
      |  FROM nz z CROSS JOIN cb b),
      |asg AS (
      |  SELECT vec_id, cell,
      |    round((n2 - d2) / 2.0 / (nrm * sqrt(n2)), 6) AS cen_cos
      |  FROM (SELECT *, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dist)
      |  WHERE rn = 1)""".stripMargin

  /** Lloyd rounds for the kmeans_clusters oracle — generated to stay in
    * lockstep with [[Similarity.kmeansFit]] (k=8, iters=2). Assignment
    * replays the |c|²−2⟨v,c⟩ argmin with the (d2, cell) tie-break; the
    * update replays the exact integer micro-unit mean (Σ round(v_d·10⁶)
    * as BIGINT, ÷ 10⁶·n), empty cells keeping the previous centroid —
    * so every refined centroid, and therefore every next-round
    * assignment, is bit-identical across engines. Ends at `af`
    * (vec_id, v, cell, d2 under the final centroids).
    */
  private val KmeansChain: String = {
    def asg(prev: String, out: String): String =
      s"""${out}p AS (
         |  SELECT z.vec_id, z.v, b.cell,
         |    b.n2 - 2.0 * list_reduce(
         |      list_transform(range(len(z.v)), i -> z.v[i+1] * b.cv[i+1]),
         |      (s, x) -> s + x) AS d2
         |  FROM nz z CROSS JOIN $prev b),
         |$out AS (
         |  SELECT vec_id, v, cell, d2
         |  FROM (SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM ${out}p)
         |  WHERE rn = 1)""".stripMargin
    def upd(a: String, prev: String, out: String): String =
      s"""${out}x AS (
         |  SELECT cell,
         |    unnest(range(len(v))) AS d,
         |    unnest(list_transform(range(len(v)),
         |      i -> CAST(round(v[i + 1] * 1000000) AS BIGINT))) AS mv
         |  FROM $a),
         |${out}s AS (SELECT cell, d, sum(mv) AS s FROM ${out}x GROUP BY cell, d),
         |${out}n AS (SELECT cell, count(*) AS n FROM $a GROUP BY cell),
         |${out}m AS (
         |  SELECT s.cell, list(CAST(s.s AS DOUBLE) /
         |      (1000000.0 * CAST(n.n AS DOUBLE)) ORDER BY s.d) AS cv
         |  FROM ${out}s s JOIN ${out}n n USING (cell) GROUP BY s.cell),
         |${out}c AS (
         |  SELECT p.cell, coalesce(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN ${out}m m USING (cell)),
         |$out AS (
         |  SELECT cell, cv,
         |    list_reduce(list_transform(range(len(cv)), i -> cv[i+1] * cv[i+1]),
         |      (s, x) -> s + x) AS n2
         |  FROM ${out}c)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
       |      (s, x) -> s + x)) AS nrm
       |  FROM e),
       |nz AS (SELECT vec_id, v FROM nn WHERE nrm > 0),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv,
       |    list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
       |      (s, x) -> s + x) AS n2
       |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id LIMIT 8)),
       |${asg("c0", "a1")},
       |${upd("a1", "c0", "c1")},
       |${asg("c1", "a2")},
       |${upd("a2", "c1", "c2")},
       |${asg("c2", "af")}""".stripMargin
  }

  private val EnStops = "'the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'"

  /** lang_id oracle GENERATED from [[TextAnalysis.LangProfiles]] — one
    * source of truth for the profile lists and the alphabetical-
    * tie-break argmax chain, so adding a language cannot drift the two
    * engines (the MinhashSigCols rule).
    */
  private val LangIdSql: String = {
    val langs = TextAnalysis.LangProfiles.keys.toSeq.sorted
    val hitCols = langs.map { l =>
      val ws = TextAnalysis.LangProfiles(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, w -> list_contains([$ws], w))) AS ${l}_hits"
    }.mkString(",\n    ")
    val chain = langs.init.zipWithIndex.map { case (l, i) =>
      val ge = langs.drop(i + 1).map(l2 => s"${l}_hits >= ${l2}_hits").mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }.mkString("\n       ")
    s"""WITH t AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    string_split_regex(lower(text), '[^\\p{L}]+') AS toks,
       |    round(coalesce(
       |      CAST(length(regexp_replace(text, '[^\\p{L}]|[\\p{Latin}]', '', 'g')) AS DOUBLE) /
       |      nullif(CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE), 0),
       |      0), 6) AS nonlatin_share
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, labeled_lang, nonlatin_share,
       |    $hitCols
       |  FROM t)
       |SELECT doc_id, labeled_lang, nonlatin_share, ${langs.map(l => s"${l}_hits").mkString(", ")},
       |  CASE WHEN nonlatin_share > 0.5 THEN 'other'
       |       $chain
       |       ELSE '${langs.last}' END AS pred_lang
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Shared sentence-posting front of the sentence_dedup /
    * sentence_dedup_clean oracles (the SpanCte rule: one CTE val, so
    * the report and its cutter cannot drift): positions split on the
    * [[Dedup.SentenceClass]] terminator runs, trimmed, empties
    * dropped, plus the corpus occurrence count per exact sentence
    * text.
    */
  private val sentencePostingCte =
    """sp AS (
      |  SELECT doc_id, i AS pos, trim(l[i]) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(text, '[.!?。！？؟…]+') AS l
      |        FROM documents),
      |    unnest(generate_series(1, len(l))) AS t(i)
      |  WHERE trim(l[i]) <> ''),
      |c AS (SELECT s, count(*) AS n FROM sp GROUP BY 1)""".stripMargin

  /** Number of merge rounds the bpe_tokenize row trains — small enough
    * that the generated oracle's round chain stays readable, large
    * enough that merged symbols themselves merge again (3-deep chains
    * on the corpus).
    */
  private val BpeTokenizeMerges = 10

  /** bpe_tokenize oracle — replays the FULL sequential train ladder
    * (pair count → (count DESC, lhs, rhs) argmax → fold-in, one CTE
    * triple per round, the kmeans generated-ladder precedent) and then
    * the per-word apply fold, all in SQL. The greedy left-to-right
    * merge fold over a symbol list is EXACTLY one left-to-right
    * non-overlapping `replace` pass over the double-space symbol
    * encoding `' s1  s2  … '`: a match `' a  b '` consumes one
    * boundary space from each side and its replacement `' ab '`
    * re-emits them, so the scan resumes precisely where the next
    * pair's pattern would start, and an overlapping run (`a a a`
    * under (a,a)) resolves leftmost on both engines. Symbols are
    * `\p{L}\p{N}` characters plus `</w>` — never a space — so the
    * separator cannot collide with symbol text.
    */
  // coalesce mirrors Bpe.docWords' null-folds-to-empty convention
  // (ADVICE r8): a null-text doc must yield 0/'' here as it does from
  // tokenizeByVocab, not NULL n_bpe/bpe_str.
  private val BpeTok = "list_filter(string_split_regex(regexp_replace(lower(coalesce(text, '')), " +
    "'([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), " +
    "'[^\\p{L}\\p{N}]+'), w -> w <> '')"

  private val BpeEnc = "' ' || array_to_string(list_append(regexp_split_to_array(w, ''), '</w>'), '  ') || ' '"

  /** The generated train ladder shared by the three BPE oracles
    * (bpe_tokenize / bpe_vocab / bpe_fertility — one val, so the
    * family cannot drift): w0/vf/v0 seed the symbol vocabulary, then
    * one (p,m,v) CTE triple per round.
    */
  private val BpeLadderCte: String = {
    val head =
      s"""w0 AS (
         |  SELECT unnest($BpeTok) AS w FROM documents),
         |vf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w0 GROUP BY w),
         |v0 AS (SELECT $BpeEnc AS s, freq FROM vf)""".stripMargin
    val rounds = (1 to BpeTokenizeMerges).map { r =>
      s"""p$r AS (
         |  SELECT l[i] AS lhs, l[i+1] AS rhs, sum(freq) AS pair_count
         |  FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS l, freq
         |        FROM v${r - 1}),
         |    unnest(generate_series(1, len(l)-1)) AS t(i)
         |  WHERE len(l) >= 2 GROUP BY 1, 2),
         |m$r AS (
         |  -- Argmax, or a chr(1) sentinel when the round is exhausted
         |  -- (chr(1) is outside \\p{L}\\p{N} and '</w>', so its replace
         |  -- pattern can never match): an EMPTY m$r would otherwise
         |  -- zero out every downstream CROSS JOIN — the Spark side
         |  -- stops early and keeps tokenizing, so the oracle must too.
         |  SELECT lhs, rhs, pair_count FROM (
         |    SELECT lhs, rhs, pair_count, 1 AS pri FROM p$r
         |    UNION ALL SELECT chr(1), chr(1), 0, 2)
         |  ORDER BY pri, pair_count DESC, lhs, rhs LIMIT 1),
         |v$r AS (
         |  SELECT replace(v.s, ' ' || m.lhs || '  ' || m.rhs || ' ',
         |                 ' ' || m.lhs || m.rhs || ' ') AS s, freq
         |  FROM v${r - 1} v CROSS JOIN m$r m)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** The apply fold as a nested replace chain over [[BpeEnc]], plus the
    * cross join bringing every round's 1-row merge CTE into scope.
    */
  private val BpeApplyChain: String =
    (1 to BpeTokenizeMerges).foldLeft(BpeEnc) { (acc, r) =>
      s"replace($acc, ' ' || m$r.lhs || '  ' || m$r.rhs || ' ', ' ' || m$r.lhs || m$r.rhs || ' ')"
    }

  private val BpeMergesJoin: String =
    (1 to BpeTokenizeMerges).map(r => s"m$r").mkString(" CROSS JOIN ")

  /** Per-doc BPE segmentation CTE (`d`: doc_id, bpe_str) over the
    * ladder — the shared back half of bpe_tokenize / bpe_fertility.
    */
  private val BpeDocCte: String =
    s"""d AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform($BpeTok,
       |      w -> trim(regexp_replace($BpeApplyChain, '  ', ' ', 'g'))), ' ') AS bpe_str
       |  FROM documents CROSS JOIN $BpeMergesJoin)""".stripMargin

  private val BpeTokenizeSql: String = {
    s"""WITH $BpeLadderCte,
       |$BpeDocCte
       |SELECT doc_id,
       |  CASE WHEN bpe_str = '' THEN CAST(0 AS BIGINT)
       |       ELSE CAST(len(string_split(bpe_str, ' ')) AS BIGINT) END AS n_bpe,
       |  bpe_str
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** bpe_vocab oracle: the merge table itself — each round's 1-row
    * argmax CTE unioned with its round number.
    */
  private val BpeVocabSql: String = {
    // pair_count > 0 drops the exhaustion sentinels — real merges
    // always count >= 1, so the table matches Spark's early stop.
    val union = (1 to BpeTokenizeMerges).map { r =>
      s"SELECT $r AS round, lhs, rhs, lhs || rhs AS merged, CAST(pair_count AS BIGINT) AS pair_count FROM m$r WHERE pair_count > 0"
    }.mkString("\nUNION ALL\n")
    s"""WITH $BpeLadderCte
       |$union
       |ORDER BY round""".stripMargin
  }

  /** bpe_fertility oracle: per-lang tokens-per-word off the shared
    * per-doc segmentation CTE.
    */
  private val BpeFertilitySql: String =
    s"""WITH $BpeLadderCte,
       |$BpeDocCte,
       |f AS (
       |  SELECT doc.lang,
       |    CAST(len($BpeTok) AS BIGINT) AS nw,
       |    CASE WHEN d.bpe_str = '' THEN CAST(0 AS BIGINT)
       |         ELSE CAST(len(string_split(d.bpe_str, ' ')) AS BIGINT) END AS nb
       |  FROM documents doc JOIN d USING (doc_id))
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(nb) AS BIGINT) AS n_bpe,
       |  round(CAST(sum(nb) AS DOUBLE) / nullif(CAST(sum(nw) AS DOUBLE), 0), 6) AS fertility
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  /** sequence_pack_bpe oracle: BPE segmentation (the shared ladder +
    * per-doc CTE) → prefix sum over BPE counts → per-doc (sequence,
    * slice) overlaps → list slices reassembled per sequence in doc_id
    * order.
    */
  private val BpeSequencePackSql: String =
    s"""WITH $BpeLadderCte,
       |$BpeDocCte,
       |n AS (
       |  SELECT doc_id, string_split(bpe_str, ' ') AS l,
       |    CAST(len(string_split(bpe_str, ' ')) AS BIGINT) AS n_tokens
       |  FROM d WHERE bpe_str <> ''),
       |cu AS (
       |  SELECT doc_id, l, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM n),
       |o AS (
       |  SELECT doc_id, l, n_tokens, cum_tokens,
       |    cum_tokens - n_tokens AS doc_off
       |  FROM cu),
       |sl AS (
       |  SELECT doc_id, seq_id,
       |    l[CAST(greatest(0, seq_id * 512 - doc_off) AS BIGINT) + 1 :
       |      CAST(least(n_tokens, (seq_id + 1) * 512 - doc_off) AS BIGINT)] AS toks
       |  FROM o, unnest(generate_series(
       |      CAST(floor(doc_off / 512.0) AS BIGINT),
       |      CAST(floor((cum_tokens - 1) / 512.0) AS BIGINT))) AS s(seq_id)),
       |g AS (
       |  SELECT seq_id, list(toks ORDER BY doc_id) AS sl
       |  FROM sl GROUP BY seq_id)
       |SELECT seq_id,
       |  CAST(len(flatten(sl)) AS BIGINT) AS n_toks,
       |  array_to_string(flatten(sl), ' ') AS toks_str,
       |  array_to_string(list_transform(generate_series(1, len(sl)),
       |    i -> CAST(CAST(coalesce(
       |      list_sum(list_transform(sl[1:i-1], x -> len(x))), 0)
       |      AS BIGINT) AS VARCHAR)), ' ') AS doc_breaks
       |FROM g ORDER BY seq_id""".stripMargin

  /** Hyperplane p as a DuckDB list literal. The plane components are
    * DRIVER-deterministic doubles ([[Similarity.planeComponent]] — a
    * hash of (plane, index), never of data), so the oracle can embed the
    * exact values the Spark plan ships as `typedlit` literals.
    * `Double.toString` is the shortest round-trip representation and
    * DuckDB's decimal→double parse is correctly rounded, so the literal
    * reconstructs bit-identical doubles.
    */
  private def planeSqlLit(p: Int, dim: Int = 128): String =
    (0 until dim).map(i => Similarity.planeComponent(p, i).toString)
      .mkString("[", ", ", "]")

  /** ⟨v, plane_p⟩ as the same left fold both engines run: 0.0-seeded in
    * Spark's vec_dot, first-element-seeded here — identical because
    * 0.0 + x == x and the iteration order matches (range over len(v);
    * the plane literal is at least as long as any valid vector, matching
    * vec_dot's min-length loop and lshSignature's maxDim guard).
    */
  private def dotPlaneSql(v: String, p: Int): String =
    s"""list_reduce(list_transform(range(len($v)),
       |      i -> $v[i+1] * (${planeSqlLit(p)})[i+1]), (s, x) -> s + x)""".stripMargin

  /** Σ_p (⟨v, plane_p⟩ > 0) · 2^p — [[Similarity.lshSignature]]'s bit
    * pattern, one CASE per plane.
    */
  private def sigSql(v: String, planes: Int): String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${dotPlaneSql(v, p)} > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString("\n    + ")

  /** Quality-score SQL, shared by every oracle that scores documents —
    * one definition so the DuckDB side cannot drift from
    * [[TextAnalysis.withQuality]] copy-by-copy. `QualityFieldsSql` is
    * the select-list computing the raw counts; `QualityScoreSql` the
    * weighted formula over them. (text_quality's oracle keeps its own
    * ratio-aliased form because it also publishes the ratio columns.)
    */
  private val QualityFieldsSql: String =
    s"""length(text) AS n_chars,
       |    len(string_split_regex(text, '\\s+')) AS n_words,
       |    length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct,
       |    len(list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
       |      w -> list_contains([$EnStops], w))) AS n_stops""".stripMargin

  private val QualityScoreSql: String =
    """round(least(1.0, CAST(n_words AS DOUBLE) / 50) * 0.4
      |      + (1.0 - CAST(n_punct AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0.0)) * 0.3
      |      + least(1.0, CAST(n_stops AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0.0) * 5) * 0.3, 6)""".stripMargin

  /** Generated SQL fragments for the portable (md5) minhash/simhash
    * oracles — kept in lockstep with [[Dedup.minhashPairsPortable]] /
    * [[Dedup.simhashPairsPortable]] by construction (same loops, same
    * constants).
    */
  /** Shared span-marking CTE chain (dedup_spans / dedup_spans_clean) —
    * one definition of the 40-char window marking + island merge so the
    * two oracles cannot drift copy-by-copy (the VecCte/QualitySql rule).
    */
  private val SpanCte: String =
    """WITH gr AS (
      |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
      |    substr(text, CAST(i AS INT), 40) AS g
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, length(text) - 38)) AS i
      |        FROM documents WHERE length(text) >= 40)),
      |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
      |mk AS (SELECT doc_id, pos FROM gr JOIN dup USING (g)),
      |pr AS (
      |  SELECT doc_id, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM mk),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos > prev + 40 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM pr)""".stripMargin

  /** Shared bigram-LM CTE chain (lm_score / lm_buckets) ending at
    * `sc(doc_id, n_bigrams, lp)` — one definition so the scorer and the
    * bucketer cannot drift (the SpanCte rule). Mirrors
    * [[TextAnalysis.lmScore]] stage for stage: per-doc bigram
    * multiplicities → model counts folded FROM the per-doc counts →
    * add-one-smoothed per-doc mean log-prob.
    */
  /** The [[graft.operators.Dedup.tokens]] tokenizer in DuckDB — shared
    * by [[LmCte]] and [[LmRefCte]] (one definition, no drift).
    */
  private val LmTok: String =
    """list_filter(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'),
      |      x -> x <> '')""".stripMargin

  private val LmCte: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    $LmTok AS tk
      |  FROM documents),
      |bgl AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS s
      |  FROM t),
      |dbg AS (
      |  SELECT doc_id, s.w1 AS w1, s.w2 AS w2, count(*) AS m
      |  FROM bgl GROUP BY doc_id, s.w1, s.w2),
      |bc AS (SELECT w1, w2, sum(m) AS c12 FROM dbg GROUP BY w1, w2),
      |cc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
      |voc AS (
      |  SELECT count(DISTINCT tok) AS v
      |  FROM (SELECT unnest(tk) AS tok FROM t)),
      |sc AS (
      |  SELECT d.doc_id, CAST(sum(d.m) AS BIGINT) AS n_bigrams,
      |    sum(d.m * ln((b.c12 + 1.0) / (c.c1 + voc.v))) / sum(d.m) AS lp
      |  FROM dbg d
      |  JOIN bc b ON d.w1 = b.w1 AND d.w2 = b.w2
      |  JOIN cc c ON d.w1 = c.w1
      |  CROSS JOIN voc
      |  GROUP BY d.doc_id)""".stripMargin

  /** [[LmCte]]'s reference-fitted twin (lm_score_ref): model counts and
    * vocabulary fold over the `lang = 'en'` slice only, the scorer
    * LEFT-joins the model with 0-coalesced counts — stage for stage the
    * [[graft.operators.TextAnalysis.lmScoreRef]] plan. Same tokenizer
    * ([[LmTok]]), same round(…, 6) policy.
    */
  private val LmRefCte: String =
    s"""WITH t AS (
      |  SELECT doc_id, coalesce(lang = 'en', FALSE) AS is_ref,
      |    $LmTok AS tk
      |  FROM documents),
      |bgl AS (
      |  SELECT doc_id, is_ref, unnest(list_transform(range(1, len(tk)),
      |    i -> {'w1': tk[i], 'w2': tk[i+1]})) AS s
      |  FROM t),
      |dbg AS (
      |  SELECT doc_id, s.w1 AS w1, s.w2 AS w2, count(*) AS m,
      |    bool_or(is_ref) AS is_ref
      |  FROM bgl GROUP BY doc_id, s.w1, s.w2),
      |bc AS (SELECT w1, w2, sum(m) AS c12 FROM dbg WHERE is_ref GROUP BY w1, w2),
      |cc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
      |voc AS (
      |  SELECT count(DISTINCT tok) AS v
      |  FROM (SELECT unnest(tk) AS tok FROM t WHERE is_ref)),
      |sc AS (
      |  SELECT d.doc_id, CAST(sum(d.m) AS BIGINT) AS n_bigrams,
      |    sum(d.m * ln((coalesce(b.c12, 0) + 1.0) / (coalesce(c.c1, 0) + voc.v)))
      |      / sum(d.m) AS lp
      |  FROM dbg d
      |  LEFT JOIN bc b ON d.w1 = b.w1 AND d.w2 = b.w2
      |  LEFT JOIN cc c ON d.w1 = c.w1
      |  CROSS JOIN voc
      |  GROUP BY d.doc_id)""".stripMargin

  /** Deterministic snapshot carves for the corpus_diff rows — one
    * definition feeding both the query pair and (via [[DiffCte]]) both
    * oracles, so the four-status fixture cannot drift (SpanCte rule).
    * Old snapshot: doc_id%11==3 rows absent (→ `added` in new),
    * doc_id%7==2 rows halved (→ `changed`); new snapshot: doc_id%13==5
    * rows absent (→ `removed`).
    */
  private def oldSnapshot(doc: DataFrame): DataFrame =
    doc.filter(pmod(col("doc_id"), lit(11L)) =!= 3)
      .withColumn("text", when(pmod(col("doc_id"), lit(7L)) === 2,
        col("text").substr(lit(1), floor(length(col("text")) / 2).cast("int")))
        .otherwise(col("text")))

  private def newSnapshot(doc: DataFrame): DataFrame =
    doc.filter(pmod(col("doc_id"), lit(13L)) =!= 5)

  /** The SQL twin of [[oldSnapshot]]/[[newSnapshot]] + the full-outer
    * diff, ending in `j(doc_id, status, n_chars_old, n_chars_new)` —
    * shared by the corpus_diff and corpus_diff_stats oracles. Text
    * comparison is `IS NOT DISTINCT FROM` (NULL texts diff as values),
    * matching the Spark side's null-folding hash equality.
    */
  /** One definition for the exact and bloom-prefilter incremental
    * dedup rows (the range_join shared-constant rule).
    */
  private val IncrementalOracle: String =
    """WITH canon AS (
      |  SELECT doc_id, source, lang,
      |    array_to_string(list_sort(list_distinct(
      |      list_filter(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> x <> ''))), ' ') AS ck
      |  FROM documents),
      |seen AS (
      |  SELECT DISTINCT ck FROM canon
      |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4'))
      |SELECT c.doc_id, c.source, c.lang,
      |  CASE WHEN s.ck IS NULL THEN 0 ELSE 1 END AS is_dup,
      |  CASE WHEN s.ck IS NULL THEN 1 ELSE 0 END AS is_new
      |FROM canon c LEFT JOIN seen s USING (ck)
      |WHERE c.source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')
      |ORDER BY c.doc_id""".stripMargin

  private val DiffCte: String =
    """WITH o AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 2
      |      THEN substr(text, 1, CAST(floor(length(text) / 2) AS INT))
      |      ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 3),
      |n AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5),
      |j AS (
      |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
      |         ELSE 'changed' END AS status,
      |    CAST(coalesce(length(o.text), 0) AS BIGINT) AS n_chars_old,
      |    CAST(coalesce(length(n.text), 0) AS BIGINT) AS n_chars_new
      |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)""".stripMargin

  /** Shared char-window contamination CTE chain (decontaminate_spans /
    * decontaminate_spans_clean) — bench windows (doc_id % 20 = 0) vs
    * corpus positions, then the SpanCte island merge verbatim (the
    * SpanCte rule: one definition, two consumers, no drift).
    */
  private val DecontSpanCte: String =
    """WITH gr AS (
      |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
      |    substr(text, CAST(i AS INT), 40) AS g
      |  FROM (SELECT doc_id, text,
      |          unnest(range(1, length(text) - 38)) AS i
      |        FROM documents WHERE length(text) >= 40)),
      |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 20 = 0),
      |mk AS (SELECT doc_id, pos FROM gr JOIN bg USING (g)
      |       WHERE doc_id % 20 <> 0),
      |pr AS (
      |  SELECT doc_id, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM mk),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos > prev + 40 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM pr)""".stripMargin

  private val MinhashSigCols: String = (0 until Dedup.Perms).map(i =>
    s"min((${Dedup.permA(i)} * h + ${Dedup.permB(i)}) % ${Dedup.PermM}) AS mh_$i")
    .mkString(",\n    ")

  private val MinhashBandStructs: String = (0 until Dedup.Bands).map { b =>
    val rpb = Dedup.Perms / Dedup.Bands
    val ks = (b * rpb until (b + 1) * rpb)
      .map(i => s"CAST(mh_$i AS VARCHAR)").mkString(", ")
    s"{'band': $b, 'band_key': md5(concat_ws('|', $ks))}"
  }.mkString(",\n    ")

  private val SimhashBitSums: String = (0 until 64).map { j =>
    s"sum(((strpos('0123456789abcdef', substr(h, ${j / 4 + 1}, 1)) - 1) >> ${3 - j % 4}) & 1) AS b_$j"
  }.mkString(",\n    ")

  private def simhashChunkSql(c: Int): String = (0 until 16).map { jj =>
    val j = c * 16 + jj
    s"(CASE WHEN b_$j * 2 > n THEN ${1 << jj} ELSE 0 END)"
  }.mkString(" + ")

  /** Binary LCP-descent rounds for the dedup_spans_maximal oracle —
    * generated to stay in lockstep with [[Dedup.maximalSpans]]'s
    * codegen'd fold (same full-window rule: add 2^k iff both suffixes
    * carry the complete `[acc, acc+2^k)` window and the windows are
    * equal). Fixed 12 levels = the query row's `levels` cap; rounds
    * wider than the longest island are no-ops on both engines.
    */
  private val MaxSpanWalkCtes: String = {
    val rounds = (11 to 0 by -1).map { k =>
      val wd = 1 << k
      val prev = if (k == 11) "w12" else s"w${k + 1}"
      s"""w$k AS (
         |  SELECT ia, sa, sb, acc + CASE WHEN len(sa) >= acc + $wd AND len(sb) >= acc + $wd
         |    AND substr(sa, CAST(acc + 1 AS INT), $wd) = substr(sb, CAST(acc + 1 AS INT), $wd)
         |    THEN $wd ELSE 0 END AS acc
         |  FROM $prev)""".stripMargin
    }
    ("w12 AS (SELECT ia, sa, sb, CAST(0 AS BIGINT) AS acc FROM spr)" +: rounds)
      .mkString(",\n")
  }

  /** Full maximal-repeat CTE chain ending in `msp` (one row per
    * maximal span) — shared by the dedup_spans_maximal and span_stats
    * oracles so the span definition cannot drift copy-by-copy (the
    * SpanCte rule). Mirrors [[Dedup.maximalSpans]] stage for stage:
    * island segments → island suffixes → suffix order → neighbor-LCP
    * binary descent → left-maximal filter.
    */
  private val MaxSpanChain: String =
    s"""$SpanCte,
       |seg AS (SELECT doc_id, min(pos) AS s, max(pos) + 40 AS e
       |        FROM isl GROUP BY doc_id, island),
       |p0 AS (
       |  SELECT doc_id, s AS island, s + u AS pos,
       |    substr(text, CAST(s + u + 1 AS INT), CAST(e - s - u AS INT)) AS sfx
       |  FROM (SELECT seg.doc_id, seg.s, seg.e, d.text,
       |          unnest(range(CAST(seg.e - seg.s AS BIGINT))) AS u
       |        FROM seg JOIN documents d USING (doc_id))),
       |sidx AS (SELECT *, row_number() OVER (ORDER BY sfx, doc_id, pos) - 1 AS idx
       |         FROM p0),
       |spr AS (SELECT a.idx AS ia, a.sfx AS sa, b.sfx AS sb
       |       FROM sidx a JOIN sidx b ON b.idx = a.idx + 1),
       |$MaxSpanWalkCtes,
       |wl AS (SELECT ia, acc AS lcp FROM w0),
       |mm AS (
       |  SELECT p.doc_id, p.island, p.pos,
       |    greatest(coalesce(ln.lcp, 0), coalesce(lp.lcp, 0)) AS m
       |  FROM sidx p
       |  LEFT JOIN wl ln ON ln.ia = p.idx
       |  LEFT JOIN wl lp ON lp.ia = p.idx - 1),
       |lm AS (SELECT *, lag(m) OVER (PARTITION BY doc_id, island ORDER BY pos) AS pm
       |       FROM mm),
       |msp AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS span_start,
       |    CAST(pos + m AS BIGINT) AS span_end, CAST(m AS BIGINT) AS span_len
       |  FROM lm WHERE m >= 40 AND (pm IS NULL OR pm < m + 1))""".stripMargin

  /** The asymmetric fuzzy-decontamination chain ending at
    * `v(doc_id, bench_id, jac)` — one row per verified fuzzy match,
    * shared by the decontaminate_fuzzy and contamination_report_fuzzy
    * oracles (the SpanCte rule): portable-minhash banding, bench band
    * keys distinct, candidate join, exact Jaccard ≥ 0.5 verify.
    */
  private val FuzzyMatchChain: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source,
       |    string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+') AS toks
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, lang, source,
       |    CASE WHEN len(toks) >= 2
       |      THEN list_distinct(list_transform(range(len(toks) - 1),
       |        i -> toks[i+1] || ' ' || toks[i+2]))
       |      ELSE [] END AS sh
       |  FROM t),
       |po AS (SELECT doc_id, unnest(sh) AS s FROM d),
       |ph AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % ${Dedup.PermM} AS h
       |  FROM po),
       |sig AS (
       |  SELECT doc_id,
       |    $MinhashSigCols
       |  FROM ph GROUP BY doc_id),
       |bx AS (
       |  SELECT doc_id, unnest([
       |    $MinhashBandStructs]) AS u
       |  FROM sig),
       |bk AS (SELECT doc_id, u.band AS band, u.band_key AS band_key FROM bx),
       |bb AS (
       |  SELECT DISTINCT band, band_key, doc_id AS bench_id
       |  FROM bk WHERE doc_id % 20 = 0),
       |cand AS (
       |  SELECT DISTINCT c.doc_id, b2.bench_id
       |  FROM bk c JOIN bb b2 USING (band, band_key)
       |  WHERE c.doc_id % 20 <> 0),
       |v AS (
       |  SELECT doc_id, bench_id,
       |    CAST(nc AS DOUBLE) / nullif(CAST(la + lb - nc AS DOUBLE), 0.0) AS jac
       |  FROM (
       |    SELECT cand.doc_id, cand.bench_id,
       |      len(list_filter(a.sh, x -> list_contains(b3.sh, x))) AS nc,
       |      len(a.sh) AS la, len(b3.sh) AS lb
       |    FROM cand JOIN d a ON a.doc_id = cand.doc_id
       |              JOIN d b3 ON b3.doc_id = cand.bench_id)
       |  WHERE CAST(nc AS DOUBLE) / nullif(CAST(la + lb - nc AS DOUBLE), 0.0) >= 0.5)""".stripMargin

  /** The portable-minhash banding + exact-Jaccard-verify CTE chain
    * (t…j), shared by the dedup_minhash and dedup_keep_best_lsh oracles
    * — one definition so the pair source cannot drift copy-by-copy
    * (the SpanCte rule). Consumers select from `j` with their own
    * threshold.
    */
  private def minhashPairCtes(rel: String = "documents"): String =
    s"""t AS (
       |  SELECT doc_id, string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+') AS toks
       |  FROM $rel),
       |d AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= 2
       |      THEN list_distinct(list_transform(range(len(toks) - 1),
       |        i -> toks[i+1] || ' ' || toks[i+2]))
       |      ELSE [] END AS sh
       |  FROM t),
       |po AS (SELECT doc_id, unnest(sh) AS s FROM d),
       |ph AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % ${Dedup.PermM} AS h
       |  FROM po),
       |sig AS (
       |  SELECT doc_id,
       |    $MinhashSigCols
       |  FROM ph GROUP BY doc_id),
       |bx AS (
       |  SELECT doc_id, unnest([
       |    $MinhashBandStructs]) AS u
       |  FROM sig),
       |bk AS (SELECT doc_id, u.band AS band, u.band_key AS band_key FROM bx),
       |bsz AS (
       |  SELECT band, band_key, count(*) AS n, min(doc_id) AS root
       |  FROM bk GROUP BY band, band_key),
       |cand AS (
       |  SELECT a.doc_id AS id1, b2.doc_id AS id2
       |  FROM bk a JOIN bk b2 USING (band, band_key) JOIN bsz USING (band, band_key)
       |  WHERE n <= 1024 AND a.doc_id < b2.doc_id
       |  UNION
       |  SELECT root AS id1, doc_id AS id2
       |  FROM bk JOIN bsz USING (band, band_key)
       |  WHERE n > 1024 AND doc_id <> root),
       |j AS (
       |  SELECT id1, id2,
       |    len(list_filter(a.sh, x -> list_contains(b2.sh, x))) AS n_common,
       |    len(a.sh) AS la, len(b2.sh) AS lb
       |  FROM cand JOIN d a ON a.doc_id = id1 JOIN d b2 ON b2.doc_id = id2)""".stripMargin

  /** Sequential scrub stages s1..s4 (reading `aug(doc_id, t0)`) shared
    * by the pii_scrub and pii_report oracles (the SpanCte rule): each
    * stage counts on the PREVIOUS stage's text, mirroring
    * [[TextAnalysis.piiScrub]]'s fold copy-for-copy.
    */
  private val PiiStageCtes: String =
    """s1 AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
      |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      |  FROM aug),
      |s2 AS (
      |  SELECT doc_id, n_email,
      |    CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
      |    regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2
      |  FROM s1),
      |s3 AS (
      |  SELECT doc_id, n_email, n_ip,
      |    CAST(len(regexp_extract_all(t2, '\b[0-9]{9,}\b')) AS INT) AS n_id,
      |    regexp_replace(t2, '\b[0-9]{9,}\b', '<ID>', 'g') AS t3
      |  FROM s2),
      |s4 AS (
      |  SELECT doc_id, n_email, n_ip, n_id,
      |    CAST(len(regexp_extract_all(t3, '\+?[0-9][0-9() .-]{6,}[0-9]')) AS INT) AS n_phone,
      |    regexp_replace(t3, '\+?[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
      |  FROM s3)""".stripMargin

  /** The curation-DAG oracle chain (gate → exact dedup → shingles →
    * pairs → recursive-CTE CC → drops), shared by the corpus_pipeline
    * and corpus_pipeline_full oracles (the SpanCte rule — a dedup/CC
    * tweak applied to one copy cannot leave the two rows asserting
    * different DAGs). The full row varies only: `prelude` (its plant
    * CTE), `corpusRel` (which relation feeds the quality pass),
    * `qExtra`/`gateExtra` (the blocklist token column + predicate) and
    * `selectExtra` (the released-text hash).
    */
  private def corpusPipelineSql(prelude: String = "",
                                corpusRel: String = "documents",
                                qExtra: String = "",
                                gateExtra: String = "",
                                selectExtra: String = ""): String =
    s"""WITH RECURSIVE ${prelude}b AS (
       |  SELECT doc_id, text, lang, source,
       |    $QualityFieldsSql
       |  FROM $corpusRel
       |  WHERE lang IN ('en', 'de', 'es', 'fr')),
       |q AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    $QualityScoreSql AS quality_score$qExtra
       |  FROM b),
       |g AS (SELECT * FROM q WHERE quality_score >= 0.55$gateExtra),
       |ex AS (
       |  SELECT * FROM (SELECT *,
       |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
       |    FROM g)
       |  WHERE rn = 1),
       |t AS (SELECT doc_id, source, lang,
       |    string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+') AS toks FROM ex),
       |dsh AS (SELECT doc_id, source, lang,
       |    CASE WHEN len(toks) >= 2
       |      THEN list_distinct(list_transform(range(len(toks) - 1),
       |        i -> toks[i+1] || ' ' || toks[i+2]))
       |      ELSE [] END AS sh
       |  FROM t),
       |p AS (
       |  SELECT a.doc_id AS id1, b2.doc_id AS id2,
       |    len(list_filter(a.sh, x -> list_contains(b2.sh, x))) AS n_common,
       |    len(a.sh) AS la, len(b2.sh) AS lb
       |  FROM dsh a JOIN dsh b2
       |    ON a.source = b2.source AND a.lang = b2.lang AND a.doc_id < b2.doc_id),
       |pairs AS (
       |  SELECT id1, id2 FROM p
       |  WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.5),
       |edges AS (SELECT id1 AS a, id2 AS bb FROM pairs
       |          UNION ALL SELECT id2, id1 FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e2.bb FROM reach r JOIN edges e2 ON r.dst = e2.a),
       |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |drops AS (SELECT id AS doc_id FROM labels WHERE id <> cluster_id)
       |SELECT ex.doc_id, lang, source, n_chars, quality_score$selectExtra
       |FROM ex LEFT JOIN drops ON ex.doc_id = drops.doc_id
       |WHERE drops.doc_id IS NULL
       |ORDER BY ex.doc_id""".stripMargin

  /** Quality-score CTEs (b, q) shared by the keep-best oracles. */
  private val QualityCtes: String =
    s"""b AS (
       |  SELECT doc_id, text,
       |    $QualityFieldsSql
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    $QualityScoreSql AS quality_score
       |  FROM b)""".stripMargin

  /** Shared CC + highest-quality-survivor tail of the keep-best
    * oracles: consumes a `pairs` (id1, id2) CTE and the quality CTE
    * `q` — one definition of the cluster resolution + survivor rule so
    * the ngram and LSH rows cannot drift.
    */
  private val KeepBestTailSql: String =
    """edges AS (SELECT id1 AS a, id2 AS bb FROM pairs
      |          UNION ALL SELECT id2, id1 FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, e2.bb FROM reach r JOIN edges e2 ON r.dst = e2.a),
      |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
      |sc AS (
      |  SELECT l.id AS doc_id, cluster_id, quality_score
      |  FROM labels l JOIN q ON l.id = q.doc_id),
      |rk AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id) AS rn
      |  FROM sc),
      |best AS (SELECT cluster_id, doc_id AS keep_id FROM rk WHERE rn = 1),
      |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM sc GROUP BY cluster_id)
      |SELECT sc.doc_id, cluster_id, cluster_size, quality_score, keep_id,
      |  CAST(sc.doc_id = keep_id AS INT) AS is_kept
      |FROM sc JOIN best USING (cluster_id) JOIN sz USING (cluster_id)
      |ORDER BY cluster_id, sc.doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "dedup_minhash" ->
      s"""WITH ${minhashPairCtes()}
         |SELECT id1, id2,
         |  round(CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0), 6) AS jaccard
         |FROM j
         |WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.3
         |ORDER BY id1, id2""".stripMargin,

    // The streaming bucket fold's within-batch contract replayed off
    // the SHARED banding chain: every intra-bucket pair per colliding
    // band (the fixture never reaches maxBucket — the star-cap branch
    // is spec-pinned, its fold-order semantics have no SQL twin), with
    // est-Jaccard = the minhash component-match share, generated from
    // the same permutation constants.
    "stream_near_dup" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, substr(text, 1, 300) AS text
         |  FROM documents WHERE doc_id % 25 = 0),
         |dd AS (
         |  SELECT doc_id, text FROM d0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text || ' twin tail marker' FROM d0),
         |${minhashPairCtes("dd")},
         |p AS (
         |  SELECT a.doc_id AS id1, b2.doc_id AS id2, band
         |  FROM bk a JOIN bk b2 USING (band, band_key)
         |  WHERE a.doc_id < b2.doc_id),
         |e AS (
         |  SELECT id1, id2, band,
         |    CAST(${(0 until Dedup.Perms).map(i =>
              s"(CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END)")
              .mkString("\n      + ")} AS DOUBLE) / ${Dedup.Perms} AS est
         |  FROM p JOIN sig sa ON sa.doc_id = id1 JOIN sig sb ON sb.doc_id = id2)
         |SELECT id1, id2, CAST(band AS INT) AS band,
         |  round(est, 6) AS est_jaccard
         |FROM e WHERE est >= 0.5
         |ORDER BY id1, id2, band""".stripMargin,

    // Replays BOTH arms off the SHARED shingle CTE `d` (the banding
    // chain verbatim via MinhashPairCtes; the truth chain = the
    // ngram_jaccard metadata-blocked exact pairs) and counts the
    // intersection.
    "minhash_recall" ->
      s"""WITH ${minhashPairCtes()},
         |found AS (
         |  SELECT id1, id2 FROM j
         |  WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.3),
         |tj AS (
         |  SELECT a.doc_id AS id1, b2.doc_id AS id2,
         |    len(list_filter(a.sh, x -> list_contains(b2.sh, x))) AS n_common,
         |    len(a.sh) AS la, len(b2.sh) AS lb
         |  FROM d a
         |  JOIN d b2 ON a.doc_id < b2.doc_id
         |  JOIN documents ma ON ma.doc_id = a.doc_id
         |  JOIN documents mb ON mb.doc_id = b2.doc_id
         |  WHERE ma.source = mb.source AND ma.lang = mb.lang),
         |truth AS (
         |  SELECT id1, id2 FROM tj
         |  WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.3),
         |hits AS (SELECT count(*) AS nh FROM truth JOIN found USING (id1, id2)),
         |tot AS (SELECT count(*) AS nt FROM truth),
         |bnd AS (SELECT count(*) AS nb FROM found)
         |SELECT CAST(nt AS BIGINT) AS n_truth, CAST(nh AS BIGINT) AS n_hits,
         |  CAST(nb AS BIGINT) AS n_banding_pairs,
         |  round(CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE) / nt END, 6) AS recall
         |FROM tot CROSS JOIN hits CROSS JOIN bnd""".stripMargin,

    "dedup_keep_best_lsh" ->
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |pairs AS (
         |  SELECT id1, id2 FROM j
         |  WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.5),
         |$QualityCtes,
         |$KeepBestTailSql""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+')) AS w
         |  FROM documents),
         |hh AS (SELECT doc_id, md5(w) AS h FROM tok WHERE w <> ''),
         |bits AS (
         |  SELECT doc_id, count(*) AS n,
         |    $SimhashBitSums
         |  FROM hh GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id,
         |    ${simhashChunkSql(0)} AS k0,
         |    ${simhashChunkSql(1)} AS k1,
         |    ${simhashChunkSql(2)} AS k2,
         |    ${simhashChunkSql(3)} AS k3
         |  FROM bits),
         |bx AS (
         |  SELECT doc_id, unnest([
         |    {'chunk': 0, 'ck': k0}, {'chunk': 1, 'ck': k1},
         |    {'chunk': 2, 'ck': k2}, {'chunk': 3, 'ck': k3}]) AS u
         |  FROM sig),
         |bk AS (SELECT doc_id, u.chunk AS chunk, u.ck AS ck FROM bx),
         |bsz AS (
         |  SELECT chunk, ck, count(*) AS n, min(doc_id) AS root
         |  FROM bk GROUP BY chunk, ck),
         |cand AS (
         |  SELECT a.doc_id AS id1, b2.doc_id AS id2
         |  FROM bk a JOIN bk b2 USING (chunk, ck) JOIN bsz USING (chunk, ck)
         |  WHERE n <= 1024 AND a.doc_id < b2.doc_id
         |  UNION
         |  SELECT root AS id1, doc_id AS id2
         |  FROM bk JOIN bsz USING (chunk, ck)
         |  WHERE n > 1024 AND doc_id <> root),
         |hm AS (
         |  SELECT id1, id2,
         |    bit_count(xor(a.k0, b2.k0)) + bit_count(xor(a.k1, b2.k1))
         |    + bit_count(xor(a.k2, b2.k2)) + bit_count(xor(a.k3, b2.k3)) AS hamming
         |  FROM cand JOIN sig a ON a.doc_id = id1 JOIN sig b2 ON b2.doc_id = id2)
         |SELECT id1, id2, hamming FROM hm
         |WHERE hamming <= 8 ORDER BY id1, id2""".stripMargin,

    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash,
        |  min(doc_id) AS canonical_id,
        |  count(*) AS n_copies,
        |  min(length(text)) AS n_chars
        |FROM documents GROUP BY sha256(text)
        |ORDER BY canonical_id""".stripMargin,

    // The within-watermark streaming dedupe finalizes to exactly the
    // distinct content set (single-horizon feed): one row per text.
    "stream_dedup_docs" ->
      """SELECT DISTINCT sha256(text) AS content_hash,
        |  length(text) AS n_chars
        |FROM documents
        |ORDER BY content_hash""".stripMargin,

    "ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang,
        |    string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, lang,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_distinct(list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2]))
        |      ELSE [] END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_common,
        |    len(a.sh) AS la, len(b.sh) AS lb
        |  FROM d a JOIN d b
        |    ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT id1, id2, n_common,
        |  la + lb - n_common AS n_union,
        |  round(CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0), 6) AS jaccard
        |FROM p
        |WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.05
        |ORDER BY id1, id2""".stripMargin,

    "sentence_dedup" ->
      s"""WITH $sentencePostingCte,
         |per AS (
         |  SELECT doc_id, count(*) AS n_sents,
         |    sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM sp JOIN c USING (s) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_sents, 0) AS BIGINT) AS n_sents,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_sents,
         |  CASE WHEN coalesce(n_sents, 0) > 0
         |    THEN round(CAST(n_dup AS DOUBLE) / n_sents, 6)
         |    ELSE 0.0 END AS dup_sent_frac
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "sentence_dedup_clean" ->
      s"""WITH $sentencePostingCte,
         |per AS (
         |  SELECT doc_id, count(*) AS n_sents,
         |    sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS n_cut,
         |    array_to_string(list(s ORDER BY pos) FILTER (WHERE c.n < 2), ' ') AS clean_text
         |  FROM sp JOIN c USING (s) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_sents, 0) AS BIGINT) AS n_sents,
         |  CAST(coalesce(n_cut, 0) AS BIGINT) AS n_cut,
         |  coalesce(clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "containment_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang,
        |    string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, lang,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_distinct(list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2]))
        |      ELSE [] END AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS n_common,
        |    len(a.sh) AS n1, len(b.sh) AS n2
        |  FROM d a JOIN d b
        |    ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_filter(a.sh, x -> list_contains(b.sh, x))) > 0)
        |SELECT id1, id2, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round(CAST(n_common AS DOUBLE) / n1, 6) AS c1_in_2,
        |  round(CAST(n_common AS DOUBLE) / n2, 6) AS c2_in_1,
        |  round(CAST(n_common AS DOUBLE) / least(n1, n2), 6) AS containment
        |FROM p
        |WHERE round(CAST(n_common AS DOUBLE) / least(n1, n2), 6) >= 0.2
        |ORDER BY id1, id2""".stripMargin,

    "embed_near_dup" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |p AS (
         |  SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
         |    list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]),
         |      (s, x) -> s + x) / (a.nrm * b.nrm) AS cos_sim
         |  FROM nz a JOIN nz b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, id1, id2, round(cos_sim, 6) AS cos_sim
         |FROM p WHERE cos_sim >= 0.4
         |ORDER BY id1, id2""".stripMargin,

    "dedup_clusters" ->
      s"""$CcLabelChain
         |SELECT id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  CAST(id = cluster_id AS INT) AS is_canonical
         |FROM labels ORDER BY cluster_id, id""".stripMargin,

    "cluster_stats" ->
      s"""$CcLabelChain,
         |cs AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(sz - 1) AS BIGINT) AS n_removable
         |FROM cs GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    // SemDeDup replay: first-16 centroids, (d2, cell) argmin assignment,
    // cen_cos folded from the argmin's d2 ((n2−d2)/2/(nrm·sqrt(n2)) —
    // the exact arithmetic the Spark plan runs), within-cell pairs at
    // unrounded cosine ≥ τ, recursive-CTE components, keep = first of
    // (cen_cos ASC, vec_id ASC) per cluster.
    "semantic_dedup" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
         |      (s, x) -> s + x)) AS nrm
         |  FROM e),
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |cb AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv,
         |    list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
         |      (s, x) -> s + x) AS n2
         |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id LIMIT 16)),
         |dist AS (
         |  SELECT z.vec_id, z.nrm, z.v, b.cell, b.n2,
         |    b.n2 - 2.0 * list_reduce(
         |      list_transform(range(len(z.v)), i -> z.v[i+1] * b.cv[i+1]),
         |      (s, x) -> s + x) AS d2
         |  FROM nz z CROSS JOIN cb b),
         |asg AS (
         |  SELECT vec_id, nrm, v, cell,
         |    round((n2 - d2) / 2.0 / (nrm * sqrt(n2)), 6) AS cen_cos
         |  FROM (SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dist)
         |  WHERE rn = 1),
         |p AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]),
         |      (s, x) -> s + x) / (a.nrm * b.nrm) >= 0.3),
         |edges AS (SELECT id1 AS a, id2 AS b FROM p
         |          UNION ALL SELECT id2, id1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
         |lab AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |allv AS (
         |  SELECT g.vec_id, g.cell, coalesce(l.cluster_id, g.vec_id) AS cluster_id,
         |    g.cen_cos
         |  FROM asg g LEFT JOIN lab l ON g.vec_id = l.id)
         |SELECT vec_id, cell, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  cen_cos,
         |  CAST((row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY cen_cos, vec_id) = 1) AS INT) AS is_kept
         |FROM allv ORDER BY vec_id""".stripMargin,

    // Same cell assignment CTEs as semantic_dedup; moments fold
    // over the ROUNDED cosines, z over rounded mean/std (gopher policy).
    "ivf_stats" ->
      s"""$SeedAsgChain,
         |pc AS (
         |  SELECT cell, count(*) AS n_vecs,
         |    sum(CAST(round(cen_cos * 1000000, 0) AS BIGINT)) AS s1,
         |    min(cen_cos) AS min_cen_cos
         |  FROM asg GROUP BY 1),
         |tt AS (SELECT sum(n_vecs) AS tot FROM pc)
         |SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  round(CAST(n_vecs AS DOUBLE) / tot, 6) AS frac,
         |  round(CAST(s1 AS DOUBLE) / (n_vecs * 1000000.0), 6) AS avg_cen_cos,
         |  min_cen_cos
         |FROM pc CROSS JOIN tt ORDER BY cell""".stripMargin,

    "kmeans_clusters" ->
      s"""$KmeansChain,
         |f AS (
         |  SELECT cell, count(*) AS n_members,
         |    sum(CAST(round((list_reduce(
         |      list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
         |      (s, x) -> s + x) + d2) * 1000000) AS BIGINT)) AS im
         |  FROM af GROUP BY cell)
         |SELECT CAST(cell AS INT) AS cluster,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  round(CAST(im AS DOUBLE) / 1000000.0, 6) AS inertia,
         |  round(CAST(im AS DOUBLE) / (1000000.0 * CAST(n_members AS DOUBLE)), 6)
         |    AS avg_dist2
         |FROM f ORDER BY cluster""".stripMargin,

    "embed_outliers" ->
      s"""$SeedAsgChain,
         |stz AS (
         |  SELECT cell, count(*) AS n_cell, sum(mi) AS s1, sum(mi * mi) AS s2
         |  FROM (SELECT cell,
         |          CAST(round(cen_cos * 1000000, 0) AS BIGINT) AS mi FROM asg)
         |  GROUP BY 1),
         |st AS (
         |  SELECT cell, n_cell,
         |    round(CAST(s1 AS DOUBLE) / (n_cell * 1000000.0), 6) AS cell_mean,
         |    CASE WHEN n_cell > 1 THEN round(sqrt(greatest(
         |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_cell)
         |        / (n_cell - 1), 0.0)) / 1000000.0, 6) END AS sd
         |  FROM stz)
         |SELECT a.vec_id, a.cell, a.cen_cos,
         |  CAST(st.n_cell AS BIGINT) AS n_cell, st.cell_mean,
         |  CASE WHEN st.sd IS NOT NULL AND st.sd > 0
         |    THEN round((a.cen_cos - st.cell_mean) / st.sd, 6) END AS z,
         |  CAST(coalesce(CASE WHEN st.sd IS NOT NULL AND st.sd > 0
         |    THEN round((a.cen_cos - st.cell_mean) / st.sd, 6) END, 0.0) < -1.5
         |    AS INT) AS is_outlier
         |FROM asg a JOIN st USING (cell)
         |ORDER BY a.vec_id""".stripMargin,

    // Replays BOTH arms (the ann_cosine_topk brute chain and the
    // ann_lsh_topk multiprobe chain, CTEs renamed b*/l*) and counts the
    // intersection — the same two operator calls the Spark side makes.
    "ann_recall" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |bq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |       FROM nz WHERE vec_id < 10),
         |bj AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_reduce(list_transform(range(len(qv)), i -> qv[i+1] * c.v[i+1]),
         |      (s, x) -> s + x) / (qn * c.nrm), 6) AS cos_sim
         |  FROM bq JOIN nz c ON c.vec_id <> query_id),
         |br AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM bj),
         |bt AS (SELECT query_id, neighbor_id FROM br WHERE rk <= 5),
         |sg AS (
         |  SELECT vec_id, v, nrm,
         |    ${sigSql("v", 4)} AS sig
         |  FROM nz),
         |lq AS (
         |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
         |    unnest([sig, xor(sig, 1), xor(sig, 2), xor(sig, 4), xor(sig, 8)]) AS sig
         |  FROM sg WHERE vec_id < 10),
         |lc AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_reduce(list_transform(range(len(qv)), i -> qv[i+1] * c.v[i+1]),
         |      (s, x) -> s + x) / (qn * c.nrm), 6) AS cos_sim
         |  FROM lq JOIN sg c USING (sig)
         |  WHERE c.vec_id <> query_id),
         |lr AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM lc),
         |lt AS (SELECT query_id, neighbor_id FROM lr WHERE rk <= 5)
         |SELECT bt.query_id,
         |  CAST(count(lt.neighbor_id) AS BIGINT) AS n_hits,
         |  round(CAST(count(lt.neighbor_id) AS DOUBLE) / 5, 6) AS recall
         |FROM bt LEFT JOIN lt USING (query_id, neighbor_id)
         |GROUP BY bt.query_id
         |ORDER BY bt.query_id""".stripMargin,

    "ann_lsh_topk" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |sg AS (
         |  SELECT vec_id, v, nrm,
         |    ${sigSql("v", 4)} AS sig
         |  FROM nz),
         |q AS (
         |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
         |    unnest([sig, xor(sig, 1), xor(sig, 2), xor(sig, 4), xor(sig, 8)]) AS sig
         |  FROM sg WHERE vec_id < 10),
         |cand AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_reduce(list_transform(range(len(qv)), i -> qv[i+1] * c.v[i+1]),
         |      (s, x) -> s + x) / (qn * c.nrm), 6) AS cos_sim
         |  FROM q JOIN sg c USING (sig)
         |  WHERE c.vec_id <> query_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM cand)
         |SELECT query_id, rk, neighbor_id, cos_sim
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "dedup_clusters_lsh" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nn AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
         |      (s, x) -> s + x)) AS nrm
         |  FROM e),
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |sg AS (
         |  SELECT vec_id,
         |    ${sigSql("v", 28)} AS sig
         |  FROM nz),
         |bx AS (
         |  SELECT vec_id, unnest([
         |    {'band': 0, 'bsig': sig & 127},
         |    {'band': 1, 'bsig': (sig >> 7) & 127},
         |    {'band': 2, 'bsig': (sig >> 14) & 127},
         |    {'band': 3, 'bsig': (sig >> 21) & 127}]) AS u
         |  FROM sg),
         |bk AS (SELECT vec_id, u.band AS band, u.bsig AS bsig FROM bx),
         |bsz AS (
         |  SELECT band, bsig, count(*) AS n, min(vec_id) AS root
         |  FROM bk GROUP BY band, bsig),
         |cand AS (
         |  SELECT a.vec_id AS id1, b2.vec_id AS id2
         |  FROM bk a JOIN bk b2 USING (band, bsig) JOIN bsz USING (band, bsig)
         |  WHERE n <= 512 AND a.vec_id < b2.vec_id
         |  UNION
         |  SELECT root AS id1, vec_id AS id2
         |  FROM bk JOIN bsz USING (band, bsig)
         |  WHERE n > 512 AND vec_id <> root),
         |p AS (
         |  SELECT id1, id2
         |  FROM cand JOIN nz a ON a.vec_id = id1 JOIN nz b2 ON b2.vec_id = id2
         |  WHERE list_reduce(list_transform(range(len(a.v)), i -> a.v[i+1] * b2.v[i+1]),
         |      (s, x) -> s + x) / (a.nrm * b2.nrm) >= 0.3),
         |edges AS (SELECT id1 AS a, id2 AS b FROM p
         |          UNION ALL SELECT id2, id1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
         |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  CAST(id = cluster_id AS INT) AS is_canonical
         |FROM labels ORDER BY cluster_id, id""".stripMargin,

    // Mirrors ivfTopK over kmeansFit(e, 16, iters = 0): centroid c's
    // |c|² and every dot product are the same left fold vec_dot runs
    // (0.0-seeded vs first-element-seeded is bit-identical because
    // 0.0 + x == x); argmin and probe ranking tie-break on (d2, cell) in
    // both engines.
    "ann_ivf_topk" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv,
         |    list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
         |      (s, x) -> s + x) AS cn2
         |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id LIMIT 16)),
         |asg AS (
         |  SELECT vec_id, cell,
         |    cn2 - 2.0 * list_reduce(list_transform(range(len(v)), i -> v[i+1] * cv[i+1]),
         |      (s, x) -> s + x) AS d2
         |  FROM nz CROSS JOIN cents),
         |best AS (
         |  SELECT vec_id AS neighbor_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM asg) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM asg WHERE vec_id < 10) WHERE rn <= 4),
         |cvs AS (
         |  SELECT b.neighbor_id, b.cell, z.v AS cvv, z.nrm AS cnn
         |  FROM best b JOIN nz z ON z.vec_id = b.neighbor_id),
         |qvs AS (SELECT vec_id AS query_id, v AS qvv, nrm AS qnn
         |        FROM nz WHERE vec_id < 10),
         |cand AS (
         |  SELECT p.query_id, c.neighbor_id, c.cell,
         |    round(list_reduce(list_transform(range(len(qvv)), i -> qvv[i+1] * c.cvv[i+1]),
         |      (s, x) -> s + x) / (qnn * c.cnn), 6) AS cos_sim
         |  FROM probes p JOIN qvs USING (query_id) JOIN cvs c USING (cell)
         |  WHERE c.neighbor_id <> p.query_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM cand)
         |SELECT query_id, rk, neighbor_id, cell, cos_sim
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // PQ/ADC replay: unit-normalize, rebuild the zero-iteration codebook
    // (first-16 unit vectors, sliced into 8 subspaces), re-encode every
    // corpus vector by per-subspace argmin, then score pairs by the
    // SAME left-to-right d² fold the Spark plan runs (list(d2 ORDER BY
    // mi) + list_reduce ≡ the m-term add chain), shortlist k·refine by
    // ADC, exact-cosine re-rank. Lambda accumulators are named `acc` —
    // DuckDB lambdas capture outer aliases, and `s` is a table alias.
    "ann_pq_topk" ->
      s"""$VecCte,
         |nz AS (
         |  SELECT vec_id, v, nrm, list_transform(v, x -> x / nrm) AS u
         |  FROM nn WHERE nrm > 0),
         |ms AS (SELECT unnest(range(8)) AS mi),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, u
         |  FROM (SELECT vec_id, u FROM nz ORDER BY vec_id LIMIT 16)),
         |cb AS (
         |  SELECT t.mi, s.c,
         |    list_transform(range(8), i -> s.u[t.mi * 8 + i + 1]) AS cv
         |  FROM seeds s CROSS JOIN ms t),
         |cb2 AS (
         |  SELECT mi, c, cv,
         |    list_reduce(list_transform(range(len(cv)), i -> cv[i+1] * cv[i+1]),
         |      (acc, x) -> acc + x) AS cn2
         |  FROM cb),
         |sub AS (
         |  SELECT z.vec_id, t.mi,
         |    list_transform(range(8), i -> z.u[t.mi * 8 + i + 1]) AS um
         |  FROM nz z CROSS JOIN ms t),
         |enc AS (
         |  SELECT vec_id, mi, c FROM (
         |    SELECT s.vec_id, s.mi, b.c,
         |      row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
         |        b.cn2 - 2.0 * list_reduce(
         |          list_transform(range(len(s.um)), i -> s.um[i+1] * b.cv[i+1]),
         |          (acc, x) -> acc + x),
         |        b.c) AS rn
         |    FROM sub s JOIN cb2 b USING (mi)) WHERE rn = 1),
         |qsub AS (
         |  SELECT vec_id AS query_id, mi, um,
         |    list_reduce(list_transform(range(len(um)), i -> um[i+1] * um[i+1]),
         |      (acc, x) -> acc + x) AS qn2
         |  FROM sub WHERE vec_id < 10),
         |dpair AS (
         |  SELECT q.query_id, e2.vec_id AS neighbor_id, q.mi,
         |    (q.qn2 + b.cn2) - 2.0 * list_reduce(
         |      list_transform(range(len(q.um)), i -> q.um[i+1] * b.cv[i+1]),
         |      (acc, x) -> acc + x) AS d2
         |  FROM qsub q
         |  JOIN enc e2 ON e2.vec_id <> q.query_id AND e2.mi = q.mi
         |  JOIN cb2 b ON b.mi = q.mi AND b.c = e2.c),
         |adc AS (
         |  SELECT query_id, neighbor_id,
         |    round(1.0 - list_reduce(list(d2 ORDER BY mi), (acc, x) -> acc + x)
         |      / 2.0, 6) AS adc_cos
         |  FROM dpair GROUP BY query_id, neighbor_id),
         |short AS (
         |  SELECT query_id, neighbor_id, adc_cos FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS srn
         |    FROM adc) WHERE srn <= 20),
         |ref AS (
         |  SELECT s.query_id, s.neighbor_id, s.adc_cos,
         |    round(list_reduce(
         |      list_transform(range(len(q.v)), i -> q.v[i+1] * n.v[i+1]),
         |      (acc, x) -> acc + x) / (q.nrm * n.nrm), 6) AS cos_sim
         |  FROM short s
         |  JOIN nz q ON q.vec_id = s.query_id
         |  JOIN nz n ON n.vec_id = s.neighbor_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM ref)
         |SELECT query_id, rk, neighbor_id, adc_cos, cos_sim
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // IVF-PQ replay: the ann_ivf_topk coarse CTEs (raw-vector cells,
    // probes) composed with the ann_pq_topk code CTEs (unit-vector
    // codebook, per-subspace argmin encode, ADC fold) — candidates
    // restricted to probed cells before the ADC join.
    "ann_ivfpq_topk" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv,
         |    list_reduce(list_transform(range(len(v)), i -> v[i+1] * v[i+1]),
         |      (s, x) -> s + x) AS cn2
         |  FROM (SELECT vec_id, v FROM nz ORDER BY vec_id LIMIT 16)),
         |casg AS (
         |  SELECT vec_id, cell,
         |    cn2 - 2.0 * list_reduce(list_transform(range(len(v)), i -> v[i+1] * cv[i+1]),
         |      (s, x) -> s + x) AS d2
         |  FROM nz CROSS JOIN cents),
         |best AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM casg) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM casg WHERE vec_id < 10) WHERE rn <= 4),
         |nzu AS (
         |  SELECT vec_id, v, nrm, list_transform(v, x -> x / nrm) AS u
         |  FROM nz),
         |ms AS (SELECT unnest(range(8)) AS mi),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, u
         |  FROM (SELECT vec_id, u FROM nzu ORDER BY vec_id LIMIT 16)),
         |cbk AS (
         |  SELECT t.mi, s.c,
         |    list_transform(range(8), i -> s.u[t.mi * 8 + i + 1]) AS cv
         |  FROM seeds s CROSS JOIN ms t),
         |cb2 AS (
         |  SELECT mi, c, cv,
         |    list_reduce(list_transform(range(len(cv)), i -> cv[i+1] * cv[i+1]),
         |      (acc, x) -> acc + x) AS cn2
         |  FROM cbk),
         |sub AS (
         |  SELECT z.vec_id, t.mi,
         |    list_transform(range(8), i -> z.u[t.mi * 8 + i + 1]) AS um
         |  FROM nzu z CROSS JOIN ms t),
         |enc AS (
         |  SELECT vec_id, mi, c FROM (
         |    SELECT s.vec_id, s.mi, b.c,
         |      row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
         |        b.cn2 - 2.0 * list_reduce(
         |          list_transform(range(len(s.um)), i -> s.um[i+1] * b.cv[i+1]),
         |          (acc, x) -> acc + x),
         |        b.c) AS rn
         |    FROM sub s JOIN cb2 b USING (mi)) WHERE rn = 1),
         |qsub AS (
         |  SELECT vec_id AS query_id, mi, um,
         |    list_reduce(list_transform(range(len(um)), i -> um[i+1] * um[i+1]),
         |      (acc, x) -> acc + x) AS qn2
         |  FROM sub WHERE vec_id < 10),
         |dpair AS (
         |  SELECT q.query_id, e2.vec_id AS neighbor_id, bb.cell, q.mi,
         |    (q.qn2 + b.cn2) - 2.0 * list_reduce(
         |      list_transform(range(len(q.um)), i -> q.um[i+1] * b.cv[i+1]),
         |      (acc, x) -> acc + x) AS d2
         |  FROM qsub q
         |  JOIN probes p ON p.query_id = q.query_id
         |  JOIN best bb ON bb.cell = p.cell AND bb.vec_id <> q.query_id
         |  JOIN enc e2 ON e2.vec_id = bb.vec_id AND e2.mi = q.mi
         |  JOIN cb2 b ON b.mi = q.mi AND b.c = e2.c),
         |adc AS (
         |  SELECT query_id, neighbor_id, cell,
         |    round(1.0 - list_reduce(list(d2 ORDER BY mi), (acc, x) -> acc + x)
         |      / 2.0, 6) AS adc_cos
         |  FROM dpair GROUP BY query_id, neighbor_id, cell),
         |short AS (
         |  SELECT query_id, neighbor_id, cell, adc_cos FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS srn
         |    FROM adc) WHERE srn <= 20),
         |ref AS (
         |  SELECT s.query_id, s.neighbor_id, s.cell, s.adc_cos,
         |    round(list_reduce(
         |      list_transform(range(len(q.v)), i -> q.v[i+1] * n.v[i+1]),
         |      (acc, x) -> acc + x) / (q.nrm * n.nrm), 6) AS cos_sim
         |  FROM short s
         |  JOIN nz q ON q.vec_id = s.query_id
         |  JOIN nz n ON n.vec_id = s.neighbor_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM ref)
         |SELECT query_id, rk, neighbor_id, cell, adc_cos, cos_sim
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "ann_cosine_topk" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM nz WHERE vec_id < 10),
         |j AS (
         |  SELECT query_id, c.vec_id AS neighbor_id, c.label,
         |    round(list_reduce(list_transform(range(len(qv)), i -> qv[i+1] * c.v[i+1]),
         |      (s, x) -> s + x) / (qn * c.nrm), 6) AS cos_sim
         |  FROM q JOIN nz c ON c.vec_id <> query_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM j)
         |SELECT query_id, rk, neighbor_id, label, cos_sim
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "contamination_report" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 4
        |      THEN list_distinct(list_transform(range(len(toks) - 3),
        |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))
        |      ELSE [] END AS gs
        |  FROM t),
        |bp AS (SELECT doc_id AS bench_id, unnest(gs) AS g FROM d WHERE doc_id % 20 = 0),
        |cp AS (SELECT doc_id, unnest(gs) AS g FROM d WHERE doc_id % 20 <> 0),
        |ov AS (SELECT bench_id, doc_id, count(*) AS o
        |       FROM cp JOIN bp USING (g) GROUP BY 1, 2),
        |per AS (SELECT bench_id, count(*) AS n_corpus_docs, sum(o) AS n_gram_hits,
        |          max(o) AS max_doc_overlap
        |        FROM ov GROUP BY 1)
        |SELECT b.bench_id,
        |  CAST(coalesce(n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
        |  CAST(coalesce(n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
        |  CAST(coalesce(max_doc_overlap, 0) AS BIGINT) AS max_doc_overlap
        |FROM (SELECT doc_id AS bench_id FROM d WHERE doc_id % 20 = 0) b
        |LEFT JOIN per USING (bench_id)
        |ORDER BY bench_id""".stripMargin,

    "decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN len(toks) >= 4
        |      THEN list_distinct(list_transform(range(len(toks) - 3),
        |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))
        |      ELSE [] END AS gs
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(gs) AS g FROM d WHERE doc_id % 20 = 0),
        |corp AS (SELECT doc_id, unnest(gs) AS g FROM d WHERE doc_id % 20 <> 0),
        |h AS (SELECT doc_id, count(*) AS n_hits FROM corp JOIN bench USING (g)
        |      GROUP BY doc_id)
        |SELECT d.doc_id, lang, source,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS is_contaminated
        |FROM d LEFT JOIN h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 20 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // Fuzzy decontamination: the dedup_minhash portable banding replayed
    // asymmetrically (bench keys distinct → candidate join → exact
    // Jaccard ≥ τ), then per-corpus-doc best-match aggregation with
    // ties to the lowest bench id (Spark: max(struct(j, −bench_id))).
    "contamination_report_fuzzy" ->
      s"""$FuzzyMatchChain,
         |per AS (SELECT bench_id, count(*) AS n, max(jac) AS mj
         |        FROM v GROUP BY 1)
         |SELECT b.bench_id,
         |  CAST(coalesce(per.n, 0) AS BIGINT) AS n_corpus_docs,
         |  coalesce(round(per.mj, 6), 0.0) AS max_jaccard
         |FROM (SELECT doc_id AS bench_id FROM documents WHERE doc_id % 20 = 0) b
         |LEFT JOIN per USING (bench_id)
         |ORDER BY bench_id""".stripMargin,

    "decontaminate_fuzzy" ->
      s"""$FuzzyMatchChain,
         |a AS (SELECT doc_id, count(*) AS n, max(jac) AS bj FROM v GROUP BY 1),
         |bmin AS (
         |  SELECT v.doc_id, min(v.bench_id) AS bid
         |  FROM v JOIN a ON v.doc_id = a.doc_id AND v.jac = a.bj
         |  GROUP BY 1)
         |SELECT d.doc_id, lang, source,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_bench_matches,
         |  coalesce(round(a.bj, 6), 0.0) AS best_jaccard,
         |  bmin.bid AS best_bench_id,
         |  CAST(coalesce(a.n, 0) > 0 AS INT) AS is_contaminated
         |FROM d LEFT JOIN a USING (doc_id) LEFT JOIN bmin USING (doc_id)
         |WHERE d.doc_id % 20 <> 0
         |ORDER BY d.doc_id""".stripMargin,

    "chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 8
        |      THEN list_transform(range(CAST(floor(len(toks) / 8.0) AS BIGINT)),
        |        i -> array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' '))
        |      ELSE [] END AS chunks
        |  FROM t),
        |occ AS (SELECT doc_id, unnest(chunks) AS ch FROM d),
        |g AS (SELECT ch, min(doc_id) AS first_doc FROM occ GROUP BY ch),
        |per AS (
        |  SELECT doc_id, count(*) AS n_chunks,
        |    sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS n_dup
        |  FROM occ JOIN g USING (ch) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_chunks,
        |  round(CAST(n_dup AS DOUBLE) / nullif(CAST(n_chunks AS DOUBLE), 0.0), 6)
        |    AS dup_chunk_ratio,
        |  CAST(coalesce(n_dup, 0) * 8 AS BIGINT) AS n_tokens_dropped
        |FROM d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_spans" ->
      s"""$SpanCte
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end,
         |  max(pos) + 40 - min(pos) AS span_len
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    "decontaminate_spans" ->
      s"""$DecontSpanCte
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end,
         |  max(pos) + 40 - min(pos) AS span_len
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    "decontaminate_spans_clean" ->
      s"""$DecontSpanCte,
         |sp AS (
         |  SELECT doc_id, min(pos) AS s, max(pos) + 40 AS e
         |  FROM isl GROUP BY doc_id, island),
         |seg AS (
         |  SELECT doc_id, s, e,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs
         |  FROM sp)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE concat(
         |    coalesce(string_agg(substr(d.text, CAST(gs + 1 AS INT),
         |      CAST(seg.s - gs AS INT)), '' ORDER BY seg.s), ''),
         |    substr(d.text, CAST(coalesce(max(seg.e), 0) + 1 AS INT))) END
         |    AS clean_text,
         |  CAST(count(seg.s) AS BIGINT) AS n_spans,
         |  CAST(coalesce(sum(seg.e - seg.s), 0) AS BIGINT) AS n_chars_removed
         |FROM (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0) d
         |  LEFT JOIN seg ON d.doc_id = seg.doc_id
         |GROUP BY d.doc_id, d.text
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_spans_maximal" ->
      s"""$MaxSpanChain
         |SELECT doc_id, span_start, span_end, span_len
         |FROM msp
         |ORDER BY doc_id, span_start""".stripMargin,

    "span_stats" ->
      s"""$MaxSpanChain
         |SELECT CAST(length(bin(span_len)) - 1 AS INT) AS len_bucket,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(span_len) AS BIGINT) AS total_chars,
         |  CAST(min(span_len) AS BIGINT) AS min_len,
         |  CAST(max(span_len) AS BIGINT) AS max_len,
         |  round(avg(span_len), 6) AS avg_len
         |FROM msp
         |GROUP BY 1
         |ORDER BY len_bucket""".stripMargin,

    "dedup_spans_clean" ->
      s"""$SpanCte,
         |sp AS (
         |  SELECT doc_id, min(pos) AS s, max(pos) + 40 AS e
         |  FROM isl GROUP BY doc_id, island),
         |seg AS (
         |  SELECT doc_id, s, e,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs
         |  FROM sp)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE concat(
         |    coalesce(string_agg(substr(d.text, CAST(gs + 1 AS INT),
         |      CAST(seg.s - gs AS INT)), '' ORDER BY seg.s), ''),
         |    substr(d.text, CAST(coalesce(max(seg.e), 0) + 1 AS INT))) END
         |    AS clean_text,
         |  CAST(count(seg.s) AS BIGINT) AS n_spans,
         |  CAST(coalesce(sum(seg.e - seg.s), 0) AS BIGINT) AS n_chars_removed
         |FROM documents d LEFT JOIN seg ON d.doc_id = seg.doc_id
         |GROUP BY d.doc_id, d.text
         |ORDER BY d.doc_id""".stripMargin,

    // Removal at maximal grain: the msp chain, its per-doc interval
    // union (running-max islands — a long span can swallow several
    // successors, so the break tests against max(e) over preceding
    // rows, not lag(e)), then the identical gap/tail stitch as
    // dedup_spans_clean.
    "dedup_spans_maximal_clean" ->
      s"""$MaxSpanChain,
         |u0 AS (
         |  SELECT doc_id, span_start AS s, span_end AS e,
         |    max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start, span_end
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM msp),
         |u1 AS (
         |  SELECT doc_id, s, e,
         |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM u0),
         |un AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM u1 GROUP BY doc_id, grp),
         |seg2 AS (
         |  SELECT doc_id, s, e,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs
         |  FROM un)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE concat(
         |    coalesce(string_agg(substr(d.text, CAST(gs + 1 AS INT),
         |      CAST(seg2.s - gs AS INT)), '' ORDER BY seg2.s), ''),
         |    substr(d.text, CAST(coalesce(max(seg2.e), 0) + 1 AS INT))) END
         |    AS clean_text,
         |  CAST(count(seg2.s) AS BIGINT) AS n_spans,
         |  CAST(coalesce(sum(seg2.e - seg2.s), 0) AS BIGINT) AS n_chars_removed
         |FROM documents d LEFT JOIN seg2 ON d.doc_id = seg2.doc_id
         |GROUP BY d.doc_id, d.text
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $QualityCtes,
         |t AS (
         |  SELECT doc_id, source, lang,
         |    string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+') AS toks
         |  FROM documents),
         |dsh AS (
         |  SELECT doc_id, source, lang,
         |    CASE WHEN len(toks) >= 2
         |      THEN list_distinct(list_transform(range(len(toks) - 1),
         |        i -> toks[i+1] || ' ' || toks[i+2]))
         |      ELSE [] END AS sh
         |  FROM t),
         |p AS (
         |  SELECT a.doc_id AS id1, b2.doc_id AS id2,
         |    len(list_filter(a.sh, x -> list_contains(b2.sh, x))) AS n_common,
         |    len(a.sh) AS la, len(b2.sh) AS lb
         |  FROM dsh a JOIN dsh b2
         |    ON a.source = b2.source AND a.lang = b2.lang AND a.doc_id < b2.doc_id),
         |pairs AS (
         |  SELECT id1, id2 FROM p
         |  WHERE CAST(n_common AS DOUBLE) / nullif(CAST(la + lb - n_common AS DOUBLE), 0.0) >= 0.5),
         |$KeepBestTailSql""".stripMargin,

    "corpus_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang),
        |m AS (SELECT min(n_stratum) AS n_min FROM c),
        |thr AS (
        |  SELECT lang, n_stratum,
        |    CAST(floor(1000.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_stratum AS DOUBLE))) AS BIGINT) AS keep_thr
        |  FROM c, m)
        |SELECT doc_id, d.lang, n_stratum, keep_thr
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE ((doc_id % 99991) * 2654435761) % 1000 < keep_thr
        |ORDER BY doc_id""".stripMargin,

    "shard_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(coalesce(text, ''), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 2000.0) AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(coalesce(text, ''), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t),
        |o AS (
        |  SELECT doc_id, n_tokens, cum_tokens,
        |    cum_tokens - n_tokens AS doc_off
        |  FROM c)
        |SELECT doc_id, seq_id,
        |  CAST(greatest(0, seq_id * 512 - doc_off) AS BIGINT) AS tok_start,
        |  CAST(least(n_tokens, (seq_id + 1) * 512 - doc_off) AS BIGINT) AS tok_end,
        |  CAST(least(n_tokens, (seq_id + 1) * 512 - doc_off)
        |    - greatest(0, seq_id * 512 - doc_off) AS BIGINT) AS n_toks
        |FROM o, unnest(generate_series(
        |    CAST(floor(doc_off / 512.0) AS BIGINT),
        |    CAST(floor((cum_tokens - 1) / 512.0) AS BIGINT))) AS s(seq_id)
        |ORDER BY doc_id, seq_id""".stripMargin,

    "lang_id" -> LangIdSql,

    "text_quality" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars,
         |    len(string_split_regex(text, '\\s+')) AS n_words,
         |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
         |    length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct,
         |    length(regexp_replace(text, '[^\\p{Lu}]', '', 'g')) AS n_upper,
         |    len(list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
         |      w -> list_contains([$EnStops], w))) AS n_stops
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_chars, n_words,
         |    CAST(n_nonspace AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0.0) AS avg_word_len,
         |    CAST(n_punct AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0.0) AS punct_ratio,
         |    CAST(n_upper AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0.0) AS upper_ratio,
         |    CAST(n_stops AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0.0) AS stop_ratio
         |  FROM b)
         |SELECT doc_id, n_chars, n_words,
         |  round(avg_word_len, 6) AS avg_word_len,
         |  round(punct_ratio, 6) AS punct_ratio,
         |  round(upper_ratio, 6) AS upper_ratio,
         |  round(stop_ratio, 6) AS stop_ratio,
         |  round(least(1.0, CAST(n_words AS DOUBLE) / 50) * 0.4
         |    + (1.0 - punct_ratio) * 0.3
         |    + least(1.0, stop_ratio * 5) * 0.3, 6) AS quality_score
         |FROM r ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS uniq_token_ratio,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2])
        |      ELSE [] END AS gs
        |  FROM t),
        |g AS (SELECT doc_id, unnest(gs) AS g FROM tok),
        |pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        |r AS (SELECT doc_id, sum(c) AS nb, max(c) AS tb FROM pg GROUP BY doc_id)
        |SELECT tok.doc_id, n_tokens, uniq_token_ratio,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(tb, 0) AS BIGINT) AS top_bigram_n,
        |  round(CAST(tb AS DOUBLE) / nullif(CAST(nb AS DOUBLE), 0.0), 6) AS rep_ratio
        |FROM tok LEFT JOIN r ON tok.doc_id = r.doc_id
        |ORDER BY tok.doc_id""".stripMargin,

    "stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang),
        |m AS (SELECT min(n_stratum) AS target FROM c),
        |thr AS (
        |  SELECT lang, n_stratum,
        |    CAST(floor(1000.0 * CAST(target AS DOUBLE) / CAST(n_stratum AS DOUBLE)) AS BIGINT) AS keep_thr
        |  FROM c, m)
        |SELECT doc_id, d.lang, n_stratum, keep_thr
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE ((doc_id % 99991) * 2654435761) % 1000 < keep_thr
        |ORDER BY doc_id""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS regex_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "vocab_topk" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT lang, token, count(*) AS n_occurrences
        |  FROM t WHERE token <> '' GROUP BY lang, token),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_occurrences DESC, token) AS rk
        |  FROM c)
        |SELECT lang, rk, token, CAST(n_occurrences AS BIGINT) AS n_occurrences
        |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    "bpe_pairs" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+')) AS w
        |  FROM documents),
        |freqs AS (
        |  SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w),
        |syms AS (
        |  SELECT list_append(regexp_split_to_array(w, ''), '</w>') AS l, freq
        |  FROM freqs),
        |pairs AS (
        |  SELECT l[i] AS lhs, l[i+1] AS rhs, sum(freq) AS pair_count
        |  FROM syms, unnest(generate_series(1, len(l)-1)) AS t(i)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY pair_count DESC, lhs, rhs) AS rk
        |  FROM pairs)
        |SELECT rk, lhs, rhs, CAST(pair_count AS BIGINT) AS pair_count
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,

    "bpe_tokenize" -> BpeTokenizeSql,

    "bpe_vocab" -> BpeVocabSql,

    "bpe_fertility" -> BpeFertilitySql,

    "sequence_pack_bpe" -> BpeSequencePackSql,

    "dsir_weights" ->
      s"""WITH $dsirWeightsCte
         |SELECT doc_id, n_grams, log_weight FROM w ORDER BY doc_id""".stripMargin,

    "dsir_resample" ->
      s"""WITH $dsirWeightsCte,
         |g AS (
         |  SELECT *,
         |    round(log_weight - ln(-ln(
         |      (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |         AS BIGINT) + 1.0) / 4294967298.0)), 6) AS pg
         |  FROM w),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY pg DESC, doc_id) AS rk
         |  FROM g)
         |SELECT rk, doc_id, n_grams, log_weight
         |FROM r WHERE rk <= 50 ORDER BY rk""".stripMargin,

    "bm25_topk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |d AS (SELECT doc_id, tk, len(tk) AS dl FROM t),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
        |tf AS (
        |  SELECT doc_id, dl, g AS term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tk) AS g FROM d)
        |  WHERE g IN ('table', 'scan', 'join', 'window')
        |  GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, count(*) AS n_terms_matched,
        |    round(sum(
        |      ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
        |        * (tf.tf * (1.2 + 1.0))
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))), 6)
        |      AS score
        |  FROM tf JOIN dfq q USING (term) CROSS JOIN stats s
        |  GROUP BY tf.doc_id),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        |  FROM sc)
        |SELECT rk, doc_id, CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
        |  score
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,

    "hybrid_topk" ->
      s"""$VecCte,
         |nz AS (SELECT * FROM nn WHERE nrm > 0),
         |hq AS (SELECT v AS qv, nrm AS qn FROM nz WHERE vec_id = 7),
         |dj AS (
         |  SELECT c.vec_id AS doc_id,
         |    round(list_reduce(list_transform(range(len(qv)), i -> qv[i+1] * c.v[i+1]),
         |      (s, x) -> s + x) / (qn * c.nrm), 6) AS cos_sim
         |  FROM nz c CROSS JOIN hq WHERE c.vec_id <> 7),
         |dr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS dense_rk
         |       FROM dj),
         |dtop AS (SELECT doc_id, dense_rk FROM dr WHERE dense_rk <= 20),
         |t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'),
         |      x -> x <> '') AS tk
         |  FROM documents WHERE doc_id <> 7),
         |d AS (SELECT doc_id, tk, len(tk) AS dl FROM t),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
         |tf AS (
         |  SELECT doc_id, dl, g AS term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(tk) AS g FROM d)
         |  WHERE g IN ('table', 'scan', 'join', 'window')
         |  GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id,
         |    round(sum(
         |      ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
         |        * (tf.tf * (1.2 + 1.0))
         |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))), 6)
         |      AS score
         |  FROM tf JOIN dfq q USING (term) CROSS JOIN stats s
         |  GROUP BY tf.doc_id),
         |lr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rk
         |       FROM sc),
         |ltop AS (SELECT doc_id, lex_rk FROM lr WHERE lex_rk <= 20),
         |f AS (
         |  SELECT doc_id, lex_rk, dense_rk,
         |    round(coalesce(1.0::DOUBLE / (60 + lex_rk), 0) +
         |          coalesce(1.0::DOUBLE / (60 + dense_rk), 0), 6) AS rrf_score
         |  FROM ltop FULL OUTER JOIN dtop USING (doc_id)),
         |rr AS (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
         |       FROM f)
         |SELECT rk, doc_id, lex_rk, dense_rk, rrf_score
         |FROM rr WHERE rk <= 10 ORDER BY rk""".stripMargin,

    "media_features" ->
      """WITH d AS (
        |  SELECT doc_id, length(text) AS n_bytes,
        |    round(list_sum(list_transform(regexp_split_to_array(text, ''),
        |            c -> ascii(c))) * 1.0 / length(text), 6) AS mean_byte,
        |    regexp_split_to_array(text, '') AS cs
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, ascii(c) * 16 // 256 AS bin, count(*) AS n
        |  FROM (SELECT doc_id, unnest(cs) AS c FROM d) GROUP BY 1, 2),
        |bins AS (SELECT unnest(generate_series(0, 15)) AS bin)
        |SELECT d.doc_id, d.n_bytes, d.mean_byte, b.bin AS bin,
        |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS bin_count
        |FROM d CROSS JOIN bins b
        |LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.bin = b.bin
        |ORDER BY d.doc_id, b.bin""".stripMargin,

    // The StubCodec dHash replayed at byte level: the 9×8
    // nearest-neighbor grid (floor index arithmetic, short-payload
    // clamp to the last byte), 64 neighbor-gradient bits, four 16-bit
    // chunk keys, then ALL pairs within hamming 3 — which equals the
    // engine's banded candidate set exactly (pigeonhole at ≤ 3). The
    // oracle may all-pairs at this scale; the engine side must not.
    "media_near_dup" ->
      s"""WITH $MediaPairChain
         |SELECT id1, id2, hamming FROM p WHERE hamming <= 3
         |ORDER BY id1, id2""".stripMargin,

    // The same generated chain at 16 grid rows / 8 chunks, all pairs
    // within hamming 7 — the engine's 8-chunk banding is exact there.
    "media_near_dup_wide" ->
      s"""WITH $MediaWidePairChain
         |SELECT id1, id2, hamming FROM p WHERE hamming <= 7
         |ORDER BY id1, id2""".stripMargin,

    // Keep-best replay: the pair chain + CC labels + payload sizes
    // (stub payload = utf8 of ASCII text, so n_bytes = length(text)),
    // keep = first of (n_bytes DESC, id) per cluster — the oracle may
    // window; the engine side must not.
    "media_keep_best" ->
      s"""WITH RECURSIVE $MediaPairChain,
         |mp AS (SELECT id1, id2 FROM p WHERE hamming <= 3),
         |edges AS (SELECT id1 AS a, id2 AS b FROM mp
         |          UNION ALL SELECT id2, id1 FROM mp),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
         |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |sz AS (
         |  SELECT id, cluster_id,
         |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |  FROM labels),
         |sc AS (
         |  SELECT sz.id AS doc_id, sz.cluster_id, sz.cluster_size,
         |    CAST(length(aug.text) AS BIGINT) AS n_bytes
         |  FROM sz JOIN aug ON aug.doc_id = sz.id),
         |bst AS (
         |  SELECT cluster_id, doc_id AS keep_id FROM (
         |    SELECT cluster_id, doc_id,
         |      row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_bytes DESC, doc_id) AS rn
         |    FROM sc) WHERE rn = 1)
         |SELECT sc.doc_id, sc.cluster_id, sc.cluster_size, sc.n_bytes,
         |  bst.keep_id,
         |  CAST(sc.doc_id = bst.keep_id AS INT) AS is_kept
         |FROM sc JOIN bst USING (cluster_id)
         |ORDER BY sc.cluster_id, sc.doc_id""".stripMargin,

    // Incremental replay: the same chunk keys, bipartite NEW (planted
    // ids ≥ 1e6) × SEEN (natural corpus) all-pairs at hamming ≤ 3 —
    // which equals the engine's bucket join exactly (pigeonhole holds
    // across sets); per new doc the best distance and match count.
    "media_dedup_incremental" -> MediaIncrementalSql,

    // ONE SQL constant, TWO genuinely different physical plans: the
    // distributed bipartite join above and the stateless
    // literal-artifact projection gate (the range_join rule).
    "media_gate" -> MediaIncrementalSql,

    // The pair chain + recursive-CTE components (the CcLabelChain
    // shape): cluster = min reachable id, canonical = id == cluster.
    "media_dedup_clusters" ->
      s"""WITH RECURSIVE $MediaPairChain,
         |mp AS (SELECT id1, id2 FROM p WHERE hamming <= 3),
         |edges AS (SELECT id1 AS a, id2 AS b FROM mp
         |          UNION ALL SELECT id2, id1 FROM mp),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, dst) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
         |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  CAST(id = cluster_id AS INT) AS is_canonical
         |FROM labels ORDER BY cluster_id, id""".stripMargin,

    "corpus_stats" ->
      """SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  round(avg(len(string_split_regex(text, '\s+'))), 6) AS avg_words,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "doc_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens,
        |  list_reduce(list_transform(toks, w -> CAST(length(w) * 131 + ascii(w) AS BIGINT)),
        |    (h, v) -> (h * 31 + v) % 1000000007) AS fingerprint
        |FROM t ORDER BY doc_id""".stripMargin,

    // Bigram-LM replay: same tokenization, same add-one-smoothed
    // P(w2|w1) with integer counts (exact in both engines), same
    // Σ m·ln P / Σ m fold. ln/exp may differ by 1 ulp across libm
    // implementations and the group-sum order differs — both vanish
    // under the shared round(…, 6) policy.
    "lm_score" ->
      s"""$LmCte
         |SELECT doc_id, n_bigrams, round(lp, 6) AS avg_logprob,
         |  round(exp(-lp), 6) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin,

    // Reference-fitted twin: the same fold over LmRefCte's left-joined
    // model; the smoothing floor keeps every lp finite, so the round
    // policy carries unchanged.
    "lm_score_ref" ->
      s"""$LmRefCte
         |SELECT doc_id, n_bigrams, round(lp, 6) AS avg_logprob,
         |  round(exp(-lp), 6) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin,

    // Terciles over the ROUNDED ppl, themselves rounded before the
    // comparison — bucket edges exactly as portable as the metric.
    "lm_buckets" ->
      s"""$LmCte,
         |pp AS (
         |  SELECT d.lang, sc.doc_id, round(exp(-sc.lp), 6) AS ppl
         |  FROM sc JOIN documents d USING (doc_id)),
         |th AS (
         |  SELECT lang, round(quantile_cont(ppl, 1.0/3), 6) AS t33,
         |    round(quantile_cont(ppl, 2.0/3), 6) AS t66
         |  FROM pp GROUP BY lang)
         |SELECT pp.doc_id, pp.lang, pp.ppl, th.t33, th.t66,
         |  CASE WHEN pp.ppl <= th.t33 THEN 'head'
         |       WHEN pp.ppl <= th.t66 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM pp JOIN th USING (lang)
         |ORDER BY doc_id""".stripMargin,

    "corpus_pipeline" -> corpusPipelineSql(),

    // FULL re-curation of the refreshed corpus (gate + canonical-key
    // keep-lowest) — deliberately NOT the incremental composition the
    // engine runs: the row is the add-only == full theorem (see the
    // query row's comment).
    "curate_incremental" ->
      s"""WITH n0 AS (
         |  SELECT CASE WHEN source IN ('src0','src1','src2','src3','src4')
         |           THEN doc_id ELSE doc_id + 1000000 END AS doc_id,
         |    text, lang, source
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, text, lang, source,
         |    $QualityFieldsSql
         |  FROM n0
         |  WHERE lang IN ('en', 'de', 'es', 'fr')),
         |q AS (
         |  SELECT doc_id, text, lang, source, n_chars,
         |    $QualityScoreSql AS quality_score
         |  FROM b),
         |g AS (SELECT * FROM q WHERE quality_score >= 0.55),
         |canon AS (
         |  SELECT *, array_to_string(list_sort(list_distinct(
         |    list_filter(string_split_regex(regexp_replace(lower(text), '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> x <> ''))), ' ') AS ck
         |  FROM g),
         |ex AS (
         |  SELECT * FROM (SELECT *,
         |      row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn
         |    FROM canon)
         |  WHERE rn = 1)
         |SELECT doc_id, lang, source, n_chars, quality_score
         |FROM ex ORDER BY doc_id""".stripMargin,

    // The base chain + the pii_report plant (aug, null-text yields
    // null — the decontaminate-plant convention), the blocklist
    // predicate in the gate, and the released-text hash: sha256 of the
    // sequential PiiPatterns replace fold. One shared chain builder —
    // the full row's oracle cannot drift from the base row's.
    "corpus_pipeline_full" -> corpusPipelineSql(
      prelude =
        """aug AS (
          |  SELECT doc_id, lang, source,
          |    CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL THEN concat(text,
          |      ' contact user', CAST(doc_id AS VARCHAR),
          |      '@mail.example.com from 10.', CAST(doc_id % 200 AS VARCHAR),
          |      '.0.7 acct 9', lpad(CAST(doc_id % 1000 AS VARCHAR), 9, '0'),
          |      ' tel +1 (555) 01', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'))
          |    ELSE text END AS text
          |  FROM documents),
          |""".stripMargin,
      corpusRel = "aug",
      qExtra =
        """,
          |    list_filter(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> x <> '') AS bt""".stripMargin,
      gateExtra =
        """
          |  AND (len(bt) = 0
          |    OR CAST(len(list_filter(bt, x -> list_contains(['slow', 'merge'], x))) AS DOUBLE)
          |      <= len(bt) * 0.05::DOUBLE)""".stripMargin,
      selectExtra =
        """,
          |  sha256(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          |    '\b[0-9]{9,}\b', '<ID>', 'g'),
          |    '\+?[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g')) AS content_hash""".stripMargin),

    // The plants mirror Spark's NULL-propagating concat via
    // `CASE WHEN text IS NOT NULL` (DuckDB concat SKIPS null inputs —
    // the decontaminate-plant convention; r9 review finding).
    "pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE concat(text,
         |    ' contact user', CAST(doc_id AS VARCHAR),
         |    '@mail.example.com from 10.', CAST(doc_id % 200 AS VARCHAR),
         |    '.0.7 acct 9', lpad(CAST(doc_id % 1000 AS VARCHAR), 9, '0'),
         |    ' tel +1 (555) 01', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')) END AS t0
         |  FROM documents),
         |$PiiStageCtes
         |SELECT doc_id, n_email, n_ip, n_id, n_phone,
         |  n_email + n_ip + n_id + n_phone AS n_pii, clean_text
         |FROM s4 ORDER BY doc_id""".stripMargin,

    // The report plants PII on every THIRD doc so both outcomes are
    // exercised per source (the pii_scrub plant marks every doc —
    // a rollup over it would be the degenerate share-1.0 row).
    "pii_report" ->
      s"""WITH aug AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL THEN concat(text,
         |    ' contact user', CAST(doc_id AS VARCHAR),
         |    '@mail.example.com from 10.', CAST(doc_id % 200 AS VARCHAR),
         |    '.0.7 acct 9', lpad(CAST(doc_id % 1000 AS VARCHAR), 9, '0'),
         |    ' tel +1 (555) 01', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'))
         |    ELSE text END AS t0
         |  FROM documents),
         |$PiiStageCtes,
         |per AS (
         |  SELECT doc_id, n_email, n_ip, n_id, n_phone,
         |    n_email + n_ip + n_id + n_phone AS n_pii
         |  FROM s4)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
         |  CAST(sum(n_email) AS BIGINT) AS n_email,
         |  CAST(sum(n_ip) AS BIGINT) AS n_ip,
         |  CAST(sum(n_id) AS BIGINT) AS n_id,
         |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
         |  CAST(sum(n_pii) AS BIGINT) AS n_pii_total,
         |  round(CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pii_doc_share
         |FROM per JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "blocklist_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> list_contains(['slow', 'merge'], x))) AS BIGINT) AS n_blocked
        |  FROM t)
        |SELECT doc_id, n_tokens, n_blocked,
        |  round(CAST(n_blocked AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0.0), 6) AS blocked_ratio,
        |  CAST(n_tokens = 0 OR CAST(n_blocked AS DOUBLE) <= CAST(n_tokens AS DOUBLE) * 0.05 AS INT) AS keep
        |FROM b ORDER BY doc_id""".stripMargin,

    // Shared verbatim with dedup_incremental_bloom — the bloom twin is
    // row-identical by the no-false-negative contract (the range_join
    // shared-constant rule: one SQL, two genuinely different plans).
    "dedup_incremental_bloom" -> IncrementalOracle,

    "dedup_incremental" -> IncrementalOracle,

    "corpus_diff" ->
      s"""$DiffCte
         |SELECT doc_id, status, n_chars_old, n_chars_new
         |FROM j ORDER BY doc_id""".stripMargin,

    "corpus_diff_stats" ->
      s"""$DiffCte
         |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars_old) AS BIGINT) AS chars_old,
         |  CAST(sum(n_chars_new) AS BIGINT) AS chars_new
         |FROM j GROUP BY status ORDER BY status""".stripMargin,

    "length_profile" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(regexp_replace(lower(text), '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> x <> '')) AS w,
        |    length(text) AS c
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(min(w) AS INT) AS min_words,
        |  round(quantile_cont(w, 0.25), 6) AS p25_words,
        |  round(quantile_cont(w, 0.5), 6) AS p50_words,
        |  round(quantile_cont(w, 0.75), 6) AS p75_words,
        |  round(quantile_cont(w, 0.9), 6) AS p90_words,
        |  CAST(max(w) AS INT) AS max_words,
        |  round(avg(w), 6) AS avg_words,
        |  round(quantile_cont(c, 0.5), 6) AS p50_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
