package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators._
import graft.sources.Tables

/** Scaling sweep (dev diagnostics): times the dominant pipelines on
  * 1×/2×/4× the sf0.1 event feed, each copy user-shifted so key
  * cardinality grows with the data (more symbols, same per-key history —
  * the real 100 TB shape), then the text, embedding and media operators
  * on 1×/2×/4× the corpus. Linear wall-time across the sweep is the
  * empirical check behind SURVEY §5's partition-parallel claims.
  *
  *   sbt "runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.builder("graft-scale")
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // By-name: operators with driver-side orchestration (the CC loop)
    // do real work while the DataFrame is being BUILT — that belongs
    // inside the timer, which is a Bench pass.
    val meter = new graft.Bench.Meter(spark)
    def noopTime(df: => DataFrame): Double = meter.pass(() => df)._1
    val base = Tables.events(spark, d)
    base.count() // warm scan
    // First k=1 pass is codegen/JIT warmup — discard its line.
    Seq(1, 1, 2, 4).foreach { k =>
      val events = (0 until k).map(i =>
        base.withColumn("user_id", col("user_id") + lit(i * 1000000L))
          .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
        .reduce(_ unionByName _)
      val clean = Cleaning.cleanEvents(events)
      val bars = Bars.daily(clean)
      val tClean = noopTime(clean)
      val tBars = noopTime(bars)
      val tInd = noopTime(Indicators.withRsi(Indicators.withSma(bars, Seq(5, 10)), 14))
      val tBreadth = noopTime(Breadth.breadthDaily(bars))
      val tMacd = noopTime(Indicators.withMacd(bars, 5, 10, 4))
      val tRisk = noopTime(Analytics.riskMetrics(bars))
      val tBeta = noopTime(Analytics.betaVsMarket(bars))
      val tDd = noopTime(Analytics.maxDrawdown(bars))
      println(f"[scale] k=$k rows=${k * 1000000L} clean=$tClean%.2f bars=$tBars%.2f " +
        f"indicators=$tInd%.2f breadth=$tBreadth%.2f macd=$tMacd%.2f " +
        f"risk=$tRisk%.2f beta=$tBeta%.2f drawdown=$tDd%.2f")
    }

    // ---- Skew stress -----------------------------------------------------
    // One symbol owns HALF the ticks — the worst realistic shape for
    // keyed work. Measures which plans degrade with a hot key (per-key
    // ordered windows serialize the hot key into one task by design)
    // and which hold (hash aggregates combine map-side; AQE splits
    // skewed shuffle partitions).
    {
      val uniform = base
      val skewed = base.withColumn("user_id",
        when(pmod(col("event_id"), lit(2)) === 0, lit(424242L))
          .otherwise(col("user_id")))
      Seq("uniform" -> uniform, "skewed" -> skewed).foreach { case (tag, ev) =>
        val clean = Cleaning.cleanEvents(ev)
        val tClean = noopTime(clean)
        val bars = Bars.daily(clean)
        val tBars = noopTime(bars)
        val tBreadth = noopTime(Breadth.breadthDaily(bars))
        val tDd = noopTime(Analytics.maxDrawdown(bars))
        println(f"[scale-skew] $tag clean=$tClean%.2f bars=$tBars%.2f " +
          f"breadth=$tBreadth%.2f drawdown=$tDd%.2f")
      }
    }

    // ---- LLM-op sweep ----------------------------------------------------
    // Copies must grow the corpus WITHOUT manufacturing cross-copy
    // near-dups (identical text k× would make every doc a dup of its
    // clones → pair count quadratic in k by construction, and the sweep
    // would measure the fixture, not the plan). Per-copy Caesar cipher:
    // within-copy dup structure is preserved exactly (same rotation),
    // cross-copy shingle/hash overlap drops to ~0.
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String, i: Int) = s.drop(i % 26) + s.take(i % 26)
    val docsBase = Tables.documents(spark, d)
    val nDocs = docsBase.count()
    // Embedding copies: flip a per-(copy, dim) pseudo-random sign.
    // cos(s⊙x, s⊙y) = cos(x, y) within a copy; across copies the sign
    // patterns decorrelate the vectors, so near-dup structure stays
    // per-copy, like the cipher does for text.
    val embBase = Tables.embeddings(spark, d)
    embBase.count()
    // Prefit BPE merge table for the apply-tier sweep rows (trained
    // once, on the base corpus — the model-store artifact a deployment
    // reads; training cost is measured separately below).
    val (prefitMerges, _) = Bpe.trainBatched(docsBase, merges = 10)
    Seq(1, 1, 2, 4).foreach { k =>
      val docs = (0 until k).map(i =>
        docsBase.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
          .withColumn("text", translate(col("text"),
            lower + upper, rot(lower, i) + rot(upper, i))))
        .reduce(_ unionByName _)
      val emb = (0 until k).map(i =>
        embBase.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
          .withColumn("embedding", zip_with(
            col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => x * when(pmod(hash(lit(i), j), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f)))))
        .reduce(_ unionByName _)
      val tMinhash = noopTime(Dedup.minhashPairsPortable(docs))
      val tSimhash = noopTime(Dedup.simhashPairsPortable(docs))
      val tNgram = noopTime(Dedup.ngramJaccardInvertedIndex(docs))
      val tAnnBrute = noopTime(Similarity.cosineTopK(emb))
      val tAnnLsh = noopTime(Similarity.lshTopK(emb))
      val tAnnIvf = noopTime(Similarity.ivfTopK(emb, Similarity.kmeansFit(emb, 16)))
      val tNearDup = noopTime(Similarity.nearDupPairs(emb))
      val tClusters = noopTime(Components.dedupClusters(
        Similarity.nearDupPairs(emb, minCosine = 0.3), "id1", "id2",
        pointerJump = true))
      val tClustersLsh = noopTime(Components.dedupClusters(
        Similarity.nearDupPairsLsh(emb, minCosine = 0.3), "id1", "id2",
        pointerJump = true))
      println(f"[scale-llm] k=$k docs=${k * nDocs} " +
        f"minhash=$tMinhash%.2f simhash=$tSimhash%.2f ngram=$tNgram%.2f " +
        f"ann_brute=$tAnnBrute%.2f ann_lsh=$tAnnLsh%.2f ann_ivf=$tAnnIvf%.2f " +
        f"near_dup=$tNearDup%.2f clusters=$tClusters%.2f clusters_lsh=$tClustersLsh%.2f")
      // Curation/export ops (round 5): the benchMod carve keeps doc_id ≡ 0
      // (mod 20) docs benchmark-side in every copy (10000000 % 20 = 0), so
      // the decontamination broadcast grows with k too — linearity here is
      // the conservative read.
      val tDecon = noopTime(Dedup.decontaminate(docs))
      val tShard = noopTime(Shard.shardPack(docs))
      val tRep = noopTime(TextAnalysis.docRepetition(docs))
      val tStrat = noopTime(TextAnalysis.stratifiedSample(docs))
      val tChunk = noopTime(Dedup.chunkDedup(docs))
      val tKeepBest = noopTime(Dedup.keepBest(docs,
        Dedup.ngramJaccardInvertedIndex(docs, minJaccard = 0.5)))
      val tMix = noopTime(TextAnalysis.corpusMix(docs))
      val tVocab = noopTime(TextAnalysis.vocabTopK(docs))
      // Span dedup (round 6): the cipher preserves within-copy char-gram
      // equality (rotation is per-copy), so span structure repeats
      // per-copy while cross-copy grams diverge — same contract as the
      // shingle ops. Production (xxhash64-key) mode.
      val tSpans = noopTime(Dedup.exactSpans(docs))
      val tSpansClean = noopTime(Dedup.removeSpans(docs))
      println(f"[scale-curate] k=$k decontaminate=$tDecon%.2f shard_pack=$tShard%.2f " +
        f"doc_repetition=$tRep%.2f stratified_sample=$tStrat%.2f " +
        f"chunk_dedup=$tChunk%.2f keep_best=$tKeepBest%.2f corpus_mix=$tMix%.2f " +
        f"vocab_topk=$tVocab%.2f spans=$tSpans%.2f spans_clean=$tSpansClean%.2f")
      // Corpus signals (round 8): the cipher keeps per-copy token/gram
      // structure (dup_ngram cross-copy overlap ~0, winnow picks and
      // tfidf vocab diverge per copy) — the sweep measures the plans,
      // not fixture artifacts.
      val tDeconFuzzy = noopTime(Dedup.decontaminateFuzzy(docs))
      val tWinnow = noopTime(TextSignals.winnowFingerprints(docs))
      val tDupNgram = noopTime(TextSignals.dupNgramFrac(docs))
      val tQc = noopTime(TextSignals.qualityClassifier(docs))
      val tOov = noopTime(TextSignals.oovRate(docs))
      val tTfidf = noopTime(TextSignals.tfidfKeywords(docs))
      val tChunkSplit = noopTime(TextSignals.chunkSplit(docs))
      val tNorm = noopTime(TextSignals.textNormalize(docs))
      val tGopher = noopTime(TextSignals.gopherFilter(docs))
      val tSent = noopTime(TextSignals.sentenceStats(docs))
      val tSrcQ = noopTime(TextSignals.sourceQuality(docs))
      println(f"[scale-signal] k=$k winnow=$tWinnow%.2f dup_ngram=$tDupNgram%.2f " +
        f"quality_cls=$tQc%.2f oov=$tOov%.2f tfidf=$tTfidf%.2f " +
        f"chunk_split=$tChunkSplit%.2f normalize=$tNorm%.2f gopher=$tGopher%.2f " +
        f"decon_fuzzy=$tDeconFuzzy%.2f sent=$tSent%.2f src_quality=$tSrcQ%.2f")
      // Round 7: maximal spans (phase 2 rides ISLAND bytes — duplicated
      // content repeats per copy under the cipher, so islands scale
      // linearly with k) and keep-best over the banded-LSH emitter
      // (pair source bounded by band-bucket occupancy).
      val tSpansMax = noopTime(Dedup.maximalSpans(docs))
      val tKeepBestLsh = noopTime(Dedup.keepBest(docs,
        Dedup.minhashPairsPortable(docs, minJaccard = 0.5)))
      println(f"[scale-r7] k=$k spans_maximal=$tSpansMax%.2f " +
        f"keep_best_lsh=$tKeepBestLsh%.2f")
      // Round-7 curation reports: sentence-grain count-by-hash,
      // asymmetric containment (posting self-join), per-bench rollup
      // (broadcast-asymmetric), span profile (maximal pipeline + agg).
      val tSentDedup = noopTime(Dedup.sentenceDedup(docs))
      val tContain = noopTime(Dedup.containmentPairs(docs, minContainment = 0.2))
      val tContamRep = noopTime(Dedup.contaminationReport(docs))
      val tSpanStats = noopTime(Dedup.spanStats(Dedup.maximalSpans(docs)))
      println(f"[scale-r7b] k=$k sentence_dedup=$tSentDedup%.2f " +
        f"containment=$tContain%.2f contamination_report=$tContamRep%.2f " +
        f"span_stats=$tSpanStats%.2f")
      // Round-8 additions: maximal-grain removal (mergeSpans union +
      // cut fold over the maximal pipeline) and the streaming fuzzy
      // decontamination gate (stateless per-row projection against the
      // two bench literals — cost should track corpus rows linearly).
      val tMaxClean = noopTime(Dedup.removeMaximalSpans(docs))
      val (fk, fs) = Dedup.benchFuzzyArtifact(docs)
      // The gate is a pure projection — parallelism comes from the
      // input's partitioning, and the unioned sweep frame reads as a
      // couple of partitions (the exactSpans lesson). Spread it as a
      // deployment would.
      val tFuzzyGate = noopTime(Dedup.withContaminationFuzzy(
        docs.repartition(32, col("doc_id")), fk, fs))
      println(f"[scale-r8] k=$k spans_maximal_clean=$tMaxClean%.2f " +
        f"fuzzy_gate=$tFuzzyGate%.2f (artifact keys=${fk.length} benches=${fs.length})")
      // Round-8 second half: span-grain decontamination (one corpus
      // gram pass, disjoint bench/corpus explode branches), snapshot
      // diff (24-byte hash rows through the full-outer join — should
      // track the SCAN, not the text), distributed Lloyd (rounds ×
      // [projection + k-key agg]), perplexity terciles (lm pipeline +
      // checkpointed narrow frame + broadcast terciles), calibration
      // (classifier fold + gopher projection + doc_id join).
      val tDeconSpans = noopTime(Dedup.decontaminateSpans(docs))
      val tDiff = noopTime(graft.operators.Snapshot.corpusDiff(
        docs.filter(pmod(col("doc_id"), lit(11L)) =!= 3), docs))
      val tKmeans = noopTime(Similarity.kmeansClusters(emb))
      val tLmBuckets = noopTime(TextAnalysis.lmBuckets(docs))
      val tCalib = noopTime(TextSignals.qualityCalibration(docs))
      println(f"[scale-r8b] k=$k decon_spans=$tDeconSpans%.2f " +
        f"corpus_diff=$tDiff%.2f kmeans=$tKmeans%.2f " +
        f"lm_buckets=$tLmBuckets%.2f calibration=$tCalib%.2f")
      // Late r8: the sentence cutter (count-by-hash + count join-back +
      // per-doc rebuild aggregate — the cipher preserves within-copy
      // sentence duplication, cross-copy sentences diverge) and the BPE
      // apply tier with a PREFIT merge table (trained once on the base
      // corpus outside the sweep — the deployment shape; the sweep
      // measures segmentation: distinct-word fold + broadcast join-back,
      // whose vocab side grows sublinearly in k under the cipher).
      val tSentClean = noopTime(Dedup.sentenceDedupClean(docs))
      val tBpeSeg = noopTime(Bpe.tokenizeByVocab(docs, prefitMerges))
      val tFert = noopTime(Bpe.fertility(docs, prefitMerges))
      println(f"[scale-r8c] k=$k sentence_clean=$tSentClean%.2f " +
        f"bpe_segment=$tBpeSeg%.2f bpe_fertility=$tFert%.2f")
    }
    // ---- Media/encoding sweep (r11) ------------------------------------
    // A copy tag on each copy's text keeps copies from being near dups
    // of each other, so pair density stays constant instead of growing
    // with k². Linear wall-time backs the §5 claims: signatures are
    // payload-local, banding shuffles 20-byte rows, repair is a projection.
    Seq(1, 1, 2, 4).foreach { k =>
      val docs = (0 until k).map(i =>
        docsBase.select(col("doc_id"), col("text"))
          .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
          .withColumn("text", concat(lit("copy" + i + " "), col("text"))))
        .reduce(_ unionByName _)
      val media = graft.ops.Multimodal.asMedia(docs)
      val tSig = noopTime(graft.ops.Multimodal.perceptualSig(media).toDF())
      val tPairs = noopTime(graft.ops.Multimodal.mediaNearDup(media))
      val tClusters = noopTime(Components.dedupClusters(
        graft.ops.Multimodal.mediaNearDup(media).select(col("id1"), col("id2")),
        "id1", "id2"))
      val tFix = noopTime(Encoding.withFixedEncoding(docs))
      println(f"[scale-media] k=$k docs=${k * nDocs} sig=$tSig%.2f " +
        f"pairs=$tPairs%.2f clusters=$tClusters%.2f fix_encoding=$tFix%.2f")
    }
    // BPE batching: job-round collapse on the real corpus — the r6
    // verdict's "32k merges = 32k jobs" fix, measured.
    locally {
      val t0 = System.nanoTime()
      val (bm, rounds) = Bpe.trainBatched(docsBase, merges = 24)
      val tB = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (sm, _) = Bpe.trainBatched(docsBase, merges = 24, batchMax = 1)
      val tS = (System.nanoTime() - t1) / 1e9
      println(f"[scale-bpe] merges=24 batched_rounds=$rounds " +
        f"batched=$tB%.2fs sequential=$tS%.2fs sequential_equal=${bm == sm}")
    }
    spark.stop()
  }
}
