package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TextAnalysis, TopK}

/** Plan-shape contracts: the scale properties SURVEY §5 claims, asserted
  * against the actual physical plans so a refactor cannot silently
  * reintroduce a corpus-wide window, a lost broadcast, or a pruned-scan
  * regression. These are the invariants that do not show up at sf0.1
  * wall-times but decide whether the plan survives 100×.
  */
class PlanContractSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("ANN rankers carry no Window operator (bounded top-k aggregate instead)") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val coarse = Similarity.kmeansFit(emb, 16)
    val codebook = Similarity.pqCodebook(emb, 8, 16)
    Seq(
      "cosine" -> Similarity.cosineTopK(emb),
      "lsh" -> Similarity.lshTopK(emb),
      "ivf" -> Similarity.ivfTopK(emb, coarse),
      "pq" -> Similarity.pqTopK(emb, codebook),
      "ivfpq" -> Similarity.ivfpqTopK(emb, coarse, codebook)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("Window"),
        s"$name ranker must rank via the bounded aggregate, found Window:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$name ranker must use the TopKStruct aggregate")
      assert(p.contains("BroadcastExchange"),
        s"$name ranker must broadcast the query side")
    }
  }

  test("grouped top-k partial aggregation truncates before the exchange") {
    // partial ObjectHashAggregate must appear BELOW the Exchange in the
    // plan tree (map-side truncation) — that ordering is the whole point.
    val df = (0 until 100).map(i => (i % 3, i)).toDF("g", "x")
    val p = plan(TopK.groupedWithRank(df, Seq(col("g")), 5, Seq(col("x"))))
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val exchange = p.indexOf("Exchange", firstAgg)
    val secondAgg = p.indexOf("ObjectHashAggregate", exchange)
    assert(firstAgg >= 0 && exchange > firstAgg && secondAgg > exchange,
      s"expected final-agg > exchange > partial-agg layering:\n$p")
  }

  test("global top-k compiles to TakeOrderedAndProject, not a global sort") {
    val df = (0 until 1000).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("id", "score")
    val p = plan(TopK.withRank(df, 5, Seq(TopK.descNum(col("score")), col("id"))))
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
  }

  test("column pruning reaches the parquet scan") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(TextAnalysis.tokenCount(docs))
    // token_count needs doc_id + text; a scan that also reads source/lang
    // would ship every byte of the corpus metadata for nothing.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"scan must read the needed columns: $readSchema")
    assert(!readSchema.contains("source"),
      s"scan must prune unused columns: $readSchema")
  }

  test("corpus mix and stratified sample: broadcast threshold, no corpus shuffle") {
    val docs = graft.sources.Tables.documents(spark, sf)
    Seq(
      "corpus_mix" -> TextAnalysis.corpusMix(docs),
      "stratified_sample" -> TextAnalysis.stratifiedSample(docs)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"$name must join the threshold table by broadcast:\n$p")
      assert(!p.contains("Window"), s"$name must not window the corpus:\n$p")
      // The corpus side must not shuffle: the only shuffle Exchanges
      // allowed are inside the tiny stratum-count aggregate.
      assert(!p.contains("SortMergeJoin"),
        s"$name corpus join must not sort-merge (shuffles the corpus):\n$p")
    }
  }

  test("chunk dedup and keep-best rank via aggregates, never a corpus window") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val chunk = plan(graft.operators.Dedup.chunkDedup(docs))
    assert(!chunk.contains("Window"),
      s"chunk_dedup first-occurrence must be agg+join, found Window:\n$chunk")
    val keep = plan(graft.operators.Dedup.keepBest(docs,
      Seq((1L, 2L)).toDF("id1", "id2")))
    assert(!keep.contains("Window"),
      s"keepBest canonical selection must be agg+join, found Window:\n$keep")
  }

  test("exact spans: no cartesian, semi-join marking, explicit-width fan-out survives AQE") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Dedup.exactSpans(docs))
    assert(!p.contains("CartesianProduct"), s"span marking must never cross-join:\n$p")
    assert(p.contains("LeftSemi"), s"duplicated-gram marking must be a semi join:\n$p")
    // The pre-explode repartition must carry an explicit width —
    // REPARTITION_BY_NUM is exempt from AQE coalescing, REPARTITION_BY_COL
    // is not (a coalesced text shuffle single-threads the gram fan-out).
    assert(p.contains("REPARTITION_BY_NUM"),
      s"fan-out repartition must pin its width:\n$p")
  }

  test("exchange cap: windowless top-k, broadcast liquidity decision, no cartesian") {
    val universe = Seq((1L, "AAA", "HOSE"), (3L, "UP1", "UPCOM"), (4L, "UP2", "UPCOM"))
      .toDF("entity_id", "symbol", "exchange")
    val activity = Seq((3L, 5.0), (4L, 7.0)).toDF("entity_id", "liquidity")
    val p = plan(graft.operators.Scope.capExchangeByLiquidity(
      universe, activity, primary = Seq("HOSE"), capped = "UPCOM", capN = 1))
    assert(!p.contains("Window"), s"cap must rank windowless:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row liquidity decision must broadcast, not cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
  }

  test("native as-of join: merge exec parity with the composed window form") {
    import graft.plans.AsOf
    val clean = graft.operators.Cleaning.cleanEvents(
      graft.sources.Tables.events(spark, sf))
    val purchases = clean.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val views = clean.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val native = AsOf.join(purchases, views, "user_id", "ts")
      .toDF("user_id", "ts", "event_id", "purchase_value",
        "r_user", "view_ts", "view_value")
    val got = native.collect().map(r => (
        r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("event_id"), r.getAs[Double]("purchase_value"),
        Option(r.getAs[java.sql.Timestamp]("view_ts")),
        Option(r.getAs[Any]("view_value")).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2.getTime, t._3))
    val composed = graft.operators.Analytics
      .asofJoin(purchases, views, "user_id", "ts", Seq("value"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        col("__match.__asof_ts").as("view_ts"), col("__match.value").as("view_value"))
      .collect().map(r => (
        r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("event_id"), r.getAs[Double]("value"),
        Option(r.getAs[java.sql.Timestamp]("view_ts")),
        Option(r.getAs[Any]("view_value")).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2.getTime, t._3))
    assert(got.nonEmpty && got.exists(_._5.isDefined) && got.exists(_._5.isEmpty),
      "fixture must exercise both matched and unmatched purchases")
    assert(got.toSeq == composed.toSeq,
      "native as-of merge must equal the composed union+window form")
    // Plan contract: the custom node plans as the merge exec — no
    // union row blow-up (children may carry their own windows from the
    // cleaning stage; the JOIN itself must not add one).
    val p = plan(AsOf.join(purchases, views, "user_id", "ts"))
    assert(p.contains("AsOfJoin"), s"expected the native exec:\n$p")
    assert(!p.contains("Union"),
      s"native path must not fall back to the union form:\n$p")
    val composedPlan = plan(graft.operators.Analytics
      .asofJoin(purchases, views, "user_id", "ts", Seq("value")))
    assert(composedPlan.split("Window").length > p.split("Window").length,
      "the native join must carry fewer Window operators than the composed form")
  }

  test("native as-of join: edge shapes — empty right, all-ahead right, shared keys") {
    import graft.plans.AsOf
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 12:00:00"), 101.0),
      (2L, ts("2024-01-01 11:00:00"), 200.0))
      .toDF("user_id", "ts", "lv")
    // Empty right: every left row survives with nulls.
    val emptyR = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "rv")
    val e = AsOf.join(l, emptyR, "user_id", "ts")
      .toDF("user_id", "ts", "lv", "ru", "rts", "rv").collect()
    assert(e.length == 3 && e.forall(_.isNullAt(4)))
    // Right strictly ahead of every left ts: no matches either.
    val ahead = Seq((1L, ts("2024-01-02 00:00:00"), 7.0))
      .toDF("user_id", "ts", "rv")
    val a = AsOf.join(l, ahead, "user_id", "ts")
      .toDF("user_id", "ts", "lv", "ru", "rts", "rv").collect()
    assert(a.length == 3 && a.forall(_.isNullAt(4)))
    // Shared key, multiple left rows: each picks ITS latest ≤ match;
    // equal timestamps match (backward-inclusive); key 2 unmatched by
    // key isolation even though ts would fit.
    val r = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),
      (1L, ts("2024-01-01 12:00:00"), 2.0),
      (3L, ts("2024-01-01 00:00:00"), 9.0))
      .toDF("user_id", "ts", "rv")
    val m = AsOf.join(l, r, "user_id", "ts")
      .toDF("user_id", "ts", "lv", "ru", "rts", "rv")
      .orderBy("user_id", "ts").collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Double]("lv"),
        if (x.isNullAt(5)) None else Some(x.getAs[Double]("rv"))))
    assert(m.toSeq == Seq(
      (1L, 100.0, Some(1.0)),   // 10:00 → 09:00
      (1L, 101.0, Some(2.0)),   // 12:00 → 12:00 inclusive
      (2L, 200.0, None)))       // no key-2 right rows
  }

  test("native as-of join is batch-only: streaming children fail fast toward StreamAsOf") {
    import graft.plans.AsOf
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
      .toDF().toDF("user_id", "ts", "rv")
    val batch = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      .toDF("user_id", "ts", "lv")
    // Per-microbatch planning would silently drop cross-batch state —
    // the guard routes users to the keyed-state streaming tier instead.
    val e = intercept[IllegalArgumentException] {
      AsOf.join(batch, stream, "user_id", "ts")
    }
    assert(e.getMessage.contains("StreamAsOf"))
    val e2 = intercept[IllegalArgumentException] {
      AsOf.join(stream, batch, "user_id", "ts")
    }
    assert(e2.getMessage.contains("batch-only"))
  }

  test("native as-of join: NULL keys and timestamps never match (SQL semantics)") {
    import graft.plans.AsOf
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Null-key and null-ts rows on BOTH sides: the natural row ordering
    // sorts NULL first and compares NULL == NULL, so without the guard a
    // null-key trade would "match" a null-key quote (DuckDB ASOF and SQL
    // equi-joins never match NULL).
    val l = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:00")), 100.0),
      (None: Option[Long], Some(ts("2024-01-01 10:00:00")), 101.0),
      (Some(1L), None: Option[java.sql.Timestamp], 102.0))
      .toDF("user_id", "ts", "lv")
    val r = Seq(
      (None: Option[Long], Some(ts("2024-01-01 09:00:00")), 1.0),
      (Some(1L), None: Option[java.sql.Timestamp], 2.0),
      (Some(1L), Some(ts("2024-01-01 09:30:00")), 3.0))
      .toDF("user_id", "ts", "rv")
    val out = AsOf.join(l, r, "user_id", "ts")
      .toDF("user_id", "ts", "lv", "ru", "rts", "rv")
      .orderBy("lv").collect()
      .map(x => (x.getAs[Double]("lv"),
        if (x.isNullAt(5)) None else Some(x.getAs[Double]("rv"))))
    assert(out.toSeq == Seq(
      (100.0, Some(3.0)), // the only legitimate match
      (101.0, None),      // null left key: never matches the null-key right
      (102.0, None)))     // null left ts: never matches anything
  }

  test("IVF cell assignment adds no exchange beyond broadcast + ranker") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = plan(Similarity.ivfTopK(emb, Similarity.kmeansFit(emb, 16)))
    // One shuffle Exchange total (the bounded ranker's); the corpus→cell
    // argmin is a projection over centroid literals. BroadcastExchanges
    // (probe side) are fine.
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected at most the ranker's shuffle, got $shuffles:\n$p")
  }

  test("PQ encode/ADC/refine shuffles only inside the two bounded rankers") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    // Corpus→(cell,)codes is a literal-codebook projection (no
    // Exchange); the ADC join broadcasts the query LUTs/probes; the
    // refine join broadcasts the bounded shortlist into the corpus
    // scan. The only shuffle Exchanges allowed are the two TopK
    // rankers' (shortlist + final).
    val (coarse, codebook) = (Similarity.kmeansFit(emb, 16), Similarity.pqCodebook(emb, 8, 16))
    Seq("pq" -> Similarity.pqTopK(emb, codebook),
        "ivfpq" -> Similarity.ivfpqTopK(emb, coarse, codebook)).foreach { case (name, df) =>
      val p = plan(df)
      val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
      assert(shuffles <= 2, s"$name: expected only the two rankers' shuffles, got $shuffles:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name: refine must broadcast the bounded shortlist, not sort-merge the corpus:\n$p")
    }
  }

  test("BM25: query-term filter precedes the explode; df/stats broadcast; no window") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Bm25.topk(docs, Seq("table", "scan")))
    assert(!p.contains("Window"), s"bm25 must rank without a window:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"df/stats are q-row and 1-row tables — they must broadcast:\n$p")
    // The explode's Generate must consume an array already filtered to
    // the query terms (fan-out carries matches, not the corpus). r12:
    // topk checkpoints the tf posting (it feeds the df fold AND the
    // scorer join), which hides this sub-plan from the row plan — the
    // contract is asserted on the un-checkpointed tfPlan form, the
    // guardOver-over-raw-postings pattern.
    val tp = plan(graft.operators.Bm25.tfPlan(docs, Seq("table", "scan")))
    val gen = tp.linesIterator.find(l =>
      l.contains("Generate explode") && l.contains("filter")).getOrElse("")
    assert(gen.nonEmpty, s"expected explode over the term-filtered array:\n$tp")
  }

  test("DSIR: fit tables broadcast back; no corpus-cardinality flag join") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Dsir.weights(docs, col("lang") === "en"))
    assert(!p.contains("SortMergeJoin"),
      s"bucket tables are ≤Buckets rows — they must broadcast:\n$p")
    // One posting pass: the per-doc bucket frame is persisted and every
    // consumer reads the cache — the only parquet scans in the plan are
    // the two union legs INSIDE the cached recipe (which the plan text
    // reprints under each InMemoryTableScan reference).
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).size
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(cacheReads >= 2, s"both consumers must read the persisted frame:\n$p")
    assert(scans <= 2 * cacheReads,
      s"no parquet scan outside the cached posting pass ($scans scans, $cacheReads cache reads):\n$p")
  }

  test("BPE pair stats: two map-side-combinable shuffles, no window, no join") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Bpe.bpePairs(docs))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"bpe_pairs is two aggregates over projections:\n$p")
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    // word count + pair count (+ the k-row rank aggregate's single
    // partition exchange at most).
    assert(shuffles <= 3, s"expected word/pair-count shuffles only, got $shuffles:\n$p")
  }

  test("BPE apply-tier: vocab-grain fold, broadcast segmentation join, no window") {
    // tokenizeByVocab must keep the expensive merge fold on the
    // DISTINCT-word side and bring it to positions via a broadcast
    // (vocabulary-sized build side); reassembly is a hash aggregate,
    // never a doc window.
    val docs = graft.sources.Tables.documents(spark, sf)
    val merges = Seq(graft.operators.Bpe.Merge(1, "e", "r", "er", 0L),
      graft.operators.Bpe.Merge(2, "t", "h", "th", 0L))
    val p = plan(graft.operators.Bpe.tokenizeByVocab(docs, merges))
    assert(!p.contains("Window"), s"no per-doc window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab side should broadcast at fixture scale:\n$p")
  }

  test("sentence cutter: count-join + hash-aggregate rebuild, no per-doc window") {
    // The ordered rebuild must be collect_list+array_sort inside one
    // hash aggregate (bounded by doc length), never a doc-partitioned
    // window over the corpus posting.
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Dedup.sentenceDedupClean(docs))
    assert(!p.contains("Window"), s"no per-doc window in the rebuild:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"count frame joins back to the posting:\n$p")
  }

  test("media featurize: payload bytes never shuffle before features") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.ops.Multimodal.featurize(docs).toDF())
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(shuffles == 0,
      s"featurize is a single mapPartitions pass over the scan:\n$p")
  }

  test("fuzzy decontamination: bench candidacy broadcasts, never cartesian") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Dedup.decontaminateFuzzy(docs))
    assert(p.contains("BroadcastHashJoin"),
      s"bench band keys must broadcast for candidacy:\n$p")
    assert(!p.contains("Cartesian"), s"candidacy must stay band-keyed:\n$p")
  }

  test("corpus signals: doc-partitioned window, joinless classifier, bounded tfidf") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // winnow: the selection window must partition by doc_id — a global
    // window would single-task the whole corpus.
    val pw = plan(graft.operators.TextSignals.winnowFingerprints(docs))
    val winLine = pw.linesIterator.find(_.contains("Window [")).getOrElse("")
    assert(winLine.contains("doc_id"),
      s"winnow window must partition by doc_id: $winLine")
    // classifier: sentinel-row shape — one corpus scan, no join at all.
    val pq = plan(graft.operators.TextSignals.qualityClassifier(docs))
    assert(!pq.contains("Join"), s"classifier must not join:\n$pq")
    assert("Scan parquet".r.findAllIn(pq).size == 1,
      s"classifier is one scan + one fold:\n$pq")
    // tfidf: ranked by the bounded TopKStruct aggregate, never a window.
    val pt = plan(graft.operators.TextSignals.tfidfKeywords(docs))
    assert(!pt.contains("Window") && pt.contains("ObjectHashAggregate"),
      s"tfidf must rank via the bounded aggregate:\n$pt")
    // oov: vocab membership joins back broadcast; dup-ngram never
    // goes pairwise.
    val po = plan(graft.operators.TextSignals.oovRate(docs))
    assert(po.contains("BroadcastHashJoin"),
      s"oov_rate must broadcast the vocab:\n$po")
    val pd = plan(graft.operators.TextSignals.dupNgramFrac(docs))
    assert(!pd.contains("Cartesian"), s"dup_ngram_frac must stay keyed:\n$pd")
  }

  test("round-7 reports: bounded fuse, windowless aggregates, broadcast arms") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    // hybrid: both arms rank via the bounded TopKStruct aggregate (no
    // window), the dense query row broadcasts, and the fuse itself is a
    // join of two already-truncated frames.
    val ph = plan(graft.operators.Hybrid.topk(docs, emb,
      Seq("table", "scan"), queryVecId = 0L))
    assert(!ph.contains("Window"), s"hybrid must not window-rank:\n$ph")
    assert(ph.contains("ObjectHashAggregate"),
      s"hybrid arms must rank via the bounded aggregate:\n$ph")
    assert(ph.contains("BroadcastExchange"),
      s"hybrid dense arm must broadcast the query vector:\n$ph")
    // span_stats adds ONLY hash aggregates to the span pipeline — every
    // Window in the plan is the span front's own doc-bounded one, never
    // a global (un-partitioned) window over span rows.
    val ps = plan(graft.operators.Dedup.spanStats(
      graft.operators.Dedup.exactSpans(docs)))
    assert(ps.linesIterator.filter(_.contains("Window ["))
      .forall(_.contains("doc_id")),
      s"span_stats must not add an un-partitioned window:\n$ps")
    assert(ps.contains("HashAggregate"),
      s"span_stats buckets via hash aggregate:\n$ps")
    // sentence_dedup: count-by-hash + join back — never cartesian, no
    // window; ivf_stats: zero-Exchange assignment, one aggregate pair.
    val psd = plan(graft.operators.Dedup.sentenceDedup(docs))
    assert(!psd.contains("Window") && !psd.contains("Cartesian"),
      s"sentence_dedup must stay keyed and windowless:\n$psd")
    val pi = plan(Similarity.ivfStats(emb, Similarity.kmeansFit(emb, 16, iters = 0)))
    assert(!pi.contains("Window") && !pi.contains("SortMergeJoin"),
      s"ivf_stats is aggregates + broadcast total only:\n$pi")
    // containment: same posting-list pairs as ngram_jaccard — keyed,
    // never cartesian.
    val pc = plan(graft.operators.Dedup.containmentPairs(docs))
    assert(!pc.contains("Cartesian"),
      s"containment must stay posting-keyed:\n$pc")
  }

  test("round-8: posting pairs carry a live df guard over ONE posting derivation") {
    val docs = graft.sources.Tables.documents(spark, sf)
    def lines(p: String, s: String): Int = p.linesIterator.count(_.contains(s))
    Seq(
      "ngram_jaccard" -> graft.operators.Dedup.ngramJaccardInvertedIndex(docs),
      "containment" -> graft.operators.Dedup.containmentPairs(docs)
    ).foreach { case (name, df) =>
      val p = plan(df)
      // One posting derivation: the corpus is scanned once, and the
      // pairs come from the grouped posting lists — no posting
      // self-join, no broadcast of the postings, no cartesian.
      assert(lines(p, "FileScan") == 1, s"$name must derive the postings once:\n$p")
      assert(!p.contains("Join"), s"$name: no posting self-join:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$name: no posting broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian:\n$p")
      // The maxPostingDf guard survives pruning, and its whole-list
      // count rides the posting lists' one exchange on (h, source, lang).
      assert(p.contains("raise_error"),
        s"the maxPostingDf guard must stay alive in the plan:\n$p")
      assert(lines(p, "Exchange hashpartitioning(h") == 1,
        s"$name: the guard and the posting lists share one exchange:\n$p")
      assert(lines(p, "Sort [") == 1, s"$name: the guard and the lists share one sort:\n$p")
    }
    // Stop-shingle mode: a keyed df filter, not a guard — still one
    // derivation, no join, no cartesian.
    val ps = plan(graft.operators.Dedup.ngramJaccardInvertedIndex(docs,
      stopShingleDf = Some(1000)))
    assert(lines(ps, "FileScan") == 1 && !ps.contains("raise_error") &&
      !ps.contains("Join") && !ps.contains("CartesianProduct"),
      s"stop-shingle mode is a keyed df filter over one derivation:\n$ps")
  }

  test("fanOutScan: the partition probe runs no job; a single-split scan fans out") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Dedup, Skew}
    val sc = spark.sparkContext
    val docs = graft.sources.Tables.documents(spark, sf)
    // A persisted frame over an exchange, as curate hands its exact-dedup
    // frame to the pair emitter: building the emitter over it must not
    // run the frame's stages (the old `df.rdd` probe did).
    val persisted = docs
      .withColumn("__rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graft.Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      Dedup.ngramJaccardInvertedIndex(persisted, minJaccard = 0.5)
      Dedup.containmentPairs(persisted)
      org.apache.spark.graft.Bus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      persisted.unpersist()
    }
    assert(jobs.get == 0, s"building the pair frames ran ${jobs.get} jobs")
    // A scan read as one split still fans out to the session width.
    val width = spark.sessionState.conf.numShufflePartitions
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout").resolve("d").toString
    docs.coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(Skew.plannedPartitions(scan) == Some(1))
    assert(Skew.fanOutScan(scan, "doc_id").rdd.getNumPartitions == width)
    assert(Skew.plannedPartitions(scan.repartition(width + 1)) == Some(width + 1))
  }

  test("connected components: a small quotient graph finishes in 2 result jobs") {
    import scala.collection.mutable
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import graft.operators.Components
    val sc = spark.sparkContext
    // (all jobs, result jobs) run by `body`. Under AQE every shuffle
    // also runs as a map-stage job of its own; a result job is one
    // whose tasks include a ResultTask (a checkpoint, a collect).
    def jobsIn[T](body: => T): (T, Int, Int) = {
      val stagesOf = mutable.Map[Int, Seq[Int]]()
      val resultStages = mutable.Set[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          stagesOf.synchronized(stagesOf(e.jobId) = e.stageIds)
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ResultTask") resultStages.synchronized(resultStages += e.stageId)
      }
      org.apache.spark.graft.Bus.drain(sc)
      sc.addSparkListener(listener)
      try {
        val out = body
        org.apache.spark.graft.Bus.drain(sc)
        (out, stagesOf.size, stagesOf.values.count(_.exists(resultStages)))
      } finally sc.removeSparkListener(listener)
    }
    // Four 10-node chains from a local relation (no job to build the
    // pairs), sliced across partitions so the contraction leaves a
    // non-empty quotient graph to finish.
    val pairs = (1L until 40L).filter(_ % 10 != 0).map(i => (i, i + 1))
      .toDF("id1", "id2").repartition(4)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
    val (driver, driverJobs, driverResults) =
      jobsIn(Components.dedupClusters(pairs, "id1", "id2"))
    val (loop, loopJobs, loopResults) =
      withDistributedCc(jobsIn(Components.dedupClusters(pairs, "id1", "id2")))
    // After the pairs' and the contraction's shuffles: the grouped
    // checkpoint (its observed edge count picks the path) and the
    // quotient collect. The hash-min loop adds a seed checkpoint and a
    // checkpoint plus an isEmpty per round.
    assert(driverResults <= 2, s"driver finish ran $driverResults result jobs ($driverJobs in all)")
    assert(loopResults >= 4 && loopJobs > driverJobs,
      s"the distributed loop ran only $loopResults result jobs ($loopJobs in all)")
    // A reliable checkpoint writes its files in one more job; its
    // observed count arrives all the same and picks the driver finish.
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-reliable").toString
    val (reliable, _, reliableResults) = withCkptMode("reliable", dir)(
      jobsIn(Components.dedupClusters(pairs, "id1", "id2")))
    assert(reliableResults <= 3, s"reliable driver finish ran $reliableResults result jobs")
    val want = (1L to 40L).map { id =>
      val c = (id - 1) / 10 * 10 + 1
      (id, c, 10L, if (id == c) 1 else 0)
    }
    Seq(driver, loop, reliable).foreach(df => assert(rows(df) == want))
  }

  test("round-8: span decontamination marks via semi-join; diff joins hashes") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // The bench-window mark must be a semi-join (rows never widen past
    // the corpus side) and never a cartesian.
    val pd = plan(graft.operators.Dedup.contaminationSpans(docs))
    assert(pd.contains("LeftSemi"),
      s"contamination mark must be a left-semi join:\n$pd")
    assert(!pd.contains("Cartesian"), s"no cartesian in the mark:\n$pd")
    // Snapshot diff: full-outer on doc_id over xxhash64'd sides — the
    // join carries hashes + lengths, never document bytes.
    val pc = plan(graft.operators.Snapshot.corpusDiff(docs, docs))
    assert(pc.contains("FullOuter"), s"diff must keep both sides:\n$pc")
    assert(pc.contains("xxhash64"), s"diff must compare hashes:\n$pc")
    assert(!pc.contains("Cartesian"), s"diff joins on the unique key:\n$pc")
  }

  test("round-8: kmeans profile is a zero-Exchange argmin + ONE k-key aggregate") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = plan(graft.operators.Similarity.kmeansClusters(emb, k = 4, iters = 1))
    // Assignment must stay a literal-centroid projection: no join (the
    // centroid table is a driver artifact, never a joined frame), no
    // window, no cartesian; the only shuffle is the k-key aggregate.
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("Cartesian"),
      s"kmeans profile is projection + aggregate only:\n$p")
    val nEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(nEx == 1, s"kmeans profile must shuffle exactly once (got $nEx):\n$p")
    assert(p.contains("vec_dot"),
      s"distances must ride the codegen'd native dot:\n$p")
  }

  test("r12: batch portable banding front is one signature projection, no aggregate") {
    // portableBandKeys (the dedup_minhash / keep_best_lsh /
    // decontaminate_fuzzy front) must compute the signature as ONE
    // native minhash_sig projection per document — never the r11
    // posting explode + 32-column min aggregate (a full doc_id
    // exchange). The only exchange allowed is the fanOutScan
    // repartition, which is a no-op on multi-split corpus inputs. This
    // sub-plan is invisible in the row plans (minhashVerify checkpoints
    // it), so the contract lives here.
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = plan(graft.operators.Dedup.portableBandKeys(docs))
    assert(p.contains("minhash_sig"),
      s"banding front must ride the native signature expression:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Window") &&
      !p.contains("Join"),
      s"banding front must be projection-only past the fan-out:\n$p")
    val nEx = p.linesIterator.count(_.contains("Exchange"))
    assert(nEx <= 1, s"at most the fan-out exchange (got $nEx):\n$p")
  }

  test("round-9: streaming near-dup banding front is a pure projection") {
    // Everything BEFORE the per-bucket state shuffle must be
    // projection-shaped (shingles → native minhash_sig → band explode):
    // no Exchange, no Window, no Join — the only shuffle an ingest
    // stream pays is the (band, band_key) state partitioning itself,
    // which flatMapGroupsWithState owns. Executed batch-side (the
    // watermark is a no-op there); the streaming plan shares the
    // logical front. Parquet-backed fixture: a local relation would be
    // constant-folded at plan time, hiding the expression tree.
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("ingest_ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    val p = plan(graft.streaming.StreamNearDup.bandRows(docs, "1 hour").toDF())
    assert(!p.contains("Exchange") && !p.contains("Window") &&
      !p.contains("Join"),
      s"banding front must be projection-only:\n$p")
    assert(p.contains("minhash_sig"),
      s"signature must ride the native codegen'd expression:\n$p")
  }

  test("curation gate: native text kernels, no tokenizer or quality regex in its plan") {
    // curate's gate (withQuality + the language/quality/blocklist
    // filter) and the exact dedup live in the persisted frame the
    // release reads back; its executed plan is the gate as it ran. The
    // regex forms put 7 regexp_replace and 12 split calls there; the
    // kernels must replace every one of them. A Filter pushed below
    // withQuality's projections inlined quality_score and ran the
    // quality kernel 9 times and the blocklist kernel twice; the gate
    // filters on the projected columns, so each kernel appears once.
    val docs = graft.sources.Tables.documents(spark, sf)
    val released = CorpusPipeline.curate(docs, blocklistTerms = Some(Seq("slow", "merge")))
    val gates = released.queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cacheBuilder.cachedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case other => other.toString
        }
    }
    assert(gates.size == 1, s"expected one persisted gate frame, got ${gates.size}")
    val p = gates.head
    def count(token: String) = token.r.findAllMatchIn(p).size
    assert(count("regexp_replace\\(") == 0 && count("\\bsplit\\(") == 0,
      s"gate must not run the regex tokenizer or quality regexes:\n$p")
    val kernels = Seq("quality_counts", "blocklist_counts").map(k => k -> count(k + "\\("))
    assert(kernels.forall(_._2 == 1), s"gate must run each native kernel once ($kernels):\n$p")
    assert("PushedFilters: \\[[^\\]]*In\\(lang,".r.findFirstIn(p).nonEmpty,
      s"the language filter must reach the scan:\n$p")
  }

  test("top movers: both sides rank one latest-bar derivation") {
    // Pipeline.build's movers frame: Cleaning's two dedup windows plus
    // the latest-bar pair (lag over date, row_number over date desc).
    // Ranking the two sides as separate top-k arms carried that pair
    // once per arm (8 Window operators).
    val p = plan(Pipeline.build(spark, sf).movers)
    def windows(token: String) =
      p.linesIterator.count(l => "\\bWindow \\[".r.findFirstIn(l).nonEmpty && l.contains(token))
    assert(windows("lag(close") == 1, s"expected one lag window:\n$p")
    assert(windows("row_number()") <= 2, s"expected the latest-bar row_number once:\n$p")
    assert(windows("") <= 4, s"expected at most 4 Window operators:\n$p")
  }

  test("indicators: one series fold and one Window per dependency level") {
    import graft.operators.{Bars, Indicators, Screener}
    // Bars straight off the feed's aggregate carry no window, sort or
    // key-only exchange of their own, so what the enrichment adds is
    // counted against the bars' plan: one Exchange on the key, shared by
    // the series fold and the level windows, the fold's (user_id, date,
    // …) Sort, which the windows reuse, and the month window's own Sort.
    // The withColumn chains stacked 14 Windows.
    val bars = Bars.daily(graft.sources.Tables.events(spark, sf))
    val enriched = Indicators.enrichAll(bars, macd = (5, 10, 4), bollinger = (10, 2.0),
      atrPeriod = 10)
    def count(p: String, token: String) = token.r.findAllMatchIn(p).size
    def lines(p: String, token: String) = p.linesIterator.filter(token.r.findFirstIn(_).nonEmpty).toSeq
    val (b, p) = (plan(bars), plan(enriched))
    assert(p.contains("SeriesFold"), s"expected the series fold exec:\n$p")
    assert(count(p, "\\bWindow \\[") <= 3, s"expected at most 3 Window operators:\n$p")
    Seq("collect_list", "ObjectHashAggregate", "\\bGenerate\\b").foreach(t =>
      assert(count(p, t) == 0, s"expected no $t:\n$p"))
    val exchange = "Exchange hashpartitioning\\("
    assert(count(p, exchange) == count(b, exchange) + 1, s"expected one added Exchange:\n$p")
    val onKey = "Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\)"
    assert(count(p, onKey) == count(b, onKey) + 1,
      s"expected the added Exchange on user_id alone:\n$p")
    val sorts = lines(p, "\\bSort \\[").diff(lines(b, "\\bSort \\["))
    val keyFirst = "Sort \\[user_id#\\d+L? ASC NULLS FIRST, "
    assert(sorts.size == 2 &&
      sorts.count(l => (keyFirst + "date#\\d+ ASC NULLS FIRST, \\w").r.findFirstIn(l).nonEmpty) == 1 &&
      sorts.count(l => (keyFirst + "_w\\d+#\\d+ ASC NULLS FIRST, date#\\d+ ASC NULLS FIRST\\]")
        .r.findFirstIn(l).nonEmpty) == 1,
      s"expected the fold's (user_id, date, …) Sort and the month window's:\n${sorts.mkString("\n")}")
    val added = count(plan(Screener.signalScore(enriched)), "\\bWindow \\[") - count(p, "\\bWindow \\[")
    assert(added <= 2, s"signalScore must add at most 2 Window operators, added $added")
  }
}
