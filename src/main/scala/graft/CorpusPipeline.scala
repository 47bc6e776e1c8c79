package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Components, Dedup, TextAnalysis}

/** Corpus curation pipeline — the LLM-training-data twin of [[Pipeline]]:
  * quality gate → language filter → exact dedup → near-dup cluster
  * resolution → deterministic split, composed as ONE DataFrame DAG.
  * This is the workflow the individual operators exist for; a user runs
  * `curate(docs)` and gets the training corpus the reference-style
  * per-document scripting could never produce at 100 TB.
  *
  * Scale notes: stage 1 is a linear projection (filters reach the scan);
  * stage 2 is one shuffle on the content hash (no join); stage 3 joins
  * the corpus against the (small) non-canonical drop list; stage 4 is a
  * stateless hash. At production scale the post-gate frame is the
  * natural checkpoint/bucketed-table cut before the pair emitter
  * re-reads it.
  */
object CorpusPipeline {

  /** Curate a raw document corpus. `pairsOf` picks the near-dup pair
    * emitter: banded minhash LSH ([[Dedup.minhashPairsPortable]]) by
    * default, or the exact ngram-Jaccard inverted index — both
    * oracle-checked, both emit (id1, id2) pairs. `keepBestQuality`
    * switches the cluster survivor from lowest-id to
    * highest-quality-score ([[Dedup.keepBest]]) — near-dup members
    * differ, and real curation keeps the cleanest variant, not an
    * arbitrary one.
    *
    * Opt-in round-8 stages (all projection-form — they extend the
    * stage-1 single pass, never add a shuffle or join):
    * `normalizeFirst` canonicalizes text ([[TextSignals.textNormalize]])
    * before anything hashes or gates, so dedup keys see canonical
    * bytes; `gopherRules` ANDs the Gopher rule-battery verdict
    * ([[TextSignals.withGopher]]) into the gate; `classifierGate` ANDs
    * the hashed linear classifier's verdict (inline integer-fold form,
    * [[TextSignals.classifierKeepCol]]) — and with `classifierWeights`
    * set, the verdict of a TRAINED artifact
    * ([[operators.Classifier.trainQualityClassifier]]) instead, as a
    * dense-literal projection ([[TextSignals.classifierKeepColWeighted]]).
    *
    * Round-9 stages: `lmDropTail` drops the worst per-lang perplexity
    * tercile under the corpus-fitted bigram LM
    * ([[operators.TextAnalysis.lmBuckets]] — the CCNet head/middle/tail
    * recipe's tail cut) AFTER the cheap gates, at the documented
    * non-projection cost of the LM fold + one anti-join; no-ppl docs
    * (< 2 tokens) are kept — length policy belongs to the gates;
    * `htmlCol` runs HTML → text extraction
    * ([[operators.Html.textCol]]) as the FIRST transform when the
    * corpus arrives as raw markup — every downstream key and score
    * then sees content bytes, not tags; `blocklistTerms` ANDs the
    * banned-term keep verdict
    * ([[TextAnalysis.blocklistKeepCol]], #47i's decision) into the same
    * single gate pass; `scrubPii` redacts the RELEASED text as the last
    * transform ([[TextAnalysis.piiScrubCol]]) — after all hashing and
    * dedup, because content identity is decided on original bytes and
    * the redaction is an export-time privacy pass. Both projection-form.
    *
    * Round-11 stage: `fixEncoding` repairs cp1252-in-UTF-8 mojibake
    * ([[operators.Encoding.fixEncodingCol]]) as the VERY FIRST
    * transform, ahead of `htmlCol` extraction — charset damage must be
    * undone before any byte is hashed, shingled or scored, or a clean
    * page and its mojibake twin never dedup. Projection-form.
    *
    * NOTE `gopherRules` changes the published `n_words` DEFINITION:
    * the battery's filtered whitespace-word count overwrites
    * [[TextAnalysis.withQuality]]'s raw `split("\\s+")` count (which
    * includes a leading-empty token for leading-whitespace docs), so
    * the same document can report n_words off by one between the two
    * modes. Deliberate: when the battery is on, its counts are the
    * ones the gate judged, and publishing the pair of counts would
    * double the schema for a bookkeeping distinction.
    */
  def curate(documents: DataFrame,
             minQuality: Double = 0.55,
             langs: Seq[String] = Seq("en", "de", "es", "fr"),
             pairsOf: DataFrame => DataFrame = d => Dedup.minhashPairsPortable(d),
             valFrac: Double = 0.05,
             testFrac: Double = 0.05,
             keepBestQuality: Boolean = false,
             normalizeFirst: Boolean = false,
             gopherRules: Boolean = false,
             classifierGate: Boolean = false,
             classifierWeights: Option[DataFrame] = None,
             classifierBuckets: Int = operators.Classifier.DefaultBuckets,
             stripBoilerplate: Boolean = false,
             blocklistTerms: Option[Seq[String]] = None,
             blocklistMaxRatio: Double = 0.05,
             scrubPii: Boolean = false,
             htmlCol: Option[String] = None,
             lmDropTail: Boolean = false,
             fixEncoding: Boolean = false): DataFrame = {
    // A supplied trained artifact IMPLIES the gate — accepting weights
    // and then silently not gating would let a caller believe the
    // classifier filtered the corpus (r9 review finding).
    val classifierGateOn = classifierGate || classifierWeights.isDefined
    // -2. Optional charset front (r11, [[operators.Encoding]]): repair
    //    cp1252-in-UTF-8 mojibake BEFORE extraction and everything
    //    downstream — a wrongly-decoded page must hash, shingle and
    //    gate on its repaired bytes, or its clean twin never dedups
    //    against it. Runs on the RAW column (the markup column when
    //    the corpus arrives as HTML — entity names and attribute text
    //    carry mojibake too). Projection-form: zero shuffle, zero join.
    val repaired =
      if (!fixEncoding) documents
      else {
        val c = htmlCol.getOrElse("text")
        documents.withColumn(c, operators.Encoding.fixEncodingCol(col(c)))
      }
    // -1. Optional crawl front ([[operators.Html.textCol]]): when the
    //    corpus arrives as raw markup in `htmlCol`, extraction replaces
    //    `text` BEFORE every other stage — normalization, hashing,
    //    gating, and dedup must all see content, not tags (a page's
    //    hash must not change when its markup chrome does). Projection-
    //    form like the other opt-in gates: zero shuffle, zero join.
    val unwrapped = htmlCol match {
      case None => repaired
      case Some(c) =>
        // A crawl frame may carry its markup IN the `text` column —
        // dropping `c` after the overwrite would then drop the
        // extraction itself (r9 review finding).
        val extracted = repaired.withColumn("text",
          operators.Html.textCol(col(c)))
        if (c == "text") extracted else extracted.drop(c)
    }
    // 0. Optional canonicalization — BEFORE hashing/gating so exact
    //    dedup collapses case/whitespace variants of the same content.
    //    (n_chars needs no recompute: withQuality overwrites it.)
    val canonical0 =
      if (!normalizeFirst) unwrapped
      else unwrapped.withColumn("text", operators.TextSignals.normalizeExpr(col("text")))
    // 0.5. Optional boilerplate strip ([[Dedup.sentenceDedupClean]] at
    //    the per-source grain — the RefinedWeb rule) BEFORE anything
    //    hashes or gates: dedup keys and quality scores then see
    //    CONTENT bytes, not chrome — a page's hash no longer changes
    //    when its banner does, and a chrome-only page strips to empty
    //    and dies at the quality gate instead of passing on banner
    //    text. Unlike the other opt-in stages this one is NOT
    //    projection-form — it adds the cutter's count-by-key shuffle
    //    plus a doc_id join — so it is opt-in at a documented cost, on
    //    the RAW (pre-gate) corpus where boilerplate counts belong.
    val canonical =
      if (!stripBoilerplate) canonical0
      else canonical0.drop("text")
        .join(Dedup.sentenceDedupClean(canonical0, bySource = true)
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
    // 1. Annotate + gate: one projection, every enabled predicate in the
    //    same pass (the optional gates are appended columns, not joins).
    //    The language filter runs first and reaches the scan; every other
    //    verdict is a projected column the gate filters on, so each text
    //    kernel runs once per document ([[gate]]).
    //    The gopher annotation columns are dropped after gating so the
    //    output schema matches the default path (withQuality's columns,
    //    n_words included, stay — withGopher's same-named overwrite wins
    //    when the battery is on).
    val annotated = {
      val q = TextAnalysis.withQuality(canonical.filter(col("lang").isin(langs: _*)))
      if (gopherRules) operators.TextSignals.withGopher(q) else q
    }
    val classifierKeep = if (!classifierGateOn) None else Some(classifierWeights match {
      // Trained artifact ([[operators.Classifier]] fit) → dense
      // literal gate; no artifact → the hash-derived demo weights.
      // Either way the gate stays projection-form.
      // `classifierBuckets` MUST equal the bucket count the artifact
      // was trained with — it sets both the dense array length and
      // the gate's hash modulus (denseWeights raises on an artifact
      // trained with MORE buckets; FEWER is undetectable from the
      // sparse artifact alone, hence the explicit parameter — r9
      // review finding).
      case Some(wdf) => operators.TextSignals.classifierKeepColWeighted(
        operators.TextSignals.tokensCol(col("text")),
        operators.Classifier.denseWeights(wdf, classifierBuckets))
      case None => operators.TextSignals.classifierKeepCol(
        operators.TextSignals.tokensCol(col("text")))
    })
    // Banned-term gate (the C4/NSFW-list rule), projection-form like
    // the others — the same keep verdict as TextAnalysis
    // .blocklistFilter, over counts projected once.
    val blocklistCounts = blocklistTerms.map(TextAnalysis.blocklistCountsCol(col("text"), _))
    val verdictCols = classifierKeep.map("__classifier_keep" -> _).toSeq ++
      blocklistCounts.map("__blocklist_counts" -> _)
    val keep = Seq(
      Some(col("quality_score") >= minQuality),
      if (gopherRules) Some(col("gopher_keep")) else None,
      classifierKeep.map(_ => col("__classifier_keep")),
      blocklistCounts.map(_ =>
        TextAnalysis.blocklistKeep(col("__blocklist_counts"), blocklistMaxRatio))
    ).flatten.reduce(_ && _)
    val gopherOnlyCols = Seq("mean_word_len", "max_word_len", "alpha_share",
      "stop_hits", "symbol_share", "n_fail", "gopher_keep", "reasons")
    val gated0 = gate(annotated, keep, verdictCols)
      .drop((if (gopherRules) gopherOnlyCols else Nil): _*)
    // 1.5. Optional CCNet perplexity tail cut (Wenzek et al. 2020: the
    //    worst per-lang ppl tercile under the corpus-fitted bigram LM
    //    drops; head+middle train). Runs on the GATED corpus — the
    //    terciles should describe documents that survived the cheap
    //    gates, not the junk they removed. Like stripBoilerplate this
    //    is NOT projection-form (the LM fold shuffles + one anti-join
    //    against the ≤n/3-row tail list) — opt-in at a documented
    //    cost. Docs without a ppl (fewer than 2 tokens) have no bucket
    //    and are KEPT: length policy belongs to the quality/gopher
    //    gates, not to a scorer that cannot see the doc.
    //    The gated frame feeds FOUR consumers when the cut is on
    //    (lmScore's count and vocab folds, lmBuckets' lang join, the
    //    anti-join left side) — without materialization the whole
    //    annotate+gate chain re-derives per consumer (the
    //    guarded-postings rule), so it checkpoints first.
    val gated =
      if (!lmDropTail) gated0
      else {
        val g = gated0.transform(Ckpt.frame)
        g.join(
          TextAnalysis.lmBuckets(g)
            .filter(col("bucket") === "tail").select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      }
    // 2. Exact dedup, keep-lowest-id: one shuffle on the content hash.
    //    Persisted: this frame feeds BOTH the pair emitter (materialized
    //    eagerly by the CC loop below) and the final anti-join — the cut
    //    the §5 scale notes promise. Without it the scan + quality
    //    projection + content-hash shuffle run twice. The cache stays hot
    //    for the caller's action on the returned frame; a long-lived job
    //    unpersists (or swaps in a bucketed table) after materializing.
    val exactDeduped = gated
      .withColumn("__rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // 3. Near-dup resolution: pairs → connected components → drop every
    //    non-canonical cluster member (keep one doc per dup cluster).
    // pointerJump measured SLOWER here (7.2 s vs 6.4 s at sf0.1): the
    // ngram pair graph is near-clique, converges in few rounds, and the
    // extra per-round join costs more than the rounds it saves.
    val drops =
      if (keepBestQuality)
        Dedup.keepBest(exactDeduped, pairsOf(exactDeduped))
          .filter(col("is_kept") === 0)
          .select(col("doc_id"))
      else
        Components.dedupClusters(pairsOf(exactDeduped), "id1", "id2")
          .filter(col("is_canonical") === 0)
          .select(col("id").as("doc_id"))
    val resolved = exactDeduped.join(drops, Seq("doc_id"), "left_anti")
    // 3.5. Optional PII redaction — the LAST text transform, AFTER all
    //    hashing/dedup (identity is decided on original content; the
    //    redaction is an export-time privacy pass, [[TextAnalysis
    //    .piiScrubCol]] — one projection, zero shuffle, each regex stage
    //    run only on texts holding the `@` or digit it needs).
    val released =
      if (!scrubPii) resolved
      else resolved.withColumn("text", TextAnalysis.piiScrubCol(col("text")))
    // 4. Deterministic split — stable under corpus growth.
    TextAnalysis.splitByHash(released, "doc_id", valFrac, testFrac)
  }

  private val gateIds = new java.util.concurrent.atomic.AtomicLong

  /** `annotated.filter(keep)` with the filter held above the annotation;
    * `verdicts` are columns `keep` reads, projected before the filter
    * and dropped after it. Catalyst would push a Filter below the
    * projections it reads and inline their aliases, so the filter would
    * re-run a text kernel once per reference (`quality_score` alone
    * reads the quality counts seven times) after the projection ran it.
    * An `observe` node stops the push, so each kernel runs once per
    * document. Its count (`docs_in`, the documents that reached the
    * gate) lands in the query's observed metrics under `curate_gate_<n>`,
    * a name unique to each call so two gates can share one plan.
    */
  private def gate(annotated: DataFrame, keep: Column,
                   verdicts: Seq[(String, Column)] = Nil): DataFrame =
    verdicts.foldLeft(annotated) { case (d, (name, c)) => d.withColumn(name, c) }
      .observe(s"curate_gate_${gateIds.incrementAndGet()}", count(lit(1)).as("docs_in"))
      .filter(keep)
      .drop(verdicts.map(_._1): _*)

  /** The per-document curation stages that compose INCREMENTALLY:
    * quality/lang gate (a projection — verdicts never depend on other
    * documents) + canonical-key exact dedup keeping the LOWEST doc_id
    * ([[Dedup.canonicalKey]] hashes, the dedup_incremental key). The
    * corpus-shaped stages the full [[curate]] adds (near-dup CC, LM
    * terciles) are deliberately absent — their verdicts depend on the
    * whole corpus and do not decompose into add-only batches.
    */
  def curateLite(documents: DataFrame,
                 minQuality: Double = 0.55,
                 langs: Seq[String] = Seq("en", "de", "es", "fr")): DataFrame =
    gate(TextAnalysis.withQuality(documents.filter(col("lang").isin(langs: _*))),
        col("quality_score") >= minQuality)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(xxhash64(Dedup.canonicalKey(col("text"))))
          .orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")

  /** #47c3 curate_incremental — the production re-crawl shape
    * (VERDICT r9 next-round #7): a released snapshot exists; a new
    * crawl lands; only the ADDITIONS run curation, deduped against the
    * prior release's keys ([[Dedup.incrementalNew]]'s join shape), and
    * the release is prior ∪ surviving additions — the whole corpus is
    * never re-read.
    *
    * Composition law (driver-PROVEN, not just asserted: the oracle
    * computes the FULL re-curation of prior ∪ additions while the
    * engine runs this incremental path — a hash match is the theorem
    * on real data): for an append-only refresh whose addition doc_ids
    * all exceed the prior corpus's ids (the production contract — new
    * crawl docs get new ids),
    * `curateIncremental(curateLite(P), A) = curateLite(P ∪ A)`.
    * Gate verdicts are per-doc projections (identical on both paths);
    * a key group's lowest id is a prior doc whenever the group touches
    * the prior corpus (id monotonicity), which is exactly the doc the
    * prior release kept and the anti-join preserves; an all-new group
    * keeps its lowest addition id on both paths.
    *
    * Scale shape: the additions batch is a day's slice; the prior
    * release reduces to its distinct 8-byte key set before the
    * anti-join (never text) — the [[Dedup.incrementalNew]] story, with
    * [[Dedup.incrementalNewBloom]] layerable in front at 100 TB.
    *
    * `checkIdMonotonic` (ADVICE r10): the composition law above rests
    * on the id-monotonicity PREcondition — every addition doc_id must
    * exceed every prior id, which production gets for free (new crawl
    * docs get new ids) but an ad-hoc caller might not, and a violation
    * degrades SILENTLY (the incremental path keeps the prior doc where
    * full re-curation would keep the lower-id addition). Opt in to the
    * runtime assertion when the caller lacks the id contract: two tiny
    * 1-row aggregates (max prior id, min addition id — dim-grain
    * driver reads, the bounded-orchestration class), raising
    * `IllegalArgumentException` on overlap. Off by default: production
    * has the contract and the two extra jobs are pure cost there.
    */
  def curateIncremental(priorRelease: DataFrame, additions: DataFrame,
                        minQuality: Double = 0.55,
                        langs: Seq[String] = Seq("en", "de", "es", "fr"),
                        checkIdMonotonic: Boolean = false): DataFrame = {
    if (checkIdMonotonic) {
      val maxPrior = priorRelease.agg(max(col("doc_id"))).head().get(0)
      val minAdd = additions.agg(min(col("doc_id"))).head().get(0)
      (maxPrior, minAdd) match {
        case (p: Long, a: Long) =>
          require(p < a,
            s"curateIncremental: id monotonicity violated — max prior " +
              s"doc_id $p >= min addition doc_id $a; the add-only == " +
              "full-re-curation law does not hold for overlapping id " +
              "ranges (re-run full curateLite over prior ∪ additions)")
        case _ => // one side empty: trivially monotone
      }
    }
    val addGated = curateLite(additions, minQuality, langs)
    val seen = priorRelease
      .select(xxhash64(Dedup.canonicalKey(col("text"))).as("__ck")).distinct()
    val fresh = addGated
      .withColumn("__ck", xxhash64(Dedup.canonicalKey(col("text"))))
      .join(seen, Seq("__ck"), "left_anti").drop("__ck")
    priorRelease.unionByName(fresh)
  }
}
