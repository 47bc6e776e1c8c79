package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for LLM-training-data pipelines (SURVEY §2 #44–47):
  * language identification, quality scoring, token counting and document
  * fingerprinting. All Catalyst expressions, embarrassingly parallel
  * across documents, no per-row UDFs: the curation gate's text work
  * (word tokens, letter-token stop-word hits, quality counts, blocklist
  * counts) runs as native one-pass kernels
  * ([[graft.functions.TextKernels]]); the remaining report operators
  * are regex and HOF folds.
  */
object TextAnalysis {

  /** Stopword profiles per language (tiny fixed lists — the n-gram
    * heuristic from the brief: hit counts over language-characteristic
    * function words).
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "von"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "en", "es", "un", "que"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "dans"),
    // The reference's own market (r8, enabled by the Unicode tokenizer
    // — under the ASCII rule these words shredded into fragments).
    // Diacritic forms only, so they cannot collide with ASCII tokens.
    "vi" -> Seq("và", "của", "là", "có", "cho", "không", "được", "người"))

  /** Language-ID profiles: the battery languages above plus
    * identification-only additions (r8: pt/it/nl/id — Latin-script
    * languages a market-data crawl actually encounters). Deliberately
    * a SEPARATE map from [[Stopwords]]: the battery list is a
    * curation-rule constant (Gopher stop_hits, quality gates) whose
    * thresholds must NOT move when a language is added for
    * identification.
    */
  val LangProfiles: Map[String, Seq[String]] = Stopwords ++ Map(
    "pt" -> Seq("o", "de", "que", "em", "do", "da", "um", "para"),
    "it" -> Seq("il", "di", "che", "per", "non", "sono", "della", "con"),
    "nl" -> Seq("de", "het", "een", "van", "op", "te", "voor", "niet"),
    "id" -> Seq("yang", "dan", "di", "ke", "untuk", "ini", "dengan", "itu"))

  /** #44 lang_id: stopword-profile hit counts per language; prediction =
    * argmax with alphabetical tie-break (de, en, es, fr order).
    *
    * Script guard (r8, closing the r7 verdict's "silent" finding): the
    * stopword profiles are European — on a CJK/Arabic/Cyrillic document
    * every profile scores 0 and the tie-break would confidently emit
    * "de". `nonlatin_share` measures the fraction of LETTERS outside
    * the Latin script (pure projection, mirrored in RE2 by the oracle);
    * past 0.5 the prediction is the honest `other` instead of a
    * fabricated European language. Downstream routing can treat
    * `other` as "needs a real language model".
    */
  def langId(documents: DataFrame): DataFrame = {
    val langs = LangProfiles.keys.toSeq.sorted
    val letters = length(regexp_replace(col("text"), "[^\\p{L}]", ""))
    val nonLatin = length(regexp_replace(col("text"), "[^\\p{L}]|[\\p{IsLatin}]", ""))
    // One native letter-token pass for ALL profiles
    // ([[graft.functions.ProfileHits]], the walk withQuality's stop
    // count uses): each token is one hash lookup, count-identical to
    // `size(filter(split(lower(text), "[^\\p{L}]+"), isin(…)))` per
    // profile (spec-pinned).
    val withHits = documents
      .withColumn("__lh", graft.functions.TextKernels.profileHits(
        col("text"), langs.map(LangProfiles)))
      .select(
      (col("doc_id") +: col("lang").as("labeled_lang") +:
        Publish.round6(coalesce(nonLatin.cast("double") /
          nullif(letters.cast("double"), lit(0.0)), lit(0.0)))
          .as("nonlatin_share") +:
        langs.zipWithIndex.map { case (l, i) =>
          element_at(col("__lh"), i + 1).as(s"${l}_hits") }): _*)
    // Alphabetical-tie-break argmax, generated over the profile list:
    // lang_i wins when its hits >= every LATER lang's (earlier langs
    // already lost to someone when their branch fell through).
    val argmax = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), els) =>
        val geLater = langs.drop(i + 1)
          .map(l2 => col(s"${l}_hits") >= col(s"${l2}_hits")).reduce(_ && _)
        when(geLater, lit(l)).otherwise(els)
    }
    withHits.withColumn("pred_lang",
      when(col("nonlatin_share") > 0.5, "other").otherwise(argmax))
  }

  /** Quality columns appended in place (originals kept) — the composable
    * form [[CorpusPipeline]] gates on without a doc-grain self-join.
    * NOTE: replaces any incoming `n_chars` with length(text).
    *
    * Every ratio derives from ONE struct of integer counts
    * ([[graft.functions.QualityCounts]]: one pass over `text`, one
    * letter-token pass over `lower(text)` for the `en` stop-word hits)
    * by unchanged arithmetic, so each double is bit-identical to the
    * regex form it replaced: `n_words` is the size of
    * `split(text, "\\s+")` (whitespace runs + 1), `avg_word_len` reads
    * the non-`\\s` code points, `punct_ratio` the code points outside
    * `[\\p{L}\\p{N}\\s]`, `upper_ratio` the `\\p{Lu}` ones and
    * `stop_ratio` the stop-word hits over `[^\\p{L}]+` letter tokens.
    */
  def withQuality(documents: DataFrame): DataFrame = {
    val q = col("__qc")
    val nChars = q("n_chars")
    val nWords = q("n_words")
    documents
      .withColumn("__qc", graft.functions.TextKernels.qualityCounts(
        col("text"), Stopwords("en")))
      .withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len",
        q("n_nonspace").cast("double") / nullif(nWords.cast("double"), lit(0.0)))
      .withColumn("punct_ratio", q("n_punct").cast("double") / nullif(nChars.cast("double"), lit(0.0)))
      .withColumn("upper_ratio", q("n_upper").cast("double") / nullif(nChars.cast("double"), lit(0.0)))
      .withColumn("stop_ratio", q("n_stop").cast("double") / nullif(nWords.cast("double"), lit(0.0)))
      .withColumn("quality_score",
        Publish.round6(least(lit(1.0), nWords.cast("double") / 50) * 0.4 +
          (lit(1.0) - col("punct_ratio")) * 0.3 +
          least(lit(1.0), col("stop_ratio") * 5) * 0.3))
      .drop("__qc")
  }

  /** #45 text_quality: length/punctuation/stopword/case ratios combined
    * into a 0–1 quality score (quality heuristics in the spirit of
    * C4/Gopher-style filters, deterministic arithmetic only).
    */
  def textQuality(documents: DataFrame): DataFrame =
    withQuality(documents)
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("avg_word_len"),
        col("punct_ratio"), col("upper_ratio"), col("stop_ratio"),
        col("quality_score"))

  /** #46 token_count: whitespace tokens, BPE-ish regex tokens (letter
    * runs | digit runs | single punctuation), and the chars/4 estimate.
    */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(split(col("text"), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))).as("regex_tokens"),
      ceil(length(col("text")) / 4.0).as("est_bpe"))

  /** Deterministic train/val/test assignment by key hash — the standard
    * reproducible corpus split (no RNG state, stable across runs and
    * cluster sizes, new documents never reshuffle old assignments).
    * Fractions are cumulative cuts of the 10k-bucket hash space.
    */
  def splitByHash(df: DataFrame, keyCol: String,
                  valFrac: Double = 0.05, testFrac: Double = 0.05): DataFrame = {
    val bucket = pmod(xxhash64(col(keyCol)), lit(10000L))
    df.withColumn("split",
      when(bucket < (valFrac * 10000).toLong, "val")
        .when(bucket < ((valFrac + testFrac) * 10000).toLong, "test")
        .otherwise("train"))
  }

  /** Deterministic sub-sampling by key hash (rate ∈ [0,1]) — corpus
    * downsampling that composes with splitByHash (independent salts).
    */
  def sampleByHash(df: DataFrame, keyCol: String, rate: Double): DataFrame =
    df.filter(pmod(xxhash64(col(keyCol), lit("sample")), lit(10000L)) <
      (rate * 10000).toLong)

  /** #45b doc_repetition: boilerplate detection in the spirit of the
    * Gopher repetition filters — per document, the share of bigram
    * occurrences taken by the single most frequent bigram (`rep_ratio`,
    * high for templated/repeated text) and lexical diversity
    * (`uniq_token_ratio`). Token diversity is pure array algebra in one
    * projection; bigram concentration runs on NON-distinct posting rows
    * (posexplode + lead, the [[Dedup.shinglePostings]] plan without the
    * distinct) through two per-doc-bounded, map-side-combinable
    * aggregations — no per-row arrays of counts, no window over corpus
    * rows.
    */
  def docRepetition(documents: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = documents
      .select(col("doc_id"), posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("w2", lead(col("w"), 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), xxhash64(concat_ws(" ", col("w"), col("w2"))).as("h"))
    val rep = grams.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("nb"), max(col("c")).as("tb"))
    val toks = Dedup.tokens(col("text"))
    documents
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("bigint").as("n_tokens"),
        Publish.round6(size(array_distinct(col("__toks"))).cast("double") /
          nullif(size(col("__toks")).cast("double"), lit(0.0)))
          .as("uniq_token_ratio"))
      .join(rep, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("uniq_token_ratio"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("tb"), lit(0L)).as("top_bigram_n"),
        Publish.round6(col("tb").cast("double") /
          nullif(col("nb").cast("double"), lit(0.0))).as("rep_ratio"))
  }

  /** #47e stratified_sample: deterministic corpus rebalancing — every
    * stratum (language here) is downsampled to ≈ the smallest stratum's
    * size, the standard anti-dominance step before training-mix export.
    * Membership is a pure-arithmetic multiplicative hash of doc_id
    * (engine-portable, no RNG state): a document's fate never changes
    * with cluster size, partitioning, or corpus growth within its
    * stratum threshold.
    *
    * Scale shape: stratum counts are a tiny aggregate joined back by
    * BROADCAST; the corpus side is one scan + filter — no shuffle, no
    * sort, no window.
    */
  def stratifiedSample(documents: DataFrame, stratumCol: String = "lang",
                       buckets: Int = 1000): DataFrame =
    sampleByStratumRate(documents, stratumCol, buckets,
      ratio => ratio)

  /** Shared shape of the stratum resamplers ([[stratifiedSample]],
    * [[corpusMix]]): per-stratum counts → broadcast threshold table
    * keyed by `rateOf(n_min / n_stratum)` → one corpus scan filtered by
    * the multiplicative doc_id hash. The hash, bucket arithmetic and
    * output projection live HERE once, so the two policies cannot drift
    * apart; `rateOf` maps the floor-stratum ratio (∈ (0, 1]) to the
    * keep rate — identity for the hard floor, a tempering curve for
    * soft rebalancing.
    */
  private def sampleByStratumRate(documents: DataFrame, stratumCol: String,
                                  buckets: Int,
                                  rateOf: Column => Column): DataFrame = {
    val counts = documents.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_stratum"))
    val minC = counts.agg(min(col("n_stratum")).as("n_min"))
    val thr = counts.crossJoin(broadcast(minC))
      .select(col(stratumCol), col("n_stratum"),
        floor(lit(buckets.toDouble) *
          rateOf(col("n_min").cast("double") / col("n_stratum").cast("double")))
          .cast("bigint").as("keep_thr"))
    documents
      .select(col("doc_id"), col(stratumCol))
      .join(broadcast(thr), Seq(stratumCol))
      .filter(pmod(pmod(col("doc_id"), lit(99991L)) * lit(2654435761L),
        lit(buckets.toLong)) < col("keep_thr"))
      .select(col("doc_id"), col(stratumCol), col("n_stratum"), col("keep_thr"))
  }

  /** #47f corpus_mix: temperature-based rebalancing — the multinomial
    * α-smoothing used to set multilingual pretraining mixes (α = 0.5
    * here, i.e. T = 2): post-sample stratum sizes follow n_s^α instead
    * of [[stratifiedSample]]'s hard floor at the smallest stratum.
    * Keep rate per stratum is (n_min/n_s)^(1−α) = sqrt(n_min/n_s) — the
    * smallest stratum is kept whole and larger ones shrink toward (not
    * to) it. The formula is deliberately a pairwise ratio, never a
    * cross-stratum Σw^α normalizer: divide, sqrt and multiply are all
    * IEEE-754 correctly-rounded, so the threshold is bit-identical on
    * any engine, while a floating SUM over strata would depend on
    * aggregation order. Membership reuses the multiplicative doc_id
    * hash (engine-portable, growth-stable).
    *
    * Scale shape: identical to stratifiedSample — a tiny broadcast
    * threshold table against one corpus scan + filter; no shuffle of
    * corpus rows.
    */
  def corpusMix(documents: DataFrame, stratumCol: String = "lang",
                buckets: Int = 1000): DataFrame =
    sampleByStratumRate(documents, stratumCol, buckets,
      ratio => sqrt(ratio))

  /** #47g vocab_topk: per-language top-k token frequencies — the
    * vocabulary-coverage diagnostic published with a corpus snapshot
    * (tokenizer fit, stopword drift, boilerplate tokens surface here).
    *
    * Scale shape: one posting explode → (lang, token) count with map-side
    * combine, then the bounded [[TopK.groupedWithRank]] aggregate — the
    * partial aggregate truncates to k per language BEFORE the shuffle,
    * so the final exchange moves ≤ k·partitions rows per language
    * instead of the whole vocabulary, and there is no per-language
    * window pinning a vocabulary-sized slice to one task.
    */
  def vocabTopK(documents: DataFrame, k: Int = 20): DataFrame = {
    val counts = documents
      .select(col("lang"), explode(Dedup.nonEmptyTokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    TopK.groupedWithRank(counts, Seq(col("lang")), k,
      Seq(TopK.descNum(col("n_occurrences")), col("token")))
      .select(col("lang"), col("rk"), col("token"), col("n_occurrences"))
  }

  /** Corpus composition report: per-language document counts, size and
    * quality aggregates — what a training-data pipeline publishes with
    * every corpus snapshot.
    */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("__words", size(split(col("text"), "\\s+")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        avg(col("__words")).as("avg_words"),
        countDistinct(col("source")).as("n_sources"))

  /** One PII stage of [[piiScrub]]: the matches of `regex` become
    * `replacement`, and `needs` is the [[graft.functions.PiiHints]] bit a
    * match cannot do without.
    */
  final case class PiiPattern(name: String, regex: String, replacement: String, needs: Int)

  /** PII patterns applied in order by [[piiScrub]]. The regexes stay
    * inside the Java∩RE2 syntax subset (character classes, bounded
    * repeats, `\b`) so a SQL engine can replay them verbatim. Order
    * matters: IP before the long-digit ID rule before phone, so a dotted
    * quad is never half-eaten by the looser digit-run patterns.
    * Replacement tokens carry no `@` and no digit, so later stages never
    * re-match redacted spans, and a text without the character a stage
    * needs still lacks it when that stage runs.
    */
  val PiiPatterns: Seq[PiiPattern] = {
    import graft.functions.PiiHints.{At, Digit}
    Seq(
      PiiPattern("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>", At),
      PiiPattern("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>", Digit),
      PiiPattern("id", "\\b[0-9]{9,}\\b", "<ID>", Digit),
      PiiPattern("phone", "\\+?[0-9][0-9() .-]{6,}[0-9]", "<PHONE>", Digit))
  }

  /** `run`, or `skip` when `hints` (a [[graft.functions.PiiHints]]
    * column) lacks the `needs` bit. NULL hints (NULL text) take `run`,
    * which keeps the unguarded result.
    */
  private def unlessMissing(hints: Column, needs: Int, skip: Column, run: Column): Column =
    when(hints.bitwiseAND(needs) === 0, skip).otherwise(run)

  /** #47h pii_scrub: PII redaction — the privacy pass every
    * training-data release runs before export. Patterns apply
    * sequentially; each stage counts its matches on the
    * previous stage's text (so a span redacted by an earlier, more
    * specific rule is never double-counted by a looser one) and
    * replaces them with a token free of `@` and digits. Output keeps
    * the fully redacted text plus per-category counts and the total.
    *
    * Each stage runs only on documents holding the character it needs
    * (`@` for email, a digit for the rest), read from one byte scan
    * ([[graft.functions.PiiHints]]); without it the stage cannot match,
    * so its count is 0 and its text unchanged.
    *
    * Scale shape: embarrassingly parallel — one projection of guarded
    * `regexp_replace`/`regexp_extract_all` per document, no shuffle, no
    * UDF; stays inside whole-stage codegen.
    */
  def piiScrub(documents: DataFrame, textCol: String = "text",
               passthrough: Seq[String] = Nil): DataFrame = {
    val hints = col("__pii_hints")
    val start = documents.withColumn("__t0", col(textCol))
      .withColumn("__pii_hints", graft.functions.TextKernels.piiHints(col(textCol)))
    val (staged, lastCol) = PiiPatterns.zipWithIndex.foldLeft((start, "__t0")) {
      case ((d, cur), (p, i)) =>
        val next = s"__t${i + 1}"
        (d.withColumn(s"n_${p.name}", unlessMissing(hints, p.needs, lit(0),
            size(regexp_extract_all(col(cur), lit(p.regex), lit(0)))))
          .withColumn(next, unlessMissing(hints, p.needs, col(cur),
            regexp_replace(col(cur), p.regex, p.replacement))), next)
    }
    val countCols = PiiPatterns.map(p => col(s"n_${p.name}"))
    // `passthrough` keeps caller-named input columns (e.g. `source` for
    // the per-source report) in the output — the scrub already has them
    // in hand, and re-joining them back at doc grain would cost a
    // corpus shuffle for a column that never left (r9 review finding).
    staged.select(
      (col("doc_id") +: passthrough.map(col)) ++ countCols ++ Seq(
        countCols.reduce(_ + _).as("n_pii"),
        col(lastCol).as("clean_text")): _*)
  }

  /** The scrub as ONE column (the sequential [[PiiPatterns]] replace
    * fold, no counts) — the projection-form stage [[graft.CorpusPipeline]]
    * runs in its release pass. Same patterns and guards as [[piiScrub]],
    * so the two cannot drift on WHAT is redacted; use [[piiScrub]] when
    * the per-category counts matter. Consecutive stages that need the
    * same character share one guard, so the email stage runs on texts
    * with an `@` and the three digit stages on texts with a digit.
    */
  def piiScrubCol(text: Column): Column = {
    val hints = graft.functions.TextKernels.piiHints(text)
    val runs = PiiPatterns.foldLeft(List.empty[(Int, List[PiiPattern])]) {
      case ((needs, ps) :: rest, p) if p.needs == needs => (needs, ps :+ p) :: rest
      case (acc, p) => (p.needs, List(p)) :: acc
    }.reverse
    runs.foldLeft(text) { case (c, (needs, ps)) =>
      unlessMissing(hints, needs, c,
        ps.foldLeft(c)((t, p) => regexp_replace(t, p.regex, p.replacement)))
    }
  }

  /** #47h2 pii_report: per-source PII rollup — the auditor's face of
    * [[piiScrub]] (a data-release review asks "WHERE does the PII come
    * from and how much", not for 10B redacted rows): per source, doc
    * count, docs containing any PII, per-category match totals, total
    * matches, and the affected-doc share. Counts are [[piiScrub]]'s own
    * sequential-stage counts, so the report can never disagree with
    * what the scrub actually redacted.
    *
    * Scale shape: the scrub is a zero-shuffle projection with `source`
    * passed through (never re-joined), so the whole report is ONE
    * map-side-combinable groupBy(source) to a bounded row set.
    */
  def piiReport(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val per = piiScrub(documents, textCol, passthrough = Seq("source"))
      .drop("clean_text")
    val typeSums = PiiPatterns.map(p =>
      sum(col(s"n_${p.name}")).cast("long").as(s"n_${p.name}"))
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum((col("n_pii") > 0).cast("long")).as("n_docs_with_pii")) ++
      typeSums :+ sum(col("n_pii")).cast("long").as("n_pii_total")
    per.groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("pii_doc_share",
        Publish.round6(col("n_docs_with_pii").cast("double") / col("n_docs")))
  }

  /** Default blocklist — stand-ins for the NSFW/unsafe wordlists real
    * curation pipelines filter on (the synthetic corpus contains none
    * of these; tests pass corpus-specific terms explicitly).
    */
  val DefaultBlocklist: Seq[String] = Seq("spam", "casino", "viagra", "xxx")

  /** #47i blocklist_filter: banned-term filtering — per document, how
    * many tokens hit a blocklist, the blocked share, and a keep/drop
    * decision (`keep` = blocked share ≤ `maxRatio`; empty docs keep).
    * Both counts come from one native pass over the non-empty
    * [[Dedup.tokens]] words ([[graft.functions.BlocklistCounts]]: a
    * hash-set probe per token) — zero shuffle, the right shape for the
    * curated lists this models, which travel with the plan. For
    * vocabulary-scale lists (millions of terms) use
    * [[blocklistFilterJoined]], which broadcasts the term table instead
    * of embedding it in every task's closure.
    */
  def blocklistFilter(documents: DataFrame, terms: Seq[String] = DefaultBlocklist,
                      maxRatio: Double = 0.05): DataFrame = {
    require(terms.nonEmpty, "blocklist must not be empty")
    documents
      .select(col("doc_id"),
        graft.functions.TextKernels.blocklistCounts(col("text"), terms).as("__bc"))
      .select(col("doc_id"),
        col("__bc.n_tokens").cast("bigint").as("n_tokens"),
        col("__bc.n_blocked").cast("bigint").as("n_blocked"))
      .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
        Publish.round6(col("n_blocked").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0))).as("blocked_ratio"),
        (col("n_tokens") === 0 ||
          col("n_blocked").cast("double") <= col("n_tokens").cast("double") * maxRatio)
          .cast("int").as("keep"))
  }

  /** The keep verdict as ONE boolean column — [[blocklistFilter]]'s
    * decision (same counts, same empty-doc-keeps rule) in the
    * projection form [[graft.CorpusPipeline]] ANDs into its single
    * gate pass.
    */
  def blocklistKeepCol(text: Column, terms: Seq[String],
                       maxRatio: Double = 0.05): Column =
    blocklistKeep(blocklistCountsCol(text, terms), maxRatio)

  /** The blocklist counts struct (`n_tokens`, `n_blocked`) of `text`. */
  def blocklistCountsCol(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "blocklist must not be empty")
    graft.functions.TextKernels.blocklistCounts(text, terms)
  }

  /** [[blocklistKeepCol]]'s verdict over a [[blocklistCountsCol]] struct
    * — for a gate that projects the counts once and filters on them.
    */
  def blocklistKeep(counts: Column, maxRatio: Double): Column = {
    val nTokens = counts("n_tokens")
    nTokens === 0 || counts("n_blocked").cast("double") <= nTokens.cast("double") * maxRatio
  }

  /** Large-blocklist twin of [[blocklistFilter]]: explode tokens, LEFT
    * broadcast-join the term table, one map-side-combinable per-doc
    * aggregate — hash probes instead of a per-token linear `isin` scan.
    * Spec-asserted row-equal to the array form on the same terms.
    */
  def blocklistFilterJoined(documents: DataFrame, terms: DataFrame,
                            maxRatio: Double = 0.05): DataFrame = {
    val marked = documents
      .select(col("doc_id"), explode(Dedup.nonEmptyTokens(col("text"))).as("token"))
      .join(broadcast(terms.select(col("term").as("token"),
        lit(1L).as("__hit"))), Seq("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(coalesce(col("__hit"), lit(0L))).as("n_blocked"))
    documents.select(col("doc_id"))
      .join(marked, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_blocked"), lit(0L)).as("n_blocked"))
      .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
        Publish.round6(col("n_blocked").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0))).as("blocked_ratio"),
        (col("n_tokens") === 0 ||
          col("n_blocked").cast("double") <= col("n_tokens").cast("double") * maxRatio)
          .cast("int").as("keep"))
  }

  /** #47j length_profile: per-stratum document-length distribution —
    * the corpus-profiling table (min/quantiles/max of words and the
    * median char length) published beside every snapshot to catch
    * truncation bugs and length-filter drift.
    *
    * Quantiles here are EXACT (`percentile`): Spark's exact percentile
    * aggregates a value→count map, so memory tracks the DISTINCT value
    * domain — document lengths are small bounded integers, so the map
    * stays tiny even over 100 TB of rows, and exactness buys a
    * cross-engine oracle (`quantile_cont` interpolates identically).
    * For unbounded or continuous domains use [[lengthProfileApprox]]
    * (t-digest sketch, fixed memory, no exactness guarantee).
    */
  def lengthProfile(documents: DataFrame, stratumCol: String = "lang"): DataFrame = {
    val pcts = array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))
    documents
      .select(col(stratumCol),
        size(Dedup.nonEmptyTokens(col("text"))).as("__w"),
        length(col("text")).as("__c"))
      .groupBy(col(stratumCol))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("__w")).as("min_words"),
        percentile(col("__w"), pcts).as("__wq"),
        max(col("__w")).as("max_words"),
        percentile(col("__c"), lit(0.5)).as("__cmed"),
        Publish.round6(avg(col("__w"))).as("avg_words"))
      .select(col(stratumCol), col("n_docs"), col("min_words"),
        Publish.round6(element_at(col("__wq"), 1)).as("p25_words"),
        Publish.round6(element_at(col("__wq"), 2)).as("p50_words"),
        Publish.round6(element_at(col("__wq"), 3)).as("p75_words"),
        Publish.round6(element_at(col("__wq"), 4)).as("p90_words"),
        col("max_words"), col("avg_words"),
        Publish.round6(col("__cmed")).as("p50_chars"))
  }

  /** Sketch-based twin of [[lengthProfile]] for unbounded value
    * domains: `percentile_approx` keeps a fixed-size sketch per group
    * instead of the exact value→count map. Not oracle-comparable
    * across engines (sketch merge order differs) — spec-checked against
    * the exact form within tolerance instead.
    */
  def lengthProfileApprox(documents: DataFrame, stratumCol: String = "lang",
                          accuracy: Int = 10000): DataFrame =
    documents
      .select(col(stratumCol),
        size(Dedup.nonEmptyTokens(col("text"))).as("__w"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("__w"), array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)),
          lit(accuracy)).as("__wq"))
      .select(col(stratumCol), col("n_docs"),
        element_at(col("__wq"), 1).as("p25_words"),
        element_at(col("__wq"), 2).as("p50_words"),
        element_at(col("__wq"), 3).as("p75_words"),
        element_at(col("__wq"), 4).as("p90_words"))

  /** #47k lm_score: n-gram language-model perplexity scoring — the
    * CCNet-family quality filter (Wenzek et al. 2020): docs whose token
    * transitions are improbable under a corpus-fitted LM are boilerplate
    * / gibberish candidates, docs that are TOO probable are templates.
    * Here the bigram LM is fitted on the scored corpus itself in the
    * same job (self-perplexity); fitting on a reference corpus is the
    * same plan with a second input.
    *
    * Model: add-one-smoothed bigram LM over [[Dedup.tokens]] words,
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V) with c(w1·) the
    * bigram-context count (= Σ_w2 c(w1,w2)) and V the corpus unigram
    * vocabulary. Per doc: avg_logprob = Σ m·ln P / Σ m over its bigram
    * OCCURRENCES (m = per-doc multiplicity), ppl = exp(−avg_logprob).
    * Docs with < 2 tokens have no bigram distribution and are excluded.
    *
    * Scale shape: one tokenize pass → per-doc bigram counts (map-side
    * combinable: (doc, w1, w2) keys), model counts derived FROM those
    * counts (never a second corpus scan), and scoring joins the per-doc
    * counts to the model on the same (w1, w2)/(w1) keys the counts
    * already shuffled on — co-partitioned, no replay of raw postings.
    * V is a 1-row aggregate broadcast into the scorer. All counts stay
    * exact integers; the only float steps are the probability divide,
    * ln, and the Σ m·ln fold, rounded to 6 before ranking/compare.
    */
  def lmScore(documents: DataFrame): DataFrame = {
    // r12 NEGATIVE RESULT — measured and reverted: fanOutScan here (the
    // 0.8 s serial bigram-walk stage) traded one serial stage for a
    // repartition exchange plus 32-way stages across every consumer of
    // the checkpoint; at sf0.1 the per-task fixed costs exceeded the
    // serialism it removed (lm_buckets wall 1.78 → 2.1–3.2 s, JobProbe
    // idle). At corpus scale the input arrives multi-split and the
    // fan-out is a no-op, so the serial stage is a bench-size artifact,
    // not a scale risk.
    val toks = documents
      .select(col("doc_id"), Dedup.nonEmptyTokens(col("text")).as("__t"))
    // Per-doc bigram multiplicities: the ONLY pass over raw postings —
    // made physically true by the checkpoint: dbg feeds THREE
    // consumers (bc, cc via bc, the scorer join) and without
    // materialization each re-derives the tokenize+explode+count from
    // the corpus scan (ReuseProbe read scans=4, liveShuffles=10 — the
    // guarded-postings rule). Checkpoint rows are (doc_id, w1, w2, m) —
    // token-scale but post-fold, far smaller than the exploded
    // postings. The vocab fold keeps its own corpus scan (it must see
    // sub-2-token docs dbg excludes): 2 scans total, not 4.
    // r12: bigrams ride the native TokenKgrams walk (one pass per doc,
    // no interpreted transform/element_at lambda); tokens are space-free
    // by [[Dedup.tokens]]'s split class, so the "w1 w2" gram splits back
    // losslessly and the (doc_id, w1, w2, m) rows are identical.
    val dbg = toks.filter(size(col("__t")) >= 2)
      .select(col("doc_id"), explode(graft.functions.TokenKgrams
        .tokenKgrams(col("__t"), 2, distinct = false)).as("__g"))
      .select(col("doc_id"),
        substring_index(col("__g"), " ", 1).as("w1"),
        substring_index(col("__g"), " ", -1).as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
      .transform(graft.Ckpt.frame)
    // Model counts fold out of the per-doc counts (smaller input).
    val bc = dbg.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c12"))
    val cc = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = toks.select(explode(col("__t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = dbg
      .join(bc, Seq("w1", "w2"))
      .join(cc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lnp", log((col("c12") + lit(1.0)) / (col("c1") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        (sum(col("m") * col("__lnp")) / sum(col("m"))).as("__lp"))
    scored.select(col("doc_id"), col("n_bigrams"),
      Publish.round6(col("__lp")).as("avg_logprob"),
      Publish.round6(exp(-col("__lp"))).as("ppl"))
  }

  /** #47k2 lm_score_ref: perplexity under a REFERENCE-fitted bigram LM —
    * the CCNet deployment shape (Wenzek et al. 2020): the model is
    * fitted on a trusted slice (`refFilter`, e.g. the in-domain
    * language) and EVERY document is scored against it, so
    * out-of-domain / gibberish docs surface as high-ppl outliers even
    * when they are internally self-consistent (which the self-fitted
    * [[lmScore]] cannot see — a template farm is low-ppl against
    * itself).
    *
    * Same tokenization, counts, and add-one smoothing as [[lmScore]];
    * exactly two deltas: model counts (c12, c1·) and vocabulary V fold
    * over REFERENCE docs only, and the scorer LEFT-joins the model so
    * unseen bigrams score the smoothing floor — P = 1/(c1·+V), down to
    * 1/V for a wholly unseen context. Docs with < 2 tokens are excluded
    * (no bigram distribution), reference or not; a NULL refFilter
    * verdict means not-reference (row membership never depends on a
    * predicate's nullability — ADVICE r6). A degenerate reference
    * slice — refFilter matching no docs, or only sub-2-token docs
    * (vocabulary but NO bigrams: every doc would silently score the
    * floor ppl 1.0 against an empty model) — is a configuration error
    * and raises loudly from inside the lazy plan (the
    * maxPostingDf guard pattern), not a silent constant score.
    *
    * Scale shape: identical to lmScore — the per-doc bigram count is
    * the only raw-posting pass; the ref flag rides the count rows
    * (constant per doc, folded with bool_or), so the model fold is a
    * FILTER over the per-doc counts, never a second corpus scan. V is
    * a 1-row aggregate broadcast into the scorer.
    */
  def lmScoreRef(documents: DataFrame, refFilter: Column): DataFrame = {
    // No fanOutScan — the lmScore negative-result note.
    val toks = documents
      .select(col("doc_id"), coalesce(refFilter, lit(false)).as("__ref"),
        Dedup.nonEmptyTokens(col("text")).as("__t"))
    // Native bigram walk — the lmScore r12 rewrite, ref flag riding.
    val dbg = toks.filter(size(col("__t")) >= 2)
      .select(col("doc_id"), col("__ref"), explode(graft.functions.TokenKgrams
        .tokenKgrams(col("__t"), 2, distinct = false)).as("__g"))
      .select(col("doc_id"), col("__ref"),
        substring_index(col("__g"), " ", 1).as("w1"),
        substring_index(col("__g"), " ", -1).as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"), bool_or(col("__ref")).as("__ref"))
      // Four consumers here (bc, cc via bc, the bigram guard, the
      // scorer) — the lmScore checkpoint rule, see that method's note.
      .transform(graft.Ckpt.frame)
    val bc = dbg.filter(col("__ref"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c12"))
    val cc = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // 1-row frame; the guard fires once at vocab-fold time, not per
    // scored row (the guarded-postings raise_error idiom). It checks
    // BOTH degenerate shapes: no reference tokens at all, and a
    // reference of only sub-2-token docs — the latter has a vocabulary
    // but zero bigrams, and without the check every doc would silently
    // score the floor ppl(1.0) against an empty model.
    val refBigrams = dbg.filter(col("__ref"))
      .agg(coalesce(sum(col("m")), lit(0L)).as("__nbg"))
    val vocab = toks.filter(col("__ref"))
      .select(explode(col("__t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
      .crossJoin(refBigrams)
      .withColumn("v", when(col("v") <= 0 || col("__nbg") <= 0, raise_error(lit(
        "lmScoreRef: degenerate reference slice — refFilter selected no docs with >= 2 tokens, so there is no bigram model to score against")))
        .otherwise(col("v")))
      .drop("__nbg")
    val scored = dbg
      .join(bc, Seq("w1", "w2"), "left")
      .join(cc, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__lnp",
        log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        (sum(col("m") * col("__lnp")) / sum(col("m"))).as("__lp"))
    scored.select(col("doc_id"), col("n_bigrams"),
      Publish.round6(col("__lp")).as("avg_logprob"),
      Publish.round6(exp(-col("__lp"))).as("ppl"))
  }

  /** #47x lm_buckets: CCNet-style perplexity partition (Wenzek et al.
    * 2020's head/middle/tail): per language, split the corpus at the
    * [[lmScore]] ppl terciles — head trains as-is, middle gets a second
    * look, tail is dropped or re-filtered. Thresholds are exact
    * per-lang terciles ((n−1)p interpolation, the length_profile
    * convention) over the 6-ROUNDED ppl, themselves 6-rounded BEFORE
    * the comparison, so the bucket verdict is exactly as portable as
    * the metric (the gopher_filter policy). Docs without a ppl (fewer
    * than 2 tokens) are excluded, matching lm_score.
    *
    * Shape: the lm_score pipeline + one ≤n_langs-row exact-tercile
    * aggregate BROADCAST back + a projection. `percentile` sorts
    * per-lang groups exactly — the oracle-carrying form; at corpus
    * scale swap `percentile_approx` in with a stated error budget (the
    * [[lengthProfileApprox]] split).
    */
  def lmBuckets(documents: DataFrame): DataFrame = {
    // The scored frame feeds TWO consumers (the tercile aggregate and
    // the final join) — without materialization the whole bigram-LM
    // pipeline executes twice (the guarded-postings rule: AQE reuses
    // no exchanges across separately-planned branches). Narrow rows
    // (doc_id, lang, ppl), so the checkpoint is doc-count × ~30 bytes.
    val ppl = lmScore(documents).select(col("doc_id"), col("ppl"))
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .transform(graft.Ckpt.frame)
    val th = ppl.groupBy(col("lang")).agg(
      Publish.round6(percentile(col("ppl"), lit(1.0 / 3))).as("t33"),
      Publish.round6(percentile(col("ppl"), lit(2.0 / 3))).as("t66"))
    ppl.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ppl"), col("t33"), col("t66"),
        when(col("ppl") <= col("t33"), "head")
          .when(col("ppl") <= col("t66"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** #47 doc_fingerprint: polynomial rolling hash over word tokens —
    * term(w) = 131·len(w) + code(first char), fingerprint = left fold
    * h ← (31·h + term) mod 1e9+7. Bounded intermediates (< 2⁶³), engine-
    * portable integer arithmetic.
    */
  def docFingerprint(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val terms = transform(toks,
      w => (length(w) * 131 + ascii(w)).cast("bigint"))
    documents.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      aggregate(terms, lit(0L),
        (h, v) => (h * 31 + v) % 1000000007L).as("fingerprint"))
  }
}
