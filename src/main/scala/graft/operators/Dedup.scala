package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ListPairs

/** Document deduplication for LLM-training-data pipelines (SURVEY §2
  * #37–40): exact hashing, MinHash-LSH banding, SimHash, and n-gram
  * Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB): no operator here ever
  * joins on raw text or enumerates the full document cross product.
  * - exact: one hash-groupBy (map-side combinable).
  * - minhash: per-doc signatures are fixed-size (Perms longs) regardless
  *   of document length; the candidate join runs on (band, band_key)
  *   keys; exact Jaccard runs only on candidate pairs.
  * - simhash: per-doc 64-bit signature; candidates via 16-bit chunk
  *   collisions (hamming ≤ 3 within any chunk guarantee needs 4 chunks).
  * - ngram_jaccard: candidates pre-bucketed by (source, lang) metadata.
  * All signature work is Catalyst HOFs (transform/filter/aggregate) over
  * token arrays — codegen'd, no Scala UDFs, parallel across documents.
  *
  * Expression hygiene: fan-out derivations (32 minhash perms, 64 simhash
  * bit counts) read a MATERIALIZED hash-array column, never an inline
  * tokenize+hash expression — inlining would splice the tokenization into
  * every derived expression and re-run it Perms/64 times per row. Set
  * intersections similarly collapse to scalar (n_common, n_total) in one
  * projection before any filter references them.
  */
object Dedup {

  /** Word tokens, lowercased. Unicode-aware (round-8): splits on runs of
    * anything outside the Unicode letter/number categories, so Vietnamese
    * diacritics, Cyrillic, Arabic, CJK, … survive as token content instead
    * of every non-ASCII letter acting as a separator (the round-7 verdict's
    * top finding — the ASCII rule silently no-op'd dedup/decontamination/
    * quality on exactly the multilingual corpus a 100 TB pipeline curates).
    * `\p{L}`/`\p{N}` are the Unicode general categories, spelled the same
    * in Java regex and RE2 (the DuckDB oracle) — the pii_scrub
    * portability rule. Scripts written without word separators segment
    * at CHARACTER grain (the Lucene CJKAnalyzer convention, r8): every
    * Han/Hiragana/Katakana/Hangul letter is a token of its own, so CJK
    * text yields per-char tokens — and the bigram shingles every
    * dedup/decontamination op builds become character bigrams, the
    * standard CJK n-gram unit. The oracle replays it with RE2's
    * `\p{Han}`-family script classes (spelling differs from Java's
    * `IsHan`, semantics match). Word-SHAPE profile rules (letter-token
    * stopword hits, whitespace word lengths) deliberately stay
    * run-grain — they measure layout, not content identity.
    *
    * One native pass over `lower(text)`
    * ([[graft.functions.TextKernels.wordTokens]]), element-equal to the
    * regex form it replaced (`split(regexp_replace(lower(text),
    * "([\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}])", " $1 "),
    * "[^\p{L}\p{N}]+")`, kept in the test tree as the reference),
    * including Java `split(…, -1)`'s edge empties: a leading and a
    * trailing `""` around separator or CJK edges, and `[""]` for `""`.
    */
  def tokens(text: Column): Column =
    graft.functions.TextKernels.wordTokens(text, dropEmpty = false)

  /** [[tokens]] without the empty edge elements — what every consumer
    * that counts or hashes words wants; same single pass.
    */
  def nonEmptyTokens(text: Column): Column =
    graft.functions.TextKernels.wordTokens(text, dropEmpty = true)

  /** Sentence-terminator class shared by [[sentenceDedup]] and
    * [[TextSignals.sentenceStats]] (and their oracles verbatim): ASCII
    * `.!?` plus the CJK full stop/full-width marks, Arabic question mark
    * and ellipsis. Literal characters only — identical in Java and RE2.
    */
  val SentenceClass = "[.!?。！？؟…]+"

  /** The sentence-split convention as ONE expression ([[SentenceClass]]
    * runs, trimmed, empties dropped) — shared by [[sentenceDedup]] and
    * [[sentenceDedupClean]] so the report/cutter pairing (`n_cut` ≡
    * `n_dup_sents`, spec-pinned) cannot drift through a one-sided edit.
    */
  private[operators] def trimmedSentences: Column =
    filter(transform(split(col("text"), SentenceClass), s => trim(s)),
      s => s =!= "")

  /** Distinct word-bigram shingles from a MATERIALIZED token-array
    * column. `t` must be a column reference, not an inline split(...)
    * expression: element_at(t, i) inside the lambda evaluates `t` on
    * every element access, so an inline split would re-tokenize the
    * document O(n) times (observed 10×+ slowdowns). Empty for 1-token
    * docs.
    */
  def bigramShinglesFromTokens(t: Column): Column =
    when(size(t) >= 2,
      array_distinct(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))))
      .otherwise(array().cast("array<string>"))

  /** doc_id + `hs` (hashed shingle set): tokens and shingles materialize
    * as separate projections so each stage reads the previous stage's
    * array buffer. Each shingle string is hashed once; all downstream set
    * algebra (intersections, minhash perms) runs on fixed 8-byte values.
    */
  def withHashedShingles(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"), col("lang"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("source"), col("lang"),
        bigramShinglesFromTokens(col("__toks")).as("__sh"))
      .select(col("doc_id"), col("source"), col("lang"),
        transform(col("__sh"), s => xxhash64(s)).as("hs"))

  /** Spec convenience: shingles straight from text (single-expression
    * path, fine for fixtures).
    */
  def bigramShingles(text: Column): Column = {
    val t = tokens(text)
    when(size(t) >= 2,
      array_distinct(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact Jaccard of two distinct-element arrays (|∩| / |∪|). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / nullif((size(a) + size(b) - inter).cast("double"), lit(0.0))
  }

  /** #37 dedup_exact: group identical texts by sha2-256; canonical id =
    * lowest doc_id, with the copy count per content group.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        min(length(col("text"))).as("n_chars"))

  /** Canonical content key: sorted distinct token set, space-joined.
    * The normalize-before-hash step of exact dedup — word order,
    * repetition and case stop mattering, so reshuffled boilerplate
    * collapses to one key. Engine-portable: only equality of the key is
    * ever used, so even sort-collation differences across engines are
    * harmless (any self-consistent order yields the same groups over
    * `\p{L}\p{N}`-class tokens).
    */
  def canonicalKey(text: Column): Column =
    concat_ws(" ", array_sort(array_distinct(nonEmptyTokens(text))))

  /** #37d dedup_incremental: batch-against-corpus dedup — the shape a
    * production pipeline actually runs daily: not "dedup this corpus
    * against itself" but "which of today's documents are already in the
    * seen corpus". Keys are [[canonicalKey]] hashes (exact-text keying
    * is the degenerate case; pass `keyOf = sha2(col("text"), 256)`).
    *
    * Scale shape: both sides reduce to (key-hash → distinct) BEFORE the
    * join, so the shuffle moves 8-byte keys, never text; the incoming
    * batch is a day's slice joining a corpus-wide key set — at 100 TB
    * the seen-key set is the big side, and the sort-merge/shuffled-hash
    * join on a 64-bit key is exactly what Spark distributes well. For
    * the common case where most incoming docs are novel, use
    * [[incrementalNewBloom]]: definite-new rows never shuffle.
    */
  def incrementalNew(documents: DataFrame, seenPred: Column): DataFrame = {
    // keyed feeds BOTH branches (seen-key set + incoming probe) — the
    // guarded-postings rule: without materialization the corpus scan +
    // tokenize/sort canonical-key derivation runs once per consumer
    // (ReuseProbe r10: scans 2 → 1). The held frame is ~40 bytes/row
    // (ids + 8-byte key + flags), never text — safe to pin at scale.
    val keyed = documents.select(col("doc_id"), col("source"), col("lang"),
      xxhash64(canonicalKey(col("text"))).as("__ck"), seenPred.as("__seen"))
      .transform(graft.Ckpt.frame)
    val seenKeys = keyed.filter(col("__seen"))
      .select(col("__ck")).distinct()
      .withColumn("__hit", lit(1))
    keyed.filter(!col("__seen"))
      .join(seenKeys, Seq("__ck"), "left_outer")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("__hit"), lit(0)).as("is_dup"),
        (coalesce(col("__hit"), lit(0)) === 0).cast("int").as("is_new"))
  }

  /** Driver memory budget for a serialized bloom sketch (bytes): the
    * sketch is built ON THE DRIVER and shipped as a plan literal, so
    * its size is driver-heap and task-broadcast cost, not executor
    * state. 256 MB ≈ 2.1×10⁹ bits ≈ 2.2×10⁸ keys at fpp 0.01 — past
    * that the right plan is the exact distributed key join
    * ([[incrementalNew]] — a shuffle on 8-byte keys that Spark
    * distributes fine at any scale), or split the seen set into ≤budget
    * shards and AND the verdicts.
    */
  val MaxBloomSketchBytes: Long = 256L * 1024 * 1024

  /** Serialized size (bytes) of Spark's bloom sketch for (n, fpp):
    * optimal bits = ⌈−n·ln(fpp)/ln²2⌉ (the BloomFilter.create formula).
    */
  def bloomSketchBytes(expectedItems: Long, fpp: Double): Long = {
    val ln2 = math.log(2.0)
    val bits = math.ceil(-expectedItems.toDouble * math.log(fpp) / (ln2 * ln2))
    (bits / 8.0).toLong + 1L
  }

  /** The loud driver-budget gate (VERDICT r10 next-round #4 — the
    * zorderKey guard rule applied to driver memory): raises when the
    * requested sketch would exceed [[MaxBloomSketchBytes]], naming the
    * exact-join fallback, instead of silently OOMing the driver or
    * shipping a multi-GB literal into every task.
    */
  private[operators] def requireBloomBudget(expectedItems: Long, fpp: Double,
                                            site: String): Unit = {
    require(expectedItems > 0, s"$site: expectedItems must be > 0, got $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"$site: fpp must be in (0, 1), got $fpp")
    val bytes = bloomSketchBytes(expectedItems, fpp)
    require(bytes <= MaxBloomSketchBytes,
      s"$site: bloom sketch for $expectedItems items at fpp $fpp would " +
        s"serialize to ~$bytes bytes (> ${MaxBloomSketchBytes} budget — " +
        "a driver-held plan literal). Use the exact distributed key join " +
        "(Dedup.incrementalNew) or shard the key set " +
        "and AND the verdicts.")
  }

  /** Bloom pre-filter for [[incrementalNew]] at scale: build a bloom
    * filter over the seen key set once (collected to the driver — size
    * is `expectedItems·~10 bits`, ~1.2 GB at 10⁹ seen docs, which is
    * why [[requireBloomBudget]] caps the build at
    * [[MaxBloomSketchBytes]]; past that, split the seen set and AND
    * the verdicts, or stay on the exact join), broadcast it, and split
    * incoming rows into definite-new (bloom miss — no false negatives,
    * rows skip the join entirely) and maybe-dup (bloom hit — confirmed
    * by the exact key join). Returns the same rows as the exact path
    * (spec-asserted); only the fraction of incoming rows that shuffle
    * changes: fpp + true-dup-rate instead of 1.0.
    *
    * 100 TB contract in bytes: at the default fpp 0.01 the budget
    * admits ~2.2×10⁸ seen keys (~256 MB sketch); a 10⁹-key corpus
    * needs the exact join or 5 sharded sketches.
    */
  def incrementalNewBloom(documents: DataFrame, seenPred: Column,
                          expectedItems: Long = 1000000L,
                          fpp: Double = 0.01): DataFrame = {
    requireBloomBudget(expectedItems, fpp, "incrementalNewBloom")
    // Four consumers (bloom build, seen-key set, definite-new probe,
    // maybe-dup probe) — materialized for the same reason as
    // [[incrementalNew]]'s keyed frame (ReuseProbe r10: corpus scans
    // 4 → 1; the held rows carry no text).
    val keyed = documents.select(col("doc_id"), col("source"), col("lang"),
      xxhash64(canonicalKey(col("text"))).as("__ck"), seenPred.as("__seen"))
      .transform(graft.Ckpt.frame)
    // stat.bloomFilter aggregates zero rows to a null sketch and then
    // NPEs deserializing it: an empty seen-set is an empty sketch, so
    // every incoming row is definite-new.
    val seenRows = keyed.filter(col("__seen"))
    val bloom =
      if (seenRows.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
      else seenRows.stat.bloomFilter("__ck", expectedItems, fpp)
    // The probe is Spark's own codegen'd BloomFilterMightContain over a
    // literal of the sketch's canonical serialization (stat.bloomFilter
    // and the expression share BloomFilterImpl's format and the
    // putLong/mightContainLong hashing of a long key) — NOT a Scala
    // UDF: this filter sits on the full incoming-corpus scan, the one
    // path the operator exists to accelerate, and a per-row UDF would
    // break whole-stage codegen exactly there (round-6 verdict). The
    // expression is what Spark's own runtime-filter rewrite injects; it
    // is registered internal-only (no SQL name on the public search
    // path), so it is built directly and surfaced through the column
    // bridge.
    val serialized = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    def mightContain(k: Column): Column =
      org.apache.spark.sql.GraftColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal(serialized),
          org.apache.spark.sql.GraftColumnBridge.expression(k)))
    val incoming = keyed.filter(!col("__seen"))
    val definiteNew = incoming.filter(!mightContain(col("__ck")))
      .select(col("doc_id"), col("source"), col("lang"),
        lit(0).as("is_dup"), lit(1).as("is_new"))
    val seenKeys = seenRows
      .select(col("__ck")).distinct().withColumn("__hit", lit(1))
    val confirmed = incoming.filter(mightContain(col("__ck")))
      .join(seenKeys, Seq("__ck"), "left_outer")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("__hit"), lit(0)).as("is_dup"),
        (coalesce(col("__hit"), lit(0)) === 0).cast("int").as("is_new"))
    definiteNew.unionByName(confirmed)
  }

  /** Number of MinHash permutations and LSH bands (Perms/Bands rows per
    * band). 32 perms × 8 bands of 4 ⇒ candidate recall ~1−(1−J⁴)⁸.
    */
  val Perms = 32
  val Bands = 8
  private val RowsPerBand = Perms / Bands

  /** Row-form shingle postings: one (doc_id, source, lang, n,
    * shingle-hash h) row per PER-DOCUMENT-DISTINCT shingle, where `n` is
    * the document's shingle count (the size of its distinct gram array,
    * so every posting carries its doc's set size and no per-doc count
    * aggregate is needed). The dedup is per-doc on the gram strings
    * BEFORE hashing (TokenKgrams' first-occurrence set), not a global
    * post-hash `.distinct()` (ADVICE r11 #2): output distinctness
    * therefore relies on `doc_id` being unique in the input — a
    * duplicated doc row would emit duplicate postings. Every caller
    * feeds a primary-keyed documents table (oracle-confirmed 172/172).
    * Produces the same shingle sets as [[withHashedShingles]]
    * (spec-checked).
    */
  def shinglePostings(documents: DataFrame): DataFrame =
    // r11: one TokenKgrams(distinct) pass per document replaces the
    // posexplode → doc-window lead() → concat_ws → distinct() chain —
    // same shingle strings (concatWs bytes are concat_ws's), so BOTH the
    // doc-keyed window shuffle and the gram-grain distinct shuffle
    // disappear. The per-doc gram set is distinct by construction and
    // source/lang are doc-constant, so the old (doc, source, lang, h)
    // distinct is preserved exactly. fanOutScan: without the window
    // shuffle the shingle work runs in the scan stage — a small input
    // read as one split would single-thread it (no-op at corpus scale).
    Skew.fanOutScan(documents, "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        graft.functions.TokenKgrams.tokenKgrams(tokens(col("text")), 2,
          distinct = true).as("g"))
      // explode_outer + a filter on the gram: a plain explode makes
      // Catalyst infer `size(g) > 0` and push it through the projection
      // into the scan, where it tokenizes every document a second time.
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(size(col("g")), lit(0)).cast("long").as("n"),
        explode_outer(col("g")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("source"), col("lang"), col("n"),
        xxhash64(col("s")).as("h"))

  /** Row-form n-gram postings: one (doc_id, gram-hash) row per
    * PER-DOCUMENT-DISTINCT word n-gram — [[shinglePostings]]
    * generalized to width `n`, with the same per-doc-pre-hash dedup and
    * the same unique-doc_id input precondition (ADVICE r11 #2). Used by
    * [[decontaminate]], which wants wider grams than the bigram dedup
    * shingles — contamination is a verbatim-overlap test, not a
    * similarity estimate.
    */
  def ngramPostings(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "n-gram width must be at least 2")
    // r11: TokenKgrams(distinct) — see [[shinglePostings]]; replaces
    // the posexplode + (n−1) lead() columns + distinct with one pass.
    Skew.fanOutScan(documents, "doc_id")
      .select(col("doc_id"), explode(
        graft.functions.TokenKgrams.tokenKgrams(tokens(col("text")), n,
          distinct = true)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("g"))
  }

  /** #40d decontaminate: benchmark decontamination — flag every corpus
    * document sharing a verbatim word n-gram with a held-out benchmark
    * set (the standard eval-leakage guard an LLM training pipeline runs
    * before export; production corpora use n≈8–13, the synthetic table's
    * ~30-word vocabulary plays that role at n=4). The benchmark here is
    * carved from the same table deterministically (doc_id ≡ 0 mod
    * `benchMod`) so the oracle can reproduce it.
    *
    * Scale shape: benchmark suites are small and fixed-size, so their
    * distinct gram set BROADCASTS — the corpus side is one posting scan +
    * a broadcast-hash semi-side join + a map-side-combinable per-doc
    * count. No shuffle of corpus grams, no pairwise doc comparison;
    * contaminated docs fall out of one pass regardless of corpus size.
    */
  def decontaminate(documents: DataFrame, n: Int = 4, benchMod: Int = 20): DataFrame = {
    val posts = ngramPostings(documents, n)
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === 0
    val bench = posts.filter(isBench).select(col("g")).distinct()
    val hits = posts.filter(!isBench)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    documents.filter(!isBench)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("is_contaminated"))
  }

  /** Driver-side benchmark gram-set extraction for
    * [[withContamination]] — bounded by contract (benchmark suites are
    * small and fixed; this is the quantizer-fit pattern, a model
    * artifact build, not a corpus scan). Sorted for deterministic
    * literals.
    */
  def benchGramSet(documents: DataFrame, n: Int = 4,
                   benchMod: Int = 20): Array[Long] =
    ngramPostings(documents.filter(pmod(col("doc_id"), lit(benchMod.toLong)) === 0), n)
      .select(col("g")).distinct().collect().map(_.getLong(0)).sorted

  /** #40q streaming-safe decontamination gate: the [[decontaminate]]
    * verdict as a STATELESS PROJECTION against a driver-literal
    * benchmark gram set — no join, no aggregation, no state store, so
    * the identical operator runs unchanged under Structured Streaming:
    * flag leakage as documents LAND, before the batch pass (the
    * live-ingest twin, like the gopher/normalize gates of #49f).
    *
    * Gram semantics mirror [[ngramPostings]] exactly (lowercased
    * `[^\p{L}\p{N}]+`-split tokens INCLUDING empty edge tokens, xxhash64 of the
    * space-joined width-n window, distinct per doc), so `n_hits` /
    * `is_contaminated` are row-equal to [[decontaminate]]'s on the same
    * corpus — spec-asserted. NOTE the self-hit: [[decontaminate]]
    * EXCLUDES benchmark docs (doc_id % benchMod == 0) from its output,
    * while this projection flags them as contaminated by themselves —
    * row-equality holds on the non-bench rows; a caller comparing the
    * two (or gating a mixed stream) must filter bench docs first. The
    * gram array rides `typedlit`; a benchmark too large for a plan
    * literal stays on the [[decontaminate]] join.
    */
  def withContamination(documents: DataFrame, benchGrams: Array[Long],
                        n: Int = 4): DataFrame = {
    require(n >= 2, "n-gram width must be at least 2")
    val t = tokens(col("text"))
    val grams = array_distinct(
      transform(sequence(lit(0), size(t) - n),
        i => xxhash64(concat_ws(" ", slice(t, i + 1, lit(n))))))
    // CaseWhen short-circuits, so the descending-sequence hazard of
    // size(t) − n < 0 (and size(null) = −1) never evaluates.
    val hits = when(col("text").isNotNull && size(t) >= n,
      size(array_intersect(grams, typedlit(benchGrams))).cast("long"))
      .otherwise(lit(0L))
    documents
      .withColumn("n_hits", hits)
      .withColumn("is_contaminated", (col("n_hits") > 0).cast("int"))
  }

  /** Driver-literal artifacts for [[withContaminationFuzzy]] — the
    * BENCHMARK side of [[decontaminateFuzzy]] collapsed to two bounded
    * collects (benchmark suites are small and fixed; the
    * [[benchGramSet]] quantizer-fit contract): the distinct portable
    * band keys `(band, band_key, bench_id)` and the xxhash64 shingle
    * set per bench doc. Sorted for deterministic literals.
    */
  def benchFuzzyArtifact(documents: DataFrame, benchMod: Int = 20)
      : (Array[(Int, String, Long)], Array[(Long, Array[Long])]) = {
    val bench = documents.filter(pmod(col("doc_id"), lit(benchMod.toLong)) === 0)
    val keys = portableBandKeys(bench)
      .select(col("band"), col("band_key"), col("doc_id")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2, t._3))
    val sh = withHashedShingles(bench)
      .select(col("doc_id"), col("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    (keys, sh)
  }

  /** #49h streaming-safe FUZZY decontamination gate — [[withContamination]]'s
    * minhash twin (r7 verdict item 7): [[decontaminateFuzzy]]'s verdict
    * recast as a STATELESS PROJECTION against the two driver literals
    * of [[benchFuzzyArtifact]], so the identical operator runs
    * unchanged under Structured Streaming in append mode: flag
    * paraphrased benchmark leakage as documents LAND.
    *
    * Per-row replay of the batch pipeline, family-exact so the verdict
    * is row-equal (spec-asserted, oracle carries transitively):
    * portable md5 minhash signature (same [[permA]]/[[permB]]/[[PermM]]
    * constants, same md5-prefix base hash) → per-band md5 keys → a
    * band-key collision against the literal marks candidate bench docs
    * → exact Jaccard over xxhash64 shingle sets (the [[fuzzyMatches]]
    * verify) keeps matches ≥ `minJaccard`; best match = max (j, −id)
    * struct, ties to the lowest bench id. Same self-hit caveat as
    * [[withContamination]]: bench docs flag themselves — filter them
    * before comparing with [[decontaminateFuzzy]], which excludes them.
    *
    * Cost shape (re-engineered after tools/FuzzyGateProbe measured the
    * original HOF form at ~80–180 ms/row — 32 interpreted
    * `array_min(transform(...))` passes per row, jstack'd to the
    * interpreted ArrayTransform/BinaryArithmetic frames): the
    * signature is ONE native codegen'd expression
    * ([[graft.functions.PortableMinhashSig]] — per shingle one MD5 +
    * 32 primitive multiply-add-mods, spec-pinned bit-equal to the HOF
    * chain), candidacy is a per-band BINARY SEARCH over the sorted key
    * artifact ([[graft.functions.BandKeyLookup]] — one expression call
    * per row, not bands×benchDocs lambda evals), and the Jaccard
    * verify runs only on rows with ≥1 candidate (the `__cand` guard
    * short-circuits the bench-set scan on the clean majority). Both
    * literals stay benchmark-bounded, not corpus-bounded.
    */
  def withContaminationFuzzy(documents: DataFrame,
                             benchKeys: Array[(Int, String, Long)],
                             benchShingles: Array[(Long, Array[Long])],
                             minJaccard: Double = 0.5): DataFrame = {
    import graft.functions.MinhashSigOps.{band_key_lookup, minhash_sig}
    val benchLit = typedlit(benchShingles)
    val pA = (0 until Perms).map(permA).toArray
    val pB = (0 until Perms).map(permB).toArray
    val base = documents
      .withColumn("__sh", bigramShingles(col("text")))
      .withColumn("__sig", minhash_sig(col("__sh"), pA, pB, PermM))
    val rpb = Perms / Bands
    // Band keys exactly as the batch banding builds them; a NULL
    // signature (empty-shingle doc) yields all-null parts → the same
    // md5 the old per-column form produced for those rows.
    val withBands = base.withColumn("__bk",
      array((0 until Bands).map { b =>
        md5(concat_ws("|", (b * rpb until (b + 1) * rpb)
          .map(i => element_at(col("__sig"), i + 1).cast("string")): _*))
      }: _*))
    // Candidate bench ids = any band-key collision — binary search per
    // band over the sorted artifact; empty-shingle docs (0/1-token,
    // null text) are never candidates — they have no posting rows in
    // the batch pipeline either.
    val withCand = withBands.withColumn("__cand",
      when(size(col("__sh")) > 0, band_key_lookup(col("__bk"), benchKeys))
        .otherwise(array().cast("array<bigint>")))
    // The xxhash shingle set feeds only the Jaccard verify — skip the
    // per-shingle interpreted transform on candidate-less rows too.
    val withHs = withCand.withColumn("__hs",
      when(size(col("__cand")) > 0, transform(col("__sh"), s => xxhash64(s)))
        .otherwise(array().cast("array<bigint>")))
    // The bench-set scan only runs on rows with a candidate — the
    // clean majority of a corpus short-circuits here.
    val verified = withHs.withColumn("__v",
      when(size(col("__cand")) > 0, filter(transform(
        filter(benchLit, bd => array_contains(col("__cand"), bd("_1"))),
        bd => {
          val inter = size(array_intersect(col("__hs"), bd("_2")))
          val j = inter.cast("double") / nullif(
            (size(col("__hs")) + size(bd("_2")) - inter).cast("double"), lit(0.0))
          struct(j.as("j"), (-bd("_1")).as("nb"))
        }),
        v => v("j") >= minJaccard))
        .otherwise(array().cast("array<struct<j:double,nb:bigint>>")))
    val best = array_max(col("__v"))
    verified
      .withColumn("n_bench_matches", size(col("__v")).cast("long"))
      .withColumn("best_jaccard",
        when(size(col("__v")) > 0, Publish.round6(best("j"))).otherwise(lit(0.0)))
      .withColumn("best_bench_id",
        when(size(col("__v")) > 0, -best("nb")).otherwise(lit(null).cast("bigint")))
      .withColumn("is_contaminated", (col("n_bench_matches") > 0).cast("int"))
      .drop("__sh", "__sig", "__bk", "__cand", "__hs", "__v")
  }

  /** #40m contamination_report: the per-BENCHMARK-item rollup of
    * [[decontaminate]] — for each held-out benchmark document: how many
    * corpus documents share ≥1 verbatim n-gram with it, the total
    * shared-gram count, and the single worst corpus-doc overlap. The
    * report an eval owner reads ("which eval items leak, and how
    * badly") where #40d answers the corpus owner ("which training docs
    * to drop"). Zero-leak benchmark items keep their row (a clean
    * report proves coverage, not absence of checking).
    *
    * Same asymmetric 100 TB shape as #40d: the benchmark posting table
    * (bench_id, gram) broadcasts, the corpus side is one posting scan,
    * and both aggregation levels combine map-side. Corpus grams never
    * shuffle for candidacy.
    */
  def contaminationReport(documents: DataFrame, n: Int = 4,
                          benchMod: Int = 20): DataFrame = {
    val posts = ngramPostings(documents, n)
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === 0
    val benchPosts = posts.filter(isBench)
      .select(col("doc_id").as("bench_id"), col("g"))
    val overlaps = posts.filter(!isBench)
      .join(broadcast(benchPosts), Seq("g"))
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(count(lit(1)).as("__o"))
    val per = overlaps.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_corpus_docs"),
        sum(col("__o")).as("n_gram_hits"),
        max(col("__o")).as("max_doc_overlap"))
    documents.filter(isBench).select(col("doc_id").as("bench_id"))
      .join(per, Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
        coalesce(col("max_doc_overlap"), lit(0L)).as("max_doc_overlap"))
  }

  /** #40e chunk_dedup: exact substring-duplication profile — the
    * Spark-practical approximation of suffix-array span dedup ("deduplicating
    * training data" à la Lee et al. 2022): the token stream is cut into
    * fixed-width non-overlapping chunks, each chunk's first corpus
    * occurrence (lowest doc_id) is the keeper, and every later occurrence
    * counts as removable boilerplate. Per document: chunk counts, the
    * duplicated share, and the token count a span-dedup pass would strip.
    * Finer-grained than whole-document dedup (#37): it sees the license
    * header pasted into a thousand otherwise-distinct files.
    *
    * Scale shape: chunks shuffle as 8-byte xxhash64 keys, never strings —
    * at corpus scale a chunk is ~50 bytes of text, so hashing before the
    * group-by cuts shuffle bytes ~6× and keeps the aggregate fixed-width
    * (collisions ~n²/2⁶⁴, negligible). First-occurrence is an aggregate +
    * join (min(doc_id) per chunk hash), not a corpus-wide window: the min
    * combines map-side, and a pathological chunk repeated millions of
    * times skew-splits under AQE on the probe join instead of pinning one
    * window task.
    */
  def chunkDedup(documents: DataFrame, chunkTokens: Int = 8): DataFrame = {
    val nFull = floor(size(col("__toks")) / chunkTokens).cast("int")
    val occ = documents
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        explode(when(size(col("__toks")) >= chunkTokens,
          transform(sequence(lit(0), nFull - 1),
            i => concat_ws(" ", slice(col("__toks"), i * chunkTokens + 1, lit(chunkTokens)))))
          .otherwise(array().cast("array<string>"))).as("chunk"))
      .select(col("doc_id"), xxhash64(col("chunk")).as("h"))
    val firstSeen = occ.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val per = occ.join(firstSeen, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("first_doc") < col("doc_id")).cast("long")).as("n_dup"))
    documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_chunks"),
        Publish.round6(col("n_dup").cast("double") /
          nullif(col("n_chunks").cast("double"), lit(0.0))).as("dup_chunk_ratio"),
        (coalesce(col("n_dup"), lit(0L)) * chunkTokens).as("n_tokens_dropped"))
  }

  /** #40f dedup_spans: exact duplicated-span detection at character
    * grain — the window-exact upgrade of [[chunkDedup]] toward the
    * ExactSubstr semantics of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"): every position whose
    * `minLen`-char window appears verbatim ≥2 times in the corpus
    * (across docs or within one) is marked, and marked positions merge
    * into maximal per-doc spans `[span_start, span_end)` (0-based char
    * offsets). Unlike the chunk approximation this catches duplicates
    * at ANY alignment; every char inside a reported span belongs to
    * SOME verbatim `minLen`-char duplicate (window-exact — a whole
    * span need not be one global duplicate, the same remove-superset
    * Lee et al.'s cut-every-duplicated-window deployment produces).
    *
    * Shape: one posexplode of the gram array (corpus-positions rows —
    * the honest cost of exact substring work, the same order as the
    * suffix array the reference algorithm builds), a count-by-gram
    * with map-side partial aggregation (a degenerate gram — 40 blanks
    * a billion times — stays a count, never a collected bucket), a
    * semi-join of positions against duplicated grams (AQE-splittable
    * on skew), then a per-doc gaps-and-islands interval merge
    * (doc-grain windows, bounded by doc length — docs are MBs at
    * most). `hashGrams=true` (default) shuffles 8-byte xxhash64 keys;
    * `false` shuffles the gram strings themselves — slower but
    * hash-collision-free and engine-neutral, so that mode carries the
    * DuckDB oracle (spec asserts both modes agree).
    */
  def exactSpans(documents: DataFrame, minLen: Int = 40,
                 hashGrams: Boolean = true): DataFrame = {
    val keyed = charGramKeys(documents, minLen, hashGrams)
    // r12 note — measured and REVERTED: branching the count aggregate
    // and the semi-join probe off one explicit repartition(k) (hoping
    // ReusedExchange/AQE would feed both from a single gram
    // derivation) planned as TWO separate shuffle stages plus a new
    // raw-position exchange — AQE did not unify the aggregate's and
    // the broadcast subquery's shuffle stages (summed task time 35.3 →
    // 30–33 s across three 32-task stages instead of two; no wall
    // change). The double derivation below is the honest cost: the
    // single-pass alternatives either buffer a degenerate gram's
    // positions per key (window/collect forms — the "never a collected
    // bucket" contract) or materialize the 40×-corpus keyed frame.
    val dup = keyed.groupBy(col("k")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("k"))
    val marked = keyed.join(dup, Seq("k"), "left_semi")
      .select(col("doc_id"), col("pos"))
    islandSpans(marked, minLen)
  }

  /** Keyed window positions shared by the window-exact span family
    * ([[exactSpans]], [[contaminationSpans]]): one row per
    * `minLen`-char window of every long-enough document —
    * `(doc_id, pos, k)` with `k` either xxhash64 of the window (8-byte
    * shuffle keys, the default) or the window string itself
    * (hash-collision-free and engine-neutral, the mode that carries
    * the DuckDB oracles; spec asserts the modes agree).
    *
    * Positions explode first, the gram substring is a codegen'd
    * projection after — a `transform(sequence, i -> substring(text …))`
    * HOF would build every gram inside an interpreted lambda outside
    * whole-stage codegen (the expression-hygiene rule at the top of
    * this file; end-to-end the two measured within noise at sf0.1,
    * where shuffles dominate — the codegen form is kept for the
    * CPU-bound regime a wider corpus hits).
    * The pre-explode repartition spreads the ~len× fan-out across the
    * cluster when input splits < cores (one small parquet file read as
    * one partition single-threads the whole gram pipeline — measured
    * 2×: 6.2 s → 3.1 s at sf0.1); it shuffles only compact text (1×
    * input bytes), noise next to the ~40×-input gram shuffle that
    * follows. The partition count is EXPLICIT: AQE exempts user
    * repartitions with a fixed width from coalescing — without it the
    * tiny text shuffle coalesces straight back to one partition and
    * the fix is void.
    */
  private def charGramKeys(documents: DataFrame, minLen: Int,
                           hashGrams: Boolean): DataFrame = {
    val width = documents.sparkSession.sessionState.conf.numShufflePartitions
    val long = documents
      .repartition(width, col("doc_id"))
      .filter(length(col("text")) >= minLen)
    if (hashGrams)
      // r11: one [[graft.functions.WindowHash64]] pass per document —
      // bit-equal to xxhash64(substr(text, i, minLen)) per position but
      // O(len × minLen) instead of the O(len²) byte scans the per-window
      // UTF-8 substr paid (substring has no char index), with zero
      // per-window allocation. posexplode supplies the 0-based char
      // position the old `i − 1` projection computed.
      long.select(col("doc_id"),
          posexplode(graft.functions.WindowHash64.windowHash64(col("text"), minLen)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("k"))
    else
      long.select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (minLen - 1))).as("i"))
        .select(col("doc_id"), (col("i") - 1).cast("long").as("pos"),
          col("text").substr(col("i"), lit(minLen)).as("k"))
  }

  /** Gaps-and-islands merge of marked window positions `(doc_id, pos)`
    * into maximal per-doc `[span_start, span_end)` intervals — the
    * shared tail of the window-exact span family. The window is
    * doc-partitioned over marked positions only (bounded by doc
    * length — docs are MBs at most, never corpus-wide).
    */
  private def islandSpans(marked: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      // new island when this window no longer overlaps/touches the
      // previous one ([p, p+L) vs [p', p'+L): break iff p > p' + L)
      .withColumn("__brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + minLen, 1).otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + minLen).as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
  }

  /** #40s decontaminate_spans: exact-substring decontamination at SPAN
    * grain — the ExactSubstr tier of the decontamination trio
    * (verbatim word-n-grams [[decontaminate]], fuzzy minhash
    * [[decontaminateFuzzy]], and this): every corpus position whose
    * `minLen`-char window appears VERBATIM anywhere in the benchmark
    * set is marked, and marked positions merge into per-doc
    * `[span_start, span_end)` intervals — the train-side counterpart
    * of Lee et al. 2022's train/test overlap removal, and the only
    * tier that localizes WHERE the leak sits, so the cleaner can cut
    * the leaked bytes instead of dropping the whole document.
    * Benchmark set = `doc_id ≡ 0 (mod benchMod)` carved from the same
    * table, the [[decontaminate]] convention the oracle reproduces.
    * Bench documents themselves are not scanned for marks (every
    * window of a bench doc trivially hits itself).
    *
    * Shape: char-grain bench keys number ≈ bench BYTES (not bench
    * word-n-grams) — past the broadcast budget of [[decontaminate]]'s
    * map-side join at realistic suite sizes — so the mark is a
    * shuffled 8-byte-key left-semi join (AQE converts it to broadcast
    * when the suite IS small). The bench-side `doc_id % benchMod`
    * filter pushes below the posexplode (the predicate references only
    * non-generated attributes), so the two branches explode DISJOINT
    * document subsets: total gram work stays one corpus pass, same as
    * [[exactSpans]]. The island merge is doc-grain.
    */
  def contaminationSpans(documents: DataFrame, minLen: Int = 40,
                         benchMod: Int = 20,
                         hashGrams: Boolean = true): DataFrame = {
    val keyed = charGramKeys(documents, minLen, hashGrams)
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === 0
    val benchKeys = keyed.filter(isBench).select(col("k")).distinct()
    val marked = keyed.filter(!isBench)
      .join(benchKeys, Seq("k"), "left_semi")
      .select(col("doc_id"), col("pos"))
    islandSpans(marked, minLen)
  }

  /** #40t decontaminate_spans_clean: cut the [[contaminationSpans]]
    * intervals out of the non-bench corpus — keep the document, drop
    * the leaked bytes (vs [[decontaminate]]'s keep-or-drop doc-grain
    * verdict; a long document with one quoted benchmark item survives
    * minus the quote). Island-merged spans are already disjoint, so
    * the cut needs no prior [[mergeSpans]] union; bench documents are
    * excluded from the output like [[decontaminate]].
    */
  def decontaminateSpans(documents: DataFrame, minLen: Int = 40,
                         benchMod: Int = 20,
                         hashGrams: Boolean = true): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === 0
    cutSpans(documents.filter(!isBench),
      contaminationSpans(documents, minLen, benchMod, hashGrams))
  }

  /** #40g dedup_spans_clean: apply [[exactSpans]] — cut every reported
    * span out of its document and return the cleaned corpus, the
    * "remove them" half of Lee et al.'s ExactSubstr dedup. Per doc the
    * kept text is the concatenation of the gaps between spans plus the
    * tail; docs without spans pass through whole.
    *
    * Shape: spans per doc are few (≤ len/minLen by construction), so a
    * per-doc sort_array(collect_list) + one Catalyst `aggregate` fold
    * over the span array is bounded and local; the corpus-scale work
    * remains inside [[exactSpans]]. Left join keeps span-free docs.
    */
  def removeSpans(documents: DataFrame, minLen: Int = 40,
                  hashGrams: Boolean = true): DataFrame =
    cutSpans(documents, exactSpans(documents, minLen, hashGrams))

  /** Interval union of a span frame, per document: overlapping or
    * touching `[span_start, span_end)` rows merge into one segment
    * (running-max islands — the [[exactSpans]] break trick generalized
    * to variable-length intervals, which a plain `lag` cannot handle:
    * a long span can swallow several successors, so the break test is
    * against the running MAX end, not the previous end). The window is
    * doc-partitioned over span rows — already the duplicated fraction
    * of the corpus, never corpus-wide.
    *
    * [[maximalSpans]] output needs this before cutting: left-maximal
    * repeats overlap each other by construction (successive start
    * positions of one long repeat), so cutting them verbatim would
    * double-cut shared bytes.
    */
  def mergeSpans(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("span_start"), col("span_end"))
    spans
      .withColumn("__pmax", max(col("span_end")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pmax").isNull || col("span_start") > col("__pmax"), 1)
          .otherwise(0))
      .withColumn("__grp", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("span_start")).as("span_start"),
        max(col("span_end")).as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
  }

  /** The cut half of span removal, parameterized over any DISJOINT span
    * frame (doc_id, span_start, span_end, span_len) — [[exactSpans]]
    * islands are disjoint by construction; anything else goes through
    * [[mergeSpans]] first. Per doc the kept text is the concatenation
    * of the gaps between spans plus the tail; docs without spans pass
    * through whole.
    *
    * Shape: spans per doc are few, so a per-doc sort_array(collect_list)
    * + one Catalyst `aggregate` fold over the span array is bounded and
    * local; the corpus-scale work remains inside the span producer.
    * Left join keeps span-free docs.
    */
  def cutSpans(documents: DataFrame, spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("n_chars_removed"))
    documents
      .join(spans, Seq("doc_id"), "left_outer")
      .withColumn("clean_text",
        when(col("sp").isNull, col("text")).otherwise(expr(
          // fold state: (cur = chars consumed, acc = kept text so far);
          // each span appends the gap [cur, span_start), the finish
          // lambda appends the tail after the last span.
          """aggregate(sp,
            |  named_struct('cur', 0L, 'acc', ''),
            |  (a, s) -> named_struct(
            |    'cur', CAST(s.span_end AS BIGINT),
            |    'acc', concat(a.acc, substring(text, a.cur + 1,
            |      s.span_start - a.cur))),
            |  a -> concat(a.acc, substring(text, a.cur + 1,
            |    length(text) - a.cur)))""".stripMargin)))
      .select(col("doc_id"), col("clean_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_chars_removed"), lit(0L)).as("n_chars_removed"))
  }

  /** #40r dedup_spans_maximal_clean: removal at MAXIMAL-repeat grain —
    * cut exactly the statistics tier's spans, closing the r7 gap where
    * [[removeSpans]] cut window-exact islands while [[spanStats]]
    * reported maximal lengths. Maximal repeats overlap, so the cut runs
    * over their [[mergeSpans]] interval union: `n_spans` counts merged
    * segments and `n_chars_removed` counts union bytes (Σ span_len over
    * raw maximal spans double-counts shared bytes — the relationship to
    * [[spanStats]] totals is union ≤ Σ, equality iff no two maximal
    * repeats overlap).
    *
    * NOTE: the union of maximal spans equals the island cover only for
    * bytes inside SOME maximal repeat ≥ minLen; island bytes covered
    * only by shorter overlapping repeats stay. That is the point —
    * remove what the published statistics say is duplicated.
    */
  def removeMaximalSpans(documents: DataFrame, minLen: Int = 40,
                         levels: Int = 12, hashGrams: Boolean = true): DataFrame =
    cutSpans(documents, mergeSpans(maximalSpans(documents, minLen, levels, hashGrams)))

  /** Shared phase-1 front of [[maximalSpans]] and its prefix-doubling
    * spec reference (test sources): window-exact islands with their
    * text, checkpointed so the corpus-scale pass runs ONCE — the guard
    * aggregate and the suffix pipeline both read the materialized
    * islands (the duplicated fraction only).
    */
  private[graft] def islandFrame(documents: DataFrame, minLen: Int,
                                 hashGrams: Boolean): DataFrame =
    exactSpans(documents, minLen, hashGrams)
      .join(documents.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("span_start").as("island"),
        col("text").substr((col("span_start") + 1).cast("int"),
          col("span_len").cast("int")).as("itext"))
      .transform(graft.Ckpt.frame)

  /** Shared tail of the maximal-span plans: from per-position
    * neighbor-LCP maxima `m(p)` to maximal span rows — left-maximality
    * needs only a single lag (m decreases by at most 1 per position),
    * and the window is doc+island bounded (never corpus-wide).
    */
  private[graft] def leftMaximalSpans(m: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"), col("island")).orderBy(col("pos"))
    m.withColumn("__pm", lag(col("m"), 1).over(w))
      .filter(col("m") >= minLen &&
        (col("__pm").isNull || col("__pm") < col("m") + 1))
      .select(col("doc_id"), col("pos").as("span_start"),
        (col("pos") + col("m")).as("span_end"), col("m").as("span_len"))
  }

  /** #40i dedup_spans_maximal: exact MAXIMAL duplicated substrings —
    * the suffix-array-grade upgrade of [[exactSpans]] to the span
    * statistics Lee et al. 2022's ExactSubstr deployment reports. The
    * window-exact form marks covered bytes and merges them into
    * islands, so two overlapping repeats fuse into one span and span
    * lengths are island lengths, not repeat lengths; this operator
    * reports every maximal repeat exactly: each output row is a
    * substring occurrence `[span_start, span_end)` with `span_end −
    * span_start ≥ minLen` that appears ≥2 times in the corpus
    * (overlapping occurrences count) and extends neither left nor
    * right.
    *
    * Shape — two phases, both distributive:
    *
    * 1. PRUNE with [[exactSpans]]: every byte of a duplicated
    *    substring of length ≥ minLen is covered by a duplicated
    *    minLen-window at each of its occurrences, so all maximal
    *    repeats live entirely inside window-exact islands. Phase 2
    *    touches island positions only — the duplicated fraction of the
    *    corpus, not the corpus.
    * 2. SORT THE ISLAND SUFFIXES and take LCP with sort-neighbors —
    *    the suffix-array property that the maximal common prefix of
    *    any suffix is attained at an adjacent suffix in lexicographic
    *    order. Suffixes are island-bounded strings (≤ the `levels`
    *    cap), the sort is Spark's distributed range sort (never a
    *    single-task window), and neighbor LCPs stream in one pass per
    *    sorted partition (r12 — sort order makes neighbors
    *    partition-local except at the partition seams, which come from
    *    a bounded first/last-suffix collect); each LCP is ONE exact
    *    byte walk ([[graft.functions.CommonPrefixChars]]), stopping at
    *    the first mismatching byte and flooring to a char boundary —
    *    value-identical to the binary full-window descent the oracle
    *    replays (truncated windows never compare equal to full ones,
    *    so partial tails resolve the same way). `m(p)` =
    *    max(LCP with prev, LCP with next); identical suffixes sort
    *    adjacent and get full-length LCP with no special casing. Spans
    *    are rows with `m ≥ minLen` that are left-maximal
    *    (`m(p−1) < m(p)+1` — a single lag suffices since m decreases
    *    by at most 1 per position).
    *
    * Scale: phase 1 is the skew-safe corpus pass; phase 2 materializes
    * island suffixes — O(cap × duplicated-bytes) shuffle, the explicit
    * price of exact maximality, paid only on the duplicated fraction
    * and bounded by the `levels` guard — plus one range sort and two
    * neighbor joins. Fails loudly when an island exceeds the cap
    * (2^levels − 1 chars) rather than silently truncating span
    * lengths. The DuckDB oracle replays the identical construction
    * (row_number suffix order + the same binary LCP descent).
    *
    * A Manber–Myers prefix-doubling plan (fixed-width rank rows instead
    * of suffix strings) lives in the test sources as this operator's
    * spec reference, pinned output-identical there. It only beat the
    * string sort on islands of 16 384 chars, past the default cap of
    * 4 095, so it no longer ships as a runtime alternative.
    */
  def maximalSpans(documents: DataFrame, minLen: Int = 40,
                   levels: Int = 12, hashGrams: Boolean = true): DataFrame = {
    val isl = islandFrame(documents, minLen, hashGrams)
    // Bounded-scalar guard (the quantizer-fit pattern): cap must exceed
    // the longest island or maximality silently truncates.
    val maxLen = isl.agg(coalesce(max(length(col("itext"))), lit(0))).head.getInt(0)
    require(maxLen < (1 << levels),
      s"maximalSpans: island of $maxLen chars exceeds the 2^$levels-1 cap — raise `levels`")
    val pos = isl.select(col("doc_id"), col("island"),
        explode(sequence(lit(0), length(col("itext")) - 1)).as("i"), col("itext"))
      .select(col("doc_id"), col("island"),
        (col("island") + col("i")).cast("long").as("pos"),
        col("itext").substr(col("i") + 1, length(col("itext")) - col("i")).as("sfx"))
    // Neighbor LCPs in ONE pass over the range-sorted suffixes (r12):
    // adjacency in the suffix order is adjacency WITHIN a sorted
    // partition except at the numPartitions−1 partition seams, so
    // m(p) = max(LCP with prev, LCP with next) streams per partition
    // with a sliding previous row — no dense index, no self-join. The
    // r11 shape (zipWithIndex → idx checkpoint → pairs self-join →
    // two index joins) paid a count pass, a second suffix
    // materialization and a full shuffle of the suffix strings on the
    // join key (JobProbe: the pairs stage alone was 2.9–4.5 s of task
    // time per maximal row) to recover exactly these neighbors. The
    // seams come from one bounded collect of each partition's first
    // and last suffix — ≤ 2 × numPartitions rows of ≤ cap chars (the
    // maxLen guard above), the quantizer-fit bounded-driver-artifact
    // policy, and the LCP walk is the SAME byte walk the r11 native
    // expression ran ([[graft.functions.CommonPrefixChars.lcpChars]]),
    // so every m value is bit-identical (the prefix-doubling
    // equivalence spec and the DuckDB oracle both still pin it).
    val spark = documents.sparkSession
    val sorted = pos.orderBy(col("sfx"), col("doc_id"), col("pos"))
      .select(col("doc_id"), col("island"), col("pos"), col("sfx"))
      .transform(graft.Ckpt.frame)
    val rdd = sorted.rdd
    import org.apache.spark.unsafe.types.UTF8String
    val seams = rdd.mapPartitionsWithIndex { (p, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next().getString(3)
        var last = first
        while (it.hasNext) last = it.next().getString(3)
        Iterator((p, first, last))
      }
    }.collect().sortBy(_._1)
    val nParts = rdd.getNumPartitions
    // Nearest non-empty neighbor partition's boundary suffix, per
    // partition: prevLast feeds each partition's FIRST row, nextFirst
    // its LAST (null at the global ends — LCP 0, the old left-join
    // coalesce).
    val prevLast = new Array[String](nParts)
    val nextFirst = new Array[String](nParts)
    var carry: String = null
    seams.foreach { case (p, first, last) => prevLast(p) = carry; carry = last }
    carry = null
    seams.reverse.foreach { case (p, first, _) => nextFirst(p) = carry; carry = first }
    val bcPrev = spark.sparkContext.broadcast(prevLast)
    val bcNext = spark.sparkContext.broadcast(nextFirst)
    def lcp(a: UTF8String, b: UTF8String): Long =
      if (a == null || b == null) 0L
      else graft.functions.CommonPrefixChars.lcpChars(a, b)
    val mRdd = rdd.mapPartitionsWithIndex { (p, it) =>
      new Iterator[(Long, Long, Long, Long)] {
        private val pl = bcPrev.value(p)
        private val nf = bcNext.value(p)
        private var cur: org.apache.spark.sql.Row = if (it.hasNext) it.next() else null
        private var curS: UTF8String =
          if (cur == null) null else UTF8String.fromString(cur.getString(3))
        private var lcpPrev: Long =
          if (cur == null || pl == null) 0L
          else lcp(UTF8String.fromString(pl), curS)
        override def hasNext: Boolean = cur != null
        override def next(): (Long, Long, Long, Long) = {
          val r = cur
          val rS = curS
          val nxt = if (it.hasNext) it.next() else null
          val nxtS =
            if (nxt != null) UTF8String.fromString(nxt.getString(3))
            else if (nf != null) UTF8String.fromString(nf)
            else null
          val lcpNext = lcp(rS, nxtS)
          val m = math.max(lcpPrev, lcpNext)
          cur = nxt
          curS = if (nxt != null) nxtS else null
          lcpPrev = lcpNext
          (r.getLong(0), r.getLong(1), r.getLong(2), m)
        }
      }
    }
    import spark.implicits._
    val m = mRdd.toDF("doc_id", "island", "pos", "m")
    leftMaximalSpans(m, minLen)
  }

  /** #40j span_stats: corpus-level duplication profile over a span
    * frame (any `(doc_id, span_start, span_end, span_len)` emitter —
    * [[maximalSpans]] for Lee-et-al-grade repeat statistics,
    * [[exactSpans]] for the cheap island profile). One row per
    * power-of-two length bucket (`len_bucket` = floor(log2 span_len),
    * via the engine-portable `length(bin(x)) − 1` — no floating log2
    * at bucket boundaries): span count, distinct docs touched, total
    * duplicated chars, min/max and 6-dp mean span length.
    *
    * This is the report a curation run publishes before choosing a
    * removal threshold — "how much of the corpus is in 64–127-char
    * repeats vs 4 KB boilerplate blocks". Scale: a single hash
    * aggregate over span rows (already the duplicated fraction of the
    * corpus, not the corpus); `countDistinct` is Spark's two-phase
    * distinct-aggregate rewrite — no window, no collect.
    */
  def spanStats(spans: DataFrame): DataFrame =
    spans.groupBy((length(bin(col("span_len"))) - 1).cast("int").as("len_bucket"))
      .agg(
        count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("span_len")).as("total_chars"),
        min(col("span_len")).as("min_len"),
        max(col("span_len")).as("max_len"),
        Publish.round6(avg(col("span_len"))).as("avg_len"))

  /** #37c dedup_keep_best: quality-aware canonical selection — resolve
    * near-dup pairs to clusters ([[Components.connectedComponents]]) and
    * keep each cluster's highest-[[TextAnalysis.withQuality]] member
    * (ties: lowest doc_id) instead of blindly min-id. Near-dup members
    * differ slightly, so min-id keeps an arbitrary variant; real curation
    * keeps the cleanest one. Comparison runs on the score ROUNDED to 6
    * decimals (the precision the score is published at), so the verdict
    * is stable across engines and evaluation orders; structurally equal
    * docs tie exactly and fall to the id.
    *
    * Max-of-struct aggregate + join back, NOT row_number over a window
    * partitioned by cluster: an everything-is-one-cluster corpus pins a
    * window to a single task, while the aggregate combines map-side and
    * the join skew-splits under AQE.
    *
    * Pair source: any (id1, id2) emitter plugs in. At corpus scale the
    * banded-LSH emitter ([[minhashPairsPortable]]) is the default —
    * candidate generation bounded by band-bucket occupancy — while the
    * exact ngram-Jaccard inverted index's posting-intersection cost
    * tracks pair count; both ship as oracle
    * rows (dedup_keep_best / dedup_keep_best_lsh, the
    * dedup_clusters/dedup_clusters_lsh split at keep-best grain).
    */
  def keepBest(documents: DataFrame, pairs: DataFrame,
               src: String = "id1", dst: String = "id2"): DataFrame = {
    val clusters = Components.connectedComponents(pairs, src, dst)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    // Reuse an already-computed score: a pipeline frame that went
    // through the quality gate carries quality_score, and re-running
    // withQuality's regex battery over it would double the scan cost.
    val quality =
      if (documents.columns.contains("quality_score")) documents
      else TextAnalysis.withQuality(documents)
    val scored = clusters.join(
      quality.select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    val best = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("best.neg_id")).as("keep_id"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("int").as("is_kept"))
  }

  /** Modulus and affine constants for the portable minhash permutation
    * family: perm_i(h) = (a_i·(h mod M) + b_i) mod M over the Mersenne
    * prime M = 2^31−1. The modulus must be SMALL relative to the a·h
    * product so the mod wraps ~a times across the domain — a first cut
    * used M = 2^61−1 with a < 2^29, which never wraps: the map was
    * monotonic in h, every "permutation" picked the same argmin
    * shingle, and the banding degenerated to single-perm minhash
    * (measured as a 6× candidate blowup at sf0.1). Bounds keep every
    * step inside non-overflowing POSITIVE signed-64 arithmetic in both
    * engines (DuckDB errors on BIGINT overflow; Spark would silently
    * wrap): a < M, h mod M < M → a·(h mod M) + b < 2^62. Constants are
    * driver-deterministic via the same Catalyst XxHash64 seed-42 map
    * as the LSH hyperplanes, embedded as literals in BOTH the Spark
    * plan and the DuckDB oracle.
    */
  private[graft] val PermM: Long = (1L << 31) - 1
  private[graft] def permConst(tag: String, bound: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(tag)), 42L).eval(null).asInstanceOf[Long]
    java.lang.Long.remainderUnsigned(h, bound)
  }
  private[graft] def permA(i: Int): Long = 1L + permConst(s"a#$i", PermM - 1)
  private[graft] def permB(i: Int): Long = permConst(s"b#$i", PermM)

  /** #38 dedup_minhash: LSH candidate pairs verified by exact Jaccard.
    * Each document's `Perms`-wide MinHash signature bands into `Bands`
    * keys ([[portableBandKeys]]); docs sharing any (band, key) bucket
    * become candidates, and candidates are verified against the true
    * shingle Jaccard ([[minhashVerify]]). The join carries only (band,
    * key, doc_id) — never text — and the verify branch builds shingle
    * arrays only for the (tiny) candidate set. Buckets larger than
    * `maxBucket` expand as stars, not all-pairs (see [[ListPairs]]) —
    * the guard that keeps one degenerate band bucket from going
    * quadratic at 100 TB.
    *
    * Permutation family: one md5 per shingle folded to 32 bits, then
    * `Perms` affine permutations (a_i·h + b_i) mod (2^31−1) — plain
    * BIGINT arithmetic that DuckDB evaluates identically (see
    * [[permA]]/[[permB]] for the overflow-freedom argument); band keys
    * are md5 of the concatenated minima. The oracle therefore replays
    * this plan byte for byte, and it is the `pairsOf` default of
    * [[graft.CorpusPipeline.curate]].
    */
  def minhashPairsPortable(documents: DataFrame, minJaccard: Double = 0.3,
                           maxBucket: Int = 1024): DataFrame =
    minhashVerify(portableBandKeys(documents), documents, minJaccard, maxBucket)

  /** The portable-family LSH banding alone: one (doc_id, band, band_key)
    * row per band — the shared front of [[minhashPairsPortable]] and
    * [[decontaminateFuzzy]].
    *
    * r12: ONE native signature expression per document
    * ([[graft.functions.PortableMinhashSig]] over the per-doc-distinct
    * shingle array) instead of the posting explode + 32-column min
    * aggregate — a zero-shuffle projection where the aggregate form
    * paid a full (doc_id → 32 longs) exchange plus the md5-hex
    * conv(substring) chain per posting row (JobProbe: the signature
    * stage was 37.7 s of summed task time on dedup_keep_best_lsh).
    * Value-identical (spec-pinned, oracle unchanged): the signature is
    * a min-fold over the doc's shingles — per-doc dedup cannot move a
    * min, the native base hash is bit-equal to
    * `conv(substring(md5(s),1,8),16,10) % PermM`, and a shingle-less
    * document (< 2 tokens) folds to a NULL signature and is filtered,
    * exactly the posting form's absent-group row. Band keys are the
    * same md5(concat_ws) over the 32 minima.
    */
  private[graft] def portableBandKeys(documents: DataFrame): DataFrame = {
    import graft.functions.MinhashSigOps.minhash_sig
    val pA = (0 until Perms).map(permA).toArray
    val pB = (0 until Perms).map(permB).toArray
    val sigs = Skew.fanOutScan(documents, "doc_id")
      .select(col("doc_id"),
        minhash_sig(graft.functions.TokenKgrams.tokenKgrams(
          tokens(col("text")), 2, distinct = true), pA, pB, PermM).as("__sig"))
      .filter(col("__sig").isNotNull)
    sigs
      .select(
        col("doc_id"),
        explode(array((0 until Bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|", (b * RowsPerBand until (b + 1) * RowsPerBand)
              .map(i => element_at(col("__sig"), i + 1).cast("string")): _*)).as("band_key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** #40h decontaminate_fuzzy: NEAR-duplicate benchmark decontamination —
    * the minhash twin of the verbatim-n-gram [[decontaminate]]. Verbatim
    * gram overlap misses paraphrased or lightly-edited benchmark leakage
    * (reordered sentences, s/the/a/ edits); fuzzy decontamination flags
    * every corpus document whose shingle-set Jaccard against ANY
    * benchmark document clears `minJaccard`, reporting the match count,
    * the best similarity and the matched benchmark doc (ties broken to
    * the lowest bench id — deterministic cross-engine).
    *
    * Scale shape: one-corpus-pass TOTAL banding work — the
    * [[portableBandKeys]] pipeline is instantiated on both branches,
    * but with COMPLEMENTARY doc_id filters that push below the
    * signature aggregate to the scan (bench rows ride the bench
    * branch, corpus rows the probe branch; no document's signature is
    * computed twice). The benchmark's band keys reduce to a distinct
    * (band, key, bench_id) table that BROADCASTS (benchmarks are tiny
    * relative to a training corpus), so corpus rows never shuffle for
    * candidacy. Exact-Jaccard
    * verification builds shingle arrays only for candidate docs
    * (left-semi), the [[minhashVerify]] O(candidates) argument.
    */
  /** Shared front of [[decontaminateFuzzy]] /
    * [[contaminationReportFuzzy]]: the banded-candidate + exact-Jaccard
    * verify pipeline, returning one `(doc_id, bench_id, __j)` row per
    * verified fuzzy match (corpus side only; the asymmetric
    * bench-keys-broadcast shape both consumers rely on).
    */
  private def fuzzyMatches(documents: DataFrame, benchMod: Int,
                           minJaccard: Double): DataFrame = {
    val banded = portableBandKeys(documents)
    val benchKeys = banded.filter(pmod(col("doc_id"), lit(benchMod.toLong)) === 0)
      .select(col("band"), col("band_key"), col("doc_id").as("bench_id"))
      .distinct()
    // cand is TINY (verified fuzzy candidates) but feeds THREE
    // consumers (candDocs, candBench, the final join) — un-materialized
    // it re-derives the ENTIRE two-branch banding pipeline per consumer
    // (r8 ReuseProbe: 6 posting windows, 9 corpus scans; AQE reuses no
    // exchange across the branches), silently defeating the
    // one-corpus-pass claim above. The checkpoint restores it.
    val cand = banded.filter(pmod(col("doc_id"), lit(benchMod.toLong)) =!= 0)
      .join(broadcast(benchKeys), Seq("band", "band_key"))
      .select(col("doc_id"), col("bench_id")).distinct()
      .transform(graft.Ckpt.frame)
    val candDocs = cand.select(col("doc_id")).distinct()
    val candBench = cand.select(col("bench_id").as("doc_id")).distinct()
    val shC = withHashedShingles(
        documents.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("hs"))
    val shB = withHashedShingles(
        documents.join(broadcast(candBench), Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("bench_id"), col("hs").as("hsb"))
    cand.join(shC, Seq("doc_id")).join(shB, Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"),
        size(array_intersect(col("hs"), col("hsb"))).as("__nc"),
        (size(col("hs")) + size(col("hsb"))).as("__nt"))
      .withColumn("__j", col("__nc").cast("double") /
        nullif((col("__nt") - col("__nc")).cast("double"), lit(0.0)))
      .filter(col("__j") >= minJaccard)
      .select(col("doc_id"), col("bench_id"), col("__j"))
  }

  def decontaminateFuzzy(documents: DataFrame, benchMod: Int = 20,
                         minJaccard: Double = 0.5): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === 0
    val verified = fuzzyMatches(documents, benchMod, minJaccard)
    val agg = verified.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_matches"),
        max(struct(col("__j").as("j"), (-col("bench_id")).as("nb"))).as("__best"))
      .select(col("doc_id"), col("n_bench_matches"),
        Publish.round6(col("__best.j")).as("best_jaccard"),
        (-col("__best.nb")).as("best_bench_id"))
    documents.filter(!isBench)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        col("best_bench_id"),
        (coalesce(col("n_bench_matches"), lit(0L)) > 0).cast("int").as("is_contaminated"))
  }

  /** #40p contamination_report_fuzzy: the per-BENCHMARK-item rollup of
    * [[decontaminateFuzzy]] — #40m's fuzzy twin, for leakage that
    * paraphrasing hides from the verbatim-gram report: per bench doc,
    * how many corpus docs fuzzy-match it (exact Jaccard ≥ τ over the
    * banded candidates) and the worst match strength. Zero-leak items
    * keep their row. Same asymmetric scale shape as the underlying
    * pass: bench band keys broadcast, one banding pass, verify only on
    * candidates.
    */
  def contaminationReportFuzzy(documents: DataFrame, benchMod: Int = 20,
                               minJaccard: Double = 0.5): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === 0
    val per = fuzzyMatches(documents, benchMod, minJaccard)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_corpus_docs"),
        Publish.round6(max(col("__j"))).as("max_jaccard"))
    documents.filter(isBench).select(col("doc_id").as("bench_id"))
      .join(per, Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
  }

  /** Shared LSH tail: bucket-collect candidates from a (doc_id, band,
    * band_key) frame, then exact-Jaccard-verify against the true shingle
    * sets.
    */
  private def minhashVerify(banded: DataFrame, documents: DataFrame,
                            minJaccard: Double, maxBucket: Int): DataFrame = {
    // Bucket-collect instead of a self-join: one groupBy on the band key
    // computes the signature pipeline ONCE and emits each bucket's pair
    // combinations locally (a self-join would re-derive the full
    // signature plan on both sides). Expansion is bounded by maxBucket.
    // The candidate pair frame is SMALL (bounded by the ListPairs star
    // cap) but feeds three consumers (candidateIds + the two verify
    // joins) — un-materialized, each re-derives the full signature +
    // bucket pipeline (r8 ReuseProbe: zero exchange reuse across
    // consumers).
    val candidates = banded
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(ListPairs.listPairs(col("ids"), maxBucket))
      .select(col("a").as("id1"), col("b").as("id2"))
      .distinct()
      .transform(graft.Ckpt.frame)
    // Exact-Jaccard verification: shingle ARRAYS are built only for docs
    // that appear in a candidate pair (left-semi on the candidate ids),
    // so the array path costs O(candidates), not O(corpus).
    // One reference to the candidate subplan (explode both ids), not a
    // two-branch union that re-derives the signature pipeline twice.
    val candidateIds = candidates
      .select(explode(array(col("id1"), col("id2"))).as("doc_id")).distinct()
    // Also O(candidates) rows, also two consumers (the id1/id2 verify
    // joins) — materialized for the same reason as `candidates`, or the
    // semi-filtered corpus scan + shingle build runs twice.
    val candidateShingles = withHashedShingles(
        documents.join(broadcast(candidateIds), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("hs"))
      .transform(graft.Ckpt.frame)
    candidates
      .join(candidateShingles.select(col("doc_id").as("id1"), col("hs").as("sh1")), Seq("id1"))
      .join(candidateShingles.select(col("doc_id").as("id2"), col("hs").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).as("n_common"),
        (size(col("sh1")) + size(col("sh2"))).as("n_total"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          nullif((col("n_total") - col("n_common")).cast("double"), lit(0.0)))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** #39 dedup_simhash: 64-bit SimHash near-dup pairs. Bit j of a
    * document's signature is set when more than half its tokens have
    * bit j set in their token hash — bit j (0..63) of a token is bit
    * (3 − j mod 4) of hex digit ⌊j/4⌋ of md5(token), which DuckDB
    * extracts with `strpos('0123456789abcdef', …)` to the identical
    * value, so the oracle replays this plan byte for byte. The
    * signature is published as four 16-bit chunk keys (k0..k3) instead
    * of one 64-bit long — bit 63 as 1L<<63 would overflow DuckDB's
    * checked BIGINT arithmetic, and the chunks are what the bucketing
    * uses anyway. Candidate pairs share at least one chunk (exact for
    * hamming ≤ 3 by pigeonhole; recall above hamming 3 is partial) and
    * are verified by the full hamming distance Σ bit_count(k_a XOR k_b)
    * ≤ maxHamming ([[hammingBandPairs]]). Chunk buckets are collected
    * and pair-expanded locally under the [[ListPairs]] star guard, so
    * one degenerate bucket cannot go quadratic. Empty tokens are dropped
    * on both engines (split edge artifacts, not content).
    */
  def simhashPairsPortable(documents: DataFrame, maxHamming: Int = 8,
                           maxBucket: Int = 1024): DataFrame = {
    val exploded = Skew.fanOutScan(documents, "doc_id")
      .select(col("doc_id"), explode(nonEmptyTokens(col("text"))).as("w"))
      // r11: parse the 16 signature nibbles into two ints ONCE per token
      // — the per-bit form re-ran conv(substring(hex)) 64× per row; bit
      // j of the big-endian halves is (hi >> 31−j) & 1 / (lo >> 63−j) & 1,
      // the identical value (spec + oracle unchanged). r12: the two
      // halves come from ONE native digest ([[graft.functions.Md5Halves]],
      // bit-equal to the conv(substring(md5)) pair, spec-pinned) — the
      // hex string + two slices + two parses per token were GC churn.
      .select(col("doc_id"), graft.functions.Md5Prefix.md5Halves(col("w")).as("hh"))
      .select(col("doc_id"),
        element_at(col("hh"), 1).as("hi"),
        element_at(col("hh"), 2).as("lo"))
    val bitSums = (0 until 64).map { j =>
      val half = if (j < 32) col("hi") else col("lo")
      sum(shiftright(half, (if (j < 32) 31 else 63) - j).bitwiseAND(lit(1L))).as(s"b_$j")
    } :+ count(lit(1)).as("n")
    val counts = exploded.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = counts.select(col("doc_id") +:
      (0 until 4).map { c =>
        (0 until 16).map { jj =>
          val j = c * 16 + jj
          when(col(s"b_$j") * 2 > col("n"), lit(1 << jj)).otherwise(lit(0))
        }.reduce(_ + _).as(s"k$c")
      }: _*)
    hammingBandPairs(sig, maxHamming, maxBucket)
  }

  /** The 16-bit-chunk hamming-band candidate join, factored for every
    * 64-bit-signature family (simhash text signatures, the r11 media
    * dHash signatures — [[graft.ops.Multimodal.mediaNearDup]]): `sig`
    * carries (doc_id, k0..k3); docs sharing any chunk bucket become
    * candidates (exact for hamming ≤ 3 by pigeonhole), buckets collect
    * locally and pair-expand under the [[ListPairs]] star guard, and
    * the verify is the exact four-chunk hamming sum. Identical plan to
    * the pre-factor simhashPairsPortable tail.
    */
  private[graft] def hammingBandPairs(sig: DataFrame, maxHamming: Int,
                                      maxBucket: Int): DataFrame =
    hammingBandPairsN(sig, 4, maxHamming, maxBucket)

  /** The N-chunk generalization (r11): `sig` carries (doc_id,
    * k0..k{n−1}); pigeonhole makes the banding exact for
    * maxHamming ≤ n − 1. n = 4 is the 64-bit simhash/dHash family;
    * n = 8 the 128-bit wide dHash.
    */
  private[graft] def hammingBandPairsN(sig: DataFrame, nChunks: Int,
                                       maxHamming: Int,
                                       maxBucket: Int): DataFrame = {
    require(nChunks >= 2, s"hammingBandPairsN: need >= 2 chunks, got $nChunks")
    val kCols = (0 until nChunks).map(c => col(s"k$c"))
    val chunked = sig.select(
      (col("doc_id") +: kCols) :+
        explode(array((0 until nChunks).map { c =>
          struct(lit(c).as("chunk"), col(s"k$c").as("chunk_key"))
        }: _*)).as("ck"): _*)
      .select((col("doc_id") +: kCols) :+
        col("ck.chunk").as("chunk") :+ col("ck.chunk_key").as("chunk_key"): _*)
    chunked
      .groupBy(col("chunk"), col("chunk_key"))
      .agg(sort_array(collect_list(struct(col("doc_id") +: kCols: _*))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(ListPairs.listPairs(col("ms"), maxBucket))
      .select(Seq(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")) ++
        (0 until nChunks).map(c =>
          bit_count(col(s"a.k$c").bitwiseXOR(col(s"b.k$c"))).as(s"hx$c")): _*)
      .distinct()
      .withColumn("hamming",
        (0 until nChunks).map(c => col(s"hx$c")).reduce(_ + _).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** #40v minhash_recall: banding recall of the minhash LSH pipeline
    * against exact ground truth — the dedup-tier twin of
    * [[Similarity.annRecall]], and the dial (bands × rows-per-band vs
    * threshold) every production near-dup run is tuned by before it is
    * trusted to DELETE data.
    *
    * Truth = [[ngramJaccardInvertedIndex]]'s metadata-blocked exact
    * pairs at the same threshold (the labeled subset — corpus-wide
    * exact all-pairs is the quadratic the LSH exists to avoid, so
    * recall is measured on the blocked universe where exactness is
    * affordable; a banding miss there is a banding miss, the blocking
    * only bounds which pairs we can GRADE). Found = [[minhashPairsPortable]]'s verified pairs.
    * Output is one row: n_truth, n_hits (= |truth ∩ found| — the
    * intersection, NOT the banding's own pair count), n_banding_pairs
    * (the banding's full verified count, which includes cross-block
    * pairs the blocked truth cannot grade), recall = n_hits/n_truth.
    *
    * Scale shape: both arms are the existing guarded operators,
    * consumed ONCE each through a full-outer join at pair grain feeding
    * one 1-row aggregate — no third corpus scan, no re-derivation of
    * either arm, no new quadratic.
    */
  def minhashRecall(documents: DataFrame, minJaccard: Double = 0.3,
                    maxBucket: Int = 1024): DataFrame = {
    val truth = ngramJaccardInvertedIndex(documents, minJaccard)
      .select(col("id1"), col("id2"), lit(1L).as("t"))
    val found = minhashPairsPortable(documents, minJaccard, maxBucket)
      .select(col("id1"), col("id2"), lit(1L).as("f"))
    truth.join(found, Seq("id1", "id2"), "full_outer")
      .agg(
        coalesce(sum(col("t")), lit(0L)).as("n_truth"),
        coalesce(sum(when(col("t").isNotNull && col("f").isNotNull, 1L)),
          lit(0L)).as("n_hits"),
        coalesce(sum(col("f")), lit(0L)).as("n_banding_pairs"))
      .withColumn("recall",
        Publish.round6(when(col("n_truth") > 0,
          col("n_hits").cast("double") / col("n_truth"))))
  }

  /** Exact shingle-pair overlaps by the postings-list form (Elsayed,
    * Lin & Oard, "Pairwise Document Similarity in Large Collections with
    * MapReduce", ACL 2008): one (id1, id2, n1, n2, n_common) row for
    * every id1 < id2 document pair of one (source, lang) bucket that
    * shares at least one bigram shingle, where n1/n2 are the two
    * documents' shingle counts and n_common the shared count. The shared
    * front of [[ngramJaccardInvertedIndex]] and [[containmentPairs]].
    *
    * Shape: the postings ([[shinglePostings]], each row already carrying
    * its doc's count `n`) are derived ONCE and shuffled ONCE, on the key
    * (h, source, lang), into one window ordered by doc_id. Each posting
    * collects the (doc_id, n) of the postings before it in its key's
    * list, and exploding that prefix emits each of the list's pairs
    * exactly once, inside the task that holds the list; one
    * map-side-combinable count per pair gives n_common. A posting
    * self-join on the same key emits the same pairs, but it sends every
    * posting to both join sides (AQE broadcast the whole frame), feeds a
    * separate per-doc size aggregate joined back twice, and needs the
    * postings materialized so its three consumers do not re-derive them.
    * Here the postings have one consumer, so nothing is materialized and
    * building the frame runs no job. A groupBy-collect of each list
    * followed by a pair generator ([[ListPairs]]) was measured slower on
    * the curate workload (1 515 vs 1 190 ms, seed 7, 4 cores): the
    * collect aggregate over ~10⁵ keys falls back to sorting, twice, rows
    * the window has already sorted. The hash comes first in the key so
    * the sort's prefix comparator decides on a long, not on two strings.
    *
    * Guard: a shingle shared by df documents of one bucket emits
    * df(df−1)/2 pairs — a cookie-banner shingle at df=10⁶ is 5·10¹¹
    * rows from ONE key, which AQE cannot split because one list expands
    * in one task. Exactness forbids capping (the operators promise
    * EVERY qualifying pair), so an oversized key fails loudly with a
    * named raise_error instead of running for a week. The check is a
    * whole-list count in the same window (the [[Indicators]]
    * collectSeries pattern: one exchange, rows held in a spill-safe
    * buffer, never an array), computed before the list's first row is
    * emitted, so the error fires at that row, whose prefix is empty. A
    * key at exactly `maxPostingDf` passes and still expands up to
    * maxPostingDf²/2 pairs in one task — the guard is also the pair
    * stage's skew bound. Rows with a NULL `source` or `lang` are counted
    * by the guard (they share one NULL key) and never paired, as the
    * equi-join on the bucket never matched them.
    *
    * `stopShingleDf = Some(cut)` degrades instead of aborting: shingles
    * with df > cut are DROPPED from the vocabulary (the MOSS/Broder
    * "stop shingle" practice — boilerplate that common carries no
    * similarity signal), and each doc's `n` is recounted over the kept
    * vocabulary (a doc-keyed window), so jaccard/containment stay
    * internally consistent. That mode adds two exchanges (the doc
    * recount, then the key again) and does not apply `maxPostingDf`.
    */
  private def shinglePairCounts(documents: DataFrame, maxPostingDf: Int,
                                stopShingleDf: Option[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPostingDf > 0, "maxPostingDf must be positive")
    val byKey = Window.partitionBy(col("h"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
    val keyCount = count(lit(1)).over(
      byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val prefix = collect_list(struct(col("doc_id"), col("n"))).over(
      byKey.rowsBetween(Window.unboundedPreceding, -1))
    val bucketed = col("source").isNotNull && col("lang").isNotNull
    val postings = shinglePostings(documents)
    val listed = stopShingleDf match {
      case Some(cut) =>
        require(cut > 0, "stopShingleDf cutoff must be positive")
        postings.filter(bucketed)
          .withColumn("__df", keyCount).filter(col("__df") <= cut)
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .withColumn("__prev", prefix)
      case None =>
        // One predicate, so the NULL-bucket drop cannot be pushed below
        // the window that must count those rows.
        postings.withColumn("__df", keyCount).withColumn("__prev", prefix)
          .filter(when(col("__df") > maxPostingDf, raise_error(concat(
            lit(s"shingle postings: a shingle's document frequency exceeds maxPostingDf=$maxPostingDf (df="),
            col("__df").cast("string"),
            lit(") — its posting list would emit df^2/2 pairs from that key; " +
              "drop boilerplate via stopShingleDf, or raise maxPostingDf knowingly"))))
            .otherwise(bucketed))
    }
    listed
      .select(col("doc_id").as("id2"), col("n").as("n2"), explode(col("__prev")).as("p"))
      .select(col("p.doc_id").as("id1"), col("id2"), col("p.n").as("n1"), col("n2"))
      // Strict order, as the join's a.doc_id < b.doc_id: a doc listed
      // twice under one key (two of its shingles colliding in xxhash64)
      // follows itself in the list and is dropped here.
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** #40 ngram_jaccard: exact bigram-shingle Jaccard for every pair
    * sharing (source, lang) metadata buckets, at or above minJaccard.
    * Inverted index: pairs come from the shingle posting lists
    * ([[shinglePairCounts]]), so the per-pair work is a codegen'd count
    * and zero-overlap pairs never materialize — no bucket goes
    * all-pairs; requires minJaccard > 0. Postings are density-guarded:
    * a shingle whose document frequency exceeds `maxPostingDf` raises
    * before its list is built, or is dropped as a stop shingle when
    * `stopShingleDf` opts in.
    */
  def ngramJaccardInvertedIndex(documents: DataFrame, minJaccard: Double = 0.05,
                                maxPostingDf: Int = 10000,
                                stopShingleDf: Option[Int] = None): DataFrame = {
    require(minJaccard > 0, "inverted-index plan only emits overlapping pairs")
    shinglePairCounts(documents, maxPostingDf, stopShingleDf)
      .select(col("id1"), col("id2"), col("n_common"),
        (col("n1") + col("n2") - col("n_common")).as("n_union"))
      .withColumn("jaccard",
        col("n_common").cast("double") / nullif(col("n_union").cast("double"), lit(0.0)))
      .filter(col("jaccard") >= minJaccard)
  }

  /** #40o sentence_dedup: sentence-grain duplication profile (the
    * CCNet/RefinedWeb line-level dedup view): a sentence is duplicated
    * when its exact trimmed text occurs ≥2 times ACROSS the corpus
    * (within-doc repeats count — boilerplate repeats inside pages too).
    * Per doc: sentence count, duplicated-sentence count, duplicated
    * fraction. Sentences are the natural boilerplate unit (nav bars,
    * footers, cookie banners) that char-window spans over-segment and
    * token chunks straddle; the split convention is
    * [[TextSignals.sentenceStats]]'s ([[SentenceClass]], trimmed, empties
    * dropped).
    *
    * Scale shape — the count-by-gram pattern at sentence grain:
    * sentences shuffle as 8-byte xxhash64 keys for the corpus count,
    * the count joins back to the posting (AQE-splittable; a viral
    * sentence is a hot KEY in an aggregate, combined map-side), per-doc
    * rollup is a second hash aggregate, and corpus membership comes
    * from a left join so zero-sentence docs keep their row.
    */
  def sentenceDedup(documents: DataFrame): DataFrame = {
    val pos = documents.select(col("doc_id"), explode(trimmedSentences).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val counts = pos.groupBy(col("h")).agg(count(lit(1)).as("__n"))
    val per = pos.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum((col("__n") >= 2).cast("long")).as("n_dup_sents"))
    documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_dup_sents"), lit(0L)).as("n_dup_sents"),
        when(coalesce(col("n_sents"), lit(0L)) > 0,
          Publish.round6(col("n_dup_sents").cast("double") / col("n_sents")))
          .otherwise(lit(0.0)).as("dup_sent_frac"))
  }

  /** #40q sentence_dedup_clean: the REMOVAL tier of [[sentenceDedup]] —
    * the CCNet/RefinedWeb line-level boilerplate STRIP: every
    * occurrence of a sentence whose exact trimmed text occurs
    * ≥ `minCount` times across the corpus is cut (nav bars, footers,
    * cookie banners repeat corpus-wide; cutting all occurrences is the
    * boilerplate semantic — there is no "original" to keep), and the
    * document keeps its row with the surviving sentences rejoined
    * single-spaced (terminators are split separators and do not
    * survive, the documented rebuild convention). At the default
    * `minCount = 2` the cut count per doc EQUALS the report's
    * `n_dup_sents` by construction (spec-pinned), so [[sentenceDedup]]
    * is this cutter's exact preview.
    *
    * Scale shape — the report's count-by-key pattern plus ordered
    * reassembly: sentences shuffle as 8-byte xxhash64 keys, the
    * count-per-key frame joins back to the posting (one count row per
    * key — a viral sentence is a skewed-but-bounded join AQE splits),
    * the keep verdict is a projection, and per-doc rebuild is one hash
    * aggregate whose collect_list is bounded by doc length. Docs with
    * no sentences keep their row through the left join.
    */
  def sentenceDedupClean(documents: DataFrame, minCount: Long = 2L,
                         bySource: Boolean = false): DataFrame = {
    // bySource counts within each `source` bucket — the RefinedWeb
    // grain (boilerplate is per-site: a sentence legitimately common
    // ACROSS sources is quotation, not chrome). Corpus-wide stays the
    // default to match the #40o report's definition exactly. A NULL
    // source folds to '' so the count join cannot drop its postings
    // (null-unsafe equality would otherwise EMPTY every null-source
    // doc's rebuilt text).
    val keyNames = if (bySource) Seq("__src", "h") else Seq("h")
    val pos = documents.select(
        col("doc_id") +:
          (if (bySource) Seq(coalesce(col("source"), lit("")).as("__src"))
           else Nil) :+
          posexplode(trimmedSentences).as(Seq("pos", "s")): _*)
      .withColumn("h", xxhash64(col("s")))
    val counts = pos.groupBy(keyNames.map(col): _*).agg(count(lit(1)).as("__n"))
    val per = pos.join(counts, keyNames)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum((col("__n") >= minCount).cast("long")).as("n_cut"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__n") < minCount,
            struct(col("pos"), col("s"))))),
          e => e.getField("s"))).as("clean_text"))
    documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** #40n containment_pairs: asymmetric n-gram CONTAINMENT (Broder
    * 1997's second resemblance measure) — c(A,B) = |A∩B| / |A|. The
    * quote/excerpt detector symmetric Jaccard structurally misses: a
    * 50-shingle snippet fully embedded in a 5000-shingle page has
    * J ≈ 0.01 (invisible at any sane threshold) but containment 1.0.
    * Reports each overlapping same-(source,lang) pair with both
    * directional containments and the max — threshold on the max, read
    * the direction off which side is the snippet (n1 vs n2).
    *
    * Same inverted-index shape as [[ngramJaccardInvertedIndex]]: pairs
    * and their intersection counts come from the shingle posting lists
    * ([[shinglePairCounts]]), each posting already carrying its doc's
    * shingle count, and the filter runs AFTER the cheap arithmetic.
    * Shares [[shinglePostings]] so the two dup metrics see identical
    * shingle sets, and the same density guard (loud `maxPostingDf`
    * raise / opt-in stop-shingle drop).
    */
  def containmentPairs(documents: DataFrame,
                       minContainment: Double = 0.5,
                       maxPostingDf: Int = 10000,
                       stopShingleDf: Option[Int] = None): DataFrame = {
    require(minContainment > 0, "inverted-index plan only emits overlapping pairs")
    shinglePairCounts(documents, maxPostingDf, stopShingleDf)
      .select(col("id1"), col("id2"), col("n_common"), col("n1"), col("n2"),
        Publish.round6(col("n_common").cast("double") / col("n1")).as("c1_in_2"),
        Publish.round6(col("n_common").cast("double") / col("n2")).as("c2_in_1"),
        Publish.round6(col("n_common").cast("double") / least(col("n1"), col("n2")))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }
}
