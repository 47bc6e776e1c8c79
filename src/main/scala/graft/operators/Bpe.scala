package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) — the
  * tokenizer-fitting stage of a training-data pipeline, Spark-first.
  *
  * BPE trains on the WORD-FREQUENCY table, not corpus positions: the
  * only corpus-scale pass is one word count (a single map-side-
  * combinable shuffle); every merge round then works on a vocabulary-
  * sized frame — at 100 TB the vocabulary is millions of rows where the
  * corpus is trillions, so rounds cost vocab-scans, not corpus-scans.
  * Each round: count adjacent symbol pairs weighted by word frequency,
  * pick the max on the driver (a 1-row TakeOrdered — the merge table is
  * a model artifact, bounded by contract), apply the merge as one
  * native pass over each word's symbol array
  * ([[graft.functions.BpeMergeFold]], r12 — spec-pinned equal to the
  * interpreted left-fold `aggregate` it replaced), localCheckpoint to
  * cut the growing lineage. Merge choice is deterministic:
  * (count DESC, lhs ASC, rhs ASC) — Sennrich's reference breaks ties by
  * insertion order; a distributed count has no such order, so the
  * lexicographic rule is the documented, engine-replayable policy.
  *
  * One merge per round is one Spark job per merge — fine for bounded
  * fixtures, 32k sequential jobs for a production vocabulary.
  * [[trainBatched]] is the trainer: it batches symbol-disjoint
  * dominance-checked prefixes of each round's pair slice and is
  * PROVABLY sequential-equivalent (conditions documented on the
  * method, spec-pinned to the one-merge-per-round reference);
  * `batchMax = 1` is that sequential loop.
  */
object Bpe {

  val Eow = "</w>"

  case class Merge(round: Int, lhs: String, rhs: String,
                   merged: String, pair_count: Long)

  /** [[Dedup.nonEmptyTokens]] with NULL text folded to the empty document, so
    * every Bpe entry point treats a null `text` exactly like "" (a
    * bare `size(tokens(NULL))` is -1 and silently corrupts sums; the
    * projection/vocab twins would also disagree on the row).
    */
  private def docWords: Column =
    Dedup.nonEmptyTokens(coalesce(col("text"), lit("")))

  /** Word-frequency vocabulary over [[Dedup.tokens]] words. */
  def wordFreqs(documents: DataFrame): DataFrame =
    documents.select(explode(docWords).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Initial segmentation: characters plus the end-of-word marker. */
  private[graft] def initSymbols(w: Column): Column =
    concat(split(w, ""), array(lit(Eow)))

  /** Adjacent-pair counts over a (syms, freq) vocabulary — one explode
    * + map-side-combinable count. Fully-merged single-symbol words have
    * no pairs and drop out before the explode (`sequence(1, 0)` would
    * otherwise count DESCENDING).
    */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("lhs"),
          element_at(col("syms"), i + 1).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("pair_count"))

  /** #47l bpe_pairs: the first merge round's pair statistics — top-k
    * adjacent symbol pairs over the character-split vocabulary. The
    * oracle-checkable face of the trainer: later rounds differ only by
    * the merges already applied.
    */
  def bpePairs(documents: DataFrame, k: Int = 20): DataFrame = {
    val vocab = wordFreqs(documents)
      .select(initSymbols(col("w")).as("syms"), col("freq"))
    TopK.withRank(pairCounts(vocab), k,
        Seq(TopK.descNum(col("pair_count")), col("lhs"), col("rhs")))
      .select(col("rk"), col("lhs"), col("rhs"), col("pair_count"))
  }

  /** BPE training with BATCHED merge rounds — the fix for "R merges = R
    * sequential Spark jobs" (round-6 verdict): each round collects the
    * top-`sliceSize` pair slice ONCE and greedily accepts a PREFIX of
    * it whose batched application is PROVABLY identical to running one
    * merge per round. A pair `p_i` joins the batch only when three
    * conditions hold, all checkable from the slice:
    *
    *  1. PREFIX — acceptance stops at the first rejected pair (a
    *     skipped pair would have been merged earlier sequentially);
    *  2. DISJOINT — `p_i`'s symbols touch no earlier accepted pair's
    *     symbols, so earlier merges change neither `p_i`'s count nor
    *     its occurrences (merging (a,b) only removes adjacencies
    *     involving a or b);
    *  3. DOMINANCE — `count(p_i)` strictly exceeds every possible
    *     new-pair count created by earlier accepted merges. Any pair
    *     that is new after merging `p_j = (a,b)` sits on a boundary
    *     that was previously an adjacency `q` with `q.lhs = b` or
    *     `q.rhs = a`, so its count is ≤ count(q) in the ORIGINAL
    *     vocabulary (merges only remove adjacencies); the bound
    *     `B_j = max count(q)` is read off the slice, and
    *     `count(p_i) > slice-min` guarantees no unseen q below the
    *     slice can matter. Strictness also rules out (count, lex) ties
    *     against new pairs whose names the slice cannot know.
    *
    * Under 1–3 the sequential argmax after applying `p_1..p_{i-1}` is
    * exactly `p_i`, so the batch replays the sequential merge order —
    * spec-pinned to the one-merge-per-round reference on the Sennrich
    * fixture. Worst case every round accepts one pair (one job per
    * merge plus one slice collect); boilerplate-heavy rounds with
    * several disjoint dominant pairs collapse R jobs into R/batch.
    * `batchMax` bounds the per-round fold depth of the merge projection.
    *
    * Returns (merge table, Spark rounds used) — the second component
    * is the job-count collapse the caller can assert/monitor.
    */
  def trainBatched(documents: DataFrame, merges: Int = 10,
                   sliceSize: Int = 1024, batchMax: Int = 16): (Seq[Merge], Int) = {
    // batchMax < 1 would reject every pair before the first accept and
    // spin the round loop forever; fail loudly instead.
    require(sliceSize > 0 && batchMax > 0,
      s"trainBatched: sliceSize=$sliceSize and batchMax=$batchMax must be >= 1")
    var vocab = graft.Ckpt.frame(wordFreqs(documents)
      .select(initSymbols(col("w")).as("syms"), col("freq")), eager = false)
    val out = Seq.newBuilder[Merge]
    var done = 0
    var rounds = 0
    var exhausted = false
    while (done < merges && !exhausted) {
      // Probe one row PAST the slice: `covered` must be true when the
      // corpus has exactly sliceSize pair types (an extra row proves
      // uncovered; its absence proves covered — length < sliceSize
      // alone misses the exact-equality case and needlessly shrinks
      // batches via the c > sliceMin guard).
      val probed = pairCounts(vocab)
        .orderBy(TopK.descNum(col("pair_count")), col("lhs"), col("rhs"))
        .limit(sliceSize + 1).collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
          r.getAs[Long]("pair_count")))
      val slice = probed.take(sliceSize)
      if (slice.isEmpty) exhausted = true
      else {
        rounds += 1
        val covered = probed.length <= sliceSize // slice holds EVERY pair
        val sliceMin = slice.last._3
        val used = scala.collection.mutable.Set.empty[String]
        var maxB = Long.MinValue
        val accepted = Seq.newBuilder[(String, String, Long)]
        var n = 0
        var stop = false
        for ((l, r, c) <- slice if !stop) {
          val ok =
            if (n == 0) true
            else !used(l) && !used(r) && c > maxB && (covered || c > sliceMin)
          if (!ok || n >= math.min(batchMax, merges - done)) stop = true
          else {
            accepted += ((l, r, c))
            used += l; used += r
            val b = slice.collect { case (ql, qr, qc) if ql == r || qr == l => qc }
            maxB = math.max(maxB, if (b.isEmpty) Long.MinValue else b.max)
            n += 1
          }
        }
        val batch = accepted.result()
        batch.zipWithIndex.foreach { case ((l, r, c), i) =>
          out += Merge(done + i + 1, l, r, l + r, c)
        }
        // LAZY checkpoint (r12): the next round's pair-slice collect is
        // the action that materializes this round's vocab — an eager
        // checkpoint here was one extra full vocab job per round plus a
        // final-round materialization nobody reads (job-count was the
        // whole wall on the bpe_* rows: 25 jobs / 2.8 s task time).
        vocab = graft.Ckpt.frame(vocab
          .withColumn("syms", graft.functions.BpeMergeFold.bpeMergeFold(
            col("syms"), batch.map { case (l, r, _) => (l, r) })), eager = false)
        done += batch.size
      }
    }
    (out.result(), rounds)
  }

  /** Segment documents with a trained merge table: the merges fold into
    * one nested column expression (model-artifact-sized by contract), so
    * tokenization is a single corpus projection — no join, no shuffle.
    * Output: (doc_id, bpe_tokens).
    */
  def tokenize(documents: DataFrame, merges: Seq[Merge]): DataFrame = {
    val segmented = documents
      .select(col("doc_id"), docWords.as("__w"))
      .select(col("doc_id"), transform(col("__w"), w =>
        graft.functions.BpeMergeFold.bpeMergeFold(initSymbols(w),
          merges.map(m => (m.lhs, m.rhs)))
      ).as("__s"))
    segmented.select(col("doc_id"), flatten(col("__s")).as("bpe_tokens"))
  }

  /** [[tokenize]] at the VOCABULARY grain — the corpus-batch default.
    * The per-word merge fold is word-pure, so running it per occurrence
    * (what [[tokenize]]'s projection does) re-evaluates an interpreted
    * R-deep HOF ladder once per corpus POSITION; here it runs once per
    * DISTINCT word (the same positions-vs-vocabulary argument the
    * trainer makes: millions of words where the corpus is trillions of
    * positions), and positions just join the result back by word — a
    * vocabulary-sized build side Spark broadcasts while it fits, with
    * sort-merge as the natural fallback when a 100 TB vocabulary
    * outgrows it. Per-doc reassembly is a collect_list bounded by doc
    * length; wordless docs come back with an empty token array via the
    * left join, so the output is row-identical to [[tokenize]]
    * (spec-pinned). [[tokenize]] stays as the streaming-safe pure
    * projection — the two-plans-kept idiom.
    */
  def tokenizeByVocab(documents: DataFrame, merges: Seq[Merge]): DataFrame = {
    val words = documents
      .select(col("doc_id"), docWords.as("__w"))
      .select(col("doc_id"), posexplode(col("__w")).as(Seq("pos", "w")))
    val perDoc = wordSegments(words, merges)
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        e => e.getField("syms"))).as("bpe_tokens"))
    documents.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bpe_tokens"), array().cast("array<string>")).as("bpe_tokens"))
  }

  /** The (position, word) posting joined to its per-distinct-word
    * segmentation. The join ships 8-byte xxhash64 keys (the repo's
    * string-key-shuffle rule — at broadcast scale it's moot, but the
    * documented sort-merge fallback would otherwise sort the corpus
    * posting on variable-width word strings); a residual `w` equality
    * keeps exactness against hash collisions.
    */
  private def wordSegments(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val vocab = words.select(col("w")).distinct()
      .withColumn("__h", xxhash64(col("w")))
      .withColumn("syms", graft.functions.BpeMergeFold.bpeMergeFold(
        initSymbols(col("w")), merges.map(m => (m.lhs, m.rhs))))
      .withColumnRenamed("w", "__vw")
    words.withColumn("__h", xxhash64(col("w")))
      .join(vocab, Seq("__h"))
      .filter(col("w") === col("__vw"))
      .drop("__h", "__vw")
  }

  /** #47z2 sequence_pack_bpe: the ACTUAL trainer feed — fixed-length
    * sequences of REAL BPE tokens. [[Shard.sequencePack]] lays out
    * whitespace-token counts (a manifest); this op packs the trained
    * tokenizer's output itself: segment ([[tokenizeByVocab]]), prefix-
    * sum the BPE counts (the same two-phase [[Shard.globalCum]] — no
    * corpus-wide single-partition window), explode each doc's
    * (sequence, slice) overlaps, `slice()` the token arrays, and
    * assemble each sequence from its doc slices in doc_id order. Every
    * sequence except the corpus tail is exactly `seqLen` tokens
    * (spec-asserted); per-sequence assembly is a collect_list bounded
    * by `seqLen` entries by construction.
    */
  def packedSequences(documents: DataFrame, merges: Seq[Merge],
                      seqLen: Long = 512L, parts: Int = 32): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // seg feeds BOTH the count branch (→ manifest) and the slice join,
    // and it is an aggregate-built frame (explode + join + groupBy) —
    // un-materialized, the whole segmentation pipeline re-executes per
    // consumer (ReuseProbe: 9 corpus scans / 13 live shuffles; 0 scans
    // / 7 shuffles checkpointed — AQE reuses nothing across
    // separately-instantiated branches). The localCheckpoint idiom,
    // same as the LCP-pairs fix.
    val seg = tokenizeByVocab(documents, merges).transform(graft.Ckpt.frame)
    val counts = seg.select(col("doc_id"),
      size(col("bpe_tokens")).cast("bigint").as("n_tokens"))
    val manifest = Shard.globalCum(counts, parts)
      .filter(col("n_tokens") > 0)
      .withColumn("__o", col("cum_tokens") - col("n_tokens"))
      .withColumn("seq_id", explode(sequence(
        floor(col("__o").cast("double") / seqLen).cast("bigint"),
        floor((col("cum_tokens") - 1).cast("double") / seqLen).cast("bigint"))))
      .select(col("doc_id"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("__o")).as("tok_start"),
        least(col("n_tokens"), (col("seq_id") + lit(1L)) * seqLen - col("__o"))
          .as("tok_end"))
    val assembled = manifest.join(seg, Seq("doc_id"))
      .select(col("seq_id"), col("doc_id"),
        slice(col("bpe_tokens"), (col("tok_start") + lit(1)).cast("int"),
          (col("tok_end") - col("tok_start")).cast("int")).as("__toks"))
      .groupBy(col("seq_id"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("__toks"))))
        .as("__sl"))
    // doc_breaks: the offset where each document's slice starts inside
    // the sequence (exclusive prefix sums of the slice sizes) — the
    // attention-reset / EOS positions a trainer's loader needs to mask
    // cross-document attention in a packed row.
    val sizes = transform(col("__sl"), e => size(e.getField("__toks")).cast("long"))
    val breaks = slice(
      aggregate(sizes, array(lit(0L)),
        (acc, s) => concat(acc, array(element_at(acc, -1) + s))),
      lit(1), size(col("__sl")))
    assembled
      .select(col("seq_id"),
        flatten(transform(col("__sl"), e => e.getField("__toks"))).as("tokens"),
        concat_ws(" ", transform(breaks, b => b.cast("string"))).as("doc_breaks"))
      .select(col("seq_id"),
        size(col("tokens")).cast("long").as("n_toks"),
        concat_ws(" ", col("tokens")).as("toks_str"),
        col("doc_breaks"))
  }

  /** Persist the trained merge table — the model-store step between
    * the fit ([[trainBatched]], a batch job) and the deployments
    * ([[tokenize]] as the streaming gate, [[tokenizeByVocab]] as the
    * corpus batch). Parquet carries the schema; merge ORDER is the
    * model, recorded explicitly in `round`.
    */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[Merge], path: String): Unit = {
    import spark.implicits._
    require(merges.nonEmpty, "saveMerges: empty merge table")
    merges.toDF().repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a merge table written by [[saveMerges]]. The apply fold
    * replays merges IN TRAINING ORDER, so a gapped or duplicated
    * `round` column means a corrupt/partial artifact — fail loudly
    * rather than tokenize with a silently reordered model.
    */
  def loadMerges(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Merge] = {
    import spark.implicits._
    val merges = spark.read.parquet(path).as[Merge]
      .collect().sortBy(_.round).toSeq
    require(merges.nonEmpty, s"loadMerges: empty merge table at $path")
    require(merges.map(_.round) == (1 to merges.size),
      s"loadMerges: rounds must be contiguous 1..${merges.size}, " +
        s"got ${merges.map(_.round).mkString(",")} at $path")
    merges
  }

  /** #47y3 bpe_fertility: per-language tokenizer capacity read — BPE
    * tokens per word under a trained merge table. A language whose
    * fertility stays high after training is under-served by the merge
    * budget (its frequent words never merged), the signal that decides
    * vocab size and per-lang merge allocation before a production
    * tokenizer run. One segmentation pass ([[tokenizeByVocab]]) plus
    * two bounded aggregates; fertility divides two exact BIGINT sums,
    * so the ratio is deterministic under any partitioning.
    */
  def fertility(documents: DataFrame, merges: Seq[Merge]): DataFrame = {
    // Counts only — no token-array assembly: the per-word fold's SIZE
    // is all the report needs, so the posting aggregates size(syms)
    // per doc instead of collect_list'ing and flattening full symbol
    // arrays (the r8 review finding), and word counts fall out of the
    // same posting instead of a second corpus tokens pass. Zero-word
    // docs re-enter through the left join with 0/0.
    val words = documents
      .select(col("doc_id"), docWords.as("__w"))
      .select(col("doc_id"), posexplode(col("__w")).as(Seq("pos", "w")))
    val perDoc = wordSegments(words, merges)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(size(col("syms"))).as("nb"))
    documents.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("nw"), lit(0L))).as("n_words"),
        sum(coalesce(col("nb"), lit(0L))).as("n_bpe"),
        Publish.round6(sum(coalesce(col("nb"), lit(0L))).cast("double") /
          nullif(sum(coalesce(col("nw"), lit(0L))).cast("double"), lit(0.0)))
          .as("fertility"))
  }
}
