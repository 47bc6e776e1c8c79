package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Spec reference for [[Dedup.maximalSpans]]: the same maximal repeats
  * computed by prefix-doubling suffix ranks instead of a suffix-string
  * sort. Two independent suffix orders over the shared island front
  * ([[Dedup.islandFrame]]) and left-maximality tail
  * ([[Dedup.leftMaximalSpans]]) must agree on every corpus.
  */
object MaximalSpansPD {

  /** Seed window width of the rank ladder: the first rank is a plain
    * sort of 8-char prefixes, then doubling takes over.
    */
  private val PdSeedWindow = 8

  /** [[Dedup.maximalSpans]] with Manber–Myers prefix-doubling suffix
    * ranking. Output-identical (asserted by `DedupTextSpec` and
    * `PropertySpec`); the physical difference is what crosses the
    * network:
    *
    *  - [[Dedup.maximalSpans]] materializes every island SUFFIX as a
    *    string: an island of L chars ships O(L²/2) chars through the
    *    range sort. Bounded by the `levels` cap, but at cap 4095 a single
    *    full-length island costs ~8M shuffled chars — the documented
    *    "explicit price of exact maximality". Fastest at bench scale
    *    (one sort), quadratic-per-island at corpus scale.
    *  - This twin never builds a suffix string. It sorts 8-char seed
    *    windows once, then runs ⌈log2 maxLen⌉−3 doubling rounds: rank
    *    of window 2w = dense-ish rank of the pair (rank_w[i],
    *    rank_w[i+w] | −1), assigned by sorting the DISTINCT pairs and
    *    joining back (min-over-group keeps equal keys equal; ranks
    *    need only be order-isomorphic). Every round shuffles
    *    fixed-width rows — O(positions · log cap) total bytes.
    *
    * Neighbor LCPs reuse the SAME ladder instead of comparing suffix
    * strings: walk windows from the largest computed down to the seed —
    * `rank_w[a+acc] == rank_w[b+acc]` (null-safe; a position past the
    * island end has no rank row) proves the next w chars match, so
    * `acc += w` and both cursors advance; the final <8-char tail is an
    * explicit substring descent over the stored seed windows. Matches
    * on identical-but-truncated suffixes overshoot by design and are
    * capped by `least(acc, remaining_a, remaining_b)` — exactly the
    * true LCP in that case (the remainders are equal strings).
    *
    * Rounds stop early once every rank is unique (then no two distinct
    * suffixes share a longer window, so higher levels of the walk
    * cannot match) — real corpora resolve in a few rounds; the
    * adversarial all-same-char corpus runs all ⌈log2 cap⌉.
    */
  def apply(documents: DataFrame, minLen: Int = 40,
            levels: Int = 12, hashGrams: Boolean = true): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val isl = Dedup.islandFrame(documents, minLen, hashGrams)
    val maxLen = isl.agg(coalesce(max(length(col("itext"))), lit(0))).head.getInt(0)
    require(maxLen < (1 << levels),
      s"maximalSpansPD: island of $maxLen chars exceeds the 2^$levels-1 cap — raise `levels`")
    // Fixed-width position rows: island-local offset, remaining suffix
    // length, and the seed window — never a full suffix.
    val posF = isl
      .select(col("doc_id").cast("long").as("doc_id"),
        col("island").cast("long").as("island"), col("itext"),
        explode(sequence(lit(0), length(col("itext")) - 1)).as("i0"))
      .select(col("doc_id"), col("island"), col("i0").cast("long").as("i"),
        (length(col("itext")) - col("i0")).cast("long").as("slen"),
        col("itext").substr(col("i0") + 1, lit(PdSeedWindow)).as("w8"))
      .localCheckpoint()
    val nPos = posF.count()
    // Seed rank: sort the DISTINCT 8-char windows (identical windows —
    // truncated or not — must share a rank; sorting distinct values
    // keeps zipWithIndex deterministic with no tie-handling).
    val r0map = posF.select(col("w8")).distinct().orderBy(col("w8"))
      .rdd.zipWithIndex().map { case (r, k) => (r.getString(0), k) }
      .toDF("w8", "rank").localCheckpoint()
    var cur = posF.join(r0map, Seq("w8"))
      .select(col("doc_id"), col("island"), col("i"), col("slen"), col("rank"))
      .localCheckpoint()
    var ranksUnique = r0map.count() == nPos
    // Rank ladder, largest window first (the walk consumes it that way).
    var tabs = List((PdSeedWindow, cur))
    var w = PdSeedWindow
    while (w < maxLen && !ranksUnique) {
      val nxt = cur.select(col("doc_id"), col("island"),
        (col("i") - w).as("i"), col("rank").as("__rn"))
      val keyed = cur.join(nxt, Seq("doc_id", "island", "i"), "left")
        .select(col("doc_id"), col("island"), col("i"), col("slen"),
          col("rank").as("__ra"), coalesce(col("__rn"), lit(-1L)).as("__rb"))
      // −1 for "no right half" sorts first: a truncated suffix is a
      // prefix of any longer suffix sharing its chars, and shorter
      // sorts lexicographically smaller.
      val kmap = keyed.select(col("__ra"), col("__rb")).distinct()
        .orderBy(col("__ra"), col("__rb"))
        .rdd.zipWithIndex().map { case (r, k) => (r.getLong(0), r.getLong(1), k) }
        .toDF("__ra", "__rb", "rank").localCheckpoint()
      cur = keyed.join(kmap, Seq("__ra", "__rb"))
        .select(col("doc_id"), col("island"), col("i"), col("slen"), col("rank"))
        .localCheckpoint()
      ranksUnique = kmap.count() == nPos
      w *= 2
      tabs = (w, cur) :: tabs
    }
    // Final suffix order — identical to the string sort's
    // (rank is order-isomorphic to the suffix; ties are identical
    // suffixes, broken by doc_id/pos exactly as there).
    val idx = cur
      .select(col("doc_id"), col("island"), col("i"), col("slen"), col("rank"),
        (col("island") + col("i")).as("pos"))
      .orderBy(col("rank"), col("doc_id"), col("pos"))
      .rdd.zipWithIndex()
      .map { case (r, k) =>
        (k, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)) }
      .toDF("idx", "doc_id", "island", "i", "slen", "pos")
      .localCheckpoint()
    val adj = idx.select(col("idx").as("ia"), col("doc_id").as("da"),
        col("island").as("la"), col("i").as("xa"), col("slen").as("sa_len"))
      .join(idx.select((col("idx") - 1).as("ia"), col("doc_id").as("db"),
        col("island").as("lb"), col("i").as("xb"), col("slen").as("sb_len")),
        Seq("ia"))
      .withColumn("acc", lit(0L))
    // Rank-ladder LCP walk: two equi-joins per level on the bounded
    // pairs frame (keys are computed cursor positions — still hash
    // joins); checkpoint per level keeps the plan linear in levels.
    val walked = tabs.foldLeft(adj) { case (df, (wk, tab)) =>
      val ta = tab.select(col("doc_id").as("__tda"), col("island").as("__tla"),
        col("i").as("__tja"), col("rank").as("__rka"))
      val tb = tab.select(col("doc_id").as("__tdb"), col("island").as("__tlb"),
        col("i").as("__tjb"), col("rank").as("__rkb"))
      df.join(ta, df("da") === ta("__tda") && df("la") === ta("__tla") &&
          (df("xa") + df("acc")) === ta("__tja"), "left")
        .join(tb, df("db") === tb("__tdb") && df("lb") === tb("__tlb") &&
          (df("xb") + df("acc")) === tb("__tjb"), "left")
        .withColumn("acc", col("acc") +
          when(col("__rka").isNotNull && col("__rka") === col("__rkb"),
            lit(wk.toLong)).otherwise(lit(0L)))
        .drop("__tda", "__tla", "__tja", "__rka", "__tdb", "__tlb", "__tjb", "__rkb")
        .localCheckpoint()
    }
    // Tail: the remaining common prefix is < seed width (the seed level
    // just ran), so the stored 8-char windows at the advanced cursors
    // decide it — explicit substring descent with the full-window rule,
    // overshoot capped by the windows' own lengths.
    val wa = posF.select(col("doc_id").as("__tda"), col("island").as("__tla"),
      col("i").as("__tja"), col("w8").as("__wa"))
    val wb = posF.select(col("doc_id").as("__tdb"), col("island").as("__tlb"),
      col("i").as("__tjb"), col("w8").as("__wb"))
    val tailed0 = walked
      .join(wa, walked("da") === wa("__tda") && walked("la") === wa("__tla") &&
        (walked("xa") + walked("acc")) === wa("__tja"), "left")
      .join(wb, walked("db") === wb("__tdb") && walked("lb") === wb("__tlb") &&
        (walked("xb") + walked("acc")) === wb("__tjb"), "left")
      .withColumn("tacc", lit(0L))
    val tailed = Seq(4, 2, 1).foldLeft(tailed0) { (df, wd) =>
      df.withColumn("tacc", col("tacc") +
        when(length(col("__wa")) >= col("tacc") + wd &&
          length(col("__wb")) >= col("tacc") + wd &&
          col("__wa").substr((col("tacc") + 1).cast("int"), lit(wd)) ===
            col("__wb").substr((col("tacc") + 1).cast("int"), lit(wd)),
          lit(wd.toLong)).otherwise(lit(0L)))
    }
    // Same double-consumption checkpoint as the string-sort form: the
    // tail's two window joins + descent feed both the __ln and __lp
    // joins below.
    val pairs = tailed.select(col("ia"),
      least(
        col("acc") + least(col("tacc"),
          coalesce(length(col("__wa")), lit(0)).cast("long"),
          coalesce(length(col("__wb")), lit(0)).cast("long")),
        col("sa_len"), col("sb_len")).as("lcp"))
      .localCheckpoint()
    val m = idx
      .join(pairs.select(col("ia"), col("lcp").as("__ln")), col("idx") === col("ia"), "left")
      .drop("ia")
      .join(pairs.select((col("ia") + 1).as("ib"), col("lcp").as("__lp")),
        col("idx") === col("ib"), "left")
      .select(col("doc_id"), col("island"), col("pos"),
        greatest(coalesce(col("__ln"), lit(0L)), coalesce(col("__lp"), lit(0L))).as("m"))
    Dedup.leftMaximalSpans(m, minLen)
  }
}
