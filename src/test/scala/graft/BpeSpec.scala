package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.Bpe

/** Ground-truth BPE fixtures — the classic Sennrich vocabulary
  * {low:5, lower:2, newest:6, widest:3}, hand-traced merge rounds under
  * the documented (count DESC, lhs ASC, rhs ASC) tie-break.
  */
class BpeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def sennrich = {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("bpePairs ranks first-round pair counts with lexicographic tie-break") {
    val out = Bpe.bpePairs(sennrich, k = 6).orderBy(col("rk"))
      .collect().map(r => (r.getAs[Int]("rk"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_count")))
    // count-9 tie (e,s) (s,t) (t,</w>) resolves lexicographically.
    assert(out.toSeq == Seq(
      (1, "e", "s", 9L), (2, "s", "t", 9L), (3, "t", Bpe.Eow, 9L),
      (4, "w", "e", 8L), (5, "l", "o", 7L), (6, "o", "w", 7L)))
  }

  test("train reproduces the classic merge sequence") {
    val merges = BpeReference.train(sennrich, merges = 5)
    assert(merges.map(m => (m.lhs, m.rhs, m.pair_count)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", Bpe.Eow, 9L),
      ("l", "o", 7L), ("lo", "w", 7L)))
    assert(merges.map(_.round) == Seq(1, 2, 3, 4, 5))
  }

  test("tokenize segments an unseen word with trained merges") {
    val merges = BpeReference.train(sennrich, merges = 5)
    val row = Bpe.tokenize(Seq((7L, "lowest")).toDF("doc_id", "text"), merges)
      .collect().head
    val toks = row.getSeq[String](row.fieldIndex("bpe_tokens"))
    assert(toks == Seq("low", "est" + Bpe.Eow))
  }

  test("merge application is greedy leftmost on overlaps") {
    val m = Seq(Bpe.Merge(1, "a", "a", "aa", 0L))
    val row = Bpe.tokenize(Seq((1L, "aaa")).toDF("doc_id", "text"), m)
      .collect().head
    val toks = row.getSeq[String](row.fieldIndex("bpe_tokens"))
    assert(toks == Seq("aa", "a", Bpe.Eow))
  }

  test("tokenizeByVocab is row-identical to tokenize, empty docs included") {
    // One normal doc, one wordless doc (must come back as an EMPTY
    // array, not a dropped row), one overlap run (the greedy-leftmost
    // edge), one doc repeating another's words (the vocab grain must
    // not conflate docs).
    val merges = BpeReference.train(sennrich, merges = 5) :+
      Bpe.Merge(6, "a", "a", "aa", 0L)
    val documents = Seq(
      (1L, "low lowest aaa"), (2L, "!!! ..."), (3L, ""),
      (4L, "aaa low low")).toDF("doc_id", "text")
    val viaProjection = Bpe.tokenize(documents, merges)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    val viaVocab = Bpe.tokenizeByVocab(documents, merges)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(viaVocab.toSeq == viaProjection.toSeq)
    assert(viaVocab.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(viaVocab(1)._2.isEmpty && viaVocab(2)._2.isEmpty)
    assert(viaVocab(0)._2 == Seq("low", Bpe.Eow, "low", "est" + Bpe.Eow,
      "aa", "a", Bpe.Eow))
  }

  test("fertility: per-lang tokens-per-word under a fixed merge table") {
    val merges = BpeReference.train(sennrich, merges = 5)
    // en: low×5→2 toks each, lower×2→[low,e,r,</w>]=4, newest×6→
    // [n,e,w,est</w>]=4, widest×3→[w,i,d,est</w>]=4: 16 words, 54 toks.
    // de: "low low" → 2 words, 4 toks (merges trained on en only).
    val enText = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val documents = Seq((1L, enText, "en"), (2L, "low low", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Bpe.fertility(documents, merges).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(("de", 1L, 2L, 4L, 2.0), ("en", 1L, 16L, 54L, 3.375)),
      out.toString)
  }

  test("merge table round-trips through the model store; corrupt rounds fail loudly") {
    val merges = BpeReference.train(sennrich, merges = 5)
    val dir = java.nio.file.Files.createTempDirectory("bpe_store").toString
    val path = s"$dir/merges"
    Bpe.saveMerges(spark, merges, path)
    assert(Bpe.loadMerges(spark, path) == merges)
    // Tokenization with the reloaded table is bit-identical.
    val doc = Seq((7L, "lowest")).toDF("doc_id", "text")
    val a = Bpe.tokenize(doc, merges).collect().head.getSeq[String](1)
    val b = Bpe.tokenize(doc, Bpe.loadMerges(spark, path)).collect().head.getSeq[String](1)
    assert(a == b)
    // A gapped artifact (round 3 missing) must not load.
    val gapped = merges.filterNot(_.round == 3)
    Bpe.saveMerges(spark, gapped, s"$dir/gapped")
    val e = intercept[IllegalArgumentException](Bpe.loadMerges(spark, s"$dir/gapped"))
    assert(e.getMessage.contains("contiguous"))
  }

  test("NULL text folds to the empty document across the whole family") {
    val merges = BpeReference.train(sennrich, merges = 3)
    val documents = Seq((1L, "low low", "en"), (2L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    val a = Bpe.tokenize(documents, merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
    val b = Bpe.tokenizeByVocab(documents, merges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
    assert(a == b, s"twins must agree on NULL text: a=$a b=$b")
    assert(a(1)._2.isEmpty, "NULL text tokenizes to []")
    // fertility: the NULL doc contributes 0/0, never a size(NULL) = -1.
    val f = Bpe.fertility(documents, merges).collect().head
    assert(f.getAs[Long]("n_docs") == 2L && f.getAs[Long]("n_words") == 2L,
      f.toString)
  }

  test("packedSequences: real-token sequences, full except tail, split docs reassemble") {
    val merges = BpeReference.train(sennrich, merges = 5)
    // doc1: low→[low,</w>], lower→[low,e,r,</w>] = 6 tokens;
    // doc2: newest×2→[n,e,w,est</w>]×2, low→[low,</w>] = 10 tokens.
    val documents = Seq((1L, "low lower"), (2L, "newest newest low"))
      .toDF("doc_id", "text")
    val out = Bpe.packedSequences(documents, merges, seqLen = 4L)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(out == Seq(
      (0L, 4L, "low </w> low e", "0"),
      (1L, 4L, "r </w> n e", "0 2"),   // doc1's tail + doc2's head — the split
      (2L, 4L, "w est</w> n e", "0"),  // doc_breaks marks the attention reset
      (3L, 4L, "w est</w> low </w>", "0")), out.toString)
  }

  test("train stops early when the vocabulary is fully merged") {
    val merges = BpeReference.train(Seq((1L, "ab ab")).toDF("doc_id", "text"), merges = 10)
    // "ab" → a b </w>: two pairs, then one, then none.
    assert(merges.length == 2)
    assert(merges.map(m => (m.lhs, m.rhs)) ==
      Seq(("a", "b"), ("ab", Bpe.Eow)))
  }

  test("train on an empty/blank corpus yields no merges") {
    assert(BpeReference.train(Seq((1L, "")).toDF("doc_id", "text")).isEmpty)
  }

  test("trainBatched replays train exactly on the Sennrich fixture") {
    val (batched, rounds) = Bpe.trainBatched(sennrich, merges = 5)
    assert(batched == BpeReference.train(sennrich, merges = 5))
    assert(rounds <= 5)
  }

  test("trainBatched collapses rounds on disjoint word families, result sequential-exact") {
    // Two letter-disjoint families {abu:5, abv:4} and {cdw:5, cdz:3}.
    // Hand-traced: round 1 batches (a,b):9 + (c,d):8 (disjoint, and 8 >
    // B1 = 5, the best adjacency into {a,b}); round 2 takes (ab,u):5
    // alone — (cd,w):5 is NOT batchable because the new pair (abu,</w>)
    // created by the first merge ties it at 5 and wins on lex, exactly
    // what the dominance bound predicts; round 3 batches (abu,</w>) +
    // (cd,w); round 4 finishes (cdw,</w>). 6 merges in 4 rounds.
    val text = (Seq.fill(5)("abu") ++ Seq.fill(4)("abv") ++
      Seq.fill(5)("cdw") ++ Seq.fill(3)("cdz")).mkString(" ")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    val (batched, rounds) = Bpe.trainBatched(corpus, merges = 6)
    val sequential = BpeReference.train(corpus, merges = 6)
    assert(batched == sequential,
      s"batched=${batched.map(m => (m.lhs, m.rhs))} seq=${sequential.map(m => (m.lhs, m.rhs))}")
    assert(rounds == 4, s"expected 6 merges in 4 rounds, used $rounds")
    assert(sequential.map(m => (m.lhs, m.rhs)) == Seq(
      ("a", "b"), ("c", "d"), ("ab", "u"),
      ("abu", Bpe.Eow), ("cd", "w"), ("cdw", Bpe.Eow)))
  }

  test("trainBatched honors batchMax and the merge budget") {
    val text = (Seq.fill(5)("abu") ++ Seq.fill(4)("abv") ++
      Seq.fill(5)("cdw") ++ Seq.fill(3)("cdz")).mkString(" ")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    // batchMax=1 degenerates to sequential train, one merge per round.
    val (one, r1) = Bpe.trainBatched(corpus, merges = 4, batchMax = 1)
    assert(one == BpeReference.train(corpus, merges = 4) && r1 == 4)
    // the merge budget cuts a round's batch short
    val (two, _) = Bpe.trainBatched(corpus, merges = 1)
    assert(two.map(m => (m.lhs, m.rhs)) == Seq(("a", "b")))
  }

  test("trainBatched: degenerate knobs fail loudly; exact-sliceSize corpus is covered") {
    val corpus = Seq((1L, "abu abv cdw cdz")).toDF("doc_id", "text")
    // batchMax = 0 used to spin the round loop forever (no pair could
    // ever be accepted); same for sliceSize = 0.
    intercept[IllegalArgumentException] { Bpe.trainBatched(corpus, batchMax = 0) }
    intercept[IllegalArgumentException] { Bpe.trainBatched(corpus, sliceSize = 0) }
    // A corpus with exactly sliceSize distinct pairs must be detected
    // as COVERED (the +1 probe): the uncovered path's strict
    // c > slice-min guard would reject every tied minimum pair and
    // degrade to one merge per round, while covered batches freely.
    // "abu abv cdw cdz" has exactly 6 pair types: (a,b)x2, (c,d)x2,
    // (b,u), (b,v), (d,w), (d,z).
    val seqMerges = BpeReference.train(corpus, merges = 4)
    val (cov, covRounds) = Bpe.trainBatched(corpus, merges = 4, sliceSize = 6)
    assert(cov == seqMerges, "covered-slice batching must stay sequential-exact")
    val (uncov, uncovRounds) = Bpe.trainBatched(corpus, merges = 4, sliceSize = 5)
    assert(uncov == seqMerges)
    assert(covRounds <= uncovRounds,
      s"covered slice must batch at least as well: $covRounds vs $uncovRounds")
  }

  test("BpeMergeFold equals the interpreted aggregate fold (spec-pin)") {
    // The r12 native fold replaced the Catalyst `aggregate` HOF ladder
    // on every apply path; this pins the two element-for-element on the
    // adversarial shapes: overlap runs ("aaa" + (a,a)), a merge chain
    // where later merges consume earlier outputs, merges that do not
    // fire, and the empty/1-symbol edges.
    import org.apache.spark.sql.functions._
    val merges = Seq(("a", "a"), ("e", "s"), ("es", "t"), ("aa", "est"),
      ("q", "z"), ("l", "o"))
    val words = Seq("aaa", "aaaa", "aaaaa", "lowest", "estest", "aaest",
      "a", "", "qz", "zq", "estaaest", "lololo")
    val df = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "w")
      .withColumn("syms", concat(split(col("w"), ""), array(lit(Bpe.Eow))))
    val native = df.withColumn("r",
        graft.functions.BpeMergeFold.bpeMergeFold(col("syms"), merges))
      .select(col("doc_id"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val interp = df.withColumn("r", merges.foldLeft(col("syms")) {
        case (s, (a, b)) => BpeReference.mergeSyms(s, a, b) })
      .select(col("doc_id"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native == interp)
  }
}
