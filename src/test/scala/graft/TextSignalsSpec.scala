package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextSignals

class TextSignalsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  /** Test-side replica of [[TextSignals.h32]]: first 8 md5 hex digits as
    * an unsigned 32-bit value.
    */
  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  test("native md5_prefix32/md5_halves bit-equal the conv(substring(md5)) forms") {
    import org.apache.spark.sql.functions.{array, conv, lit, md5, substring}
    import graft.functions.Md5Prefix
    // ASCII, unicode (multi-byte UTF-8), empty string, null — the
    // composed forms' exact values, including conv's unsigned parse of
    // leading-f digests and md5's NULL propagation.
    val rows = Seq("alpha beta", "héllo wörld", "日本語テキスト", "🦀 emoji", "",
      "a", (null: String)).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s")
    val got = rows.select(col("id"),
        Md5Prefix.md5Prefix32(col("s")).as("p32"),
        Md5Prefix.md5Halves(col("s")).as("hh"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("c32"),
        array(conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"),
          conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long")).as("ch"))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(1)) {
        assert(r.isNullAt(2) && r.isNullAt(3), s"null mismatch: $r")
      } else {
        assert(r.getLong(1) == r.getLong(3), s"p32 mismatch: $r")
        assert(r.getSeq[Long](2) == r.getSeq[Long](4), s"halves mismatch: $r")
      }
    }
    assert(got.count(_.isNullAt(1)) == 1) // only the null row
  }

  test("winnow: doc shorter than k grams → zero row; k tokens → one fingerprint") {
    val out = TextSignals.winnowFingerprints(docs(
      1L -> "a b c",          // 3 tokens < k=4 → 0 grams
      2L -> "a b c d"         // exactly one 4-gram
    )).orderBy("doc_id").collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[Long]("n_grams") == 0L && r1.getAs[Long]("n_fps") == 0L)
    assert(r1.getAs[Double]("fp_density") == 0.0 && r1.getAs[Long]("fp_checksum") == 0L)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_grams") == 1L && r2.getAs[Long]("n_fps") == 1L)
    assert(r2.getAs[Double]("fp_density") == 1.0)
    assert(r2.getAs[Long]("fp_checksum") == md5h32("a b c d"))
  }

  test("winnow: short doc (< w grams) selects the whole-doc minimum once") {
    // 5 tokens → grams "a b c d"@1, "b c d e"@2; n=2 < w=4 → only the
    // window ending at pos 2 selects, picking the smaller hash.
    val out = TextSignals.winnowFingerprints(docs(1L -> "a b c d e")).collect()
    val r = out.head
    assert(r.getAs[Long]("n_grams") == 2L && r.getAs[Long]("n_fps") == 1L)
    assert(r.getAs[Long]("fp_checksum") ==
      math.min(md5h32("a b c d"), md5h32("b c d e")))
  }

  test("winnow guarantee: shared w+k-1 token run shares a fingerprint hash") {
    // Both docs contain the 7-token run "p q r s t u v" (w+k-1 = 7), in
    // different surrounding contexts; winnowing must pick at least one
    // common gram hash from inside the run.
    val sel = TextSignals.winnowSelect(docs(
      1L -> "m1 m2 m3 p q r s t u v n1 n2",
      2L -> "z9 p q r s t u v z8 z7 z6 z5"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("fp_hash")))
    val h1 = sel.filter(_._1 == 1L).map(_._2).toSet
    val h2 = sel.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 & h2).nonEmpty)
  }

  test("winnow: rightmost-on-tie — repeated gram collapses to distinct picks") {
    // "a b a b a b a b a b" → every 4-gram alternates between two texts
    // ("a b a b" / "b a b a"); selections dedupe to ≤ n distinct
    // (pos, hash) picks and density stays in (0, 1].
    val out = TextSignals.winnowFingerprints(docs(
      1L -> "a b a b a b a b a b")).collect().head
    val n = out.getAs[Long]("n_grams")
    val f = out.getAs[Long]("n_fps")
    assert(n == 7L && f >= 1L && f <= n)
  }

  test("winnow_pairs: local overlap detected, containment-normalized, strangers absent") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")  // 12-token shared run
    val out = TextSignals.winnowPairs(docs(
      1L -> s"$quote extra1 extra2 extra3 extra4 extra5 extra6 extra7 extra8",
      2L -> quote,                                         // fully contained in 1
      3L -> (1 to 20).map(i => s"z$i").mkString(" ")       // unrelated
    ), minShared = 1).collect()
    assert(out.length == 1)
    val p = out.head
    assert(p.getAs[Long]("id1") == 1L && p.getAs[Long]("id2") == 2L)
    // Doc 2's picks all come from the shared run → containment ≈ 1.
    assert(p.getAs[Double]("overlap") == 1.0)
    assert(p.getAs[Long]("n_shared") >= 1L)
  }

  test("winnow_pairs: identical docs share every fingerprint") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val out = TextSignals.winnowPairs(docs(1L -> text, 2L -> text)).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("overlap") == 1.0)
  }

  test("dup_ngram_frac: exact duplicate grams across docs, none within") {
    val run = (1 to 8).map(i => s"w$i").mkString(" ")   // one 8-gram
    val out = TextSignals.dupNgramFrac(docs(
      1L -> s"$run w9",                                 // grams: run@1, w2..w9@2
      2L -> run,                                        // the shared gram
      3L -> (11 to 18).map(i => s"u$i").mkString(" "),  // unique gram
      4L -> "short doc"                                 // no grams
    )).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("n_grams") == 2L &&
      byId(1L).getAs[Long]("n_dup") == 1L &&
      byId(1L).getAs[Double]("dup_frac") == 0.5)
    assert(byId(2L).getAs[Long]("n_dup") == 1L &&
      byId(2L).getAs[Double]("dup_frac") == 1.0)
    assert(byId(3L).getAs[Long]("n_dup") == 0L &&
      byId(3L).getAs[Double]("dup_frac") == 0.0)
    assert(byId(4L).getAs[Long]("n_grams") == 0L &&
      byId(4L).getAs[Double]("dup_frac") == 0.0)
  }

  test("quality_classifier: integer weight fold matches the hand-computed sigmoid") {
    def w(tok: String): Long =
      (md5h32(tok) % 4096L) * 2654435761L % 2000001L - 1000000L
    val out = TextSignals.qualityClassifier(docs(
      1L -> "alpha beta",
      2L -> "!!!"                       // no tokens
    )).orderBy("doc_id").collect()
    val r1 = out(0)
    val ws = w("alpha") + w("beta")
    val score = ws.toDouble / 2e6
    assert(r1.getAs[Long]("n_tokens") == 2L)
    assert(r1.getAs[Double]("score") ==
      BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r1.getAs[Double]("prob") ==
      BigDecimal(1.0 / (1.0 + math.exp(-score)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r1.getAs[Boolean]("keep") == (ws >= 0))
    val r2 = out(1)
    assert(r2.getAs[Long]("n_tokens") == 0L && r2.getAs[Double]("score") == 0.0)
    assert(r2.getAs[Double]("prob") == 0.5 && r2.getAs[Boolean]("keep"))
  }

  test("quality_classifier: trained-weights front agrees bit-for-bit with the inline fold") {
    val d = docs(
      1L -> "alpha beta gamma alpha",
      2L -> "!!!",                       // no tokens → sentinel row
      3L -> "delta epsilon zeta eta theta")
    val inline = TextSignals.qualityClassifier(d).orderBy("doc_id").collect()
    // Feeding the inline model back as an explicit weights frame must
    // reproduce it exactly — the swap a distilled fastText gate makes.
    val viaWeights = TextSignals.qualityClassifierWeighted(
      d, TextSignals.demoWeights(spark)).orderBy("doc_id").collect()
    assert(viaWeights.map(_.toSeq).toSeq == inline.map(_.toSeq).toSeq)
    // A SPARSE model is fine: absent buckets weigh 0.
    val empty = TextSignals.qualityClassifierWeighted(
      d, TextSignals.demoWeights(spark).limit(0)).orderBy("doc_id").collect()
    assert(empty.map(_.getAs[Double]("score")).toSeq == Seq(0.0, 0.0, 0.0))
    assert(empty.map(_.getAs[Long]("n_tokens")).toSeq ==
      inline.map(_.getAs[Long]("n_tokens")).toSeq)
    // Plan shape: the model join is broadcast-hash (no new Exchange) —
    // same shuffle count as the inline front, model never reshuffles
    // corpus rows.
    val wPlan = TextSignals.qualityClassifierWeighted(d, TextSignals.demoWeights(spark))
      .queryExecution.executedPlan.toString
    val iPlan = TextSignals.qualityClassifier(d).queryExecution.executedPlan.toString
    assert(wPlan.contains("BroadcastHashJoin"))
    def nExchanges(p: String) =
      "(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(nExchanges(wPlan) == nExchanges(iPlan),
      s"weighted front must add no shuffle: $wPlan")
  }

  test("quality_classifier: score is a mean — repetition does not move it") {
    val once = TextSignals.qualityClassifier(docs(1L -> "zeta"))
      .collect().head.getAs[Double]("score")
    val thrice = TextSignals.qualityClassifier(docs(1L -> "zeta zeta zeta"))
      .collect().head.getAs[Double]("score")
    assert(once == thrice)
  }

  test("oov_rate: top-V vocab by (count desc, token asc), per-doc OOV share") {
    // totals: a=4, b=3, c=1 → vocab(V=2) = {a, b}; doc3 "b c" → 1/2 OOV.
    val out = TextSignals.oovRate(docs(
      1L -> "a a a", 2L -> "a b b", 3L -> "b c"), vocabSize = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("oov_rate") == 0.0)
    assert(out(1).getAs[Double]("oov_rate") == 0.0)
    assert(out(2).getAs[Long]("n_oov") == 1L &&
      out(2).getAs[Double]("oov_rate") == 0.5)
  }

  test("tfidf_keywords: hand-computed smoothed idf, rank by rounded score then term") {
    // N=3; df: x=2, y=2, z=1, q=1; idf = ln((N+1)/(df+1)) + 1.
    val out = TextSignals.tfidfKeywords(docs(
      1L -> "x x y", 2L -> "x z", 3L -> "y y q q q"))
      .orderBy("doc_id", "rk").collect()
    def idf(df: Int) = math.log(4.0 / (df + 1)) + 1
    def sc(tf: Int, df: Int) =
      BigDecimal(tf * idf(df)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getAs[String]("term")).toSeq == Seq("x", "y"))
    assert(d1.head.getAs[Double]("score") == sc(2, 2))
    val d2 = out.filter(_.getLong(0) == 2L)
    // z: 1·(ln2+1)=1.693147 beats x: 1·(ln(4/3)+1)=1.287682.
    assert(d2.map(_.getAs[String]("term")).toSeq == Seq("z", "x"))
    val d3 = out.filter(_.getLong(0) == 3L)
    assert(d3.map(_.getAs[String]("term")).toSeq == Seq("q", "y"))
    assert(d3.head.getAs[Double]("score") == sc(3, 1))
    assert(out.forall(_.getAs[Int]("rk") <= 3))
  }

  test("sentence_stats: segmentation on terminal runs, fragment share, edge docs") {
    val out = TextSignals.sentenceStats(docs(
      1L -> "One. Two two. Three three three!",
      2L -> "No terminal punctuation in this sentence at all",
      3L -> "...",
      4L -> "A solid sentence with seven words inside. Tiny one."
    )).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val r1 = byId(1L)
    assert(r1.getAs[Int]("n_sents") == 3 &&
      r1.getAs[Double]("avg_sent_words") == 2.0 &&
      r1.getAs[Int]("max_sent_words") == 3 &&
      r1.getAs[Double]("short_share") == 1.0)
    val r2 = byId(2L)
    assert(r2.getAs[Int]("n_sents") == 1 && r2.getAs[Double]("short_share") == 0.0)
    val r3 = byId(3L)
    assert(r3.getAs[Int]("n_sents") == 0 &&
      r3.getAs[Double]("avg_sent_words") == 0.0 &&
      r3.getAs[Int]("max_sent_words") == 0)
    val r4 = byId(4L)
    assert(r4.getAs[Int]("n_sents") == 2 && r4.getAs[Double]("short_share") == 0.5)
  }

  test("gopher_filter: rule battery fires per-rule codes in fixed order") {
    val out = TextSignals.gopherFilter(docs(
      1L -> "The cat sat on the mat and it is very big today",  // clean
      2L -> "Tiny doc",                                          // <5 words, <2 stops
      3L -> ("the of " + "x" * 35 + " and is here now ok"),      // 35-char word
      4L -> "@@@@ #### $$$$ %%%% ^^^^ the of"                    // symbols
    )).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep") &&
      byId(1L).getAs[Int]("n_fail") == 0 &&
      byId(1L).getAs[String]("reasons") == "")
    assert(!byId(2L).getAs[Boolean]("keep") &&
      byId(2L).getAs[String]("reasons") == "too_short,no_stop")
    assert(byId(3L).getAs[String]("reasons").contains("long_word"))
    val r4 = byId(4L)
    assert(!r4.getAs[Boolean]("keep") &&
      r4.getAs[String]("reasons").contains("symbol") &&
      r4.getAs[Double]("alpha_share") < 0.7)
  }

  test("gopher_filter: empty text fails short and stop rules, ratios stay 0") {
    val r = TextSignals.gopherFilter(docs(1L -> "")).collect().head
    assert(r.getAs[Int]("n_words") == 0 && !r.getAs[Boolean]("keep"))
    assert(r.getAs[Double]("mean_word_len") == 0.0 &&
      r.getAs[Double]("symbol_share") == 0.0)
    assert(r.getAs[String]("reasons") == "too_short,word_len,low_alpha,no_stop")
  }

  test("source_quality: per-source rollup agrees with the per-doc signals") {
    val good = "the cat and the dog sat in the house and it was warm today"
    val rows = Seq(
      (1L, good, "en", "siteA", good.length.toLong),
      (2L, "too short", "en", "siteA", 9L),              // gopher drops
      (3L, good + " extra", "en", "siteB", good.length + 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextSignals.sourceQuality(rows).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = out("siteA")
    assert(a.getAs[Long]("n_docs") == 2L)
    assert(a.getAs[Double]("corpus_share") ==
      BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(a.getAs[Double]("keep_rate") == 0.5)
    assert(out("siteB").getAs[Double]("keep_rate") == 1.0)
    // mean_prob replays the classifier's own rounded probabilities.
    val probs = TextSignals.qualityClassifier(rows).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("prob")).toMap
    val expA = BigDecimal((math.rint(probs(1L) * 1e6) + math.rint(probs(2L) * 1e6)) / 2e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(a.getAs[Double]("mean_prob") == expA)
    // mean_words counts whitespace words (gopher grain): 14 and 2 → 8.
    assert(a.getAs[Double]("mean_words") == 8.0)
  }

  test("quality_calibration: deciles replay the joined per-doc signals exactly") {
    val good = "the cat and the dog sat in the house and it was warm today"
    val rows = Seq(
      (1L, good, "en", "siteA", good.length.toLong),
      (2L, "too short", "en", "siteA", 9L),            // gopher drops
      (3L, good + " extra", "en", "siteB", good.length + 6L),
      (4L, "", "en", "siteB", 0L))                     // token-less: prob 0.5
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextSignals.qualityCalibration(rows).orderBy("decile").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // Expected = the two per-doc operators joined and folded by hand.
    val cls = TextSignals.qualityClassifier(rows).collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("prob"), r.getAs[Boolean]("keep"))).toMap
    val gop = TextSignals.gopherFilter(rows).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    val exp = cls.toSeq.map { case (id, (prob, ck)) =>
      (math.min(math.floor(prob * 10).toInt, 9), ck, gop(id))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (dec, g) =>
      (dec, g.size.toLong, g.count(_._2).toLong, g.count(_._3).toLong,
        g.count(t => t._2 && t._3).toLong,
        BigDecimal(g.count(_._3).toDouble / g.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out == exp, s"out=$out exp=$exp")
    // The fixture populates ≥2 deciles and the gopher-drop lands in one.
    assert(out.map(_._1).distinct.size >= 2)
    assert(out.map(_._4).sum == 2L) // docs 1 and 3 survive gopher
  }

  test("chunk_split: stride windows, clamped tail, full coverage, empty doc dropped") {
    // 6 tokens, chunk=3, stride=2 → windows [1..3], [3..5], [5..6].
    val out = TextSignals.chunkSplit(docs(
      1L -> "t1 t2 t3 t4 t5 t6",
      2L -> "a b",               // shorter than one chunk
      3L -> "!!!"                // no tokens → no rows
    ), chunkTokens = 3, stride = 2).orderBy("doc_id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getAs[Int]("start_tok")).toSeq == Seq(1, 3, 5))
    assert(d1.map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("t1 t2 t3", "t3 t4 t5", "t5 t6"))
    assert(d1.map(_.getAs[Int]("n_tokens")).toSeq == Seq(3, 3, 2))
    assert(d1.head.getAs[Long]("chunk_hash") == md5h32("t1 t2 t3"))
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getAs[String]("chunk_text") == "a b")
    assert(!out.exists(_.getLong(0) == 3L))
  }

  test("chunk_split: every token position is covered by some chunk") {
    val n = 403
    val text = (1 to n).map(i => s"tok$i").mkString(" ")
    val covered = TextSignals.chunkSplit(docs(1L -> text)).collect()
      .flatMap { r =>
        val s = r.getAs[Int]("start_tok")
        s until (s + r.getAs[Int]("n_tokens"))
      }.toSet
    assert(covered == (1 to n).toSet)
  }

  test("text_normalize: control chars, whitespace runs, case; unchanged stays flagged false") {
    val out = TextSignals.textNormalize(docs(
      1L -> "  Hello\tWorld  extra ",
      2L -> "already clean"
    )).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[String]("norm_text") == "hello world extra")
    assert(r1.getAs[Boolean]("changed"))
    assert(r1.getAs[Int]("n_chars_norm") == "hello world extra".length)
    val r2 = out(1)
    assert(r2.getAs[String]("norm_text") == "already clean")
    assert(!r2.getAs[Boolean]("changed"))
  }

  test("winnow property: planted shared runs always fingerprint-collide (seeded random docs)") {
    // 20 random docs over a 30-token vocab; pairs (2i, 2i+1) carry the
    // same planted 7-token run (w+k-1) at random offsets — the winnowing
    // guarantee says every such pair must share a fingerprint hash.
    val rnd = new scala.util.Random(42)
    def tok() = s"v${rnd.nextInt(30)}"
    val rows = (0 until 10).flatMap { i =>
      val run = (0 until 7).map(_ => s"run${i}_${rnd.nextInt(1000)}")
      Seq(2L * i, 2L * i + 1).map { id =>
        val pre = Seq.fill(rnd.nextInt(20))(tok())
        val post = Seq.fill(rnd.nextInt(20))(tok())
        id -> (pre ++ run ++ post).mkString(" ")
      }
    }
    val sel = TextSignals.winnowSelect(docs(rows: _*))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fp_hash")).toSet }
    (0 until 10).foreach { i =>
      val (a, b) = (sel(2L * i), sel(2L * i + 1))
      assert((a & b).nonEmpty, s"pair $i shares a 7-token run but no fingerprint")
    }
  }

  test("chunk property: random lengths — full coverage and stride reconstruction") {
    val rnd = new scala.util.Random(7)
    val lens = (1 to 12).map(_ => 1 + rnd.nextInt(400))
    val rows = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(j => s"d${i}x$j").mkString(" "))
    }
    val chunks = TextSignals.chunkSplit(docs(rows: _*))
      .collect().groupBy(_.getLong(0))
    lens.zipWithIndex.foreach { case (n, i) =>
      val cs = chunks(i.toLong).sortBy(_.getAs[Int]("chunk_id"))
      val covered = cs.flatMap { r =>
        val s = r.getAs[Int]("start_tok")
        s until (s + r.getAs[Int]("n_tokens"))
      }.toSet
      assert(covered == (1 to n).toSet, s"doc $i len $n coverage hole")
      // Reconstruction: each chunk's first `stride` tokens, then the
      // last chunk's tail, replay the token sequence exactly.
      val toks = cs.init.flatMap(_.getAs[String]("chunk_text").split(" ").take(96)) ++
        cs.last.getAs[String]("chunk_text").split(" ")
      assert(toks.toSeq == (1 to n).map(j => s"d${i}x$j"),
        s"doc $i len $n reconstruction mismatch")
    }
  }

  test("normalize property: idempotent on random noisy strings (seeded)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "aB c\tD\n e!@#  XyZ 09."
    val rows = (0 until 25).map { i =>
      (i.toLong, (0 until rnd.nextInt(80)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val once = TextSignals.textNormalize(docs(rows: _*))
      .select(col("doc_id"), col("norm_text"))
    val again = TextSignals.textNormalize(
      once.select(col("doc_id"), col("norm_text").as("text")))
      .orderBy("doc_id").collect()
    assert(again.forall(!_.getAs[Boolean]("changed")),
      "normalize must be a fixed point of itself")
  }

  test("tfidf_keywords: identical rounded scores break ties by term ascending") {
    // Two singleton terms in one doc: same tf=1, same df=1 → equal
    // scores; rank must order "aa" before "bb".
    val out = TextSignals.tfidfKeywords(docs(1L -> "bb aa cc"))
      .orderBy("rk").collect()
    assert(out.map(_.getAs[String]("term")).toSeq == Seq("aa", "bb", "cc"))
  }

  // Planted two-vocabulary fixture for the classifier fit: the good
  // docs pass the Gopher battery (≥2 stop hits, ≥5 words, alphabetic),
  // the bad docs fail it (no_stop), and the vocabularies are disjoint —
  // so a correct fit must separate them perfectly.
  private def plantedDocs = docs(
    1L -> "the market rallied and traders cheered the gains",
    2L -> "the traders watched the market and bought gains",
    3L -> "the market gains and the traders rallied again",
    4L -> "zxqv plomb krent valt nupro brix",
    5L -> "plomb zxqv brix krent valt nupro",
    6L -> "krent brix plomb nupro zxqv valt")

  test("classifier fit: trained gate separates the planted fixture and beats the demo weights") {
    import graft.operators.Classifier
    val d = plantedDocs
    val labels = TextSignals.withGopher(d)
      .select(col("doc_id"), col("gopher_keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(labels == Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> false, 6L -> false), labels.toString)
    val ladder = Classifier.trainOnGopher(d)
    // Ladder shape: rounds 0..R over the same bucket set; round-0
    // weights inside the closed form's [-500000, 500000] envelope.
    val rows = ladder.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val byRound = rows.groupBy(_._1)
    assert(byRound.keySet == Set(0, 1, 2), byRound.keySet.toString)
    val bucketSets = byRound.view.mapValues(_.map(_._2).toSet).toMap
    assert(bucketSets(0) == bucketSets(1) && bucketSets(1) == bucketSets(2))
    assert(byRound(0).forall(r => r._3 >= -500000L && r._3 <= 500000L))
    // Disjoint vocab → the init already separates → no perceptron
    // updates fire and the ladder is flat after round 0.
    assert(byRound(0).toSet.map((t: (Int, Long, Long)) => (t._2, t._3)) ==
      byRound(2).toSet.map((t: (Int, Long, Long)) => (t._2, t._3)))
    // The trained artifact drives the deployment scorer to a perfect
    // verdict; the hash-derived demo weights do not.
    def accuracy(weights: org.apache.spark.sql.DataFrame): Int =
      TextSignals.qualityClassifierWeighted(d, weights)
        .select(col("doc_id"), col("keep")).collect()
        .count(r => r.getBoolean(1) == labels(r.getLong(0)))
    val trained = accuracy(Classifier.finalWeights(ladder))
    val demo = accuracy(TextSignals.demoWeights(spark))
    assert(trained == 6, s"trained gate must separate the fixture, got $trained/6")
    assert(trained > demo, s"trained=$trained must beat demo=$demo")
  }

  test("classifier fit: misclassified doc triggers perceptron pushback; ladder is partition-invariant") {
    import graft.operators.Classifier
    // Doc 7 reuses the GOOD vocabulary but fails Gopher (4 words,
    // 1 stop hit): round 0's naive-Bayes init scores it positive
    // (its buckets are pos-heavy), so round 1 must push exactly its
    // buckets down by lr·cnt.
    val d = docs(
      1L -> "the market rallied and traders cheered the gains",
      2L -> "the traders watched the market and bought gains",
      3L -> "the market gains and the traders rallied again",
      7L -> "the market rallied gains")
    val gk = TextSignals.withGopher(d).select(col("doc_id"), col("gopher_keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!gk(7L) && gk(1L), gk.toString)
    val ladder = Classifier.trainOnGopher(d)
    val rows = ladder.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val w0 = rows.filter(_._1 == 0).map(t => t._2 -> t._3).toMap
    val w1 = rows.filter(_._1 == 1).map(t => t._2 -> t._3).toMap
    val mkt = md5h32("market") % 4096
    // doc 7 scored ≥ 0 at round 0 (pos-heavy vocab) but labels 0 →
    // err −1 → its buckets move by −lr·cnt ("market" count 1 in doc 7).
    assert(w0(mkt) > 0, s"NB init should score 'market' positive: ${w0(mkt)}")
    assert(w1(mkt) == w0(mkt) - Classifier.DefaultLrMicro,
      s"round 1 must push 'market' down by lr: ${w0(mkt)} -> ${w1(mkt)}")
    // Exact integer folds → the ladder is partitioning-invariant.
    val again = Classifier.trainOnGopher(d.repartition(7))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(again.toSeq == rows.sorted.toSeq)
  }

  test("curate: blocklist gate drops banned-heavy docs; pii scrub redacts released text") {
    val d = Seq(
      (1L, "clean wholesome text about markets and prices going up", "en", "s", 0L),
      (2L, "casino casino casino winnings", "en", "s", 0L), // 3/4 banned > 0.2
      (3L, "mail me at someone@example.com for market data details please", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def run(bl: Option[Seq[String]], scrub: Boolean) =
      graft.CorpusPipeline.curate(d, minQuality = 0.0,
          pairsOf = dd => graft.operators.Dedup.ngramJaccardInvertedIndex(dd),
          blocklistTerms = bl, blocklistMaxRatio = 0.2, scrubPii = scrub)
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = run(Some(Seq("casino")), scrub = true)
    assert(full.keySet == Set(1L, 3L), s"banned-heavy doc must drop: ${full.keySet}")
    assert(!full(3L).contains("@") && full(3L).contains("<EMAIL>"), full(3L))
    assert(full(1L) == "clean wholesome text about markets and prices going up",
      "clean doc must pass through byte-identical")
    // default-off run: nothing dropped, nothing redacted
    val base = run(None, scrub = false)
    assert(base.keySet == Set(1L, 2L, 3L) && base(3L).contains("@"))
  }

  test("trained gate: projection form agrees with the scorer; curate applies it") {
    import graft.operators.Classifier
    val d = plantedDocs
    val w = Classifier.gopherTrainedWeights(d)
    // classifierKeepColWeighted (dense-literal projection, the
    // CorpusPipeline gate form) must replay qualityClassifierWeighted's
    // keep verdict doc for doc.
    val proj = d.select(col("doc_id"),
        TextSignals.classifierKeepColWeighted(
          TextSignals.tokensCol(col("text")), Classifier.denseWeights(w)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val scored = TextSignals.qualityClassifierWeighted(d, w)
      .select(col("doc_id"), col("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(proj == scored, s"$proj vs $scored")
    // End-to-end: vs the ungated run (near-dup clustering collapses
    // some same-vocab docs either way), the trained gate removes
    // exactly the bad-vocab class and keeps the good survivors.
    def run(gated: Boolean) = graft.CorpusPipeline.curate(d, minQuality = 0.0,
        pairsOf = dd => graft.operators.Dedup.ngramJaccardInvertedIndex(dd),
        classifierGate = gated,
        classifierWeights = if (gated) Some(w) else None)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ungated = run(gated = false)
    assert(ungated.exists(_ >= 4L), s"bad docs must survive ungated: $ungated")
    assert(run(gated = true) == ungated.filter(_ <= 3L),
      s"gate must drop exactly the bad-vocab docs: ${run(gated = true)} vs $ungated")
    // r9 review finding: supplying a trained artifact IMPLIES the gate
    // — weights without classifierGate=true must still filter.
    val implied = graft.CorpusPipeline.curate(d, minQuality = 0.0,
        pairsOf = dd => graft.operators.Dedup.ngramJaccardInvertedIndex(dd),
        classifierWeights = Some(w))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(implied == ungated.filter(_ <= 3L), implied.toString)
  }
}
