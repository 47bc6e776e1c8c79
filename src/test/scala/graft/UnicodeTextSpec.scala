package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis, TextSignals}

/** Round-8 fixture for the Unicode-aware token/sentence rules (round-7
  * verdict item 1): under the old ASCII `[^a-z0-9]+` rule every
  * non-ASCII letter was a separator, so dedup/decontamination/quality
  * silently no-op'd on non-Latin text. These specs pin the new
  * `\p{L}\p{N}`-class behavior on Vietnamese (the reference's own
  * market), CJK and Arabic fixtures with hand-computed expectations.
  */
class UnicodeTextSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "vi", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def toks(text: String): Seq[String] =
    Seq(text).toDF("text")
      .select(TextSignals.tokensCol(col("text")).as("t"))
      .collect().head.getSeq[String](0)

  test("vietnamese diacritics survive tokenization (old rule split every non-ASCII letter)") {
    assert(toks("Tỷ giá TĂNG 3%") == Seq("tỷ", "giá", "tăng", "3"))
    // Regression guard on the exact round-7 finding: a diacritic-heavy
    // token must come through whole, not as ASCII fragments.
    assert(toks("tỷ") == Seq("tỷ"))
  }

  test("arabic and cyrillic tokenize as words; CJK segments at character grain") {
    assert(toks("مرحبا بالعالم") == Seq("مرحبا", "بالعالم"))
    assert(toks("Привет мир") == Seq("привет", "мир"))
    // No-separator scripts segment per character (the CJKAnalyzer
    // convention), so downstream bigram shingles become the standard
    // CJK character bigrams instead of one opaque run token.
    assert(toks("漢字テスト abc") == Seq("漢", "字", "テ", "ス", "ト", "abc"))
    assert(toks("한국어123") == Seq("한", "국", "어", "123"))
    // Character-bigram shingles over a CJK doc — the unit minhash/
    // decontamination now operate on. Edge-empty tokens ride along by
    // the existing convention (raw `tokens` keeps them — same as
    // punctuation-edged ASCII text; both engines split identically),
    // so the doc boundary contributes " 漢" / "テ " boundary bigrams.
    val sh = Seq("漢字テ").toDF("text")
      .select(Dedup.bigramShingles(col("text")).as("s"))
      .collect().head.getSeq[String](0)
    assert(sh == Seq(" 漢", "漢 字", "字 テ", "テ "), sh.toString)
  }

  test("raw token lists match the DuckDB oracle engine on CJK fixtures") {
    // The sf* testdata is ASCII, so the driver's oracle never exercises
    // the CJK branch cross-engine; these expected lists are the VERBATIM
    // output of DuckDB's regexp_replace+string_split_regex oracle idiom
    // on the same strings (captured r8) — equality here pins the
    // Java-IsHan / RE2-Han spelling pair to identical semantics,
    // including the edge-empty tokens both engines keep.
    val fixtures = Seq(
      "漢字テスト abc 한국어123" ->
        Seq("", "漢", "字", "テ", "ス", "ト", "abc", "한", "국", "어", "123"),
      "Tỷ giá 25枚!" -> Seq("tỷ", "giá", "25", "枚", ""),
      "ひらがなとカタカナ、漢字。" ->
        Seq("", "ひ", "ら", "が", "な", "と", "カ", "タ", "カ", "ナ", "漢", "字", ""),
      "no cjk here 42" -> Seq("no", "cjk", "here", "42"))
    val got = fixtures.map(_._1).toDF("text")
      .select(Dedup.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toList)
    fixtures.map(_._2).zip(got).foreach { case (want, have) =>
      assert(have == want, s"want=$want have=$have")
    }
  }

  test("native text kernels equal the regex forms on the Unicode edge cases") {
    def cp(c: Int*): String = new String(c.flatMap(Character.toChars(_)).toArray)
    val vt = cp(0x0B)            // \s in Java regex
    val nbsp = cp(0xA0)          // not \s: punctuation
    val boldA = cp(0x1D400)      // supplementary Lu
    val extB = cp(0x20000)       // CJK Ext-B, Han script
    val edges = Seq(
      null, "", " ", "   ", "\t\n", vt, nbsp, " lead", "trail ", " both ",
      "..a..", "a--b", s"a${vt}b", s"a${nbsp}b", s"${nbsp}x$nbsp",
      s"x${boldA}y", boldA, extB, s"a${extB}b", s"$extB$extB",
      "漢abc", "abc漢", "漢字", "漢 字", "한국어", "한국어123", "漢字テスト abc 한국어123",
      "ひらがなとカタカナ、漢字。", "Tỷ giá 25枚!",
      cp(0x2E80), cp(0x61, 0x2E80, 0x62), cp(0x302E), cp(0x30FC), cp(0xFF71, 0x61),
      "İstanbul", "İ", "Straße", "STRASSE ß", "ΟΔΟΣ ΣΟΦΟΣ", "όρος.",
      cp(0x663, 0x664, 0x665), "Ⅻ", "x²", "² ³", cp(0x1F600), s"a${cp(0x301)}b",
      "The cat and THE dog of it is in a", "SPAM spam xxx, ab AB",
      "\r\n\f", cp(0x61, 0, 0x62))
    val bad = TextReference.mismatches(spark, edges)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("lang id flags majority-non-Latin documents as 'other', not a fabricated language") {
    // All four stopword profiles are European — before the guard a CJK
    // doc scored 0 everywhere and the argmax tie-break confidently
    // emitted "de". Vietnamese is LATIN script: diacritics must not
    // trip the guard (it stays a normal zero-hit argmax).
    val out = TextAnalysis.langId(docs(
      1L -> "漢字テストの文書です",
      2L -> "Tỷ giá tăng mạnh",
      3L -> "the cat sat of the mat and it is"))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("nonlatin_share"),
        r.getAs[String]("pred_lang"))).toSeq
    assert(out(0)._2 == 1.0 && out(0)._3 == "other", out.toString)
    assert(out(1)._2 == 0.0 && out(1)._3 == "de", out.toString) // zero-hit tie, documented
    assert(out(2)._2 == 0.0 && out(2)._3 == "en", out.toString)
  }

  test("lang id recognizes vietnamese via its diacritic stopword profile") {
    // "của" (1) + "là" (1) + "không" (1) = 3 vi hits, 0 on every
    // European profile — enabled by the Unicode tokenizer (the ASCII
    // rule shredded these words into fragments). Latin script, so the
    // nonlatin guard stays quiet.
    val r = TextAnalysis.langId(docs(
      1L -> "giá của vàng là cao không ngừng")).collect().head
    assert(r.getAs[Int]("vi_hits") == 3, r.toString)
    assert(r.getAs[Double]("nonlatin_share") == 0.0)
    assert(r.getAs[String]("pred_lang") == "vi", r.toString)
  }

  test("lang id recognizes the r8 identification-only profiles (pt/it/nl/id)") {
    // Each text hits its own profile ≥5 times and every other ≤3 —
    // and the profile additions live in LangProfiles, NOT Stopwords,
    // so the Gopher battery's stop list (a curation-rule constant)
    // did not move.
    val out = TextAnalysis.langId(docs(
      1L -> "o preço de mercado que sobe em um dia para a bolsa",
      2L -> "il prezzo di mercato che non sale per la borsa sono",
      3L -> "de koers van het aandeel stijgt op de beurs niet",
      4L -> "harga yang naik dan turun di pasar untuk hari ini"))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("pred_lang")))
    assert(out.toSeq == Seq((1L, "pt"), (2L, "it"), (3L, "nl"), (4L, "id")),
      out.mkString(","))
    assert(TextAnalysis.Stopwords.keySet ==
      Set("de", "en", "es", "fr", "vi"), "battery list must not grow")
  }

  test("sentence cutter splits on CJK terminators and strips CJK boilerplate") {
    // The CJK full stop bounds sentences; the repeated banner is cut
    // everywhere, per-doc unique sentences survive with their scripts
    // intact.
    val out = Dedup.sentenceDedupClean(docs(
      1L -> "重要提示。市場が上がる。",
      2L -> "重要提示。Giá tăng mạnh!")).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(out == Seq(
      (1L, 2L, 1L, "市場が上がる"),
      (2L, 2L, 1L, "Giá tăng mạnh")), out.toString)
  }

  test("sentence stats split on CJK/Arabic terminators") {
    val out = TextSignals.sentenceStats(
      docs(1L -> "Xin chào thế giới。Tốt quá！Sao؟")).collect().head
    // Sentences: "Xin chào thế giới" (4 words), "Tốt quá" (2), "Sao" (1).
    assert(out.getAs[Int]("n_sents") == 3)
    assert(out.getAs[Double]("avg_sent_words") == math.rint(7.0 / 3 * 1e6) / 1e6)
    assert(out.getAs[Int]("max_sent_words") == 4)
    assert(out.getAs[Double]("short_share") == math.rint(2.0 / 3 * 1e6) / 1e6)
  }

  test("canonical key is case- and order-insensitive over unicode tokens") {
    val keys = Seq("TỶ GIÁ", "giá tỷ", "giá tý")
      .toDF("text").select(Dedup.canonicalKey(col("text")).as("k"))
      .collect().map(_.getString(0))
    assert(keys(0) == keys(1))
    assert(keys(0) != keys(2), "different diacritic = different content")
  }

  test("minhash LSH finds near-dup vietnamese docs (degenerate under ASCII rule)") {
    val base = (1 to 40).map(i => s"từ$i").mkString(" ")
    val nearDup = base.replace("từ7 ", "khác ")
    val other = (1 to 40).map(i => s"đơn$i").mkString(" ")
    val out = Dedup.minhashPairsPortable(docs(1L -> base, 2L -> nearDup, 3L -> other), 0.3)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id1") == 1L && out.head.getAs[Long]("id2") == 2L)
    assert(out.head.getAs[Double]("jaccard") > 0.8)
  }

  test("text quality ratios treat unicode letters as letters, not punctuation") {
    val r = TextAnalysis.textQuality(docs(1L -> "Tỷ giá tăng 3%!")).collect().head
    assert(r.getAs[Int]("n_chars") == 15)
    assert(r.getAs[Int]("n_words") == 4)
    // Only % and ! are outside [\p{L}\p{N}\s] (old rule also counted
    // every diacritic codepoint as punctuation).
    assert(r.getAs[Double]("punct_ratio") == 2.0 / 15)
    // T is the only \p{Lu} char (Ỷ lowered? no — text is raw here: Tỷ has
    // upper T only).
    assert(r.getAs[Double]("upper_ratio") == 1.0 / 15)
    assert(r.getAs[Double]("avg_word_len") == 12.0 / 4)
  }

  test("gopher alpha/symbol shares see vietnamese words as alphabetic") {
    val r = TextSignals.withGopher(
      docs(1L -> "tỷ giá tăng mạnh quá rồi nhé bạn ơi à")).collect().head
    assert(r.getAs[Double]("alpha_share") == 1.0)
    assert(r.getAs[Double]("symbol_share") == 0.0)
  }

  test("token_count regex tokens honor unicode letter/number runs") {
    val r = TextAnalysis.tokenCount(docs(1L -> "Tỷ giá 25枚!")).collect().head
    assert(r.getAs[Int]("n_chars") == 11)
    assert(r.getAs[Int]("ws_tokens") == 3)
    // \p{L}+ | \p{N}+ | single other: Tỷ, giá, 25, 枚, !
    assert(r.getAs[Int]("regex_tokens") == 5)
  }
}
