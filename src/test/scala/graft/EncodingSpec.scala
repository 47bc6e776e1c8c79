package graft

import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Encoding}

class EncodingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def fix(s: String): String =
    Seq(Tuple1(s)).toDF("text")
      .select(Encoding.fixEncodingCol(col("text")).as("f"))
      .head().getString(0)

  test("mojibake table hygiene: generated, control-free, longest-first, invertible") {
    val t = Encoding.MojibakeTable
    assert(t.nonEmpty)
    // no entry carries a control char or the replacement char
    assert(t.forall { case (m, g) =>
      (m + g).forall(c => !c.isControl && c != '�')
    })
    // mojibake forms are genuine round trips and strictly longer than
    // their targets (2 bytes → 2 chars, 3 bytes → 3 chars)
    assert(t.forall { case (m, g) => Encoding.mojibakeOf(g) == m && m.length > g.length })
    // 3-char entries all precede 2-char entries (the splice-safety order)
    val lens = t.map(_._1.length)
    assert(lens == lens.sorted(Ordering[Int].reverse))
    // the undefined-cp1252 class is excluded: ” (U+201D, second byte
    // 0x9D) has no defined mojibake form and must NOT be in the table
    assert(!t.exists(_._2 == "”"))
  }

  test("fix(mojibakeOf(s)) == s on punctuation, accents and the double-double class") {
    val samples = Seq(
      "don’t “quote… the café’s rosé — €9 für naïve señores",
      " àâäçèéêëîïôöùûüñ ÀÉÜ über œuvre Šš Žž Ÿ ƒ",
      "mixed – dashes — and ellipsis… with ‹guillemets› and «angles»")
    samples.foreach { s =>
      assert(fix(Encoding.mojibakeOf(s)) == s, s"round trip failed for: $s")
    }
    // double-double encoding (mojibake applied twice): ONE chain pass
    // inverts ONE encoding layer, so two passes recover the original —
    // the documented layer-per-pass contract.
    val twice = Encoding.mojibakeOf(Encoding.mojibakeOf("café’s"))
    assert(fix(fix(twice)) == "café’s", fix(fix(twice)))
  }

  test("clean text passes through untouched; signals are exact") {
    val out = Seq(
      (1L, "plain ascii only"),
      (2L, " résumé – naïve fiancée"),   // clean unicode, no patterns
      (3L, "one cafÃ© here"),             // one 2-char pattern → 1 char removed
      (4L, "a â€™ b â€™ c"))              // two 3-char patterns → 4 chars removed
      .toDF("doc_id", "text")
    val r = Encoding.withFixedEncoding(out).orderBy("doc_id").collect()
    assert(r(0).getAs[String]("text_fixed") == "plain ascii only")
    assert(r(0).getAs[Long]("n_mojibake_chars") == 0L)
    assert(r(0).getAs[Double]("charset_confidence") == 1.0)
    assert(r(1).getAs[String]("text_fixed") == " résumé – naïve fiancée")
    assert(r(1).getAs[Double]("charset_confidence") == 1.0)
    assert(r(2).getAs[String]("text_fixed") == "one café here")
    assert(r(2).getAs[Long]("n_mojibake_chars") == 1L)
    assert(r(3).getAs[String]("text_fixed") == "a ’ b ’ c")
    assert(r(3).getAs[Long]("n_mojibake_chars") == 4L)
    val conf3 = r(3).getAs[Double]("charset_confidence")
    assert(conf3 == math.rint((1.0 - 4.0 / 13.0) * 1e6) / 1e6, conf3.toString)
  }

  test("documented scope bound: CJK mojibake passes through unrepaired") {
    // The table targets the DOMINANT class (Latin-1 + punctuation);
    // CJK double-encoding (3-byte targets outside the table) is out of
    // scope by design — it must pass through UNCHANGED, never be
    // half-repaired into different garbage.
    val cjk = "日本語のテキスト 中文文本"
    val moji = Encoding.mojibakeOf(cjk)
    assert(moji != cjk)
    // No table pattern can match inside CJK mojibake: CJK lead bytes
    // (E3–E9) decode to ã–é and continuation bytes (80–BF) to the
    // cp1252 symbol range — none are the pattern-start chars
    // {Â Ã Ä Å Æ Ë â}. So the text passes through EXACTLY unchanged
    // (never half-repaired into different garbage), confidence 1.0.
    val out = Seq((1L, moji)).toDF("doc_id", "text")
    val r = Encoding.withFixedEncoding(out).head()
    assert(r.getAs[String]("text_fixed") == moji)
    assert(r.getAs[Long]("n_mojibake_chars") == 0L)
    assert(r.getAs[Double]("charset_confidence") == 1.0)
  }

  test("charset_report: per-source rollup counts damage exactly") {
    val docs = Seq(
      (1L, "clean ascii", "srcA"),
      (2L, "one cafÃ© here", "srcA"),       // 1 char repaired
      (3L, "a â€™ b", "srcB"),              // 2 chars repaired
      (4L, "also clean", "srcB"),
      (5L, "more clean", "srcB"))
      .toDF("doc_id", "text", "source")
    val out = Encoding.charsetReport(docs).orderBy("source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("srcA") == ((2L, 1L, 1L)), out.toString)
    assert(out("srcB") == ((3L, 1L, 2L)), out.toString)
  }

  test("the poisoning story: repair makes a mojibake doc dedup against its clean twin") {
    val clean = "the café’s menu — très bon"
    val twins = Seq((1L, clean), (2L, Encoding.mojibakeOf(clean)))
      .toDF("doc_id", "text")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(Dedup.canonicalKey(col("text"))).as("k"))
        .collect().map(_.getLong(0)).toSet
    assert(keys(twins).size == 2, "unrepaired twins must NOT share a key")
    val repaired = twins.withColumn("text", Encoding.fixEncodingCol(col("text")))
    assert(keys(repaired).size == 1, "repaired twins must share a key")
  }

  test("curate fixEncoding seam: the mojibake twin collapses in the DAG") {
    val good = ("the cat and the dog sat in the café’s warm house today " * 3).trim
    val docs = Seq(
      (1L, good, "en", "s0"),
      (2L, Encoding.mojibakeOf(good), "en", "s0"),
      (3L, "the bird flew to the sea and it was far away from home today", "en", "s1"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val without = CorpusPipeline.curate(docs,
      pairsOf = d => Dedup.ngramJaccardInvertedIndex(d, 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val withFix = CorpusPipeline.curate(docs,
      pairsOf = d => Dedup.ngramJaccardInvertedIndex(d, 0.5), fixEncoding = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // with repair doc 2 is doc 1's exact dup and drops; without, the
    // mojibake variant survives as a distinct (poisoned) document —
    // IF it passes the language gate at all; either way it must not
    // collapse into doc 1.
    assert(withFix == Set(1L, 3L), withFix.toString)
    assert(without.contains(1L) && without.contains(3L))
    assert(!withFix.contains(2L))
  }
}
