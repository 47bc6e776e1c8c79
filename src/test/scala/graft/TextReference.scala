package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BlocklistCounts, QualityCounts, TextKernels}
import graft.operators.{Dedup, TextAnalysis}

/** Spec reference for the native text kernels
  * ([[graft.functions.TextKernels]]): the regex and HOF-lambda forms the
  * curation path ran before, kept verbatim so the kernels can be pinned
  * element for element and count for count (`UnicodeTextSpec`,
  * `PropertySpec`).
  */
object TextReference {

  /** One capture group around any char of the no-separator CJK scripts. */
  val CjkCharClass = "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])"

  /** [[graft.operators.Dedup.tokens]] */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(text), CjkCharClass, " $1 "), "[^\\p{L}\\p{N}]+")

  /** [[graft.operators.Dedup.nonEmptyTokens]] */
  def nonEmptyTokens(text: Column): Column = filter(tokens(text), t => t =!= "")

  /** The letter tokens behind langId, withQuality's stop count and the
    * Gopher stop hits.
    */
  def letterTokens(text: Column): Column = split(lower(text), "[^\\p{L}]+")

  /** [[graft.functions.TextKernels.profileHits]] */
  def profileHits(text: Column, profiles: Seq[Seq[String]]): Column =
    array(profiles.map(ws => size(filter(letterTokens(text), t => t.isin(ws: _*)))): _*)

  /** [[graft.functions.TextKernels.qualityCounts]], field for field. */
  def qualityCounts(text: Column, stopwords: Seq[String]): Column = {
    val nChars = length(text)
    struct(
      nChars.as("n_chars"),
      size(split(text, "\\s+")).as("n_words"),
      length(regexp_replace(text, "\\s", "")).as("n_nonspace"),
      (nChars - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))).as("n_punct"),
      length(regexp_replace(text, "[^\\p{Lu}]", "")).as("n_upper"),
      profileHits(text, Seq(stopwords))(0).as("n_stop"))
  }

  /** [[graft.functions.TextKernels.blocklistCounts]] */
  def blocklistCounts(text: Column, terms: Seq[String]): Column = {
    val toks = nonEmptyTokens(text)
    struct(size(toks).as("n_tokens"),
      size(filter(toks, t => t.isin(terms: _*))).as("n_blocked"))
  }

  /** [[TextAnalysis.withQuality]] as the regex form computed it. */
  def withQuality(documents: DataFrame): DataFrame = {
    val nChars = length(col("text"))
    val nWords = size(split(col("text"), "\\s+"))
    val punct = nChars - length(regexp_replace(col("text"), "[^\\p{L}\\p{N}\\s]", ""))
    val uppers = length(regexp_replace(col("text"), "[^\\p{Lu}]", ""))
    val stops = profileHits(col("text"), Seq(TextAnalysis.Stopwords("en")))(0)
    documents
      .withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len",
        length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          nullif(nWords.cast("double"), lit(0.0)))
      .withColumn("punct_ratio", punct.cast("double") / nullif(nChars.cast("double"), lit(0.0)))
      .withColumn("upper_ratio", uppers.cast("double") / nullif(nChars.cast("double"), lit(0.0)))
      .withColumn("stop_ratio", stops.cast("double") / nullif(nWords.cast("double"), lit(0.0)))
      .withColumn("quality_score",
        round(least(lit(1.0), nWords.cast("double") / 50) * 0.4 +
          (lit(1.0) - col("punct_ratio")) * 0.3 +
          least(lit(1.0), col("stop_ratio") * 5) * 0.3, 6))
  }

  /** [[TextAnalysis.blocklistKeepCol]] as the lambda form computed it. */
  def blocklistKeepCol(text: Column, terms: Seq[String], maxRatio: Double = 0.05): Column = {
    val toks = nonEmptyTokens(text)
    val blocked = size(filter(toks, t => t.isin(terms: _*)))
    size(toks) === 0 ||
      blocked.cast("double") <= size(toks).cast("double") * maxRatio
  }

  /** Blocklist terms for [[mismatches]]: ASCII, a CJK token, `ß` and
    * the `i` a Turkish `İ` lowercases to.
    */
  private val Terms = Seq("ab", "i", "ß", "漢", "the")

  /** Every kernel against its reference form over `texts`, value for
    * value (arrays element for element, counts and doubles exactly;
    * struct fields and array elements read as the operators read
    * them, so NULL text compares field-null to field-null). Returns
    * one line per disagreement; empty when the kernels are equal.
    */
  def mismatches(spark: SparkSession, texts: Seq[String]): Seq[String] = {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")
    val t = col("text")
    val stops = TextAnalysis.Stopwords("en")
    val langs = TextAnalysis.LangProfiles.keys.toSeq.sorted
    val profiles = langs.map(TextAnalysis.LangProfiles)
    val pairs: Seq[(String, Column, Column)] = Seq(
      ("tokens", Dedup.tokens(t), tokens(t)),
      ("nonEmptyTokens", Dedup.nonEmptyTokens(t), nonEmptyTokens(t)),
      ("blocklistKeepCol", TextAnalysis.blocklistKeepCol(t, Terms),
        blocklistKeepCol(t, Terms))) ++
      QualityCounts.Schema.fieldNames.toSeq.map(f => (s"qualityCounts.$f",
        TextKernels.qualityCounts(t, stops)(f), qualityCounts(t, stops)(f))) ++
      BlocklistCounts.Schema.fieldNames.toSeq.map(f => (s"blocklistCounts.$f",
        TextKernels.blocklistCounts(t, Terms)(f), blocklistCounts(t, Terms)(f))) ++
      langs.indices.map(i => (s"profileHits.${langs(i)}",
        element_at(TextKernels.profileHits(t, profiles), i + 1),
        element_at(profileHits(t, profiles), i + 1)))
    val rows = docs.select(col("doc_id") +: pairs.flatMap { case (_, a, b) => Seq(a, b) }: _*)
      .collect()
    val perKernel = rows.toSeq.flatMap { r =>
      val text = texts(r.getLong(0).toInt)
      pairs.indices.collect {
        case k if r.get(1 + 2 * k) != r.get(2 + 2 * k) =>
          s"${pairs(k)._1} on ${show(text)}: native ${r.get(1 + 2 * k)} ref ${r.get(2 + 2 * k)}"
      }
    }
    def quality(df: DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val q = quality(TextAnalysis.withQuality(docs)).zip(quality(withQuality(docs)))
      .collect { case (a, b) if a != b => s"withQuality: native $a ref $b" }
    perKernel ++ q
  }

  /** `s` quoted, every non-printable-ASCII code point as `U+hex`. */
  def show(s: String): String =
    if (s == null) "null"
    else s.codePoints().toArray.map { c =>
      if (c >= 0x20 && c < 0x7f) c.toChar.toString else s"<U+${Integer.toHexString(c)}>"
    }.mkString("\"", "", "\"")
}
