package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The curation path's text kernels: the word tokenizer, the letter-token
  * profile hits, the quality counts and the blocklist counts, each one
  * walk over the code points of each string it reads, plus the PII
  * hints, one walk over its bytes.
  *
  * Each kernel reproduces a regex form exactly; the regex forms live in
  * the test tree as the equality reference (`TextReference`):
  *  - word tokens: `split(regexp_replace(lower(text),
  *    "([\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}])", " $1 "),
  *    "[^\p{L}\p{N}]+")`, Java `split(…, -1)` semantics included;
  *  - letter tokens: `split(lower(text), "[^\p{L}]+")`;
  *  - the character classes of `\p{L}`, `\p{N}`, `\p{Lu}` and `\s`.
  * The classes are the JDK's own tables (`Character.getType`,
  * `Character.UnicodeScript`), the same ones `java.util.regex` consults,
  * and `\s` is Java's ASCII class `[ \t\n\x0B\f\r]`. Case mapping is
  * NOT re-implemented: every kernel that needs lowercase text takes
  * Spark's `lower(text)` as its Catalyst child.
  *
  * Kernels decode the `UTF8String` once (`toString`, so malformed bytes
  * read as U+FFFD exactly as the regex path saw them) and never
  * allocate per character. NULL in → NULL out.
  */
object TextKernels {

  private val LetterMask: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER)

  private val NumberMask: Int = (1 << Character.DECIMAL_DIGIT_NUMBER) |
    (1 << Character.LETTER_NUMBER) | (1 << Character.OTHER_NUMBER)

  // Class bits of a code point; ASCII reads them from a table.
  private[functions] final val Space = 1
  private[functions] final val Letter = 2
  private[functions] final val Number = 4
  private[functions] final val Upper = 8

  private val AsciiClass: Array[Byte] = Array.tabulate[Byte](128) { c =>
    val space = if (c == ' ' || (c >= '\t' && c <= '\r')) Space else 0
    val letter = if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) Letter else 0
    val number = if (c >= '0' && c <= '9') Number else 0
    val upper = if (c >= 'A' && c <= 'Z') Upper else 0
    (space | letter | number | upper).toByte
  }

  /** Class bits of `c`: `\s` as `java.util.regex` reads it without
    * UNICODE_CHARACTER_CLASS (`[ \t\n\x0B\f\r]`, so NBSP is not
    * whitespace), `\p{L}`, `\p{N}` and `\p{Lu}`.
    */
  private[functions] def classOf(c: Int): Int =
    if (c < 0x80) AsciiClass(c)
    else {
      val t = Character.getType(c)
      (if (((LetterMask >> t) & 1) != 0) Letter else 0) |
        (if (((NumberMask >> t) & 1) != 0) Number else 0) |
        (if (t == Character.UPPERCASE_LETTER) Upper else 0)
    }

  /** The code point at `i`, one `charAt` unless `i` starts a surrogate pair. */
  private[functions] def codePointAt(s: String, i: Int): Int = {
    val ch = s.charAt(i)
    if (Character.isHighSurrogate(ch)) s.codePointAt(i) else ch
  }

  /** `\p{L}` */
  private[functions] def isLetter(c: Int): Boolean = (classOf(c) & Letter) != 0

  /** `[\p{L}\p{N}]` */
  private[functions] def isLetterOrNumber(c: Int): Boolean = (classOf(c) & (Letter | Number)) != 0

  /** `[\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsHangul}]`; none of
    * the four scripts has a code point below U+1100 (Hangul Jamo).
    */
  private[functions] def isCjk(c: Int): Boolean = c >= 0x1100 && {
    val s = Character.UnicodeScript.of(c)
    s == Character.UnicodeScript.HAN || s == Character.UnicodeScript.HIRAGANA ||
      s == Character.UnicodeScript.KATAKANA || s == Character.UnicodeScript.HANGUL
  }

  /** Word tokens of the lowercased `s`, as char ranges `[start, end)`
    * passed to `emit` in order — the elements of
    * `split(regexp_replace(s, CjkClass, " $1 "), "[^\p{L}\p{N}]+")`.
    * A CJK letter or number is a token of its own with a virtual
    * separator on each side; a CJK code point outside `\p{L}\p{N}` is a
    * plain separator. Java `split(…, -1)` semantics: a separator run at
    * the start gives a leading empty element, one at the end a
    * trailing empty element, and `""` gives one empty element.
    */
  private[functions] def foreachWord(s: String)(emit: (Int, Int) => Unit): Unit = {
    val n = s.length
    var start = 0
    var inSep = false
    var i = 0
    while (i < n) {
      val c = codePointAt(s, i)
      val w = Character.charCount(c)
      if (isLetterOrNumber(c)) {
        if (isCjk(c)) {
          if (!inSep) emit(start, i)
          emit(i, i + w)
          inSep = true
        } else if (inSep) {
          start = i
          inSep = false
        }
      } else if (!inSep) {
        emit(start, i)
        inSep = true
      }
      i += w
    }
    if (inSep) emit(n, n) else emit(start, n)
  }

  /** Non-empty letter tokens of the lowercased `s` — the non-empty
    * elements of `split(s, "[^\p{L}]+")`.
    */
  private[functions] def foreachLetterRun(s: String)(emit: (Int, Int) => Unit): Unit = {
    val n = s.length
    var start = -1
    var i = 0
    while (i < n) {
      val c = codePointAt(s, i)
      if (isLetter(c)) { if (start < 0) start = i }
      else if (start >= 0) { emit(start, i); start = -1 }
      i += Character.charCount(c)
    }
    if (start >= 0) emit(start, n)
  }

  /** Word → indices of the profiles containing it, plus the longest
    * word (tokens longer than it cannot hit, so they are never looked
    * up).
    */
  private[functions] final class ProfileTable(profiles: Seq[Seq[String]]) {
    val size: Int = profiles.length
    private val table = new java.util.HashMap[String, Array[Int]]()
    profiles.zipWithIndex.foreach { case (ws, pi) =>
      ws.foreach { w =>
        val prev = table.get(w)
        table.put(w, if (prev == null) Array(pi) else prev :+ pi)
      }
    }
    private val maxLen = profiles.flatten.map(_.length).foldLeft(0)(math.max)

    /** Adds every letter-token hit of the lowercased `s` to `counts`. */
    def addHits(s: String, counts: Array[Int]): Unit =
      foreachLetterRun(s) { (a, b) =>
        if (b - a <= maxLen) {
          val hit = table.get(s.substring(a, b))
          if (hit != null) {
            var j = 0
            while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
          }
        }
      }
  }

  private[functions] def requireString(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$name requires string, got $t")
    }

  private def onLower(text: Column)(kernel: Expression => Expression): Column =
    GraftColumnBridge.column(kernel(GraftColumnBridge.expression(lower(text))))

  /** `array<string>` of the word tokens of `lower(text)`, empties kept
    * or dropped — [[graft.operators.Dedup.tokens]].
    */
  def wordTokens(text: Column, dropEmpty: Boolean): Column =
    onLower(text)(WordTokens(_, dropEmpty))

  /** `array<int>` of letter-token hits of `lower(text)` against each
    * profile, in profile order.
    */
  def profileHits(text: Column, profiles: Seq[Seq[String]]): Column =
    onLower(text)(ProfileHits(_, profiles))

  /** [[QualityCounts]] of `text`, stop-word hits against `stopwords`. */
  def qualityCounts(text: Column, stopwords: Seq[String]): Column =
    onLower(text)(QualityCounts(GraftColumnBridge.expression(text), _, stopwords))

  /** [[BlocklistCounts]] of `lower(text)` against `terms`. */
  def blocklistCounts(text: Column, terms: Seq[String]): Column =
    onLower(text)(BlocklistCounts(_, terms))

  /** [[PiiHints]] of `text`. */
  def piiHints(text: Column): Column =
    GraftColumnBridge.column(PiiHints(GraftColumnBridge.expression(text)))

  /** [[PiiHints.At]] if `u` holds an `@`, [[PiiHints.Digit]] if it
    * holds an ASCII digit. Both are ASCII and no byte of a multi-byte
    * UTF-8 sequence is below 0x80, so the bytes are read as they are.
    */
  def piiHintBits(u: UTF8String): Int = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    var bits = 0
    var i = 0
    while (i < n && bits != (PiiHints.At | PiiHints.Digit)) {
      val b = Platform.getByte(base, off + i)
      if (b == '@') bits |= PiiHints.At
      else if (b >= '0' && b <= '9') bits |= PiiHints.Digit
      i += 1
    }
    bits
  }
}

/** Word tokens of an already-lowercased string in one pass
  * ([[TextKernels.foreachWord]]); `dropEmpty` leaves out the empty
  * edge elements.
  */
case class WordTokens(child: Expression, dropEmpty: Boolean)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(child, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_tokens"

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val out = new java.util.ArrayList[UTF8String]()
    TextKernels.foreachWord(s) { (a, b) =>
      if (a == b) { if (!dropEmpty) out.add(UTF8String.EMPTY_UTF8) }
      else out.add(UTF8String.fromString(s.substring(a, b)))
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

/** Per-profile stop-word hit counts over the letter tokens of an
  * already-lowercased string, in one pass: each token costs one hash
  * lookup whatever the number of profiles. Counts every occurrence; a
  * word in two profiles counts for both. Output: `array<int>` in
  * profile order.
  */
case class ProfileHits(child: Expression, profiles: Seq[Seq[String]])
  extends UnaryExpression with CodegenFallback {

  require(profiles.nonEmpty, "profile_hits requires at least one profile")

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(child, prettyName)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "profile_hits"

  @transient private lazy val table = new TextKernels.ProfileTable(profiles)

  override def nullSafeEval(input: Any): Any = {
    val counts = new Array[Int](table.size)
    table.addHits(input.toString, counts)
    new GenericArrayData(counts.map(c => c: Any))
  }

  override protected def withNewChildInternal(newChild: Expression): ProfileHits =
    copy(child = newChild)
}

/** The integer counts behind the quality ratios, from one pass over
  * `text` plus the letter-token pass over `lowered` (= `lower(text)`):
  *  - `n_chars`: `length(text)`;
  *  - `n_words`: whitespace runs + 1, the size of `split(text, "\s+")`;
  *  - `n_nonspace`: code points outside `\s`;
  *  - `n_punct`: `n_chars` minus the code points in `[\p{L}\p{N}\s]`;
  *  - `n_upper`: `\p{Lu}` code points;
  *  - `n_stop`: letter tokens of `lowered` that are in `stopwords`.
  */
case class QualityCounts(text: Expression, lowered: Expression, stopwords: Seq[String])
  extends BinaryExpression with CodegenFallback {

  override def left: Expression = text
  override def right: Expression = lowered

  override def checkInputDataTypes(): TypeCheckResult = {
    val t = TextKernels.requireString(text, prettyName)
    if (t.isFailure) t else TextKernels.requireString(lowered, prettyName)
  }
  override def dataType: DataType = QualityCounts.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "quality_counts"

  @transient private lazy val stops = new TextKernels.ProfileTable(Seq(stopwords))

  override def nullSafeEval(t: Any, l: Any): Any = {
    val u = t.asInstanceOf[UTF8String]
    val s = u.toString
    val n = s.length
    var spaceRuns, nonSpace, kept, upper = 0
    var inSpace = false
    var i = 0
    while (i < n) {
      val c = TextKernels.codePointAt(s, i)
      val k = TextKernels.classOf(c)
      if ((k & TextKernels.Space) != 0) {
        if (!inSpace) spaceRuns += 1
        inSpace = true
        kept += 1
      } else {
        inSpace = false
        nonSpace += 1
        if ((k & (TextKernels.Letter | TextKernels.Number)) != 0) kept += 1
        if ((k & TextKernels.Upper) != 0) upper += 1
      }
      i += Character.charCount(c)
    }
    val hits = new Array[Int](1)
    stops.addHits(l.toString, hits)
    val nChars = u.numChars
    new GenericInternalRow(Array[Any](
      nChars, spaceRuns + 1, nonSpace, nChars - kept, upper, hits(0)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): QualityCounts =
    copy(text = newLeft, lowered = newRight)
}

object QualityCounts {
  val Schema: StructType = StructType(
    Seq("n_chars", "n_words", "n_nonspace", "n_punct", "n_upper", "n_stop")
      .map(StructField(_, IntegerType, nullable = false)))
}

/** Blocklist counts over the non-empty word tokens of an
  * already-lowercased string, in one pass: `n_tokens` tokens, of which
  * `n_blocked` equal one of `terms` (exact string equality, every
  * occurrence counted).
  */
case class BlocklistCounts(child: Expression, terms: Seq[String])
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(child, prettyName)
  override def dataType: DataType = BlocklistCounts.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "blocklist_counts"

  @transient private lazy val termSet = new java.util.HashSet[String](
    java.util.Arrays.asList(terms: _*))

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    var tokens, blocked = 0
    TextKernels.foreachWord(s) { (a, b) =>
      if (a < b) {
        tokens += 1
        if (termSet.contains(s.substring(a, b))) blocked += 1
      }
    }
    new GenericInternalRow(Array[Any](tokens, blocked))
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistCounts =
    copy(child = newChild)
}

object BlocklistCounts {
  val Schema: StructType = StructType(
    Seq("n_tokens", "n_blocked").map(StructField(_, IntegerType, nullable = false)))
}

/** The characters a PII pattern cannot match without, present in one
  * string: an `int` of [[PiiHints.At]] and [[PiiHints.Digit]] bits from
  * one scan ([[TextKernels.piiHintBits]]). Code-generated, so the release
  * projection that guards its scrub with it stays in whole-stage codegen.
  */
case class PiiHints(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(child, prettyName)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "pii_hints"

  override def nullSafeEval(input: Any): Any =
    TextKernels.piiHintBits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.piiHintBits($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiHints =
    copy(child = newChild)
}

object PiiHints {
  /** The text holds an `@`: every email address does. */
  final val At = 1
  /** The text holds an ASCII digit: every IP, long id and phone number does. */
  final val Digit = 2
}
