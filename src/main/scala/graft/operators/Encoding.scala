package graft.operators

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Encoding repair — the charset front of the crawl tier (r11, VERDICT
  * r10 missing #2): CCNet/C4-class pipelines run a mojibake repair step
  * BEFORE extraction and hashing, because a wrongly-decoded document
  * silently poisons every downstream hash, shingle and gate — the dup
  * of a clean page and the dup of its mojibake twin never meet.
  *
  * Scope: the DOMINANT real-world class only — cp1252-in-UTF-8 double
  * encoding (UTF-8 bytes decoded as Windows-1252 and re-encoded), the
  * `Ã©`-for-`é` / `â€™`-for-`’` family. The repair table is GENERATED,
  * not hand-typed: for each repair target the mojibake form is computed
  * by the actual round trip (`new String(t.getBytes(UTF_8), cp1252)`),
  * so a table entry cannot be misremembered; targets whose UTF-8 bytes
  * hit cp1252's five undefined slots (0x81/8D/8F/90/9D — e.g. `”`,
  * whose E2 80 9D second continuation byte decodes to the C1 control
  * U+009D) are excluded: their mojibake forms carry unprintable
  * controls and real-world repairers treat them as unrecoverable.
  * Other mojibake classes (latin-1-as-cp1252, double-double encoding,
  * dropped bytes) are out of scope by design — repairing them needs
  * statistical charset detection, not a projection.
  *
  * Shape: a chained codegen'd literal `replace` projection — zero
  * shuffle, zero join, streaming-safe, applied longest-pattern-first
  * (a repaired 2-byte target could otherwise splice into a 3-byte
  * pattern). Cost is `|table|` string scans per document; at 100 TB
  * that is pure map-side work that widens no shuffle. One chain pass
  * inverts ONE encoding layer — the k-times-double-encoded tail
  * (rare) needs k passes; spec-pinned for k = 2.
  *
  * The [[MojibakeTable]] constants are interpolated VERBATIM into the
  * DuckDB oracle ([[fixEncodingSql]] — the html_extract discipline), so
  * the two engines cannot drift.
  */
object Encoding {

  private val Cp1252: Charset = Charset.forName("windows-1252")

  /** The cp1252-in-UTF-8 mojibake form of a (clean) string: encode as
    * UTF-8, decode the bytes as Windows-1252. This is the exact
    * corruption the repair inverts; tests and fixtures plant mojibake
    * through it so the planted bytes are the real round trip.
    */
  def mojibakeOf(s: String): String =
    new String(s.getBytes(StandardCharsets.UTF_8), Cp1252)

  /** Repair targets: the Latin-1 letter/symbol block (U+00A1–U+00FF —
    * the accented-Latin class: é ü ñ ç …, « » ° ± § µ), the general
    * punctuation the web actually uses (curly quotes, dashes, ellipsis,
    * dagger, permille, bullet, euro, trademark), NBSP, and the common
    * Latin-Extended-A pairs (Œ œ Š š Ž ž Ÿ ƒ). Each becomes a table
    * entry only if its full mojibake form decodes to defined cp1252
    * glyphs (see object doc).
    */
  private val RepairTargets: Seq[String] =
    ((0xA0 to 0xFF).map(_.toChar.toString) ++
      Seq("‘", "’", "“", "”", "‚", "„",
        "–", "—", "•", "…", "†", "‡",
        "‰", "‹", "›", "€", "™",
        "Œ", "œ", "Š", "š", "Ž", "ž",
        "Ÿ", "ƒ", "ˆ", "˜")).distinct

  /** (mojibake, repaired) pairs, longest mojibake first then by
    * repaired codepoint — the deterministic order [[fixEncodingCol]]
    * and [[fixEncodingSql]] both apply.
    */
  val MojibakeTable: Seq[(String, String)] = RepairTargets
    .map(t => mojibakeOf(t) -> t)
    .filter { case (m, t) =>
      m.length > 1 && m.forall(c => !c.isControl && c != '�')
    }
    .sortBy { case (m, t) => (-m.length, t) }

  /** The repair projection: every table entry replaced
    * longest-pattern-first. Codegen'd `StringReplace` chain — no regex,
    * no UDF.
    */
  def fixEncodingCol(text: Column): Column =
    MojibakeTable.foldLeft(text) { case (acc, (bad, good)) =>
      replace(acc, lit(bad), lit(good))
    }

  /** SQL string literal (single-quote escaped) — shared by the
    * generated oracle chain and the fixture planting.
    */
  private[graft] def sqlLit(s: String): String =
    "'" + s.replace("'", "''") + "'"

  /** [[fixEncodingCol]] as DuckDB SQL over expression `expr` — the same
    * table in the same order (generated, the zorderKeySql rule).
    */
  def fixEncodingSql(expr: String): String =
    MojibakeTable.foldLeft(expr) { case (acc, (bad, good)) =>
      s"replace($acc, ${sqlLit(bad)}, ${sqlLit(good)})"
    }

  /** #47aa text_fix_encoding: repaired text + the charset signal.
    *
    *  - `text_fixed` — the repaired text ([[fixEncodingCol]]);
    *  - `n_mojibake_chars` — how many characters the repair removed
    *    (each 2-char entry shrinks by 1, each 3-char by 2): 0 means the
    *    document carried no recognizable double-encoding;
    *  - `charset_confidence` — `1 − n_mojibake_chars / n_chars`,
    *    rounded: a cheap per-doc gate/stratification signal (CCNet's
    *    practice of scoring encodings rather than trusting them). A
    *    clean document scores exactly 1.0.
    */
  def withFixedEncoding(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val fixed = fixEncodingCol(col(textCol))
    // fanOutScan (r12): the chained replace/repair projection otherwise
    // runs inside the scan stage — a small input read as one split
    // single-threads the whole repair chain (JobProbe: a 1.2 s serial
    // stage on text_fix_encoding at sf0.1). Scan/projection-only input
    // by contract (the fanOutScan precondition); at corpus scale the
    // input arrives multi-split and the fan-out is a no-op.
    Skew.fanOutScan(documents, "doc_id")
      .withColumn("text_fixed", fixed)
      .withColumn("n_mojibake_chars",
        (length(col(textCol)) - length(col("text_fixed"))).cast("long"))
      .withColumn("charset_confidence",
        Publish.round6(lit(1.0) - col("n_mojibake_chars").cast("double") /
          greatest(length(col(textCol)).cast("double"), lit(1.0))))
  }

  /** #47ab charset_report: the per-source rollup of [[withFixedEncoding]]
    * — which SOURCES ship charset-damaged text (CCNet's per-shard read
    * before deciding whether a feed needs the repair pass, or dropping):
    * document count, damaged-document count, total characters the
    * repair removed, and mean per-doc confidence. One projection + one
    * hash aggregate at source grain — the sourceQuality shape.
    */
  def charsetReport(documents: DataFrame, srcCol: String = "source"): DataFrame =
    withFixedEncoding(documents)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_mojibake_chars") > 0).cast("long")).as("n_damaged"),
        sum(col("n_mojibake_chars")).as("chars_repaired"),
        Publish.round6(avg(col("charset_confidence"))).as("avg_confidence"))
}
