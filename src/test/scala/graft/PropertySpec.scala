package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.operators.{Dedup, Similarity, Snapshot, TopK}

/** Randomized property tests with INDEPENDENT brute-force oracles —
  * fixed seeds, so every run checks the same fixtures (no flaky
  * shrinking). Where the fixture specs pin hand-computed cases, these
  * pin the operator against a from-scratch reimplementation on many
  * random shapes: span marking vs a substring-count oracle, kmeans
  * assignment vs an argmin in plain Scala, snapshot diff vs set
  * algebra, bounded ranking vs sort-and-take.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("native text kernels equal the regex forms on random Unicode strings") {
    // Code points from every class the kernels distinguish: ASCII
    // letters/digits/punctuation, each \s char plus NBSP, Latin-1 and
    // Turkish/Greek/German case traps, combining marks, Nd/Nl/No
    // numbers, CJK (Han incl. Ext-B, kana, Hangul, a Han radical and a
    // Hangul tone mark, which are CJK-script separators), supplementary
    // letters and symbols.
    val pool: Seq[Int] = Seq(
      'a', 'b', 'Z', 'Q', '0', '7', '.', ',', '-', '!', ' ', ' ', '\t', '\n',
      0x0B, 0x0C, '\r', 0xA0, 0xDF, 0x130, 0x131, 0x3A3, 0x3C2, 0x301, 0x663,
      0x216B, 0xB2, 0x6F22, 0x5B57, 0x3072, 0x30AB, 0xD55C, 0x2E80, 0x302E,
      0x30FC, 0xFF71, 0x20000, 0x1D400, 0x1F600, 0x10400)
    val rnd = new Random(2026)
    val texts = (0 until 400).map { _ =>
      val n = rnd.nextInt(24)
      new String((0 until n).flatMap(_ =>
        Character.toChars(pool(rnd.nextInt(pool.size)))).toArray)
    }
    val bad = TextReference.mismatches(spark, texts)
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("exactSpans + removeSpans equal a brute-force substring oracle") {
    val rnd = new Random(42)
    for (trial <- 1 to 8) {
      val minLen = 3 + rnd.nextInt(3) // 3..5
      val docs = (0 until 6).map { i =>
        val len = rnd.nextInt(25)
        (i.toLong, (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      }
      // Oracle: count every minLen-char window across the corpus; a
      // position is marked iff its window occurs >= 2 times; marked
      // positions merge into islands (break iff p > prev + minLen).
      val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      docs.foreach { case (_, t) =>
        (0 to t.length - minLen).foreach(p => counts(t.substring(p, p + minLen)) += 1)
      }
      def spansOf(id: Long, t: String): Seq[(Long, Long, Long)] = {
        val marked = (0 to t.length - minLen)
          .filter(p => counts(t.substring(p, p + minLen)) >= 2)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        var start = -1
        var prev = -1000
        marked.foreach { p =>
          if (start < 0) start = p
          else if (p > prev + minLen) {
            out += ((id, start.toLong, (prev + minLen).toLong)); start = p
          }
          prev = p
        }
        if (start >= 0) out += ((id, start.toLong, (prev + minLen).toLong))
        out.toSeq
      }
      val expected = docs.flatMap { case (id, t) => spansOf(id, t) }
        .map { case (d, s, e) => (d, s, e, e - s) }
      val df = docs.toDF("doc_id", "text")
      val out = Dedup.exactSpans(df, minLen = minLen)
        .orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(out == expected, s"trial $trial minLen=$minLen docs=$docs")
      // The cleaner removes exactly the span bytes: clean_text equals
      // the oracle's gap concatenation and the length arithmetic holds.
      val clean = Dedup.removeSpans(df, minLen = minLen)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      clean.foreach { case (id, ct, nSpans, nRemoved) =>
        val t = docs.find(_._1 == id).get._2
        val sp = spansOf(id, t)
        val expClean = {
          val sb = new StringBuilder
          var cur = 0
          sp.foreach { case (_, s, e) =>
            sb.append(t.substring(cur, s.toInt)); cur = e.toInt
          }
          sb.append(t.substring(cur)); sb.toString
        }
        assert(ct == expClean && nSpans == sp.size.toLong &&
          nRemoved == sp.map(x => x._3 - x._2).sum &&
          ct.length == t.length - nRemoved,
          s"trial $trial doc $id text='$t' spans=$sp clean='$ct'")
      }
    }
  }

  test("kmeans: assignments are true argmins; output invariant to partitioning") {
    val rnd = new Random(7)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(20)
      val dim = 3
      val k = 4
      val emb = (1 to n).map(i =>
        (i.toLong, Array.fill(dim)((rnd.nextInt(21) - 10).toFloat), 0))
      val df = emb.toDF("vec_id", "embedding", "label")
      val cents = Similarity.kmeansFit(df, k = k, iters = 2)
      val got = Similarity.kmeansAssign(df, cents).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      emb.filter(_._2.exists(_ != 0f)).foreach { case (id, v, _) =>
        val d2 = cents.map(c =>
          c.zip(v.map(_.toDouble)).map { case (ci, vi) => (vi - ci) * (vi - ci) }.sum)
        val sorted = d2.zipWithIndex.sortBy(t => (t._1, t._2))
        // Skip near-ties: the operator computes |c|²−2⟨v,c⟩, a different
        // floating expression from the oracle's |v−c|²−|v|².
        if (sorted.length < 2 || sorted(1)._1 - sorted(0)._1 > 1e-9)
          assert(got(id) == sorted.head._2,
            s"trial $trial vec $id: got ${got(id)} want ${sorted.head._2} d2=${d2.toSeq}")
      }
      // Bit-determinism under any partitioning — the integer micro-unit
      // claim: repartitioned input must yield the identical profile.
      def profile(d: org.apache.spark.sql.DataFrame) =
        Similarity.kmeansClusters(d, k = k, iters = 2).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
          .sortBy(_._1).toSeq
      assert(profile(df) == profile(df.repartition(7)),
        s"trial $trial: kmeans profile changed under repartition")
    }
  }

  test("connected components equal a driver union-find oracle under any partitioning") {
    // Pins the r11 partition-local-contraction rewrite: final labels are
    // the min reachable id, independent of how edges land in partitions
    // (the contraction's local roots differ per layout; the result must
    // not), on either quotient finish.
    val rnd = new Random(1311)
    for (trial <- 1 to 6) {
      val n = 20 + rnd.nextInt(30)
      val m = 10 + rnd.nextInt(40)
      val edges = (1 to m).map(_ =>
        (rnd.nextInt(n).toLong + 1L, rnd.nextInt(n).toLong + 1L))
      // driver oracle: plain union-find by min
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        parent.getOrElseUpdate(x, x)
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      // Both quotient finishes: the driver union-find (default broadcast
      // threshold) and the distributed hash-min loop (threshold -1).
      for (driver <- Seq(true, false); parts <- Seq(1, 3, 8); pj <- Seq(false, true)) {
        val df = edges.toDF("id1", "id2").repartition(parts)
        def run() = graft.operators.Components
          .connectedComponents(df, "id1", "id2", pointerJump = pj)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val got = if (driver) run() else withDistributedCc(run())
        assert(got == want, s"trial $trial driver=$driver parts=$parts pj=$pj: " +
          "labels diverge from the UF oracle")
      }
    }
  }

  test("corpus diff: statuses partition the id universe, stats roll up exactly") {
    val rnd = new Random(13)
    for (trial <- 1 to 5) {
      def corpus(): Map[Long, String] = (1 to 30).collect {
        case i if rnd.nextBoolean() =>
          i.toLong -> (0 until rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      }.toMap
      val o = corpus()
      val n = corpus()
      val out = Snapshot.corpusDiff(
        o.toSeq.toDF("doc_id", "text"), n.toSeq.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(out.keySet == o.keySet ++ n.keySet, s"trial $trial universe")
      out.foreach { case (id, (st, co, cn)) =>
        val exp =
          if (!o.contains(id)) "added"
          else if (!n.contains(id)) "removed"
          else if (o(id) == n(id)) "unchanged" else "changed"
        assert(st == exp, s"trial $trial id $id: $st vs $exp")
        assert(co == o.get(id).map(_.length.toLong).getOrElse(0L) &&
          cn == n.get(id).map(_.length.toLong).getOrElse(0L), s"trial $trial id $id chars")
      }
      val stats = Snapshot.diffStats(Snapshot.corpusDiff(
        o.toSeq.toDF("doc_id", "text"), n.toSeq.toDF("doc_id", "text")))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val byStatus = out.toSeq.groupBy(_._2._1)
      assert(stats.keySet == byStatus.keySet, s"trial $trial stats keys")
      byStatus.foreach { case (st, rows) =>
        assert(stats(st) == ((rows.size.toLong,
          rows.map(_._2._2).sum, rows.map(_._2._3).sum)), s"trial $trial $st")
      }
    }
  }

  test("BPE: batched merge rounds equal sequential training on random corpora") {
    import graft.operators.Bpe
    val rnd = new Random(21)
    for (trial <- 1 to 4) {
      val words = (1 to 12).map(_ =>
        (2 + rnd.nextInt(3) to 0 by -1).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val docs = (1 to 6).map(i =>
        (i.toLong, (1 to 8).map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
        .toDF("doc_id", "text")
      val seq = BpeReference.train(docs, merges = 6)
      val (bat, rounds) = Bpe.trainBatched(docs, merges = 6)
      assert(bat.map(m => (m.lhs, m.rhs, m.merged, m.pair_count)) ==
        seq.map(m => (m.lhs, m.rhs, m.merged, m.pair_count)),
        s"trial $trial: batched=$bat sequential=$seq")
      assert(rounds <= seq.size, s"trial $trial: $rounds rounds for ${seq.size} merges")
    }
  }

  test("BPE: vocab-grain tokenization equals the projection on random corpora") {
    import graft.operators.Bpe
    val rnd = new Random(33)
    for (trial <- 1 to 4) {
      val words = (1 to 10).map(_ =>
        (1 + rnd.nextInt(4) to 0 by -1).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val docs = (1 to 8).map { i =>
        val n = rnd.nextInt(9) // 0 words possible — the empty-doc row rule
        (i.toLong, (1 to n).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val merges = BpeReference.train(docs, merges = 4)
      val a = Bpe.tokenize(docs, merges).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
      val b = Bpe.tokenizeByVocab(docs, merges).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toSeq
      assert(a == b, s"trial $trial merges=$merges")
    }
  }

  test("BPE packed sequences reconstruct the corpus token stream exactly") {
    import graft.operators.Bpe
    val rnd = new Random(55)
    for (trial <- 1 to 3) {
      val words = (1 to 8).map(_ =>
        (1 + rnd.nextInt(3) to 0 by -1).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val docs = (1 to 10).map { i =>
        (i.toLong, (1 to rnd.nextInt(7)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val merges = BpeReference.train(docs, merges = 3)
      val seqLen = 3L + rnd.nextInt(6)
      val packed = Bpe.packedSequences(docs, merges, seqLen = seqLen)
        .orderBy("seq_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      // Conservation: sequences in seq_id order concatenate to exactly
      // the doc_id-order corpus token stream — nothing lost, nothing
      // reordered, nothing duplicated.
      val stream = packed.map(_._3).filter(_.nonEmpty).mkString(" ")
      val expected = Bpe.tokenize(docs, merges).orderBy("doc_id").collect()
        .flatMap(r => r.getSeq[String](1)).mkString(" ")
      assert(stream == expected, s"trial $trial seqLen=$seqLen")
      // Fullness: every sequence except the tail is exactly seqLen.
      packed.dropRight(1).foreach { case (sid, n, _) =>
        assert(n == seqLen, s"trial $trial seq $sid has $n != $seqLen") }
      // Sequence ids are contiguous from 0.
      assert(packed.map(_._1) == packed.indices.map(_.toLong), packed.map(_._1).toString)
    }
  }

  test("sentence dedup clean equals a brute-force count-and-strip oracle") {
    val rnd = new Random(77)
    for (trial <- 1 to 6) {
      val pool = (1 to 6).map(i => s"s$i ${('a' + rnd.nextInt(3)).toChar}")
      val docs = (1 to 7).map { i =>
        val n = rnd.nextInt(6)
        (i.toLong, (1 to n).map(_ => pool(rnd.nextInt(pool.size))).mkString(". ") +
          (if (n > 0) "." else ""))
      }
      // Brute force: split on the operator's terminator runs, trim,
      // drop empties; count occurrences corpus-wide; cut count>=2.
      val sentsOf = docs.map { case (id, t) =>
        id -> t.split("[.!?。！？؟…]+").map(_.trim).filter(_.nonEmpty).toSeq
      }
      val counts = sentsOf.flatMap(_._2).groupBy(identity).map { case (s, o) => s -> o.size }
      val expected = sentsOf.map { case (id, ss) =>
        (id, ss.size.toLong, ss.count(s => counts(s) >= 2).toLong,
          ss.filter(s => counts(s) < 2).mkString(" "))
      }
      val out = Dedup.sentenceDedupClean(docs.toDF("doc_id", "text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(out == expected, s"trial $trial docs=$docs")
    }
  }

  test("maximal spans: sound, window-complete, PD-identical on random corpora") {
    val rnd = new Random(5)
    for (trial <- 1 to 5) {
      val minLen = 4
      val docs = (0 until 5).map { i =>
        val len = 8 + rnd.nextInt(18)
        (i.toLong, (0 until len).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val all = docs.map(_._2)
      def occurrences(s: String): Int =
        all.map(t => Iterator.range(0, t.length - s.length + 1)
          .count(p => t.regionMatches(p, s, 0, s.length))).sum
      val ms = Dedup.maximalSpans(df, minLen = minLen)
        .orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // Soundness: every reported span's substring occurs >= 2 times.
      ms.foreach { case (id, s, e) =>
        val t = docs.find(_._1 == id).get._2
        val sub = t.substring(s.toInt, e.toInt)
        assert(occurrences(sub) >= 2, s"trial $trial span ($id,$s,$e)='$sub' unique")
      }
      // Window-completeness: maximal spans cover exactly the bytes the
      // window-exact islands cover (every duplicated window lives
      // inside some maximal repeat and vice versa).
      def bytes(spans: Seq[(Long, Long, Long)]): Set[(Long, Long)] =
        spans.flatMap { case (id, s, e) => (s until e).map(id -> _) }.toSet
      val we = Dedup.exactSpans(df, minLen = minLen).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(bytes(ms) == bytes(we), s"trial $trial byte cover mismatch")
      // The prefix-doubling twin is output-identical on arbitrary data.
      val pd = MaximalSpansPD(df, minLen = minLen)
        .orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(pd == ms, s"trial $trial PD twin diverged")
    }
  }

  test("groupedWithRank equals per-group sort-and-take on random data") {
    val rnd = new Random(99)
    for (trial <- 1 to 5) {
      val rows = (1 to 120).map(i =>
        (rnd.nextInt(5), rnd.nextInt(20).toDouble, i.toLong)) // id unique → total order
      val k = 1 + rnd.nextInt(4)
      val df = rows.toDF("grp", "v", "id")
      val out = TopK.groupedWithRank(df, Seq(col("grp")), k,
        Seq(col("v"), col("id"))).collect()
        .map(r => (r.getAs[Int]("grp"), r.getAs[Int]("rk"),
          r.getAs[Double]("v"), r.getAs[Long]("id"))).toSeq.sorted
      val exp = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(t => (t._2, t._3)).take(k).zipWithIndex.map {
          case ((_, v, id), i) => (g, i + 1, v, id)
        }
      }.sorted
      assert(out == exp, s"trial $trial k=$k")
    }
  }

  test("range join equals the brute-force range predicate on random event streams") {
    import java.sql.Timestamp
    val rnd = new Random(7)
    for (trial <- 1 to 5) {
      // Random µs-grain timestamps clustered tightly enough that
      // same-bin, bin-straddling, boundary-equal, and empty-window
      // shapes all occur; window width varies per trial.
      val windowSec = Seq(60L, 300L, 3600L)(rnd.nextInt(3))
      val base = 1704067200000000L // 2024-01-01 in µs
      val events = (1 to 200).map { i =>
        val tpe = if (rnd.nextBoolean()) "click" else "purchase"
        val us = base + rnd.nextInt(4) * windowSec * 1000000L +
          (rnd.nextLong() % (2 * windowSec * 1000000L)).abs
        (i.toLong, (rnd.nextInt(6) + 1).toLong, tpe, us)
      }
      val df = events.map { case (e, u, t, us) =>
        val ts = new Timestamp(us / 1000L)
        ts.setNanos(((us % 1000000L) * 1000L).toInt)
        (e, u, t, ts)
      }.toDF("event_id", "user_id", "event_type", "ts")
      val out = graft.operators.Analytics.rangeJoin(df, windowSec = windowSec)
        .collect()
        .map(r => (r.getAs[Long]("right_id"), r.getAs[Long]("left_id"),
          r.getAs[Long]("lag_us"))).toSeq.sorted
      // Brute force: every (purchase, click) pair, same user, half-open
      // window — stated directly, no bins.
      val w = windowSec * 1000000L
      val exp = (for {
        (re, ru, rt, rus) <- events if rt == "purchase"
        (le, lu, lt, lus) <- events
        if lt == "click" && lu == ru && lus >= rus - w && lus < rus
      } yield (re, le, rus - lus)).sorted
      assert(out == exp, s"trial $trial w=$windowSec: got ${out.size}, want ${exp.size}")
      assert(exp.nonEmpty, s"trial $trial degenerate fixture")
    }
  }

  test("url resolution is idempotent and absolute on random references") {
    import org.apache.spark.sql.functions.col
    // A crawl frontier re-resolves URLs it already resolved (a page
    // links to a URL another page's extraction produced) — resolution
    // must be a NO-OP on its own outputs: every output is scheme-ful,
    // and scheme-ful references pass through unchanged.
    val rnd = new Random(11)
    val segs = Seq("a", "bb", "x1", "img", "..", ".")
    def path(n: Int) = (1 to n).map(_ => segs(rnd.nextInt(segs.size))).mkString("/")
    val hrefs = (1 to 120).map { i =>
      rnd.nextInt(7) match {
        case 0 => s"https://h$i.example/${path(2)}"
        case 1 => s"//cdn$i.example/${path(1)}"
        case 2 => s"/${path(3)}"
        case 3 => path(3)
        case 4 => s"#frag$i"
        case 5 => s"?q=$i"
        case _ => ""
      }
    }
    val base = "https://site.example.com/dir/sub/page.html?q=1#top"
    val df = hrefs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("id", "href")
      .withColumn("r1", graft.operators.Url.resolveCol(col("href"),
        org.apache.spark.sql.functions.lit(base)))
    val out = df
      .withColumn("r2", graft.operators.Url.resolveCol(col("r1"),
        org.apache.spark.sql.functions.lit(base)))
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
    out.foreach { case (h, r1, r2) =>
      assert(r1 == r2, s"not idempotent: '$h' -> '$r1' -> '$r2'")
      assert(r1.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*"),
        s"not absolute: '$h' -> '$r1'")
    }
  }

  test("encoding repair inverts the mojibake round trip on random target mixes") {
    import graft.operators.Encoding
    // Random sentences mixing ASCII with repair-table targets: the
    // planted corruption is the REAL round trip (utf8 → cp1252), and
    // one chain pass must invert it exactly; clean strings that avoid
    // the marker characters must pass through untouched (confidence 1).
    val rnd = new Random(29)
    val targets = Encoding.MojibakeTable.map(_._2)
    val ascii = "the quick brown fox 42 jumps".split(" ")
    def sentence(): String = (1 to 12).map { _ =>
      if (rnd.nextInt(3) == 0) targets(rnd.nextInt(targets.size))
      else ascii(rnd.nextInt(ascii.size))
    }.mkString(" ")
    val rows = (1 to 80).map(i => (i.toLong, sentence()))
    val planted = rows.map { case (i, s) => (i, Encoding.mojibakeOf(s), s) }
      .toDF("doc_id", "text", "expected")
    val fixed = Encoding.withFixedEncoding(planted)
      .collect().map(r => (r.getAs[String]("expected"),
        r.getAs[String]("text_fixed"), r.getAs[Long]("n_mojibake_chars")))
    fixed.foreach { case (exp, got, n) =>
      assert(got == exp, s"repair diverged:\n  expected '$exp'\n  got      '$got'")
      // every non-ASCII target char cost exactly its mojibake surplus
      val surplus = Encoding.mojibakeOf(exp).length - exp.length
      assert(n == surplus, s"n_mojibake_chars $n != planted surplus $surplus")
    }
    // ASCII-only strings are fixpoints with confidence exactly 1.0
    val clean = (1 to 20).map(i => (i.toLong, (1 to 8).map(_ =>
      ascii(rnd.nextInt(ascii.size))).mkString(" "))).toDF("doc_id", "text")
    val cleanOut = Encoding.withFixedEncoding(clean).collect()
    cleanOut.foreach { r =>
      assert(r.getAs[String]("text_fixed") == r.getAs[String]("text"))
      assert(r.getAs[Double]("charset_confidence") == 1.0)
    }
  }

  test("media near-dup banding equals brute-force hamming <= 3 on random corpora") {
    import graft.ops.Multimodal
    // The pigeonhole claim on random data: the banded candidate join
    // (chunk-bucket collect + exact verify) must enumerate EXACTLY the
    // all-pairs set within hamming 3 — including planted twins and
    // whatever collisions the random corpus produces.
    val rnd = new Random(47)
    val words = "alpha beta gamma delta epsilon zeta eta theta".split(" ")
    def text(): String = (1 to (20 + rnd.nextInt(120)))
      .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val base = (1 to 60).map(i => (i.toLong, text()))
    val planted = base.filter(_._1 % 10 == 0).map { case (i, t) => (i + 100L, t) } ++
      base.filter(_._1 % 10 == 5).map { case (i, t) =>
        (i + 200L, "Q" + t.substring(1)) }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs)
    val banded = Multimodal.mediaNearDup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Multimodal.perceptualSig(media).collect()
      .map(s => s.doc_id -> Seq(s.k0, s.k1, s.k2, s.k3)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = (sigs(a) zip sigs(b)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (a, b, h)).toSet
    assert(banded == brute,
      s"banded ${banded.size} pairs != brute ${brute.size}")
    // the planted exact twins are all present at hamming 0
    base.filter(_._1 % 10 == 0).foreach { case (i, _) =>
      assert(banded.contains((i, i + 100L, 0)), s"missing twin pair for $i")
    }
  }

  test("posting-list pairs equal the posting self-join on random corpora") {
    import org.apache.spark.sql.DataFrame
    // Both exact emitters against the self-join form they replaced
    // (PairReference), field for field and schema for schema: random
    // corpora over a small vocabulary (overlaps everywhere), NULL source
    // or lang rows, several thresholds, stop-shingle mode, and the
    // maxPostingDf guard at and one below the corpus's largest df.
    def same(name: String, got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema == want.schema, s"$name schema:\n${got.schema}\n${want.schema}")
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val (g, w) = (rows(got), rows(want))
      assert(g == w, s"$name: ${g.size} rows vs reference ${w.size}\n" +
        s"${g.diff(w).take(5)}\n${w.diff(g).take(5)}")
    }
    def raises(name: String, df: => DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      assert(e.getMessage.contains("maxPostingDf"), s"$name: ${e.getMessage}")
    }
    Seq(11, 12, 13).foreach { seed =>
      val rnd = new Random(seed)
      val words = "a b c d e f g h".split(" ")
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      val docs = (1 to 40).map { i =>
        val text = Seq.fill(1 + rnd.nextInt(10))(pick(words)).mkString(" ")
        (i.toLong, text, pick(Seq("en", "de", null)), pick(Seq("s0", "s1", "s1", null)),
          text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      Seq(0.05, 0.3, 0.5, 0.9).foreach { t =>
        same(s"seed $seed jaccard $t", Dedup.ngramJaccardInvertedIndex(docs, t),
          PairReference.ngramJaccard(docs, t))
        same(s"seed $seed containment $t", Dedup.containmentPairs(docs, t),
          PairReference.containment(docs, t))
      }
      Seq(2, 4).foreach { cut =>
        same(s"seed $seed stop $cut jaccard", Dedup.ngramJaccardInvertedIndex(docs, 0.05,
          stopShingleDf = Some(cut)), PairReference.ngramJaccard(docs, 0.05,
          stopShingleDf = Some(cut)))
        same(s"seed $seed stop $cut containment", Dedup.containmentPairs(docs, 0.2,
          stopShingleDf = Some(cut)), PairReference.containment(docs, 0.2,
          stopShingleDf = Some(cut)))
      }
      // The guard counts every posting of a key, NULL buckets included.
      val maxDf = Dedup.shinglePostings(docs).groupBy("source", "lang", "h").count()
        .agg(max("count")).head.getLong(0).toInt
      same(s"seed $seed at maxPostingDf", Dedup.ngramJaccardInvertedIndex(docs, 0.05,
        maxPostingDf = maxDf), PairReference.ngramJaccard(docs, 0.05, maxPostingDf = maxDf))
      same(s"seed $seed containment at maxPostingDf", Dedup.containmentPairs(docs, 0.2,
        maxPostingDf = maxDf), PairReference.containment(docs, 0.2, maxPostingDf = maxDf))
      raises(s"seed $seed jaccard", Dedup.ngramJaccardInvertedIndex(docs, 0.05,
        maxPostingDf = maxDf - 1))
      raises(s"seed $seed containment", Dedup.containmentPairs(docs, 0.2,
        maxPostingDf = maxDf - 1))
    }
    // A hot key that only NULL-source rows share is counted (it raises)
    // but never paired (at the budget, no pair comes from it).
    val nullHot = Seq((1L, "zz qq x1", null), (2L, "zz qq x2", null),
      (3L, "zz qq x3", null), (4L, "p q r", "s0"), (5L, "p q s", "s0"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    raises("null-source hot key", Dedup.ngramJaccardInvertedIndex(nullHot, 0.05,
      maxPostingDf = 2))
    val kept = Dedup.ngramJaccardInvertedIndex(nullHot, 0.05, maxPostingDf = 3)
    same("null-source rows never pair", kept,
      PairReference.ngramJaccard(nullHot, 0.05, maxPostingDf = 3))
    assert(kept.select("id1", "id2").as[(Long, Long)].collect().toSeq == Seq((4L, 5L)))
  }

  test("indicator levels equal the withColumn chains on random bars") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Breadth, Indicators, Screener}
    import IndicatorReference.{withEma => refEma, withMacd => refMacd}
    // Every family, enrichAll, signalScore, breakouts and the breadth
    // move flags against the chain forms they replaced
    // (IndicatorReference), schema for schema and row for row with exact
    // doubles: random bars with NULL and 0.0 closes, flat stretches
    // (zero losses), keys shorter than the MACD slow span, single-bar
    // keys and series that cross month boundaries. Then one long key
    // against a driver loop of the same recurrence.
    def same(name: String, got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema == want.schema, s"$name schema:\n${got.schema}\n${want.schema}")
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val (g, w) = (rows(got), rows(want))
      assert(g == w, s"$name: ${g.size} rows vs reference ${w.size}\n" +
        s"${g.diff(w).take(3)}\n${w.diff(g).take(3)}")
    }
    Seq(31, 32).foreach { seed =>
      val rnd = new Random(seed)
      val lens = Seq(1, 1, 2, 9, 25, 40, 47) ++ Seq.fill(5)(1 + rnd.nextInt(45))
      val bars = lens.zipWithIndex.flatMap { case (n, k) =>
        val first = java.time.LocalDate.of(2024, 1, 10).plusDays(rnd.nextInt(40))
        val flat = k % 4 == 3
        (0 until n).map { i =>
          val close = rnd.nextInt(10) match {
            case 0 => None
            case 1 => Some(0.0)
            case _ if flat => Some(20.0 + rnd.nextInt(2))
            case _ => Some(math.round(5000 + rnd.nextGaussian() * 300) / 100.0)
          }
          (k.toLong, java.sql.Date.valueOf(first.plusDays(i)), close.map(_ + 0.25),
            close.map(_ + rnd.nextInt(300) / 100.0), close.map(_ - rnd.nextInt(300) / 100.0),
            close, 1L + rnd.nextInt(40), close.map(_ * 1.001))
        }
      }.toDF("user_id", "date", "open", "high", "low", "close", "volume", "vwap")
      val s = s"seed $seed"
      same(s"$s enrichAll", Indicators.enrichAll(bars), IndicatorReference.enrichAll(bars))
      // The daily pipeline's arguments: SMA 10 and Bollinger 10 share a
      // window, EMA 5 and the MACD fast span share a fold.
      val enriched = Indicators.enrichAll(bars, macd = (5, 10, 4), bollinger = (10, 2.0),
        atrPeriod = 10)
      val refEnriched = IndicatorReference.enrichAll(bars, macd = (5, 10, 4),
        bollinger = (10, 2.0), atrPeriod = 10)
      same(s"$s enrichAll (daily pipeline)", enriched, refEnriched)
      same(s"$s enrichAll (no horizons)", Indicators.enrichAll(bars, momentumHorizons = Nil),
        IndicatorReference.enrichAll(bars, momentumHorizons = Nil))
      Seq(Seq(2, 5), Seq(20)).foreach(ps =>
        same(s"$s sma $ps", Indicators.withSma(bars, ps), IndicatorReference.withSma(bars, ps)))
      Seq(Seq(3, 12), Seq(26)).foreach(sp =>
        same(s"$s ema $sp", Indicators.withEma(bars, sp), refEma(bars, sp)))
      Seq((12, 26, 9), (5, 10, 4), (2, 3, 2)).foreach { case (f, sl, sg) =>
        same(s"$s macd ($f, $sl, $sg)", Indicators.withMacd(bars, f, sl, sg),
          refMacd(bars, f, sl, sg))
      }
      Seq(3, 14).foreach(p =>
        same(s"$s rsi $p", Indicators.withRsi(bars, p), IndicatorReference.withRsi(bars, p)))
      same(s"$s bollinger", Indicators.withBollinger(bars, 4, 1.5),
        IndicatorReference.withBollinger(bars, 4, 1.5))
      same(s"$s atr", Indicators.withAtr(bars, 3), IndicatorReference.withAtr(bars, 3))
      same(s"$s volume", Indicators.withVolumeMetrics(bars),
        IndicatorReference.withVolumeMetrics(bars))
      Seq(Seq(1, 3), Nil).foreach(hs => same(s"$s returns $hs",
        Indicators.withReturns(bars, hs), IndicatorReference.withReturns(bars, hs)))
      // Bars whose key is not the first column, without open/vwap: the
      // folds move the key first, the window families keep the order.
      val narrow = bars.select("date", "close", "user_id", "high", "low", "volume")
      same(s"$s narrow macd", Indicators.withMacd(narrow, 5, 10, 4), refMacd(narrow, 5, 10, 4))
      same(s"$s narrow ema", Indicators.withEma(narrow, Seq(3)), refEma(narrow, Seq(3)))
      same(s"$s narrow atr", Indicators.withAtr(narrow, 3), IndicatorReference.withAtr(narrow, 3))
      same(s"$s signalScore", Screener.signalScore(enriched),
        IndicatorReference.signalScore(refEnriched))
      same(s"$s signalScore vol 3", Screener.signalScore(enriched, 3),
        IndicatorReference.signalScore(refEnriched, 3))
      same(s"$s breakouts", Screener.breakouts(bars), IndicatorReference.breakouts(bars))
      same(s"$s breakouts (2, 2, 1.0)", Screener.breakouts(bars, 2, 2, 1.0),
        IndicatorReference.breakouts(bars, 2, 2, 1.0))
      Seq(3, 10).foreach(p => same(s"$s move flags $p", Breadth.withMoveFlags(bars, p),
        IndicatorReference.withMoveFlags(bars, p)))
    }
    // A key of 50 000 bars with a NULL close past bar 40 000, beside a
    // 3-bar key. The array-fold reference is quadratic in series length,
    // so the expectation is the recurrence as a driver loop:
    // a * v + (1.0 - a) * prev, seeded at the first close, a NULL close
    // nulling the rest of its key.
    val rnd = new Random(50000)
    val day0 = java.time.LocalDate.of(1980, 1, 1)
    val series = Seq(
      1L -> (0 until 50000).map(i =>
        if (i == 40321) None else Some(math.round(5000 + rnd.nextGaussian() * 300) / 100.0)),
      2L -> Seq(Some(10.0), Some(11.5), Some(9.25)))
    val long = series.flatMap { case (k, closes) =>
      closes.zipWithIndex.map { case (c, i) => (k, java.sql.Date.valueOf(day0.plusDays(i)), c) }
    }.toDF("user_id", "date", "close")
    def ewm(xs: Seq[Option[Double]], span: Int): Seq[Option[Double]] = {
      val a = 2.0 / (span + 1)
      xs.tail.scanLeft(xs.head)((prev, x) =>
        for (p <- prev; v <- x) yield a * v + (1.0 - a) * p)
    }
    def from(n: Int, xs: Seq[Option[Double]]) = Seq.fill(n min xs.size)(None) ++ xs.drop(n)
    def expect(cols: (Long, Seq[Option[Double]]) => Seq[Seq[Option[Double]]]) =
      series.flatMap { case (k, closes) =>
        val outs = cols(k, closes)
        closes.indices.map(i => (Seq(k, java.sql.Date.valueOf(day0.plusDays(i))) ++
          (closes +: outs).map(_(i).getOrElse(null))).mkString("|"))
      }.sorted
    def got(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val spans = Seq(3, 12, 26)
    assert(got(Indicators.withEma(long, spans)) ==
      expect((_, closes) => spans.map(sp => from(sp - 1, ewm(closes, sp)))), "long ema")
    val (fast, slow, sig) = (5, 10, 4)
    assert(got(Indicators.withMacd(long, fast, slow, sig)) == expect { (_, closes) =>
      val macd = ewm(closes, fast).zip(ewm(closes, slow)).map { case (f, sl) =>
        for (a <- f; b <- sl) yield a - b }
      val signal = if (closes.size < slow) closes.map(_ => None)
        else Seq.fill(slow - 1)(None) ++ ewm(macd.drop(slow - 1), sig)
      val (m, g) = (from(slow - 1, macd), from(slow + sig - 2, signal))
      Seq(m, g, m.zip(g).map { case (a, b) => for (x <- a; y <- b) yield x - y })
    }, "long macd")
  }

  test("the pair kernel equals the lambda pair expansion on random sorted lists") {
    import graft.functions.ListPairs
    // Long lists and struct lists (the LSH and hamming callers), with
    // caps below, at and above the list sizes (star and all-pairs).
    val rnd = new Random(5)
    val lists = (1 to 60).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(9))(rnd.nextInt(20).toLong).sorted)
    }.toDF("k", "xs")
      .withColumn("ms", sort_array(transform(col("xs"), x =>
        struct(x.as("doc_id"), (x % 3).as("k0")))))
    Seq(1, 3, 8, 1024).foreach { cap =>
      Seq("xs", "ms").foreach { c =>
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
        val got = lists.select(col("k"), ListPairs.listPairs(col(c), cap))
        val want = lists.select(col("k"),
          explode(PairReference.cappedPairs(col(c), cap)).as("p"))
          .select(col("k"), col("p.a").as("a"), col("p.b").as("b"))
        // Names and types; the lambda form also marked `a` nullable (its
        // star root is an element_at), the kernel keeps the list's own
        // element nullability.
        def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
        assert(shape(got) == shape(want), s"$c cap $cap:\n${got.schema}\n${want.schema}")
        assert(rows(got) == rows(want), s"$c cap $cap")
      }
    }
  }
}
