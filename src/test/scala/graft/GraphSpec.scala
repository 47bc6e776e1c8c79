package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("pagerank ladder: hand-computed integer rounds on a 3-node graph") {
    // a→b, b→a, a→c (c dangling, plus a self-loop and a null that must
    // drop). micro 1e6, damping 50%, N=3.
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"),
      ("b", "b"),            // self-loop → dropped
      ("a", "b"),            // parallel edge → collapsed
      (null.asInstanceOf[String], "a")) // null endpoint → dropped
      .toDF("src", "dst")
    val out = Graph.pageRankLadder(edges, rounds = 2, dampingPct = 50,
        micro = 1000000L)
      .collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("node")) ->
        r.getAs[Long]("rank_micro"))
      .toMap
    // r0 = 1e6 // 3 everywhere
    assert(Seq("a", "b", "c").forall(n => out((0, n)) == 333333L))
    // round 1: base = 50·1e6 // 300 = 166666; a←b: 333333 whole;
    // b,c←a: 333333 // 2 = 166666 each
    assert(out((1, "a")) == 166666L + 50L * 333333L / 100L)      // 333332
    assert(out((1, "b")) == 166666L + 50L * 166666L / 100L)      // 249999
    assert(out((1, "c")) == out((1, "b")))
    // round 2: a←b(249999 whole); b,c←a(333332 // 2 = 166666)
    assert(out((2, "a")) == 166666L + 50L * 249999L / 100L)      // 291665
    assert(out((2, "b")) == 166666L + 50L * 166666L / 100L)
    assert(out((2, "c")) == out((2, "b")))
    // dangling c keeps receiving base but redistributes nothing —
    // total mass decays below micro (documented deviation)
    assert(Seq("a", "b", "c").map(n => out((2, n))).sum < 1000000L)
    // bit-deterministic across runs
    val again = Graph.pageRankLadder(edges, rounds = 2, dampingPct = 50,
      micro = 1000000L).collect().map(_.toSeq).toSet
    assert(again == Graph.pageRankLadder(edges, rounds = 2, dampingPct = 50,
      micro = 1000000L).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](Graph.pageRankLadder(edges, rounds = 0))
    intercept[IllegalArgumentException](Graph.pageRankLadder(edges, dampingPct = 101))
  }

  test("pagerank weighted: hand-computed ladder, parallel-edge sum, guards, w≡1 identity") {
    import org.apache.spark.sql.functions.col
    // a→b w=3 (as 2+1 parallel edges — the operator sums them),
    // a→c w=1, b→a w=2; c dangling. micro 1e6, damping 50%, N=3.
    val edges = Seq(("a", "b", 2L), ("a", "b", 1L), ("a", "c", 1L),
      ("b", "a", 2L)).toDF("src", "dst", "w")
    val out = Graph.pageRankLadder(edges, rounds = 1, dampingPct = 50,
        micro = 1000000L, weightCol = Some("w"))
      .filter($"round" === 1)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // base 166666; a ← b: 333333·2 div 2 = 333333 whole;
    // b ← a: 333333·3 div 4 = 249999; c ← a: 333333·1 div 4 = 83333.
    assert(out("a") == 166666L + 50L * 333333L / 100L, out.toString) // 333332
    assert(out("b") == 166666L + 50L * 249999L / 100L)               // 291665
    assert(out("c") == 166666L + 50L * 83333L / 100L)                // 208332
    // w ≡ 1 on a duplicate-free edge set is byte-identical to the
    // unweighted ladder (the documented degenerate case).
    val plain = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val uw = Graph.pageRankLadder(plain, rounds = 2, dampingPct = 50,
      micro = 1000000L).collect().map(_.toSeq).toSet
    val w1 = Graph.pageRankLadder(
      plain.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
      rounds = 2, dampingPct = 50, micro = 1000000L,
      weightCol = Some("w")).collect().map(_.toSeq).toSet
    assert(uw == w1)
    // summed-weight guard raises loudly at data level
    val bad = Seq(("a", "b", 0L)).toDF("src", "dst", "w")
    intercept[Exception](Graph.pageRankLadder(bad, rounds = 1,
      weightCol = Some("w")).collect())
    val huge = Seq(("a", "b", Graph.MaxEdgeWeight + 1)).toDF("src", "dst", "w")
    intercept[Exception](Graph.pageRankLadder(huge, rounds = 1,
      weightCol = Some("w")).collect())
    // fractional weights raise BEFORE the long-cast would silently
    // truncate 1.9 → 1 / 0.5 → 0 (ADVICE r10)
    val frac = Seq(("a", "b", 1.9), ("b", "a", 0.5)).toDF("src", "dst", "w")
    intercept[Exception](Graph.pageRankLadder(frac, rounds = 1,
      weightCol = Some("w")).collect())
    // integral-valued doubles pass (the cast is exact for them)
    val intd = Seq(("a", "b", 2.0), ("b", "a", 1.0)).toDF("src", "dst", "w")
    assert(Graph.pageRankLadder(intd, rounds = 1, dampingPct = 50,
      micro = 1000000L, weightCol = Some("w")).count() > 0)
  }

  test("reliable checkpoint seam: the ladder is identical under spark.graft.checkpoint=reliable") {
    // The multi-round loops thread graft.Ckpt.frame; under `reliable`
    // every loop seam becomes a recoverable checkpoint() against the
    // configured dir (executor-loss semantics — see Ckpt's scaladoc)
    // with bit-identical results.
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    def ladder() = Graph.pageRankLadder(edges, rounds = 2, dampingPct = 50,
      micro = 1000000L).collect().map(_.toSeq).toSet
    val local = ladder()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    withCkptMode("reliable", dir)(assert(ladder() == local))
    // an unknown mode raises loudly rather than silently localizing
    withCkptMode("bogus", dir)(intercept[IllegalArgumentException](ladder()))
  }

  test("pagerank stochastic: dangling mass redistributes, ranks conserve to micro") {
    // a→b, c→b; b is dangling and holds a third of the mass. micro
    // 1e6, damping 50%, N=3 — every value hand-computed.
    val edges = Seq(("a", "b"), ("c", "b")).toDF("src", "dst")
    val out = Graph.pageRankLadder(edges, rounds = 2, dampingPct = 50,
        micro = 1000000L, redistributeDangling = true)
      .collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("node")) ->
        r.getAs[Long]("rank_micro"))
      .toMap
    // round 1: base 166666; dm0 = rank(b) = 333333 → per-node
    // 50·333333 // 300 = 55555; b also gets 50·(333333+333333) // 100.
    assert(out((1, "a")) == 166666L + 55555L, out.toString)
    assert(out((1, "c")) == out((1, "a")))
    assert(out((1, "b")) == 166666L + 333333L + 55555L)          // 555554
    // round 2: dm1 = 555554 → per-node 50·555554 // 300 = 92592;
    // b's contrib = 50·(222221·2) // 100 = 222221.
    assert(out((2, "a")) == 166666L + 92592L)                    // 259258
    assert(out((2, "c")) == out((2, "a")))
    assert(out((2, "b")) == 166666L + 222221L + 92592L)          // 481479
    // near-conservation: Σ rank = micro − bounded floor losses (< 1
    // unit per floor site), every round — the stochastic-form
    // invariant the default mode deliberately gives up.
    Seq(1, 2).foreach { k =>
      val s = Seq("a", "b", "c").map(n => out((k, n))).sum
      assert(s <= 1000000L && s >= 1000000L - 10L, s"round $k sum $s")
    }
  }

  test("deployment path: markup → linksCol → registered domains → pagerank composes") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.operators.{Html, Url}
    // Three crawled pages on two source domains; every page links to
    // hub.example, one also links cross-site. The full wiring the
    // SURVEY rows promise: Html.linksCol → Url.resolveCol (r10: the
    // single-quoted, protocol-relative and root-relative forms real
    // markup carries) → Url.withDomain → Graph.
    val pages = Seq(
      (1L, "https://a.one.example/p1",
        "<p><a href=\"https://www.hub.example/x\">h</a> <a href='/local'>self</a></p>"),
      (2L, "https://b.one.example/p2",
        "<a href='//hub.example/y'>h</a><a href=\"https://two.example/z\">t</a>"),
      (3L, "https://two.example/p3",
        "<script><a href=\"https://dead.example\"></script><a href=../d>self</a><a href=\"https://hub.example/\">h</a>"))
      .toDF("doc_id", "url", "html")
    val src = Url.withDomain(pages, "url")
      .select(col("doc_id"), col("registered_domain").as("src"))
    val dst = Url.withDomain(
        pages.select(col("doc_id"), col("url").as("base"),
            explode(Html.linksCol(col("html"))).as("href"))
          .select(col("doc_id"),
            Url.resolveCol(col("href"), col("base")).as("url")), "url")
      .select(col("doc_id"), col("registered_domain").as("dst"))
    val edges = src.join(dst, Seq("doc_id")).select("src", "dst")
    val ranks = Graph.pageRankLadder(edges, rounds = 3)
      .filter($"round" === 3)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // www. strips, script-dead link never becomes an edge, the
    // relative self-links resolve onto their own domain and drop as
    // self-loops, and the hub every domain links to outranks everyone.
    assert(ranks.keySet == Set("one.example", "two.example", "hub.example"))
    assert(ranks("hub.example") > ranks("one.example") &&
      ranks("hub.example") > ranks("two.example"), ranks.toString)
  }

  test("pagerank: authority flows to the hub — sink of a star outranks leaves") {
    val star = (1 to 9).map(i => (s"leaf$i", "hub")).toDF("src", "dst")
    val ranks = Graph.pageRankLadder(star, rounds = 5)
      .filter($"round" === 5)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(ranks("hub") > ranks("leaf1") * 5,
      s"hub should dominate: $ranks")
  }
}
