package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupTextSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")


  test("exact dedup groups identical texts under the lowest id") {
    val out = Dedup.exact(docs(1L -> "hello world", 2L -> "hello world", 3L -> "bye"))
      .orderBy("canonical_id").collect()
    assert(out.length == 2)
    assert(out.head.getAs[Long]("canonical_id") == 1L)
    assert(out.head.getAs[Long]("n_copies") == 2L)
  }

  test("ngram jaccard: hand-computed bigram overlap") {
    val out = Dedup.ngramJaccardInvertedIndex(
      docs(1L -> "a b c d", 2L -> "a b c e"), 0.01).collect()
    // shingles {a b, b c, c d} vs {a b, b c, c e}: |∩|=2, |∪|=4 → J=0.5
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_common") == 2 && r.getAs[Long]("n_union") == 4)
    assert(r.getAs[Double]("jaccard") == 0.5)
  }

  test("shingle postings equal the array-form shingle sets") {
    val d = docs(1L -> "a b c d a b", 2L -> "x", 3L -> "p q p q")
    val fromArrays = Dedup.withHashedShingles(d)
      .select($"doc_id", org.apache.spark.sql.functions.explode($"hs").as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromPostings = Dedup.shinglePostings(d)
      .select($"doc_id", $"h").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromPostings == fromArrays)
    assert(!fromPostings.exists(_._1 == 2L), "1-token doc has no bigrams")
  }

  test("minhash LSH surfaces near-identical pairs and skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok7", "changed")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val out = Dedup.minhashPairsPortable(docs(1L -> base, 2L -> nearDup, 3L -> other), 0.3)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id1") == 1L && out.head.getAs[Long]("id2") == 2L)
    assert(out.head.getAs[Double]("jaccard") > 0.8)
  }

  test("simhash: identical docs at hamming 0, unrelated docs filtered") {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val out = Dedup.simhashPairsPortable(docs(1L -> a, 2L -> a), maxHamming = 8).collect()
    assert(out.length == 1 && out.head.getAs[Int]("hamming") == 0)
    // An unrelated doc pairs with neither of the identical two.
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val withOther = Dedup.simhashPairsPortable(
      docs(1L -> a, 2L -> a, 3L -> other), maxHamming = 8).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Int]("hamming")))
    assert(withOther.toSeq == Seq((1L, 2L, 0)), withOther.mkString(","))
  }

  test("portable minhash permutations vary their argmin (no monotonic-map collapse)") {
    // Regression pin for the round-6 degeneracy: with a modulus the a·h
    // product never wraps, every permutation is monotonic in h and picks
    // the SAME argmin shingle — the signature collapses to a function of
    // one shingle and banding degenerates to single-perm minhash. The
    // fix (perms over M = 2^31−1 with h reduced mod M) must keep argmins
    // varied across permutations for any realistic shingle set.
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % Dedup.PermM
    }
    val shingles = (1 to 200).map(i => s"tok$i tok${i + 1}").map(h32)
    val argmins = (0 until Dedup.Perms).map { i =>
      val (a, b) = (Dedup.permA(i), Dedup.permB(i))
      shingles.zipWithIndex.minBy { case (h, _) => (a * h + b) % Dedup.PermM }._2
    }
    assert(argmins.distinct.size > Dedup.Perms / 2,
      s"permutations picked only ${argmins.distinct.size} distinct argmin shingles " +
        s"over ${Dedup.Perms} perms — the family is degenerating toward a monotonic map")
  }

  test("degenerate bucket: pair expansion is bounded, cluster stays connected") {
    // 100 identical docs — one pathological LSH bucket. Uncapped expansion
    // would emit C(100,2)=4950 pairs; the cap stars them against the
    // bucket minimum: 99 pairs, every doc still reachable from doc 1.
    val same = (1 to 30).map(i => s"dup$i").mkString(" ")
    val many = docs((1L to 100L).map(i => i -> same): _*)
    val mh = Dedup.minhashPairsPortable(many, minJaccard = 0.3, maxBucket = 10).collect()
    assert(mh.length == 99, s"expected 99 star pairs, got ${mh.length}")
    assert(mh.forall(_.getAs[Long]("id1") == 1L))
    assert(mh.forall(_.getAs[Double]("jaccard") == 1.0))
    val sh = Dedup.simhashPairsPortable(many, maxHamming = 8, maxBucket = 10).collect()
    assert(sh.length == 99, s"expected 99 star pairs, got ${sh.length}")
    assert(sh.forall(r => r.getAs[Long]("id1") == 1L && r.getAs[Int]("hamming") == 0))
    // Small buckets are untouched: full expansion under the cap.
    val full = Dedup.minhashPairsPortable(docs((1L to 5L).map(i => i -> same): _*),
      minJaccard = 0.3, maxBucket = 10).collect()
    assert(full.length == 10) // C(5,2)
  }

  test("native vec_dot: hand-computed values, codegen and SQL paths agree") {
    import graft.functions.VectorOps
    import org.apache.spark.sql.functions.{col, expr}
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val viaColumn = df.select(VectorOps.vec_dot(col("a"), col("b"))).head.getDouble(0)
    assert(viaColumn == 32.0) // 4 + 10 + 18
    VectorOps.register(spark)
    df.createOrReplaceTempView("vec_fixture")
    val viaSql = spark.sql("SELECT vec_dot(a, b) FROM vec_fixture").head.getDouble(0)
    assert(viaSql == 32.0)
    assert(df.select(VectorOps.vec_norm(col("a"))).head.getDouble(0) ==
      math.sqrt(14.0))
    // Equals the HOF fold it replaced, bit for bit.
    val viaFold = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)"))
      .head.getDouble(0)
    assert(viaColumn == viaFold)
  }

  test("cosine top-k ranks by similarity with deterministic tie-break") {
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(-1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineTopK(emb, nQueries = 1, k = 3).orderBy("rk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Double]("cos_sim")).toSeq == Seq(1.0, 0.0, -1.0))
  }

  test("kmeans: Lloyd refinement converges on a hand-computed fixture") {
    // init = first 2 nonzero vectors: c0=(1,0), c1=(9,0).
    // Round 1: {1,3,5}→c0, {2,4}→c1; means → c0=(1,2), c1=(9,1).
    // Round 2: memberships unchanged, means unchanged.
    // Final dist²: v1:(0,−2)→4, v3:0, v5:4 | v2:(0,−1)→1, v4:1.
    val emb = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(9f, 0f), 0),
      (3L, Array(1f, 2f), 0), (4L, Array(9f, 2f), 0),
      (5L, Array(1f, 4f), 0)
    ).toDF("vec_id", "embedding", "label")
    val fit = Similarity.kmeansFit(emb, k = 2, iters = 2)
    assert(fit.map(_.toSeq).toSeq == Seq(Seq(1.0, 2.0), Seq(9.0, 1.0)), fit.map(_.toSeq))
    val out = Similarity.kmeansClusters(emb, k = 2, iters = 2)
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(out == Seq((0, 3L, 8.0, 2.666667), (1, 2L, 2.0, 1.0)), out.toString)
  }

  test("kmeans: duplicate seed ties break low, empty cell keeps its centroid") {
    // Seeds (2,0),(2,0),(8,0): v1/v2 tie between cells 0 and 1 → cell 0;
    // cell 1 never receives members and must keep its seed centroid.
    val emb = Seq(
      (1L, Array(2f, 0f), 0), (2L, Array(2f, 0f), 0), (3L, Array(8f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val fit = Similarity.kmeansFit(emb, k = 3, iters = 2)
    assert(fit.map(_.toSeq).toSeq ==
      Seq(Seq(2.0, 0.0), Seq(2.0, 0.0), Seq(8.0, 0.0)), fit.map(_.toSeq))
    val out = Similarity.kmeansClusters(emb, k = 3, iters = 2)
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(out == Seq((0, 2L, 0.0, 0.0), (2, 1L, 0.0, 0.0)), out.toString)
    // fail-loudly guards
    intercept[IllegalArgumentException](Similarity.kmeansFit(emb, k = 0))
    intercept[IllegalArgumentException](Similarity.kmeansFit(emb, k = 5))
  }

  test("quantizer fits at iters = 0 are the first nonzero vectors by vec_id") {
    // The oracle rows deploy these artifacts: kmeansFit's init is the
    // first k nonzero-norm vectors by vec_id (raw), pqCodebook's the
    // first ksub of them unit-normalized and sliced per subspace.
    // vec_id 1 has zero norm and is skipped; input order is not vec_id.
    val emb = Seq(
      (5L, Array(0f, 3f, 4f, 0f), 0), (1L, Array(0f, 0f, 0f, 0f), 0),
      (2L, Array(2f, 0f, 0f, 0f), 0), (9L, Array(1f, 1f, 1f, 1f), 0),
      (3L, Array(0f, 0f, 0f, 5f), 0)
    ).toDF("vec_id", "embedding", "label")
    val coarse = Similarity.kmeansFit(emb, k = 3, iters = 0)
    assert(coarse.map(_.toSeq).toSeq == Seq(
      Seq(2.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 5.0), Seq(0.0, 3.0, 4.0, 0.0)),
      coarse.map(_.toSeq))
    // unit vectors of ids 2, 3, 5: (1,0,0,0), (0,0,0,1), (0,.6,.8,0)
    val cb = Similarity.pqCodebook(emb, 2, 3, iters = 0)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq == Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 0.0), Seq(0.0, 0.6)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 1.0), Seq(0.8, 0.0))),
      cb.map(_.map(_.toSeq)))
    // too few nonzero vectors for the requested cells / codes
    intercept[IllegalArgumentException](Similarity.kmeansFit(emb, k = 5, iters = 0))
    intercept[IllegalArgumentException](Similarity.pqCodebook(emb, 2, 5, iters = 0))
  }

  test("near-dup pairs stay inside label buckets") {
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0.01f), 0),
      (2L, Array(1f, 0f), 1) // same vector, different bucket — never paired
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.nearDupPairs(emb, minCosine = 0.9).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id1") == 0L && out.head.getAs[Long]("id2") == 1L)
  }

  test("exact spans: cross-doc runs merge maximal, self-repeats count, islands stay split") {
    val docs = Seq(
      (1L, "abcdefghij"),      // shares abcdefg with doc 2
      (2L, "xxabcdefgyy"),
      (3L, "zzzzzzzzzz"),      // self-repeating 5-gram — within-doc dup
      (4L, "pqrstvwxy1"),      // no duplicated 5-gram anywhere
      (5L, "AAAAAxyzwvBBBBB"), // two shared runs split by unique middles
      (6L, "AAAAA01234BBBBB")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSpans(docs, minLen = 5)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 0L, 7L, 7L),   // "abcdefg": windows 0,1,2 merged
      (2L, 2L, 9L, 7L),
      (3L, 0L, 10L, 10L), // the whole z-run
      (5L, 0L, 5L, 5L), (5L, 10L, 15L, 5L), // two islands, gap 10 > 0+5
      (6L, 0L, 5L, 5L), (6L, 10L, 15L, 5L)), out.toString)
    // string-key (oracle) mode is identical to the xxhash64-key default
    val viaStrings = Dedup.exactSpans(docs, minLen = 5, hashGrams = false)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(viaStrings == out)
    // removeSpans cuts exactly those spans; span-free docs pass whole
    val clean = Dedup.removeSpans(docs, minLen = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(clean == Seq(
      (1L, "hij", 1L, 7L),
      (2L, "xxyy", 1L, 7L),
      (3L, "", 1L, 10L),
      (4L, "pqrstvwxy1", 0L, 0L),
      (5L, "xyzwv", 2L, 10L),
      (6L, "01234", 2L, 10L)), clean.toString)
  }

  test("native minhash_sig bit-equals the HOF chain; band lookup equals linear scan") {
    import org.apache.spark.sql.functions.{array_min, col, conv, lit, md5, substring, transform}
    import graft.functions.MinhashSigOps
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two"),
      (3L, "single"),          // 1 token → empty shingles → NULL sig
      (4L, (null: String))
    ).toDF("doc_id", "text")
    val pA = (0 until Dedup.Perms).map(Dedup.permA).toArray
    val pB = (0 until Dedup.Perms).map(Dedup.permB).toArray
    val sh = docs.withColumn("__sh", Dedup.bigramShingles(col("text")))
    // The HOF chain the native expression replaced — kept here as the
    // reference implementation (per-perm array_min over transformed
    // base hashes).
    val hof = sh
      .withColumn("__hm", transform(col("__sh"),
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long") % lit(Dedup.PermM)))
      .withColumn("sig", org.apache.spark.sql.functions.array(
        (0 until Dedup.Perms).map(i => array_min(transform(col("__hm"),
          h => (lit(Dedup.permA(i)) * h + lit(Dedup.permB(i))) % lit(Dedup.PermM)))): _*))
      .select(col("doc_id"), col("sig")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Any](1)).map(_.toSeq)).toMap
    val native = sh
      .withColumn("sig", MinhashSigOps.minhash_sig(col("__sh"), pA, pB, Dedup.PermM))
      .select(col("doc_id"), col("sig")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Any](1)).map(_.toSeq)).toMap
    assert(native(1L).isDefined && native(1L) == hof(1L), s"${native(1L)} vs ${hof(1L)}")
    assert(native(2L) == hof(2L))
    // empty-shingle docs: HOF chain yields an array of NULL mins, the
    // native form yields a NULL array — both md5 to the same band key
    // (concat_ws skips nulls), which the row-equality spec pins; here
    // we assert the native NULL contract directly.
    assert(native(3L).isEmpty && native(4L).isEmpty)
    assert(hof(3L).exists(_.forall(_ == null)))
    // band lookup = the linear scan it replaced, on a synthetic artifact
    val keys = Array((0, "k0", 5L), (0, "k0", 9L), (1, "k1", 5L), (2, "zz", 7L))
      .sortBy(t => (t._1, t._2, t._3))
    val bk = Seq((1L, Seq("k0", "xx", "zz"))).toDF("id", "bk") // band2 key "zz" ≠ band0 "zz"? band2 matches (2,"zz")
    val got = bk.withColumn("cand",
        MinhashSigOps.band_key_lookup(col("bk"), keys))
      .select("cand").collect().head.getSeq[Long](0).toSeq
    // band 0 "k0" → {5,9}; band 1 "xx" → {}; band 2 "zz" → {7}
    assert(got == Seq(5L, 7L, 9L), got.toString)
  }

  test("portableBandKeys projection form row-equals the posting-aggregate form") {
    import org.apache.spark.sql.functions.{array, col, concat_ws, conv, explode, lit, md5, min, struct, substring}
    // r12: the banding front became one native minhash_sig projection;
    // this pins it row-equal to the posting explode + per-perm min
    // aggregate it replaced (the r11 shape, inlined here as the
    // reference), including the absent-row contract for shingle-less
    // (< 2 tokens, empty, null-text) documents.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // exact dup of 1
      (3L, "alpha beta gamma delta epsilon eta"),   // near dup
      (4L, "one two"),
      (5L, "single"),
      (6L, ""),
      (7L, (null: String)),
      (8L, "alpha alpha alpha beta")                // repeated shingles
    ).toDF("doc_id", "text")
    val reference = {
      val mhCols = (0 until Dedup.Perms).map(i =>
        min((lit(Dedup.permA(i)) * col("hm") + lit(Dedup.permB(i))) % lit(Dedup.PermM)).as(s"mh_$i"))
      val sigs = docs
        .select(col("doc_id"), explode(graft.functions.TokenKgrams.tokenKgrams(
          Dedup.tokens(col("text")), 2, distinct = true)).as("s"))
        .withColumn("hm",
          conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") % lit(Dedup.PermM))
        .groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
      sigs.select(col("doc_id"),
          explode(array((0 until Dedup.Bands).map { b =>
            struct(lit(b).as("band"),
              md5(concat_ws("|", (b * (Dedup.Perms / Dedup.Bands) until (b + 1) * (Dedup.Perms / Dedup.Bands))
                .map(i => col(s"mh_$i").cast("string")): _*)).as("band_key"))
          }: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
    }
    val want = reference.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val got = Dedup.portableBandKeys(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == want, s"got ${got.size} rows, want ${want.size}:\n" +
      s"missing=${(want -- got).take(5)}\nextra=${(got -- want).take(5)}")
    // shingle-less docs are absent in both forms
    assert(!got.exists(t => Set(5L, 6L, 7L)(t._1)))
    assert(got.exists(_._1 == 1L))
  }

  test("native minhash_sig skips null shingle elements (array_min semantics)") {
    import org.apache.spark.sql.functions.{array_min, col, conv, lit, md5, substring, transform}
    import graft.functions.MinhashSigOps
    // ADVICE r8: the HOF chain maps a null element to a null base hash
    // (md5(NULL) = NULL) and array_min SKIPS it; the native loop must
    // skip too, not hash empty bytes. All-null folds to NULL like empty.
    val sh = Seq(
      (1L, Seq("ab cd", null, "cd ef")),
      (2L, Seq(null: String, null: String)))
      .toDF("doc_id", "__sh")
    val pA = (0 until Dedup.Perms).map(Dedup.permA).toArray
    val pB = (0 until Dedup.Perms).map(Dedup.permB).toArray
    val hof = sh
      .withColumn("__hm", transform(col("__sh"),
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long") % lit(Dedup.PermM)))
      .withColumn("sig", org.apache.spark.sql.functions.array(
        (0 until Dedup.Perms).map(i => array_min(transform(col("__hm"),
          h => (lit(Dedup.permA(i)) * h + lit(Dedup.permB(i))) % lit(Dedup.PermM)))): _*))
      .select(col("doc_id"), col("sig")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Any](1)).map(_.toSeq)).toMap
    val native = sh
      .withColumn("sig", MinhashSigOps.minhash_sig(col("__sh"), pA, pB, Dedup.PermM))
      .select(col("doc_id"), col("sig")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Any](1)).map(_.toSeq)).toMap
    assert(native(1L).isDefined && native(1L) == hof(1L),
      s"${native(1L)} vs ${hof(1L)}")
    assert(native(2L).isEmpty, native(2L).toString)
    assert(hof(2L).exists(_.forall(_ == null)))
  }

  test("contamination spans: bench windows mark corpus bytes, corpus-corpus dups don't") {
    // bench = doc_id % 20 == 0 (20, 40); corpus docs 2 and 4 share
    // "QRSTUV" — a corpus-corpus duplicate that exactSpans would flag
    // but decontamination must NOT; doc 3 leaks two separated bench
    // substrings; doc 6 leaks from the SECOND bench doc.
    val docs = Seq(
      (20L, "ABCDEFGHIJ"),
      (40L, "VWXYZ67890"),
      (1L, "xxABCDEFGyy"),
      (2L, "ppQRSTUVqq"),
      (3L, "FGHIJ00000ABCDE"),
      (4L, "ttQRSTUVuu"),
      (6L, "aaVWXYZbb")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationSpans(docs, minLen = 5)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 2L, 9L, 7L),                     // "ABCDEFG": windows 2,3,4 merged
      (3L, 0L, 5L, 5L), (3L, 10L, 15L, 5L), // two islands, gap 10 > 0+5
      (6L, 2L, 7L, 5L)), out.toString)      // leak from bench doc 40
    // string-key (oracle) mode is identical to the xxhash64-key default
    val viaStrings = Dedup.contaminationSpans(docs, minLen = 5, hashGrams = false)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(viaStrings == out)
    // the cut drops exactly the leaked bytes, keeps the docs, excludes bench
    val clean = Dedup.decontaminateSpans(docs, minLen = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(clean == Seq(
      (1L, "xxyy", 1L, 7L),
      (2L, "ppQRSTUVqq", 0L, 0L),
      (3L, "00000", 2L, 10L),
      (4L, "ttQRSTUVuu", 0L, 0L),
      (6L, "aabb", 1L, 5L)), clean.toString)
  }

  test("maximal spans: overlapping repeats stay separate with exact lengths") {
    // S1 = "ABCDE" occurs in d1@2 and d2@2; S2 = "BCDEF" in d1@3 and
    // d3@2. In d1 they overlap: window-exact fuses them into one island
    // [2,8); the maximal form must report BOTH with exact boundaries.
    // Separator chars are all distinct so no other window duplicates.
    val docs = Seq(
      (1L, "ghABCDEFij"),
      (2L, "klABCDEmn"),
      (3L, "opBCDEFqr")
    ).toDF("doc_id", "text")
    val out = Dedup.maximalSpans(docs, minLen = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 2L, 7L, 5L), (1L, 3L, 8L, 5L), // overlapping pair, both maximal
      (2L, 2L, 7L, 5L),
      (3L, 2L, 7L, 5L)), out.toString)
    // window-exact merges d1's pair into one island — the distinction
    // this operator exists for
    val we = Dedup.exactSpans(docs, minLen = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(we == Seq((1L, 2L, 8L), (2L, 2L, 7L), (3L, 2L, 7L)), we.toString)
    // covered-byte sets agree: maximal spans partition exactly the
    // window-exact islands' bytes (prune-phase soundness)
    def bytes(s: Seq[(Long, Long, Long)]): Set[(Long, Long)] =
      s.flatMap { case (d, a, b) => (a until b).map(d -> _) }.toSet
    val mx = out.map(t => (t._1, t._2, t._3))
    assert(bytes(mx) == bytes(we))
  }

  test("maximal spans: self-overlapping periodic repeat reports both n-1 occurrences") {
    // a^8 alone: a^7 occurs at 0 and 1 (overlapping occurrences count),
    // a^8 only once. BOTH occurrences of a^7 are maximal — [0,7) can't
    // extend right past length 7 (a^8 unique), [1,8) can't extend left
    // (would be a^8) and ends at the doc; interior starts (m(p) = 8-p-…
    // shrinking by exactly 1) are suppressed by left-maximality.
    val docs = Seq((1L, "aaaaaaaa"), (2L, "bcdefghi")).toDF("doc_id", "text")
    val out = Dedup.maximalSpans(docs, minLen = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 0L, 7L, 7L), (1L, 1L, 8L, 7L)), out.toString)
  }

  test("span stats: hand-computed length-bucket profile over maximal spans") {
    // Same fixture as the overlapping-repeats test: four maximal spans,
    // all length 5 → one bucket (floor(log2 5) = 2), 4 spans across 3
    // docs, 20 duplicated chars. Plus a periodic doc contributing two
    // 7-char spans in the same bucket (floor(log2 7) = 2) — buckets are
    // powers of two, so 5s and 7s share bucket 2.
    val docs = Seq(
      (1L, "ghABCDEFij"),
      (2L, "klABCDEmn"),
      (3L, "opBCDEFqr"),
      (4L, "aaaaaaaa"),
      (5L, "aaaaaaaa")
    ).toDF("doc_id", "text")
    // doc 4/5: "aaaaaaaa" duplicated cross-doc → whole 8-char island is
    // one maximal span of length 8 per doc (bucket 3).
    val out = Dedup.spanStats(Dedup.maximalSpans(docs, minLen = 4))
      .orderBy("len_bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(out == Seq(
      (2, 4L, 3L, 20L, 5L, 5L, 5.0),
      (3, 2L, 2L, 16L, 8L, 8L, 8.0)), out.toString)
  }

  test("merge spans: running-max interval union (a long span swallows successors)") {
    val spans = Seq(
      // [0,10) swallows [5,20)? no — extends: union [0,20); [20,25)
      // touches (start == running max) → merges; [40,50) separate.
      (1L, 0L, 10L, 10L), (1L, 5L, 20L, 15L), (1L, 20L, 25L, 5L),
      (1L, 40L, 50L, 10L),
      // the lag-vs-max case: [0,30) then [5,10) then [12,20) — both
      // inside the first; lag(e) would break at 12 > 10.
      (2L, 0L, 30L, 30L), (2L, 5L, 10L, 5L), (2L, 12L, 20L, 8L)
    ).toDF("doc_id", "span_start", "span_end", "span_len")
    val out = Dedup.mergeSpans(spans).orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 0L, 25L, 25L), (1L, 40L, 50L, 10L),
      (2L, 0L, 30L, 30L)), out.toString)
  }

  test("maximal-grain removal cuts the union of overlapping repeats") {
    // Overlapping-repeats fixture: d1's maximal spans [2,7) and [3,8)
    // union to [2,8) — one merged segment, 6 bytes, no double-cut.
    val docs = Seq(
      (1L, "ghABCDEFij"), (2L, "klABCDEmn"), (3L, "opBCDEFqr"),
      (4L, "aaaaaaaa"), (5L, "aaaaaaaa")
    ).toDF("doc_id", "text")
    val out = Dedup.removeMaximalSpans(docs, minLen = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "ghij", 1L, 6L),
      (2L, "klmn", 1L, 5L),
      (3L, "opqr", 1L, 5L),
      // periodic doc: spans [0,7) and [1,8) union to the whole doc
      (4L, "", 1L, 8L),
      (5L, "", 1L, 8L)), out.toString)
  }

  test("maximal spans: island over the levels cap fails loudly") {
    val docs = Seq((1L, "a" * 40), (2L, "a" * 40)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.maximalSpans(docs, minLen = 4, levels = 5) // cap 31 < island 40
    }
    assert(e.getMessage.contains("cap"))
    val e2 = intercept[IllegalArgumentException] {
      MaximalSpansPD(docs, minLen = 4, levels = 5)
    }
    assert(e2.getMessage.contains("cap"))
  }

  test("maximal spans PD: prefix-doubling twin is output-identical") {
    def collectSpans(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // The three hand-verified shapes: overlapping distinct repeats,
    // single-doc periodic self-overlap, cross-doc identical islands
    // (the rank-walk's truncated-equal overshoot path).
    val shaped = Seq(
      (1L, "ghABCDEFij"), (2L, "klABCDEmn"), (3L, "opBCDEFqr"),
      (4L, "aaaaaaaa"), (5L, "aaaaaaaa"), (6L, "zzqqqqqqqqzz")
    ).toDF("doc_id", "text")
    assert(collectSpans(MaximalSpansPD(shaped, minLen = 4)) ==
      collectSpans(Dedup.maximalSpans(shaped, minLen = 4)))
    // A seeded composite corpus: shared phrases at varied offsets build
    // islands well past the 8-char seed window, so the ladder actually
    // runs doubling rounds and the walk exercises multi-level descents.
    val rnd = new scala.util.Random(42)
    val phrases = Vector(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump",
      "sphinx of black quartz judge my vow",
      "the five boxing wizards jump quickly")
    val docs = (1L to 24L).map { id =>
      val body = (0 until 2 + rnd.nextInt(4))
        .map(_ => phrases(rnd.nextInt(phrases.size))).mkString(" | ")
      (id, s"<$id> $body <end$id>")
    }.toDF("doc_id", "text")
    val pd = collectSpans(MaximalSpansPD(docs, minLen = 6))
    val ss = collectSpans(Dedup.maximalSpans(docs, minLen = 6))
    assert(pd.nonEmpty && pd == ss,
      s"pd=${pd.size} ss=${ss.size} firstDiff=${pd.zip(ss).find(t => t._1 != t._2)}")
    // No-duplicate corpus: both plans agree on empty.
    val clean = Seq((1L, "abcdefghij"), (2L, "KLMNOPQRST")).toDF("doc_id", "text")
    assert(collectSpans(MaximalSpansPD(clean, minLen = 4)).isEmpty)
    // Real data: the sf0.001 documents table carries ~6k duplicated
    // 40-char windows — identity must hold beyond hand-built fixtures.
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rs = collectSpans(Dedup.maximalSpans(real))
    val rp = collectSpans(MaximalSpansPD(real))
    assert(rs.nonEmpty && rp == rs,
      s"sf0.001 identity: pd=${rp.size} ss=${rs.size}")
  }

  test("near-dup pairs fail loudly on a degenerate label instead of going quadratic") {
    val emb = (0L until 8L).map(i => (i, Array(1f, i.toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.nearDupPairs(emb, minCosine = 0.0, maxLabelRows = 5).collect()
    }
    assert(e.getMessage.contains("maxLabelRows"), e.getMessage)
    // At or under the budget the exact semantics are untouched: all pairs
    assert(Similarity.nearDupPairs(emb, minCosine = -1.0, maxLabelRows = 8)
      .count() == 8L * 7 / 2)
  }

  test("multi-probe LSH recovers most brute-force neighbors") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, nQueries = 10, k = 5))
    val single = pairs(Similarity.lshTopK(emb, nQueries = 10, k = 5, multiProbe = false))
    val multi = pairs(Similarity.lshTopK(emb, nQueries = 10, k = 5))
    val recallSingle = (exact intersect single).size.toDouble / exact.size
    val recallMulti = (exact intersect multi).size.toDouble / exact.size
    assert(recallMulti >= recallSingle,
      s"multi-probe must not lose recall: $recallMulti < $recallSingle")
    assert(recallMulti >= 0.25,
      s"expected multi-probe recall >= 0.25 at 64 buckets, got $recallMulti")
  }

  test("IVF ANN: probing more cells raises recall toward brute force") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, nQueries = 10, k = 5))
    val coarse = Similarity.kmeansFit(emb, k = 8)
    val narrow = pairs(Similarity.ivfTopK(emb, coarse, nProbe = 2))
    val wide = pairs(Similarity.ivfTopK(emb, coarse, nProbe = 8))
    val recallNarrow = (exact intersect narrow).size.toDouble / exact.size
    val recallWide = (exact intersect wide).size.toDouble / exact.size
    assert(recallWide == 1.0,
      s"probing ALL cells must equal brute force, recall $recallWide")
    assert(recallNarrow >= 0.25,
      s"expected nProbe=2/8 recall >= 0.25, got $recallNarrow")
    // determinism: a repeated fit is the same artifact, same result
    val refit = Similarity.kmeansFit(emb, k = 8)
    assert(refit.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq,
      "kmeans fit must be deterministic")
    assert(pairs(Similarity.ivfTopK(emb, refit, nProbe = 2)) == narrow)
    // The zero-iteration artifact (the oracle row's) shares the search:
    // probing every cell is still exactly brute force.
    val initAll = pairs(Similarity.ivfTopK(emb, Similarity.kmeansFit(emb, k = 8, iters = 0),
      nProbe = 8))
    assert(initAll == exact,
      "zero-iteration quantizer probing ALL cells must equal brute force")
  }

  test("annRecall: the evaluation join reproduces the per-query LSH∩brute intersection") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val truth = pairsOf(Similarity.cosineTopK(emb, nQueries = 10, k = 5))
    val approx = pairsOf(Similarity.lshTopK(emb, planes = 4, nQueries = 10, k = 5)).toSet
    val expected = truth.groupBy(_._1).map { case (q, ps) =>
      q -> ps.count(approx.contains).toLong }
    val got = Similarity.annRecall(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("recall")))
    assert(got.map(g => g._1 -> g._2).toMap == expected,
      s"got=${got.toSeq.sortBy(_._1)} expected=${expected.toSeq.sorted}")
    // one row per brute-force query, recall = n_hits/k rounded to 6
    assert(got.map(_._1).toSet == truth.map(_._1).toSet)
    got.foreach { case (q, h, rec) =>
      assert(rec == math.round(h / 5.0 * 1e6) / 1e6, s"query $q: $h hits, recall $rec") }
    // meaningfulness: on this fixture the LSH index is approximate but
    // not useless — recall must sit strictly between 0 and 1 somewhere.
    assert(got.exists(_._3 < 1.0) || approx.size < truth.length,
      "fixture degenerate: LSH exactly equals brute force everywhere")
    assert(got.map(_._2).sum > 0L, "fixture degenerate: LSH finds nothing")
  }

  test("minhashRecall: the one-row report reproduces the truth∩banding intersection") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val truth = pairs(Dedup.ngramJaccardInvertedIndex(docs, minJaccard = 0.3))
    val found = pairs(Dedup.minhashPairsPortable(docs, minJaccard = 0.3))
    val row = Dedup.minhashRecall(docs).collect()
    assert(row.length == 1)
    val (nTruth, nHits, nBanding, recall) = (row.head.getAs[Long]("n_truth"),
      row.head.getAs[Long]("n_hits"), row.head.getAs[Long]("n_banding_pairs"),
      row.head.getAs[Double]("recall"))
    assert(truth.nonEmpty, "fixture degenerate: no exact near-dup pairs at 0.3")
    assert(nTruth == truth.size.toLong, s"n_truth $nTruth vs ${truth.size}")
    assert(nHits == (truth intersect found).size.toLong,
      s"n_hits $nHits vs ${(truth intersect found).size}")
    assert(nBanding == found.size.toLong, s"n_banding_pairs $nBanding vs ${found.size}")
    assert(recall == math.round(nHits.toDouble / nTruth * 1e6) / 1e6)
  }

  test("IVF-PQ ANN: all-probe full-refine is exact; pruned recall holds") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, nQueries = 10, k = 5))
    // Probing every cell disables the IVF prune; corpus-wide refine
    // disables the ADC shortlist — together they must reproduce brute
    // force exactly (same rounded cosines, same tie-break).
    def full(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rk", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val coarse = Similarity.kmeansFit(emb, k = 16)
    val codebook = Similarity.pqCodebook(emb, 8, 16)
    assert(full(Similarity.ivfpqTopK(emb, coarse, codebook, nProbe = 16, refine = 1000)) ==
      full(Similarity.cosineTopK(emb)),
      "IVF-PQ with all cells probed and corpus-wide refine must equal brute force")
    // Default-parameter floors: the zero-iteration artifacts (the oracle
    // row's) and the default fits; both are deterministic.
    val init = pairs(Similarity.ivfpqTopK(emb, Similarity.kmeansFit(emb, k = 16, iters = 0),
      Similarity.pqCodebook(emb, 8, 16, iters = 0)))
    val fit = pairs(Similarity.ivfpqTopK(emb, coarse, codebook))
    assert((exact intersect init).size >= 0.4 * exact.size,
      s"zero-iteration IVF-PQ recall < 0.4: ${(exact intersect init).size}/${exact.size}")
    assert((exact intersect fit).size >= 0.35 * exact.size,
      s"fitted IVF-PQ recall < 0.35: ${(exact intersect fit).size}/${exact.size}")
    assert(pairs(Similarity.ivfpqTopK(emb, Similarity.kmeansFit(emb, k = 16),
      Similarity.pqCodebook(emb, 8, 16))) == fit, "IVF-PQ fit must be deterministic")
  }

  test("SemDeDup: cluster invariants, diversity keep rule, density guard") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val init = Similarity.kmeansFit(emb, k = 16, iters = 0)
    for (df <- Seq(Similarity.semanticDedup(emb, init),
                   Similarity.semanticDedup(emb, Similarity.kmeansFit(emb, k = 16)))) {
      val rows = df.collect()
      // every nonzero-norm vector appears exactly once
      assert(rows.length == 500 && rows.map(_.getAs[Long]("vec_id")).distinct.length == 500)
      val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
      byCluster.foreach { case (cid, ms) =>
        // exactly one kept member: the (cen_cos, vec_id)-min (diversity
        // rule — keep the edge example, drop the redundant core)
        val kept = ms.filter(_.getAs[Int]("is_kept") == 1)
        assert(kept.length == 1, s"cluster $cid kept ${kept.length}")
        val want = ms.map(r => (r.getAs[Double]("cen_cos"), r.getAs[Long]("vec_id"))).min
        assert(kept.head.getAs[Long]("vec_id") == want._2)
        // pairs are within-cell, so clusters never straddle cells
        assert(ms.map(_.getAs[Int]("cell")).distinct.length == 1, s"cluster $cid straddles cells")
        assert(ms.forall(_.getAs[Long]("cluster_size") == ms.length))
        assert(cid == ms.map(_.getAs[Long]("vec_id")).min)
      }
    }
    // the k-means path is deterministic: repeated fits, same clusters
    assert(Similarity.semanticDedup(emb, Similarity.kmeansFit(emb, k = 16)).collect().toSet ==
      Similarity.semanticDedup(emb, Similarity.kmeansFit(emb, k = 16)).collect().toSet)
    // degenerate cell density fails loudly, never goes quietly quadratic
    val err = intercept[Exception](
      Similarity.semanticDedup(emb, init, maxCellRows = 3).collect())
    assert(err.getMessage.contains("maxCellRows"))
  }

  test("LM perplexity score: hand-computed add-one bigram model") {
    // Corpus: c(a,b)=4, c(b,a)=2, c(b,c)=1; contexts a·=4, b·=3; V=3.
    val out = TextAnalysis.lmScore(docs(
        0L -> "a b a b a b", 1L -> "a b c", 2L -> "c"))
      .orderBy("doc_id").collect()
    // doc 2 has one token — no bigram distribution, excluded.
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 1L))
    val pAB = 5.0 / 7.0  // (4+1)/(4+3)
    val pBA = 3.0 / 6.0  // (2+1)/(3+3)
    val pBC = 2.0 / 6.0  // (1+1)/(3+3)
    val lp0 = (3 * math.log(pAB) + 2 * math.log(pBA)) / 5
    val lp1 = (math.log(pAB) + math.log(pBC)) / 2
    assert(out(0).getAs[Long]("n_bigrams") == 5L)
    assert(out(1).getAs[Long]("n_bigrams") == 2L)
    assert(math.abs(out(0).getAs[Double]("avg_logprob") - lp0) <= 1e-6)
    assert(math.abs(out(1).getAs[Double]("avg_logprob") - lp1) <= 1e-6)
    assert(math.abs(out(0).getAs[Double]("ppl") - math.exp(-lp0)) <= 1e-5)
    // The template doc (frequent transitions) must be more probable —
    // lower perplexity — than the doc with a rare transition.
    assert(out(0).getAs[Double]("ppl") < out(1).getAs[Double]("ppl"))
  }

  test("lm_buckets: per-lang terciles replay lm_score, all three buckets land") {
    // Two strata: 'en' docs 0–3 with increasing bigram rarity, a lone
    // 'xx' doc that must tercile against itself only (head by <=).
    val rows = Seq(
      (0L, "a b a b a b a b", "en"), (1L, "a b a b c", "en"),
      (2L, "a b c d", "en"), (3L, "c d e f g", "en"),
      (4L, "q r q r", "xx"),
      (5L, "z", "en")) // one token → no ppl → excluded
      .map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.lmBuckets(rows).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getString(5))).toSeq
    assert(out.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L), out.toString)
    // Hand-derive from lm_score: terciles with (n−1)p interpolation over
    // the rounded ppls, rounded 6, then the <= comparisons.
    val ppl = TextAnalysis.lmScore(rows).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("ppl")).toMap
    def tercile(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted; val pos = (s.size - 1) * p
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      val v = s(lo) + (pos - lo) * (s(hi) - s(lo))
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val en = Seq(0L, 1L, 2L, 3L).map(ppl)
    val (t33, t66) = (tercile(en, 1.0 / 3), tercile(en, 2.0 / 3))
    out.filter(_._2 == "en").foreach { case (id, _, p, a33, a66, b) =>
      assert(p == ppl(id) && a33 == t33 && a66 == t66)
      val exp = if (p <= t33) "head" else if (p <= t66) "middle" else "tail"
      assert(b == exp, s"doc $id: $b vs $exp")
    }
    // Monotone fixture → the en stratum shows all three buckets.
    assert(out.filter(_._2 == "en").map(_._6).distinct.sorted ==
      Seq("head", "middle", "tail"), out.toString)
    // Single-doc stratum: both terciles equal its own ppl → head.
    val xx = out.find(_._2 == "xx").get
    assert(xx._6 == "head" && xx._4 == xx._3 && xx._5 == xx._3, xx.toString)
  }

  test("lm_score_ref: reference-fitted model, smoothing floor on unseen, null-safe filter") {
    import org.apache.spark.sql.functions.{col, lit}
    // Reference slice (en): c(a,b)=3, c(b,a)=1, c(b,c)=1; contexts
    // a·=3, b·=2; V = |{a,b,c}| = 3. Non-ref docs score against THAT
    // model: unseen bigram (b,x) → (0+1)/(2+3); doc 4's lang is NULL →
    // refFilter verdict NULL → non-ref, but still scored.
    val rows = Seq(
      (0L, "a b a b", "en"), (1L, "a b c", "en"),
      (2L, "a b x", "xx"), (3L, "z", "xx"), (4L, "a b", null))
      .map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.lmScoreRef(rows, col("lang") === "en")
      .orderBy("doc_id").collect()
    // doc 3 has one token — excluded, ref or not.
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 1L, 2L, 4L))
    val pAB = 4.0 / 6.0; val pBA = 2.0 / 5.0
    val pBC = 2.0 / 5.0; val pBX = 1.0 / 5.0
    val want = Map(
      0L -> (2 * math.log(pAB) + math.log(pBA)) / 3,
      1L -> (math.log(pAB) + math.log(pBC)) / 2,
      2L -> (math.log(pAB) + math.log(pBX)) / 2,
      4L -> math.log(pAB))
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(math.abs(r.getAs[Double]("avg_logprob") - want(id)) <= 1e-6, s"doc $id")
      assert(math.abs(r.getAs[Double]("ppl") - math.exp(-want(id))) <= 1e-5, s"doc $id")
    }
    // The unseen-bigram doc must be less probable under the reference
    // model than the in-domain doc with the same seen prefix.
    val ppl = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    assert(ppl(2L) > ppl(1L))
    // refFilter ≡ true degenerates to the self-fitted lmScore exactly
    // (left joins never miss, V is the corpus vocab).
    val all = TextAnalysis.lmScoreRef(rows, lit(true)).collect().toSet
    assert(all == TextAnalysis.lmScore(rows).collect().toSet)
    // A degenerate reference raises loudly from inside the plan: both
    // the no-docs shape and the vocabulary-but-no-bigrams shape (only
    // sub-2-token ref docs — without the guard every doc would score a
    // silent constant ppl 1.0 against the empty model).
    val err = intercept[Exception](
      TextAnalysis.lmScoreRef(rows, col("lang") === "nope").collect())
    assert(err.getMessage.contains("degenerate reference slice"))
    val err2 = intercept[Exception](
      TextAnalysis.lmScoreRef(rows, col("doc_id") === 3L).collect())
    assert(err2.getMessage.contains("degenerate reference slice"))
  }

  test("PQ/ADC ANN: full refine is exact; shortlist recall holds; deterministic") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, nQueries = 10, k = 5))
    // Refine wide enough to cover the corpus → ADC shortlisting cannot
    // drop a true neighbor; the exact re-rank must reproduce brute force
    // bit-for-bit (same rounded cosines, same tie-break).
    def full(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rk", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val codebook = Similarity.pqCodebook(emb, 8, 16)
    assert(full(Similarity.pqTopK(emb, codebook, refine = 1000)) ==
      full(Similarity.cosineTopK(emb)),
      "PQ with corpus-wide refine must equal brute force exactly")
    // Default-parameter recall floors (measured 0.56 zero-iteration /
    // 0.58 fit at sf0.001, 0.46/0.48 at sf0.01 — random synthetic
    // embeddings are the hard case for a 16-code-per-subspace quantizer).
    val init = pairs(Similarity.pqTopK(emb, Similarity.pqCodebook(emb, 8, 16, iters = 0)))
    val fit = pairs(Similarity.pqTopK(emb, codebook))
    assert((exact intersect init).size >= 0.4 * exact.size,
      s"zero-iteration PQ recall < 0.4: ${(exact intersect init).size}/${exact.size}")
    assert((exact intersect fit).size >= 0.4 * exact.size,
      s"fitted PQ recall < 0.4: ${(exact intersect fit).size}/${exact.size}")
    // Lloyd fit is driver-deterministic: same sample, same codebook.
    val refit = Similarity.pqCodebook(emb, 8, 16)
    assert(refit.map(_.map(_.toSeq).toSeq).toSeq == codebook.map(_.map(_.toSeq).toSeq).toSeq,
      "PQ fit must be deterministic")
    assert(pairs(Similarity.pqTopK(emb, refit)) == fit)
    // Dimension must split evenly into subspaces — fail loudly, not wrap.
    val e = intercept[IllegalArgumentException](Similarity.pqCodebook(emb, 7, 16))
    assert(e.getMessage.contains("divide evenly"))
  }

  test("grouped top-k aggregate matches the window ranking it replaces") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TopK
    // 3 groups × 40 rows with duplicate scores — big enough to force
    // buffer compaction (4k bound at k=5) and partial-merge paths.
    val rows = for (g <- 0 until 3; i <- 0 until 40)
      yield (g.toLong, i.toLong + 1000 * g, (i * 7919 % 13).toDouble)
    val df = rows.toDF("g", "id", "score").repartition(8)
    val viaAgg = TopK.groupedWithRank(df, Seq(col("g")), 5,
        Seq(TopK.descNum(col("score")), col("id")))
      .select("g", "rk", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val viaWindow = df.withColumn("rk", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))))
      .filter(col("rk") <= 5)
      .select("g", "rk", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaAgg == viaWindow)
  }

  test("lshSignature refuses vectors wider than maxDim") {
    import org.apache.spark.sql.functions.col
    val wide = Seq((0L, Array.fill(200)(1.0))).toDF("vec_id", "v")
    val ex = intercept[Exception] {
      wide.select(Similarity.lshSignature(col("v"), planes = 4, maxDim = 128))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("maxDim")),
      s"expected a maxDim error, got: ${ex.getMessage}")
  }

  test("session extensions register vec_dot and topk_struct for SQL") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate returns the active session and ignores extensions, so
    // clear the bindings, build a sibling session on the SAME context
    // (never stop it — the context is the suite-wide fixture), restore.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val dot = s2.sql("SELECT vec_dot(array(1D, 2D), array(3D, 4D))").head.getDouble(0)
      assert(dot == 11.0)
      Seq((1, 5), (1, 3), (1, 9), (2, 7)).toDF("g", "x").createOrReplaceTempView("tk")
      val rows = s2.sql(
        "SELECT g, topk_struct(struct(x), 2) AS top FROM tk GROUP BY g ORDER BY g")
        .collect()
      assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) == Seq(3, 5))
      assert(rows(1).getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) == Seq(7))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("lang id counts stopword hits and predicts the argmax profile") {
    val out = TextAnalysis.langId(docs(1L -> "the cat and the dog")).collect().head
    assert(out.getAs[Int]("en_hits") == 3) // the ×2 + and
    assert(out.getAs[Int]("de_hits") == 0)
    assert(out.getAs[String]("pred_lang") == "en")
  }

  test("ProfileHits equals the interpreted filter+isin count (spec-pin)") {
    // The native letter-token counter replaced
    // size(filter(split(lower(text), "[^\\p{L}]+"), isin(…))) on the
    // langId / stop-ratio / Gopher paths; pin the two count-for-count
    // on the edges: duplicate tokens (count every occurrence), a word
    // shared by two profiles, separator edges, case, zero-hit docs,
    // empty and null text.
    import org.apache.spark.sql.functions._
    val profiles = Seq(Seq("the", "and", "of"), Seq("der", "und", "the"))
    val df = Seq[(Long, String)](
      (1L, "The cat, and THE ... und!"),
      (2L, ""),
      (3L, "none here 42"),
      (4L, " the the3the "),
      (5L, null)).toDF("id", "text")
    // Per-profile hits as the operators read them (element_at): null
    // text reads null in both forms.
    def hits(h: org.apache.spark.sql.Column) =
      df.select(col("id") +: profiles.indices.map(i => element_at(h, i + 1)): _*)
        .collect().map(r => r.getLong(0) -> (1 to profiles.size).map(r.get)).toMap
    val native = hits(graft.functions.TextKernels.profileHits(col("text"), profiles))
    assert(native == hits(TextReference.profileHits(col("text"), profiles)))
    assert(native(1L) == Seq(3, 3) && native(4L) == Seq(3, 3) &&
      native(5L) == Seq(null, null), native.toString)
  }

  test("token counts: whitespace vs BPE-ish regex vs chars/4") {
    val out = TextAnalysis.tokenCount(docs(1L -> "ab cd-ef 12")).collect().head
    assert(out.getAs[Int]("n_chars") == 11)
    assert(out.getAs[Int]("ws_tokens") == 3)
    assert(out.getAs[Int]("regex_tokens") == 5) // ab | cd | - | ef | 12
    assert(out.getAs[Long]("est_bpe") == 3L)    // ceil(11/4)
  }

  test("doc fingerprint: hand-computed polynomial fold") {
    val out = TextAnalysis.docFingerprint(docs(1L -> "ab cd")).collect().head
    // terms: 2·131+97 = 359, 2·131+99 = 361; fold: 359·31 + 361 = 11490
    assert(out.getAs[Int]("n_tokens") == 2)
    assert(out.getAs[Long]("fingerprint") == 11490L)
  }

  test("hash split is deterministic, exhaustive, and composes with sampling") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val split = TextAnalysis.splitByHash(corpus, "doc_id", valFrac = 0.1, testFrac = 0.1)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(counts.values.sum == 500)
    assert(counts("train") > counts.getOrElse("val", 0L))
    // Stable across evaluations.
    val again = TextAnalysis.splitByHash(corpus, "doc_id", 0.1, 0.1)
      .groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(again == counts)
    val sampled = TextAnalysis.sampleByHash(corpus, "doc_id", 0.2).count()
    assert(sampled > 50 && sampled < 180, s"~20% of 500 expected, got $sampled")
  }

  test("connected components: chain, clique and pair resolve to min-id clusters") {
    import graft.operators.Components
    val edges = Seq(
      // chain 10-11-12-13-14: needs several propagation rounds
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      // triangle 1-2-3 plus a pair 5-6
      (1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L)
    ).toDF("id1", "id2")
    val out = Components.dedupClusters(edges, "id1", "id2")
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Int]("is_canonical")))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, 1), (2L, 1L, 3L, 0), (3L, 1L, 3L, 0),
      (5L, 5L, 2L, 1), (6L, 5L, 2L, 0),
      (10L, 10L, 5L, 1), (11L, 10L, 5L, 0), (12L, 10L, 5L, 0),
      (13L, 10L, 5L, 0), (14L, 10L, 5L, 0)))
  }

  test("containment pairs: embedded snippet scores 1.0 where jaccard misses") {
    // doc1 = 2-shingle snippet fully embedded in doc2's 6-shingle page:
    // containment 1.0, jaccard only 2/6 — the asymmetric metric's case.
    val d = docs(1L -> "a b c", 2L -> "x a b c y z w")
    val out = Dedup.containmentPairs(d, minContainment = 0.5).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[Long]("id1"), r.getAs[Long]("id2"),
      r.getAs[Long]("n_common"), r.getAs[Long]("n1"), r.getAs[Long]("n2")) ==
      ((1L, 2L, 2L, 2L, 6L)))
    assert(r.getAs[Double]("c1_in_2") == 1.0)
    assert(r.getAs[Double]("c2_in_1") == r6(2.0 / 6.0))
    assert(r.getAs[Double]("containment") == 1.0)
    // the symmetric metric scores the same pair at 1/3 — under any sane
    // near-dup threshold
    val j = Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.05).collect()
    assert(j.length == 1 && math.abs(j.head.getAs[Double]("jaccard") - 1.0 / 3) < 1e-9)
  }

  test("sentence dedup: cross-doc and within-doc repeats, zero-sentence rows kept") {
    val d = docs(
      1L -> "Buy now. Unique thought one! Buy now.", // within-doc repeat ×2
      2L -> "Buy now. Another thing entirely?",      // shares the boilerplate
      3L -> "Totally fresh. Nothing shared here!",
      4L -> "")                                      // zero sentences, row kept
    val out = Dedup.sentenceDedup(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, r6(2.0 / 3)), // "Buy now" twice, both marked
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)), out.toString)
  }

  test("sentence dedup clean: cuts every duplicated occurrence, report is the exact preview") {
    val d = docs(
      1L -> "Buy now. Unique thought one! Buy now.", // within-doc repeat ×2
      2L -> "Buy now. Another thing entirely?",      // shares the boilerplate
      3L -> "Totally fresh. Nothing shared here!",
      4L -> "")                                      // zero sentences, row kept
    val out = Dedup.sentenceDedupClean(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "Unique thought one"),     // both "Buy now" cut
      (2L, 2L, 1L, "Another thing entirely"),
      (3L, 2L, 0L, "Totally fresh Nothing shared here"),
      (4L, 0L, 0L, "")), out.toString)
    // n_cut == the report's n_dup_sents at the shared default threshold
    val preview = Dedup.sentenceDedup(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out.map(r => (r._1, r._3)) == preview, preview.toString)
  }

  test("sentence dedup clean bySource: cross-source repeats are quotation, not chrome") {
    // "Shared line" repeats across two DIFFERENT sources: corpus-wide
    // counting cuts it everywhere; per-source counting keeps it
    // (quotation), while the within-source repeat is still cut.
    val d = Seq(
      (1L, "Shared line. Footer a. Footer a.", "siteA"),
      (2L, "Shared line. Own text here.", "siteB"))
      .toDF("doc_id", "text", "source")
    val global = Dedup.sentenceDedupClean(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(global == Seq((1L, 3L, ""), (2L, 1L, "Own text here")), global.toString)
    val perSource = Dedup.sentenceDedupClean(d, bySource = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(perSource == Seq(
      (1L, 2L, "Shared line"), (2L, 0L, "Shared line Own text here")),
      perSource.toString)
    // NULL source folds to one '' bucket — the doc's text must SURVIVE
    // (a null-unsafe count join would drop its postings and empty it).
    val n = Seq((1L, "Keep me. Keep me.", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source")
    val nOut = Dedup.sentenceDedupClean(n, bySource = true).collect().head
    assert((nOut.getLong(1), nOut.getLong(2), nOut.getString(3)) ==
      ((2L, 2L, "")), nOut.toString)
    val nKeep = Seq((1L, "Only once here.", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source")
    val kOut = Dedup.sentenceDedupClean(nKeep, bySource = true).collect().head
    assert(kOut.getString(3) == "Only once here", kOut.toString)
  }

  test("cluster stats: size histogram with removable counts") {
    import graft.operators.Components
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // size-5 chain
      (1L, 2L), (2L, 3L), (1L, 3L),                   // size-3 triangle
      (5L, 6L), (7L, 8L)                              // two size-2 pairs
    ).toDF("id1", "id2")
    val out = Components.clusterStats(Components.dedupClusters(edges, "id1", "id2"))
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (2L, 2L, 4L, 2L), // two pairs: 4 docs, 2 removable
      (3L, 1L, 3L, 2L),
      (5L, 1L, 5L, 4L)), out.toString)
  }

  test("ngram postings generalize the bigram shingle plan") {
    val d = docs(1L -> "a b c d e", 2L -> "x y")
    val grams = Dedup.ngramPostings(d, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // doc 1 has 4-grams {a b c d, b c d e}; doc 2 is too short.
    assert(grams.count(_._1 == 1L) == 2)
    assert(!grams.exists(_._1 == 2L))
    // n=2 must agree with the bigram postings used everywhere else.
    val bi = Dedup.ngramPostings(d, 2).collect().map(_.getLong(1)).toSet
    val sh = Dedup.shinglePostings(d).collect()
      .map(_.getAs[Long]("h")).toSet
    assert(bi == sh)
  }

  test("decontaminate flags benchmark 4-gram overlap and spares clean docs") {
    // doc 0 is the held-out benchmark (0 mod 20); doc 1 embeds one of its
    // verbatim 4-grams; doc 2 shares no 4-gram.
    val d = docs(
      0L -> "alpha beta gamma delta epsilon",
      1L -> "x1 x2 alpha beta gamma delta x3",
      2L -> "p q r s t u")
    val out = Dedup.decontaminate(d).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L), "benchmark docs excluded")
    assert(out(0).getAs[Long]("n_hits") == 1L &&
      out(0).getAs[Int]("is_contaminated") == 1)
    assert(out(1).getAs[Long]("n_hits") == 0L &&
      out(1).getAs[Int]("is_contaminated") == 0)
    // Scale contract: the benchmark gram set joins as the BROADCAST side.
    val plan = Dedup.decontaminate(d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram join must broadcast:\n$plan")
  }

  test("withContamination projection is row-equal to the decontaminate join") {
    // Same verdicts, zero joins: the projection form must reproduce
    // decontaminate's n_hits/is_contaminated exactly — including the
    // empty-edge-token gram subtlety (text starting with punctuation
    // yields a leading "" token that ngramPostings windows over).
    val d = docs(
      0L -> "alpha beta gamma delta epsilon",
      20L -> "!lead punct one two three four",
      1L -> "x1 x2 alpha beta gamma delta x3",
      2L -> "p q r s t u",
      3L -> "!lead punct one two zz qq")
    val bench = Dedup.benchGramSet(d)
    val proj = Dedup.withContamination(d, bench)
      .filter($"doc_id" % 20 =!= 0)
      .select("doc_id", "n_hits", "is_contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val joined = Dedup.decontaminate(d)
      .select("doc_id", "n_hits", "is_contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(proj == joined, s"proj=$proj joined=$joined")
    assert(proj.exists(_._3 == 1) && proj.exists(_._3 == 0), "fixture exercises both verdicts")
    // No join in the projection plan — the property that makes it
    // stateless and streaming-safe.
    val plan = Dedup.withContamination(d, bench).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"projection gate must not join:\n$plan")
    // Bloom fallback: same projection shape, no false negatives — on
    // this fixture (fpp 1e-6) the verdicts coincide with the exact gate
    // and n_maybe_hits bounds n_hits from above.
    val bloom = Dedup.benchGramBloom(d, expectedItems = 100L, fpp = 1e-6)
    val bm = Dedup.withContaminationBloom(d, bloom)
      .filter($"doc_id" % 20 =!= 0)
      .select("doc_id", "n_maybe_hits", "is_contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(bm.map(x => (x._1, x._3)) == proj.map(x => (x._1, x._3)),
      s"bloom verdicts: $bm vs $proj")
    assert(bm.zip(proj).forall { case (b, p) => b._2 >= p._2 },
      "bloom hit count is an upper bound")
    val bplan = Dedup.withContaminationBloom(d, bloom).queryExecution.executedPlan.toString
    assert(!bplan.contains("Join") && !bplan.contains("ScalaUDF"),
      s"bloom gate must stay joinless and UDF-free:\n$bplan")
  }

  test("contamination report: per-benchmark rollup keeps zero-leak rows") {
    // Bench docs: 20 and 40 (0 mod 20). Doc 21 shares both of 20's
    // 4-grams plus one of its own; doc 22 shares one; 23 and 40 are
    // clean.
    val d = docs(
      20L -> "a b c d e",
      21L -> "a b c d e x",
      22L -> "z b c d e",
      23L -> "p q r s t",
      40L -> "m n o p q")
    val out = Dedup.contaminationReport(d).orderBy("bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (20L, 2L, 3L, 2L), // docs 21 (2 shared grams) + 22 (1): total 3, worst 2
      (40L, 0L, 0L, 0L)), out.toString)
    // Scale contract: the bench posting table joins as the BROADCAST side.
    val plan = Dedup.contaminationReport(d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench posting join must broadcast:\n$plan")
  }

  test("shard_pack: hand-computed running totals and shard cuts") {
    import graft.operators.Shard
    val d = docs(1L -> "a b c", 2L -> "d e", 3L -> "f", 4L -> "g h i j")
    val out = Shard.shardPack(d, budgetTokens = 4L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, 0L), (2L, 2L, 5L, 0L), (3L, 1L, 6L, 1L), (4L, 4L, 10L, 1L)))
  }

  test("pack ops keep null- and empty-text docs (nothing-dropped contract)") {
    import graft.operators.Shard
    // VERDICT r8: a null-text doc must neither vanish from the
    // sequence_pack manifest nor emit a null shard_id row. Null folds
    // to '' (one empty ws token — token_count's convention for '').
    // the docs() helper derives length(text) — build the frame raw
    val d = Seq(1L -> "a b c", 2L -> (null: String), 3L -> "", 4L -> "d e")
      .toDF("doc_id", "text")
    val sp = Shard.shardPack(d, budgetTokens = 4L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(sp == Seq(
      (1L, 3L, 3L, 0L), (2L, 1L, 4L, 0L), (3L, 1L, 5L, 1L), (4L, 2L, 7L, 1L)),
      sp.toString)
    val qp = Shard.sequencePack(d, seqLen = 3L).orderBy("doc_id", "seq_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(qp == Seq(
      (1L, 0L, 0L, 3L, 3L),
      (2L, 1L, 0L, 1L, 1L),
      (3L, 1L, 0L, 1L, 1L),
      (4L, 1L, 0L, 1L, 1L), (4L, 2L, 1L, 2L, 1L)), qp.toString)
    // Conservation: every doc appears, per-doc slices sum to n_tokens,
    // non-tail sequences exactly full.
    val byDoc = qp.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(byDoc == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 2L), byDoc.toString)
    val bySeq = qp.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    assert(bySeq == Map(0L -> 3L, 1L -> 3L, 2L -> 1L), bySeq.toString)
  }

  test("sequence_pack: docs split at sequence boundaries, every non-tail sequence full") {
    import graft.operators.Shard
    // L=5, token counts 3/4/7 → offsets 0/3/7, cum 3/7/14:
    // seq0 = doc1[0,3) + doc2[0,2); seq1 = doc2[2,4) + doc3[0,3);
    // seq2 = doc3[3,7) — the corpus tail, 4 tokens.
    val d = docs(1L -> "a b c", 2L -> "a b c d", 3L -> "a b c d e f g")
    val out = Shard.sequencePack(d, seqLen = 5L).orderBy("doc_id", "seq_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 3L, 3L),
      (2L, 0L, 0L, 2L, 2L), (2L, 1L, 2L, 4L, 2L),
      (3L, 1L, 0L, 3L, 3L), (3L, 2L, 3L, 7L, 4L)), out.toString)
    // Per-sequence totals: full at seqLen except the corpus tail, and
    // per-doc slices concatenate back to the whole doc.
    val bySeq = out.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    assert(bySeq == Map(0L -> 5L, 1L -> 5L, 2L -> 4L), bySeq.toString)
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(byDoc == Map(1L -> 3L, 2L -> 4L, 3L -> 7L), byDoc.toString)
  }

  test("sequence_pack shuffled: hash-order packing keeps the invariants, different layout") {
    import graft.operators.Shard
    val d = docs((1L to 20L).map(i =>
      i -> (1 to (i % 5 + 2).toInt).map(j => s"t$j").mkString(" ")): _*)
    val out = Shard.sequencePack(d, seqLen = 7L, shuffled = true)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // Same conservation laws as doc_id order: per-doc slices cover each
    // doc exactly, and every sequence except the tail is exactly full.
    val nTokens = (1L to 20L).map(i => i -> (i % 5 + 2)).toMap
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(byDoc == nTokens, byDoc.toString)
    val bySeq = out.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val tail = bySeq.keys.max
    assert(bySeq.filterKeys(_ != tail).values.forall(_ == 7L), bySeq.toString)
    // Determinism + a genuinely different layout from doc_id order.
    val again = Shard.sequencePack(d, seqLen = 7L, shuffled = true, parts = 64)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(again == out, "hash order must be partition-invariant")
    val plain = Shard.sequencePack(d, seqLen = 7L)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(plain != out.map(r => (r._1, r._2)), "layouts should differ")
  }

  test("sequence_pack is partitioning-invariant") {
    import graft.operators.Shard
    val d = docs((1L to 60L).map(i =>
      i -> (1 to (i % 9 + 1).toInt).map(j => s"t$j").mkString(" ")): _*)
    def run(parts: Int) = Shard.sequencePack(d, seqLen = 7L, parts = parts)
      .orderBy("doc_id", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val one = run(1)
    assert(run(8) == one && run(64) == one)
  }

  test("shard_pack is partitioning-invariant (two-phase prefix sum is exact)") {
    import graft.operators.Shard
    val d = docs((1L to 100L).map(i =>
      i -> (1 to (i % 7 + 1).toInt).map(j => s"t$j").mkString(" ")): _*)
    def run(parts: Int) = Shard.shardPack(d, budgetTokens = 10L, parts = parts)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val one = run(1)   // single range = the naive global cumsum
    assert(run(8) == one && run(64) == one)
    assert(one.last._3 == one.map(_._2).sum, "final total equals corpus tokens")
  }

  test("doc repetition: top-bigram concentration and lexical diversity") {
    val out = TextAnalysis.docRepetition(docs(1L -> "a b a b a", 2L -> "x"))
      .orderBy("doc_id").collect()
    // doc 1: tokens [a b a b a] → uniq 2/5; bigrams {a b:2, b a:2} → 4
    // occurrences, top 2, rep 0.5. doc 2: single token, no bigrams.
    val r1 = out(0)
    assert(r1.getAs[Long]("n_tokens") == 5L)
    assert(r1.getAs[Double]("uniq_token_ratio") == 0.4)
    assert(r1.getAs[Long]("n_bigrams") == 4L && r1.getAs[Long]("top_bigram_n") == 2L)
    assert(r1.getAs[Double]("rep_ratio") == 0.5)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_bigrams") == 0L && r2.isNullAt(r2.fieldIndex("rep_ratio")))
  }

  test("stratified sample balances strata to the smallest one") {
    val rows = (1L to 40L).map(i => (i, s"doc $i", if (i <= 32) "en" else "fr", "s", 1L))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.stratifiedSample(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("keep_thr")))
    // fr is the smallest stratum (8 docs): threshold 1000 keeps all of it.
    assert(out.count(_._2 == "fr") == 8)
    assert(out.filter(_._2 == "fr").forall(_._3 == 1000L))
    // en (32 docs) downsamples at threshold 250; membership must match the
    // portable arithmetic hash exactly.
    val expectEn = (1L to 32L).filter(i => ((i % 99991L) * 2654435761L) % 1000L < 250L)
    assert(out.filter(_._2 == "en").map(_._1).sorted.toSeq == expectEn)
  }

  test("chunk dedup: first occurrence keeps, later chunk copies count as dropped") {
    val chunkA = "a b c d e f g h"
    val d = docs(
      1L -> (chunkA + " i j k l m n o p"),   // chunks A, B — both first
      2L -> (chunkA + " q r s t u v w x"),   // chunk A dup of doc 1, C first
      3L -> "z z z")                          // < 8 tokens → no chunks
    val out = Dedup.chunkDedup(d).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("n_chunks") == 2L && r1.getAs[Long]("n_dup_chunks") == 0L)
    assert(r1.getAs[Double]("dup_chunk_ratio") == 0.0)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_chunks") == 2L && r2.getAs[Long]("n_dup_chunks") == 1L)
    assert(r2.getAs[Double]("dup_chunk_ratio") == 0.5)
    assert(r2.getAs[Long]("n_tokens_dropped") == 8L)
    val r3 = out(2)
    assert(r3.getAs[Long]("n_chunks") == 0L &&
      r3.isNullAt(r3.fieldIndex("dup_chunk_ratio")))
    // A within-doc repeat of a chunk dups against itself only when a
    // LOWER doc holds it first — doc 1's own duplicate stays kept.
    val rep = Dedup.chunkDedup(docs(1L -> (chunkA + " " + chunkA)))
      .collect().head
    assert(rep.getAs[Long]("n_chunks") == 2L && rep.getAs[Long]("n_dup_chunks") == 0L)
  }

  test("dedup keep-best selects the highest-quality cluster member") {
    // Cluster {1,2}: doc 2 has more words and stopword mass → higher
    // quality score. Cluster {3,4}: identical texts tie → min id keeps.
    val d = docs(
      1L -> "the cat sat",
      2L -> "the cat sat on the mat and it is a fine mat",
      3L -> "same words here", 4L -> "same words here")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val out = Dedup.keepBest(d, pairs).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("keep_id"), r.getAs[Int]("is_kept")))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 0), (2L, 1L, 2L, 1), (3L, 3L, 3L, 1), (4L, 3L, 3L, 0)))
  }

  test("corpus mix: sqrt-temperature thresholds, smallest stratum kept whole") {
    val rows = (1L to 50L).map(i => (i, s"doc $i", if (i <= 40) "en" else "fr", "s", 1L))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.corpusMix(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("keep_thr")))
    // fr (10 docs) is the floor stratum: sqrt(10/10)=1 → threshold 1000,
    // all kept. en (40): floor(1000·sqrt(10/40)) = 500.
    assert(out.count(_._2 == "fr") == 10)
    assert(out.filter(_._2 == "fr").forall(_._3 == 1000L))
    assert(out.filter(_._2 == "en").forall(_._3 == 500L))
    val expectEn = (1L to 40L).filter(i => ((i % 99991L) * 2654435761L) % 1000L < 500L)
    assert(out.filter(_._2 == "en").map(_._1).sorted.toSeq == expectEn)
    // Softer than the hard-min stratified sample: en keeps MORE here.
    val hard = TextAnalysis.stratifiedSample(d).collect()
      .count(_.getAs[String]("lang") == "en")
    assert(out.count(_._2 == "en") >= hard)
  }

  test("vocab top-k: per-language frequency ranks with count-desc, token-asc order") {
    val d = Seq(
      (1L, "a a a b b c", "en", "s", 11L),
      (2L, "x x y", "fr", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.vocabTopK(d, k = 2).orderBy("lang", "rk").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rk"),
        r.getAs[String]("token"), r.getAs[Long]("n_occurrences")))
    assert(out.toSeq == Seq(
      ("en", 1, "a", 3L), ("en", 2, "b", 2L),
      ("fr", 1, "x", 2L), ("fr", 2, "y", 1L)))
  }

  test("connected components throws rather than truncate an unconverged run") {
    import graft.operators.Components
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id1", "id2")
    // Only the distributed hash-min loop has rounds to run out of; the
    // driver union-find always finishes.
    val ex = intercept[IllegalStateException] {
      withDistributedCc(
        Components.connectedComponents(chain, "id1", "id2", maxIter = 1).collect())
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("new curation ops on degenerate inputs: empty corpus, single stratum") {
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.chunkDedup(empty).collect().isEmpty)
    assert(TextAnalysis.corpusMix(empty).collect().isEmpty)
    assert(TextAnalysis.vocabTopK(empty).collect().isEmpty)
    assert(Dedup.keepBest(empty,
      Seq.empty[(Long, Long)].toDF("id1", "id2")).collect().isEmpty)
    // Single stratum: it IS the floor — threshold 1000 keeps everything.
    val one = docs(1L -> "a b", 2L -> "c d")
    val mixed = TextAnalysis.corpusMix(one).collect()
    assert(mixed.length == 2 && mixed.forall(_.getAs[Long]("keep_thr") == 1000L))
    // k larger than the vocabulary: every token ranks, none invented.
    assert(TextAnalysis.vocabTopK(one, k = 100).count() == 4)
  }

  test("connected components on an empty pair list returns no rows") {
    import graft.operators.Components
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Components.dedupClusters(empty, "id1", "id2").collect().isEmpty)
    assert(Components.dedupClusters(empty, "id1", "id2", pointerJump = true)
      .collect().isEmpty)
  }

  test("corpus pipeline: htmlCol front — markup chrome never changes curation") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val good = ("the cat and the dog sat in the house and it was warm " * 3).trim
    val plain = Seq(
      (1L, good, "en", "src0"),
      (2L, good, "en", "src0"),
      (3L, good + " extra tail words here", "en", "src0"),
      (4L, "!!! ??? ### $$$ %%%", "en", "src0"),
      (5L, good, "zh", "src0"),
      (6L, "the bird flew to the sea and it was far away from home today", "en", "src1")
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Per-doc UNIQUE non-content chrome (title/script/comment — all
    // stripped by extraction): if markup leaked into hashing, docs 1/2
    // would stop being exact dups and the dedup verdicts would change.
    val chrome = concat(
      lit("<html><head><title>page "), col("doc_id"),
      lit("</title><script>var v="), col("doc_id"),
      lit(";</script></head><body><!-- chrome "), col("doc_id"),
      lit(" --><p>"), col("text"), lit("</p></body></html>"))
    val markup = plain.withColumn("html", chrome).drop("text")
    def res(df: org.apache.spark.sql.DataFrame, html: Option[String]) =
      CorpusPipeline.curate(df,
          pairsOf = d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.5),
          htmlCol = html)
        .select("doc_id", "text", "split").collect().toSet
    val want = res(plain, None)
    assert(res(markup, Some("html")) == want)
    // markup arriving IN the text column itself — the natural crawl
    // shape; the overwrite must not drop its own extraction
    val inPlace = plain.withColumn("text", chrome)
    assert(res(inPlace, Some("text")) == want)
  }

  test("corpus pipeline: lmDropTail cuts exactly the per-lang ppl tail, keeps no-ppl docs") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (0L, "a b a b a b a b", "en"), (1L, "a b a b c", "en"),
      (2L, "a b c d", "en"), (3L, "c d e f g", "en"),
      (4L, "q r q r", "xx"),
      (5L, "z", "en")) // one token → no ppl → must be KEPT by the cut
      .map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val noPairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.99)
    def ids(lmCut: Boolean) = CorpusPipeline.curate(rows,
        minQuality = 0.0, langs = Seq("en", "xx"),
        pairsOf = noPairs, lmDropTail = lmCut)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val base = ids(lmCut = false)
    assert(base.contains(5L), s"fixture broke: no-ppl doc gated before the cut ($base)")
    // Expected drops: exactly lmBuckets' per-lang tail over the same corpus.
    val tails = TextAnalysis.lmBuckets(rows)
      .filter(col("bucket") === "tail")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(tails.nonEmpty)
    val cut = ids(lmCut = true)
    assert(cut == base -- tails, s"cut=$cut base=$base tails=$tails")
    assert(cut.contains(5L))
  }

  test("corpus pipeline: every stage gates what it should") {
    val good = ("the cat and the dog sat in the house and it was warm " * 3).trim
    val rows = Seq(
      (1L, good, "en", "src0"),                   // kept, canonical of {1,2,3}
      (2L, good, "en", "src0"),                   // exact dup of 1 → dropped
      (3L, good + " extra tail words here", "en", "src0"), // near-dup of 1 → dropped
      (4L, "!!! ??? ### $$$ %%%", "en", "src0"),  // low quality → dropped
      (5L, good, "zh", "src0"),                   // lang gate → dropped
      (6L, "the bird flew to the sea and it was far away from home today", "en", "src1") // kept
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusPipeline.curate(rows,
        pairsOf = d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.5))
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 6L),
      s"expected docs 1 and 6 to survive, got ${out.map(_.getAs[Long]("doc_id")).mkString(",")}")
    assert(out.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
    // deterministic: same input, same split assignment
    val again = CorpusPipeline.curate(rows,
        pairsOf = d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.5))
      .orderBy("doc_id").collect().map(r => r.getAs[String]("split")).toSeq
    assert(again == out.map(_.getAs[String]("split")).toSeq)
    // keepBestQuality: the near-dup cluster {1,3} keeps its
    // highest-scoring member instead of the lowest id.
    val q = TextAnalysis.withQuality(rows)
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(1L, 3L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    val bestOf13 = Seq(1L, 3L).maxBy(id => (q(id), -id.toDouble))
    val best = CorpusPipeline.curate(rows,
        pairsOf = d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.5),
        keepBestQuality = true)
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(best == Seq(bestOf13, 6L).sorted,
      s"expected best-quality survivor $bestOf13 and 6, got $best")
  }

  test("corpus pipeline: the default near-dup emitter is the oracle-checked minhash") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val explicit = rows(CorpusPipeline.curate(docs,
      pairsOf = Dedup.minhashPairsPortable(_)))
    assert(rows(CorpusPipeline.curate(docs)) == explicit)
    assert(rows(CurateConfig.from(GraftConfig.parse("")).curate(docs)) == explicit)
    // The near-dup stage does work on this corpus: with no pairs at all,
    // the same gates keep a strict superset.
    val noNearDup = rows(CorpusPipeline.curate(docs,
      pairsOf = d => Dedup.minhashPairsPortable(d).limit(0)))
    assert(explicit.subsetOf(noNearDup) && noNearDup.size > explicit.size,
      s"no near-dup dropped: ${explicit.size} kept vs ${noNearDup.size} without pairs")
  }

  test("embed outliers: off-cluster member z-flags; singleton cell never flags") {
    // Cells seeded from vec_ids 0,1. Cell 0 gathers a tight cluster
    // around (1,0) plus one 26°-off member; cell 1 keeps only its
    // centroid (degenerate: null z, never flagged).
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0),
      (2L, Array(1f, 0.01f), 0), (3L, Array(1f, -0.01f), 0),
      (4L, Array(1f, 0.005f), 0), (5L, Array(1f, 0.5f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.embedOutliers(emb,
        graft.operators.Similarity.kmeansFit(emb, k = 2, iters = 0))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 6)
    assert(out(5L).getAs[Int]("is_outlier") == 1)
    assert(out(5L).getAs[Double]("z") < -1.5)
    Seq(0L, 2L, 3L, 4L).foreach { id =>
      assert(out(id).getAs[Int]("is_outlier") == 0, s"vec $id wrongly flagged")
    }
    val lone = out(1L)
    assert(lone.getAs[Long]("n_cell") == 1L)
    assert(lone.isNullAt(lone.fieldIndex("z")) &&
      lone.getAs[Int]("is_outlier") == 0)
  }

  test("ivf stats: hand-computed occupancy and tightness per seeded cell") {
    // Cells seeded from vec_ids 0,1: c0=(1,0), c1=(0,1). Members:
    // 2=(1,.1)→cell 0 (cos≈0.995037), 3=(.1,1)→cell 1 (same),
    // 4=(1,0)→cell 0 (cos 1.0). Occupancy: cell 0 = {0,2,4}, cell 1 =
    // {1,3}.
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0),
      (2L, Array(1f, 0.1f), 0), (3L, Array(0.1f, 1f), 0),
      (4L, Array(1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.ivfStats(emb,
        graft.operators.Similarity.kmeansFit(emb, k = 2, iters = 0))
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val c = r6(1.0 / math.sqrt(1f.toDouble * 1f + 0.1f.toDouble * 0.1f))
    def avgMicro(vs: Double*) =
      r6(vs.map(v => math.round(v * 1e6)).sum.toDouble / (vs.size * 1e6))
    assert(out == Seq(
      (0, 3L, 0.6, avgMicro(1.0, c, 1.0), c),
      (1, 2L, 0.4, avgMicro(1.0, c), c)), out.toString)
  }

  test("fuzzy decontamination: near-copies of bench docs flag, unrelated pass") {
    val bench = (1 to 40).map(i => s"tok$i").mkString(" ")   // doc 20 → bench side
    val nearCopy = bench.replace("tok7", "edited")           // paraphrase-ish leak
    val clean = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val out = graft.operators.Dedup.decontaminateFuzzy(docs(
      20L -> bench, 21L -> nearCopy, 22L -> clean
    )).collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(20L), "bench docs are not reported")
    val leak = out(21L)
    assert(leak.getAs[Int]("is_contaminated") == 1)
    assert(leak.getAs[Long]("n_bench_matches") == 1L &&
      leak.getAs[Long]("best_bench_id") == 20L)
    assert(leak.getAs[Double]("best_jaccard") > 0.9)
    val ok = out(22L)
    assert(ok.getAs[Int]("is_contaminated") == 0 &&
      ok.getAs[Long]("n_bench_matches") == 0L)
    assert(ok.isNullAt(ok.fieldIndex("best_bench_id")))

    // Fuzzy per-bench rollup: bench 20 sees the one near-copy at the
    // same Jaccard the per-doc report published; bench 40 (clean)
    // keeps its zero row.
    val rep = graft.operators.Dedup.contaminationReportFuzzy(docs(
      20L -> bench, 21L -> nearCopy, 22L -> clean, 40L -> "solo text here"
    )).orderBy("bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rep == Seq(
      (20L, 1L, leak.getAs[Double]("best_jaccard")),
      (40L, 0L, 0.0)), rep.toString)
  }

  test("corpus pipeline: opt-in normalize/gopher/classifier gates compose") {
    import org.apache.spark.sql.functions.{col, filter, lower, split}
    import graft.operators.TextSignals
    val good = ("the cat and the dog sat in the house and it was warm " * 3).trim
    val longw = "the cat and the dog sat by the " + "x" * 35 + " and it was here"
    val rows = Seq(
      (1L, "  " + good.toUpperCase + "  ", "en", "src0"), // normalizes to `good`
      (4L, longw, "en", "src0"),                 // quality-OK, gopher long_word
      (6L, "the bird flew to the sea and it was far away from home today", "en", "src1"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.5)
    // normalizeFirst: the survivor's text is canonical bytes — dedup and
    // every downstream hash see the normalized form.
    val norm = CorpusPipeline.curate(rows, pairsOf = pairs, normalizeFirst = true)
      .collect()
    assert(norm.find(_.getAs[Long]("doc_id") == 1L).get
      .getAs[String]("text") == good)
    // gopherRules: the 35-char-word doc dies only when the battery is on.
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    val plain = ids(CorpusPipeline.curate(rows, pairsOf = pairs))
    val goph = ids(CorpusPipeline.curate(rows, pairsOf = pairs, gopherRules = true))
    assert(plain.contains(4L) && !goph.contains(4L) && goph.contains(6L))
    // classifierGate: inline HOF verdict ≡ the explode+fold reporting
    // verdict, and the pipeline applies exactly it.
    val keepMap = TextSignals.qualityClassifier(rows).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    val inlineMap = rows.select(col("doc_id"), TextSignals.classifierKeepCol(
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("k")).toMap
    assert(inlineMap == keepMap)
    val cls = ids(CorpusPipeline.curate(rows, pairsOf = pairs, classifierGate = true))
    assert(cls == plain.filter(keepMap))
  }

  test("corpus pipeline: stripBoilerplate cuts chrome before gating and hashing") {
    import graft.CorpusPipeline
    val bodyA = ("the cat and the dog sat in the house and it was warm " * 3).trim
    val bodyB = ("the bird flew over the hill and the sea was calm there " * 3).trim
    val banner = "Subscribe to our newsletter now"
    val rows = Seq(
      (1L, s"$banner. $bodyA.", "en", "src0"),
      (2L, s"$bodyB. $banner.", "en", "src0"),  // banner at the other end
      (3L, s"$banner. $banner.", "en", "src0"), // chrome-only page
      (4L, s"$bodyB.", "en", "src1"))           // same body, no chrome
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => Dedup.ngramJaccardInvertedIndex(d, minJaccard = 0.99)
    val out = CorpusPipeline.curate(rows, pairsOf = pairs,
        stripBoilerplate = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // The banner (4 same-source occurrences) is gone from every
    // survivor; the chrome-only page stripped to "" and died at the
    // quality gate; bodyB stays under the per-source cut on BOTH sides
    // (one occurrence per source bucket), so docs 2 and 4 strip to the
    // SAME content bytes and exact dedup collapses them — the raw-hash
    // path cannot see that (doc 4 survives the plain run).
    assert(out.keySet == Set(1L, 2L), out.toString)
    assert(out(1L) == bodyA && out(2L) == bodyB, out.toString)
    assert(!out.values.exists(_.contains("Subscribe")), out.toString)
    val plain = CorpusPipeline.curate(rows, pairsOf = pairs).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(plain.contains(4L), plain.toString)
  }

  test("banded LSH near-dup pairs: exact parity on identical-direction clusters") {
    // Scaled copies share the hyperplane signature exactly (sign(⟨v,r⟩)
    // is scale-invariant), so every true pair is a candidate in every
    // band and exact-cosine verification admits exactly the clusters.
    val emb = Seq(
      (0L, Array(1f, 2f, 3f, 4f), 0), (1L, Array(2f, 4f, 6f, 8f), 1),
      (2L, Array(3f, 6f, 9f, 12f), 0),                       // cluster A: 0,1,2
      (3L, Array(-5f, 1f, 0f, 2f), 1), (4L, Array(-10f, 2f, 0f, 4f), 0), // cluster B: 3,4
      (5L, Array(0f, 0f, 1f, -9f), 1)                        // singleton
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.nearDupPairsLsh(emb, minCosine = 0.999)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(out == Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L)))
  }

  test("banded LSH near-dup pairs: no label quadratics, recall floor vs all-pairs") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions.lit
    // Ground truth: the label-bucketed emitter with ONE shared bucket =
    // exact all-pairs at the threshold.
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val exact = pairs(Similarity.nearDupPairs(
      emb.withColumn("label", lit(0)), minCosine = 0.55))
    // Recall-sized banding (r=4 → wider buckets, L=7 probes): the knob a
    // low-threshold mining run would pick; defaults are selectivity-sized.
    val lsh = pairs(Similarity.nearDupPairsLsh(emb, minCosine = 0.55,
      planesPerBand = 4, bands = 7))
    assert(lsh.subsetOf(exact), "exact-cosine verify must kill false positives")
    val recall = if (exact.isEmpty) 1.0 else (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"banded recall too low: $recall over ${exact.size} pairs")
    // Deterministic hyperplanes: same input, same pairs.
    assert(pairs(Similarity.nearDupPairsLsh(emb, minCosine = 0.55,
      planesPerBand = 4, bands = 7)) == lsh)
  }

  test("text quality: ratios and score on a crafted doc") {
    val out = TextAnalysis.textQuality(docs(1L -> "The cat, the hat!")).collect().head
    assert(out.getAs[Int]("n_words") == 4)
    // 17 chars, 2 punctuation marks.
    assert(math.abs(out.getAs[Double]("punct_ratio") - 2.0 / 17) < 1e-12)
    assert(math.abs(out.getAs[Double]("upper_ratio") - 1.0 / 17) < 1e-12)
    // stopword hits: the ×2 of 4 words.
    assert(math.abs(out.getAs[Double]("stop_ratio") - 0.5) < 1e-12)
    val expected = math.min(1.0, 4 / 50.0) * 0.4 + (1 - 2.0 / 17) * 0.3 +
      math.min(1.0, 0.5 * 5) * 0.3
    assert(math.abs(out.getAs[Double]("quality_score") - expected) < 1e-6)
  }

  test("pii scrub: redacts email, ip, id, phone in order; counts per stage") {
    val out = TextAnalysis.piiScrub(docs(
      1L -> "mail a.b+c@x-corp.co.uk or b@y.io from 192.168.0.1 acct 12345678901 tel +84 (28) 3822-9999",
      2L -> "clean text with no pii at all",
      3L -> "short run 1234567 is neither id nor phone")).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Int]("n_email") == 2 && r1.getAs[Int]("n_ip") == 1)
    assert(r1.getAs[Int]("n_id") == 1 && r1.getAs[Int]("n_phone") == 1)
    assert(r1.getAs[Int]("n_pii") == 5)
    assert(r1.getAs[String]("clean_text") ==
      "mail <EMAIL> or <EMAIL> from <IP> acct <ID> tel <PHONE>")
    // A clean document passes through byte-identical with zero counts.
    assert(out(1).getAs[Int]("n_pii") == 0)
    assert(out(1).getAs[String]("clean_text") == "clean text with no pii at all")
    // 7 digits: too short for the id rule (9+) and the phone rule (8+ chars).
    assert(out(2).getAs[Int]("n_pii") == 0)
  }

  test("pii scrub: ip wins over the digit-run rules; redacted spans never re-match") {
    val out = TextAnalysis.piiScrub(docs(1L -> "host 10.20.30.40 then 999888777666"))
      .collect().head
    assert(out.getAs[Int]("n_ip") == 1 && out.getAs[Int]("n_id") == 1)
    assert(out.getAs[Int]("n_phone") == 0, "tokens <IP>/<ID> must not re-match as phone")
    assert(out.getAs[String]("clean_text") == "host <IP> then <ID>")
  }

  test("pii scrub: the guarded stages equal the unguarded regex chain") {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    // Texts with and without '@' and ASCII digits, non-ASCII look-alikes
    // (fullwidth @, Arabic-Indic and fullwidth digits, which the
    // patterns' [0-9] does not match either), multi-byte text and NULL.
    val texts = Seq(
      "mail a.b+c@x-corp.co.uk from 192.168.0.1 acct 12345678901 tel +84 (28) 3822-9999",
      "no at sign but 10.0.0.1 and 555-123-4567", "a@b.io only", "@ alone", "1",
      "fullwidth ａ＠ｂ．ｉｏ and ٣٣٣٣٣٣٣٣٣٣ and １２３４５６７８９",
      "ünïcödé e-mail x@y.de, Straße 123456789", "", "plain words only", null)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src0", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val chain = TextAnalysis.PiiPatterns.foldLeft(col("text"))((c, p) =>
      regexp_replace(c, p.regex, p.replacement))
    val cols = d.select(col("doc_id"), TextAnalysis.piiScrubCol(col("text")), chain)
      .collect()
    assert(cols.forall(r => r.get(1) == r.get(2)), cols.mkString("\n"))
    // The counting form: each stage's count on the previous stage's text.
    val want = texts.map { t =>
      TextAnalysis.PiiPatterns.foldLeft((Option(t), Seq.empty[Option[Int]])) {
        case ((cur, counts), p) =>
          (cur.map(_.replaceAll(p.regex, p.replacement)),
            counts :+ cur.map(p.regex.r.findAllMatchIn(_).size))
      }
    }
    val got = TextAnalysis.piiScrub(d).orderBy("doc_id").collect()
    got.zip(want).foreach { case (r, (clean, counts)) =>
      assert(Option(r.getAs[String]("clean_text")) == clean, r.toString)
      assert(TextAnalysis.PiiPatterns.map(p => Option(r.getAs[Any](s"n_${p.name}"))
        .map(_.asInstanceOf[Int])) == counts, r.toString)
    }
  }

  test("pii report: per-source rollup agrees with the per-doc scrub") {
    val d = Seq(
      (1L, "mail a@x.io from 10.0.0.1", "en", "alpha", 0L),
      (2L, "clean", "en", "alpha", 0L),
      (3L, "tel +84 (28) 3822-9999", "en", "beta", 0L),
      (4L, "also clean", "en", "beta", 0L),
      (5L, "clean too", "en", "beta", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.piiReport(d).orderBy("source").collect()
    assert(out.length == 2)
    val a = out(0); val b = out(1)
    assert(a.getAs[String]("source") == "alpha" && a.getAs[Long]("n_docs") == 2L)
    assert(a.getAs[Long]("n_docs_with_pii") == 1L)
    assert(a.getAs[Long]("n_email") == 1L && a.getAs[Long]("n_ip") == 1L)
    assert(a.getAs[Long]("n_pii_total") == 2L)
    assert(a.getAs[Double]("pii_doc_share") == 0.5)
    assert(b.getAs[String]("source") == "beta" && b.getAs[Long]("n_docs") == 3L)
    assert(b.getAs[Long]("n_phone") == 1L && b.getAs[Long]("n_pii_total") == 1L)
    assert(b.getAs[Double]("pii_doc_share") == 0.333333)
  }

  test("blocklist filter: counts, ratio and keep threshold; joined twin agrees") {
    val d = docs(
      1L -> "good words only here yes",                   // 0/5 → keep
      2L -> "bad bad good good good good good good good", // 2/9 > 0.15 → drop
      3L -> "bad good good good good good good")          // 1/7 ≤ 0.15 → keep
    val arr = TextAnalysis.blocklistFilter(d, Seq("bad", "evil"), maxRatio = 0.15)
      .orderBy("doc_id").collect()
    assert(arr.map(_.getAs[Long]("n_blocked")).toSeq == Seq(0L, 2L, 1L))
    assert(arr.map(_.getAs[Int]("keep")).toSeq == Seq(1, 0, 1))
    val joined = TextAnalysis.blocklistFilterJoined(d,
      Seq("bad", "evil").toDF("term"), maxRatio = 0.15)
      .orderBy("doc_id").collect()
    assert(joined.map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_blocked"),
      r.getAs[Int]("keep"))).toSeq ==
      arr.map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_blocked"),
        r.getAs[Int]("keep"))).toSeq)
  }

  test("incremental dedup: canonical key collapses order/dup/case; bloom twin agrees") {
    val d = Seq(
      (1L, "Alpha beta GAMMA", "en", "seen", 16L),
      (2L, "delta epsilon", "en", "seen", 13L),
      (10L, "gamma beta alpha alpha", "en", "new", 22L), // reordered+repeated → dup of 1
      (11L, "delta zeta", "en", "new", 10L),             // novel
      (12L, "Delta Epsilon", "en", "new", 13L))          // case variant → dup of 2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val seen = org.apache.spark.sql.functions.col("source") === "seen"
    val exact = Dedup.incrementalNew(d, seen).orderBy("doc_id").collect()
    assert(exact.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 11L, 12L))
    assert(exact.map(_.getAs[Int]("is_new")).toSeq == Seq(0, 1, 0))
    // The bloom pre-filtered path returns exactly the same rows: misses
    // are definite-new (no false negatives), hits are join-confirmed.
    val bloomDf = Dedup.incrementalNewBloom(d, seen, expectedItems = 100L)
    val bloom = bloomDf.orderBy("doc_id").collect()
    assert(bloom.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("is_dup"),
      r.getAs[Int]("is_new"))).toSeq ==
      exact.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("is_dup"),
        r.getAs[Int]("is_new"))).toSeq)
    // Plan contract (round-6 verdict): the bloom probe is the codegen'd
    // might_contain expression over a literal sketch, never a Scala UDF
    // — a UDF on the full incoming-corpus scan would break whole-stage
    // codegen on the exact path this operator exists to accelerate.
    // RDD-backed input: a LocalRelation fixture constant-folds the
    // probe away (ConvertToLocalRelation) before the physical plan
    // exists.
    val dRdd = spark.createDataFrame(d.rdd, d.schema)
    val physical = Dedup.incrementalNewBloom(dRdd, seen,
      expectedItems = 100L).queryExecution.executedPlan.toString
    assert(!physical.contains("ScalaUDF") && !physical.contains("BatchEvalPython"),
      s"bloom probe must stay inside codegen, got:\n$physical")
    assert(physical.contains("might_contain"),
      s"definite-new branch should probe via might_contain, got:\n$physical")
  }

  test("incremental bloom dedup: an empty seen-set makes every incoming row new") {
    // stat.bloomFilter over zero rows yields a null sketch; the operator
    // must build an empty one instead of NPE-ing on it.
    val d = Seq(
      (10L, "gamma beta alpha", "en", "new", 16L),
      (11L, "delta zeta", "en", "new", 10L),
      (12L, "delta zeta", "en", "new", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val seen = org.apache.spark.sql.functions.col("source") === "seen"
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("is_dup"), r.getAs[Int]("is_new"))).toSeq
    val bloom = verdicts(Dedup.incrementalNewBloom(d, seen, expectedItems = 100L))
    assert(bloom == Seq((10L, 0, 1), (11L, 0, 1), (12L, 0, 1)))
    assert(bloom == verdicts(Dedup.incrementalNew(d, seen)))
  }

  test("bloom driver budget: over-budget sketches raise with the exact-join pointer (VERDICT r10 #4)") {
    val d = Seq((1L, "alpha beta", "en", "seen", 10L),
      (10L, "gamma delta", "en", "new", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val seen = org.apache.spark.sql.functions.col("source") === "seen"
    // The formula matches the stated contract: ~2.2e8 keys at fpp 0.01
    // fit the 256 MB budget, 1e9 do not.
    assert(Dedup.bloomSketchBytes(220000000L, 0.01) <= Dedup.MaxBloomSketchBytes)
    assert(Dedup.bloomSketchBytes(1000000000L, 0.01) > Dedup.MaxBloomSketchBytes)
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalNewBloom(d, seen, expectedItems = 1000000000L))
    assert(e.getMessage.contains("incrementalNew"), e.getMessage)
    intercept[IllegalArgumentException](
      Dedup.incrementalNewBloom(d, seen, expectedItems = 100L, fpp = 1.5))
    intercept[IllegalArgumentException](
      Dedup.incrementalNewBloom(d, seen, expectedItems = 0L))
    intercept[IllegalArgumentException](
      Dedup.benchGramBloom(d, expectedItems = 4000000000L))
    // In-budget builds still work end-to-end.
    assert(Dedup.incrementalNewBloom(d, seen, expectedItems = 100L).count() == 1L)
  }

  test("corpus diff: all four statuses, NULL text diffs as a value") {
    import graft.operators.Snapshot
    val old = Seq((1L, "aaa"), (2L, "bbb"), (3L, null: String),
      (5L, "eee"), (6L, null: String)).toDF("doc_id", "text")
    val nw = Seq((2L, "BBB"), (3L, null: String), (4L, "ddd"),
      (5L, "eee"), (6L, "x")).toDF("doc_id", "text")
    val out = Snapshot.corpusDiff(old, nw).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "removed", 3L, 0L),
      (2L, "changed", 3L, 3L),
      (3L, "unchanged", 0L, 0L), // NULL == NULL: same content
      (4L, "added", 0L, 3L),
      (5L, "unchanged", 3L, 3L),
      (6L, "changed", 0L, 1L)), out.toString) // NULL → text IS a change
    val st = Snapshot.diffStats(Snapshot.corpusDiff(old, nw))
      .orderBy("status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(st == Seq(
      ("added", 1L, 0L, 3L),
      ("changed", 2L, 3L, 4L),
      ("removed", 1L, 3L, 0L),
      ("unchanged", 2L, 3L, 3L)), st.toString)
  }

  test("length profile: exact quantiles on a hand-checked stratum") {
    // Word counts 1..4 in one stratum: p25 = 1.75, p50 = 2.5, p75 = 3.25,
    // p90 = 3.7 under the (n-1)p linear interpolation both engines use.
    val d = docs(1L -> "a", 2L -> "a b", 3L -> "a b c", 4L -> "a b c d")
    val r = TextAnalysis.lengthProfile(d).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Int]("min_words") == 1 && r.getAs[Int]("max_words") == 4)
    assert(r.getAs[Double]("p25_words") == 1.75)
    assert(r.getAs[Double]("p50_words") == 2.5)
    assert(r.getAs[Double]("p75_words") == 3.25)
    assert(r.getAs[Double]("p90_words") == 3.7)
    // The sketch twin agrees within its accuracy envelope on small data.
    val a = TextAnalysis.lengthProfileApprox(d).collect().head
    assert(math.abs(a.getAs[Int]("p50_words") - 2.5) <= 1.0)
  }

  // Round-8: the posting self-join density guard (r7 verdict's one new
  // scale finding). A shingle shared by df docs of one (source, lang)
  // bucket emits df²/2 self-join rows — planted viral shingle must
  // raise, stop-shingle mode must drop it and keep the rest exact.
  private val viralDocs = docs(
    1L -> "vi ral a b x1",
    2L -> "vi ral a b x2",
    3L -> "vi ral c3 d3",
    4L -> "vi ral c4 d4",
    5L -> "vi ral c5 d5")

  test("posting self-joins fail loudly on a viral shingle instead of going quadratic") {
    // "vi ral" appears in all 5 docs of the (src0, en) bucket: df=5 > 3.
    val e1 = intercept[Exception] {
      Dedup.ngramJaccardInvertedIndex(viralDocs, 0.01, maxPostingDf = 3).collect()
    }
    assert(e1.getMessage.contains("maxPostingDf"), e1.getMessage)
    val e2 = intercept[Exception] {
      Dedup.containmentPairs(viralDocs, 0.1, maxPostingDf = 3).collect()
    }
    assert(e2.getMessage.contains("maxPostingDf"), e2.getMessage)
    // At or under the budget the exact semantics are untouched.
    assert(Dedup.ngramJaccardInvertedIndex(viralDocs, 0.01, maxPostingDf = 5)
      .count() > 0)
  }

  test("stop-shingle mode drops boilerplate and measures the kept vocabulary") {
    // df("vi ral")=5 > 4 → dropped; df("ral a")=df("a b")=2 kept.
    // Kept sets: d1 {ral a, a b, b x1}, d2 {ral a, a b, b x2} → J = 2/4;
    // d3..d5 share nothing after the drop, so (1,2) is the ONLY pair.
    val out = Dedup.ngramJaccardInvertedIndex(viralDocs, 0.01,
      stopShingleDf = Some(4)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("id1") == 1L && r.getAs[Long]("id2") == 2L)
    assert(r.getAs[Long]("n_common") == 2L && r.getAs[Long]("n_union") == 4L)
    assert(r.getAs[Double]("jaccard") == 0.5)
    // Containment over the same kept vocabulary: 2/min(3,3).
    val c = Dedup.containmentPairs(viralDocs, 0.5, stopShingleDf = Some(4)).collect()
    assert(c.length == 1)
    assert(c.head.getAs[Double]("containment") == math.rint(2.0 / 3 * 1e6) / 1e6)
  }

  test("curate_incremental: add-only curation equals full re-curation (the composition law)") {
    val good = ("the cat and the dog sat in the house and it was warm " * 3).trim
    val other = "the bird flew to the sea and it was far away from home today"
    // Prior corpus (ids 1–5) and an id-monotone additions batch
    // (ids 11–15) exercising every case of the law's analysis: an
    // addition duplicating a RETAINED prior doc (11 vs 1 — dropped), an
    // addition duplicating a prior doc the GATE removed (12 vs 4 — but
    // 12 itself fails the gate too, so absent on both paths), an
    // in-batch duplicate pair (13/14 — lowest addition id survives),
    // and a novel addition (15).
    val prior = Seq(
      (1L, good, "en", "src0"),
      (2L, good + " extra and different tail words in this one", "en", "src0"),
      (3L, other, "en", "src1"),
      (4L, "!!! ??? ###", "en", "src0"),
      (5L, good, "zh", "src0"))
    val adds = Seq(
      (11L, good, "en", "srcX"),
      (12L, "!!! ??? ###", "en", "srcX"),
      (13L, other + " plus a brand new ending for the batch", "en", "srcY"),
      (14L, other + " plus a brand new ending for the batch", "en", "srcY"),
      (15L, "the fox ran over the hill and the field while the sun was warm and high", "en", "srcY"))
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val incremental = CorpusPipeline.curateIncremental(
        CorpusPipeline.curateLite(df(prior)), df(adds))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val full = CorpusPipeline.curateLite(df(prior ++ adds))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(incremental == full,
      s"add-only path diverged from full re-curation:\n$incremental\nvs\n$full")
    assert(incremental.map(_.head) == Seq(1L, 2L, 3L, 13L, 15L),
      incremental.map(_.head).toString)
    // The opt-in precondition check (ADVICE r10): a monotone batch
    // passes, a batch whose ids overlap the prior range raises loudly
    // instead of silently keeping the prior doc where full re-curation
    // would keep the lower-id addition.
    val checked = CorpusPipeline.curateIncremental(
        CorpusPipeline.curateLite(df(prior)), df(adds),
        checkIdMonotonic = true)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(checked == full)
    val overlapping = adds.map { case (id, t, l, s) => (id - 10L, t, l, s) }
    intercept[IllegalArgumentException](CorpusPipeline.curateIncremental(
      CorpusPipeline.curateLite(df(prior)), df(overlapping),
      checkIdMonotonic = true))
    // empty additions are trivially monotone under the check
    assert(CorpusPipeline.curateIncremental(
      CorpusPipeline.curateLite(df(prior)), df(adds).limit(0),
      checkIdMonotonic = true).count() ==
      CorpusPipeline.curateLite(df(prior)).count())
  }
}
