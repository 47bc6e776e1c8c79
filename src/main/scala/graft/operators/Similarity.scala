package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §2 #41–43): near-duplicate pair
  * mining, brute-force cosine top-k, and random-hyperplane-LSH ANN.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * over the corpus scan — one pass, no shuffle of the corpus. The
  * near-dup pair path never runs all-pairs: it joins within coarse
  * buckets (the label column plays the IVF coarse-quantizer role; at
  * real scale that's a k-means assignment computed the same way). The
  * LSH path buckets both sides on a signature key. All dot products are
  * Catalyst `aggregate`/`zip_with` folds over the vector arrays — left
  * folds with a 0.0 seed, so results are bitwise-reproducible.
  */
object Similarity {

  /** Vector as double array (float→double widening is exact). */
  private def vd(c: Column): Column = c.cast("array<double>")

  /** Native codegen'd dot product (graft.functions.DotProduct): same
    * sequential 0-seeded summation order as the HOF fold it replaced —
    * bitwise-identical results, primitive loop instead of interpreted
    * per-element lambdas.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.vec_dot(a, b)

  def l2norm(a: Column): Column = graft.functions.VectorOps.vec_norm(a)

  /** Corpus with precomputed double vector + norm (computed once, reused
    * by every pair the row participates in).
    */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("v", vd(col("embedding")))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0)

  /** #41 embed_near_dup: cosine ≥ τ pairs within the same coarse bucket
    * (label). Never all-pairs: the join key is the bucket id — but the
    * candidate count is still QUADRATIC in per-label density, so a
    * degenerate label silently turns this into all-pairs. The guard
    * makes that misuse fail loudly: any label wider than `maxLabelRows`
    * raises before the join expands (the same fail-don't-degrade
    * contract as `graft.functions.ListPairs`, except exactness here forbids
    * star-capping — capped output would break the operator's "every
    * qualifying pair" semantics and its oracle). For corpora past the
    * guard, [[nearDupPairsLsh]] is the scale path.
    */
  def nearDupPairs(embeddings: DataFrame, minCosine: Double = 0.4,
                   maxLabelRows: Int = 10000): DataFrame = {
    val e = withNorm(embeddings)
    // Tiny frame (one row per label); the raise_error is kept alive by
    // the filter so column pruning can't drop the check.
    val guard = e.groupBy(col("label")).agg(count(lit(1)).as("__n"))
      .withColumn("__chk",
        when(col("__n") > maxLabelRows, raise_error(concat(
          lit(s"nearDupPairs: label bucket wider than maxLabelRows=$maxLabelRows (n="),
          col("__n").cast("string"),
          lit(") — the within-label join would go quadratic; " +
            "use nearDupPairsLsh at this density"))))
          .otherwise(lit(1)))
    val a = e.select(col("label"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
      .join(broadcast(guard), Seq("label"))
      .filter(col("__chk") === 1).drop("__n", "__chk")
    val b = e.select(col("label"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos_sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos_sim") >= minCosine)
      .select(col("label"), col("id1"), col("id2"), col("cos_sim"))
  }

  /** Scale-safe near-dup pair emitter: banded random-hyperplane LSH —
    * the default emitter for cluster resolution at corpus scale. The
    * label-bucketed [[nearDupPairs]] is oracle-checkable but quadratic
    * in per-label density; here candidates come from `bands` independent
    * signature tables of `planesPerBand` hyperplanes each (the minhash
    * banding scheme applied to hyperplane bits), so a pair is a
    * candidate iff some band agrees on all its bits: recall =
    * 1 − (1 − p^r)^L with p the per-plane agreement — ≈0.998 at cosine
    * 0.9 with r=4, L=8. Exact cosine then verifies every candidate, so
    * false positives cost time, never correctness.
    *
    * Shape: ONE signature computation per vector, exploded into L
    * narrow (band, bandSig, id) rows; candidates come from a bucket
    * collect + local pair expansion (the minhash plan — computes the
    * signature subtree once, where a self-join would derive it twice),
    * star-capped at `maxBucket` so one degenerate bucket can never go
    * quadratic; verification joins vectors back for the (distinct)
    * candidate set only. Never all-pairs, never label-density-quadratic.
    *
    * Sizing contract: random (non-dup) pairs collide per band at rate
    * 2^(−r), so candidate volume ≈ L·n²/2^r + true-pair volume — `r`
    * (planesPerBand) must grow with log₂(corpus density) to keep buckets
    * bounded, exactly like any LSH index. The defaults (r=7, L=4) fit
    * the test corpus; at 100 TB they are config, not code.
    */
  def nearDupPairsLsh(embeddings: DataFrame, minCosine: Double = 0.4,
                      planesPerBand: Int = 7, bands: Int = 4,
                      maxBucket: Int = 512): DataFrame = {
    require(planesPerBand * bands <= 30, "signature must fit a positive int")
    val e = withNorm(embeddings)
    val mask = (1 << planesPerBand) - 1
    val bandKeys = e
      .withColumn("sig", lshSignature(col("v"), planesPerBand * bands))
      .select(col("vec_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * planesPerBand)
            .bitwiseAND(lit(mask)).as("bsig"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.bsig").as("bsig"))
    val cands = bandKeys
      .groupBy(col("band"), col("bsig"))
      .agg(sort_array(collect_list(col("vec_id"))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .select(graft.functions.ListPairs.listPairs(col("xs"), maxBucket))
      // A pair can agree in several bands — dedupe before the (heavier)
      // vector verify so the dot product runs once per pair.
      .select(col("a").as("id1"), col("b").as("id2")).distinct()
    val vecs = e.select(col("vec_id"), col("v"), col("nrm"))
    cands
      .join(vecs.select(col("vec_id").as("id1"), col("v").as("v1"),
        col("nrm").as("n1")), Seq("id1"))
      .join(vecs.select(col("vec_id").as("id2"), col("v").as("v2"),
        col("nrm").as("n2")), Seq("id2"))
      .withColumn("cos_sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos_sim") >= minCosine)
      .select(col("id1"), col("id2"), col("cos_sim"))
  }

  /** #42 ann_cosine_topk: brute-force exact top-k per query vector. The
    * query side (vec_id < nQueries) is broadcast; ranking is per-query
    * over rounded cosine with id tie-break (deterministic across
    * engines) via the bounded [[TopK.groupedWithRank]] aggregate — the
    * map side truncates to k per query before the shuffle, so the
    * corpus scan never funnels into nQueries reducer tasks.
    */
  def cosineTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("nrm").as("cn"), col("label"))
    val cand = broadcast(queries).join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        Publish.round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .select(col("query_id"), col("neighbor_id"), col("label"), col("cos_sim"))
    TopK.groupedWithRank(cand, Seq(col("query_id")), k,
        Seq(TopK.descNum(col("cos_sim")), col("neighbor_id")))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("label"),
        col("cos_sim"))
  }

  /** Hyperplane component r_p[i] = xxhash64("p#i") mapped to [−1, 1] —
    * deterministic, no RNG state. Evaluated ONCE on the driver (the
    * value depends only on (plane, index), never on data) via the same
    * Catalyst XxHash64 the executor-side formula used, so signatures are
    * bit-identical to the old per-row evaluation.
    */
  private[operators] def planeComponent(p: Int, i: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // seed 42L = the `xxhash64` SQL function's default
    XxHash64(Seq(Literal(s"$p#$i")), 42L).eval(null).asInstanceOf[Long].toDouble /
      9.223372036854776e18
  }

  /** Random-hyperplane signature: bit p = sign of ⟨v, r_p⟩. Each
    * hyperplane ships as a LITERAL array into the codegen'd `vec_dot`
    * loop — the original formulation computed the hash per element per
    * row inside an interpreted HOF lambda (planes × dim × rows string
    * hashes; the profile-dominant cost of every LSH operator at sf0.1).
    * `maxDim` bounds the shipped literals; a vector longer than it
    * would project onto the first `maxDim` coordinates ONLY — that
    * silently changes bucketing, so it raises at runtime instead
    * (raise_error in the signature path): widen `maxDim` for wider
    * embeddings (cost is plan-size only).
    */
  def lshSignature(v: Column, planes: Int, maxDim: Int = 128): Column = {
    val bits = (0 until planes).map { p =>
      val plane = typedlit(Array.tabulate(maxDim)(i => planeComponent(p, i)))
      when(dot(v, plane) > 0, lit(1 << p)).otherwise(lit(0))
    }
    when(size(v) > maxDim,
      raise_error(concat(
        lit(s"lshSignature: vector wider than maxDim=$maxDim (dim="),
        size(v).cast("string"),
        lit(") — signature would silently truncate; raise maxDim"))))
      .otherwise(bits.reduce(_ + _))
  }

  /** #43 ann_lsh_topk: queries probe their signature bucket plus every
    * bucket at hamming distance 1 (multi-probe — planes+1 probes per
    * query, the standard recall lever that avoids growing the table);
    * exact cosine ranks the bucket survivors. Planes=4 ⇒ 16 buckets —
    * sized for the test corpus's weak cosine structure (per-plane
    * agreement ≈ 0.57 at cos 0.2, so recall falls geometrically with
    * planes); at scale, planes and probe radius are parameter changes,
    * same plan shape.
    */
  def lshTopK(embeddings: DataFrame, planes: Int = 4, nQueries: Int = 10,
              k: Int = 5, multiProbe: Boolean = true): DataFrame = {
    val e = withNorm(embeddings)
      .withColumn("sig", lshSignature(col("v"), planes))
    val probes =
      if (multiProbe) array(col("sig") +:
        (0 until planes).map(p => col("sig").bitwiseXOR(lit(1 << p))): _*)
      else array(col("sig"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probes).as("sig"))
    val cand = broadcast(queries)
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("sig")), Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        Publish.round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      // no dedup needed: probe sigs are pairwise distinct and a neighbor
      // has exactly one sig, so each (query, neighbor) matches once.
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    TopK.groupedWithRank(cand, Seq(col("query_id")), k,
        Seq(TopK.descNum(col("cos_sim")), col("neighbor_id")))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos_sim"))
  }

  /** #43g ann_recall: recall@k of the LSH index against brute-force
    * ground truth — the index-quality dial every approximate index is
    * tuned by (the FAISS benchmark's headline metric). Per query:
    * |LSH top-k ∩ exact top-k| / k.
    *
    * Both arms are the existing bounded-TopK operators, so the
    * evaluation costs two index probes plus a (nQueries × k)-row join —
    * at 100 TB you run it on a query SAMPLE and the corpus-side cost is
    * the two searches themselves, never a third scan. The intersection
    * join is at most nQueries·k rows per side: driver-trivial,
    * broadcast by size.
    */
  def annRecall(embeddings: DataFrame, planes: Int = 4, nQueries: Int = 10,
                k: Int = 5): DataFrame = {
    val truth = cosineTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = lshTopK(embeddings, planes, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", Publish.round6(col("n_hits") / lit(k.toDouble)))
  }

  /** #43b ann_ivf_topk: inverted-file ANN — the production scale path
    * next to [[lshTopK]]. The coarse quantizer is a fitted artifact,
    * `coarse` = [[kmeansFit]]'s centroids (at 100 TB you fit on a corpus
    * sample — `kmeansFit(e.sample(…), …)` — and assign everything; the
    * fit input is bounded, not corpus-sized). Each corpus vector lands
    * in its nearest centroid's cell via the (tiny) centroid literal
    * table + map-side-combinable min_by aggregate — no UDF in the
    * corpus-scale path. Search: each query ranks the centroids, probes
    * its `nProbe` nearest cells, and ranks the survivors by exact
    * cosine. Cost per query ≈ nProbe/#cells of one corpus scan — the
    * recall/cost dial. Deterministic: (distance, cell) and (cos, id)
    * tie-breaks. With `kmeansFit(e, k, iters = 0)` (the first k
    * nonzero-norm vectors by vec_id) it carries the cross-engine oracle.
    */
  def ivfTopK(embeddings: DataFrame, coarse: Array[Array[Double]],
              nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(embeddings)
    // Nearest cell per corpus vector: |c|² − 2⟨v,c⟩ ranks cells (the
    // |v|² term is constant per vector). Centroids are DRIVER-known,
    // so the argmin is a narrow projection over a
    // literal (cell, |c|², centroid) table — array_min over per-cell
    // structs with (d2, cell) lexicographic tie-break. No crossJoin, no
    // per-vector groupBy: zero Exchange between the corpus scan and its
    // cell assignment.
    // r12: one native CentroidDists node (bit-identical d2/tie-break)
    // replaces the per-cell literal forest — see CentroidOps.
    val cellDists = graft.functions.CentroidOps.centroidDists(
      col("v"), coarse.toSeq.map(_.toSeq), "cell")
    val assigned = e
      .withColumn("m", array_min(cellDists))
      .select(col("vec_id").as("neighbor_id"), col("m.cell").as("cell"),
        col("v").as("cv"), col("nrm").as("cn"))

    // Query-side probe ranking reuses the same distance array; the
    // nProbe smallest cells come from slicing the sorted struct array —
    // driver-small input (nQueries rows), no window needed.
    val probed = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(slice(sort_array(cellDists), 1, nProbe)).as("pc"))
      .select(col("query_id"), col("qv"), col("qn"), col("pc.cell").as("cell"))

    val cand = broadcast(probed).join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        Publish.round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("cos_sim"))
    TopK.groupedWithRank(cand, Seq(col("query_id")), k,
        Seq(TopK.descNum(col("cos_sim")), col("neighbor_id")))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cell"),
        col("cos_sim"))
  }

  /** #43c ann_pq_topk: product-quantization ANN (ADC — asymmetric
    * distance computation; Jégou et al. 2011, the FAISS IndexPQ shape).
    * THE memory-scale path of the ANN family: each corpus vector is
    * stored as `m` sub-space code bytes instead of 4·dim float bytes
    * (64-dim float32 = 256 B → 8 B at m=8: 32×), so a 100 TB embedding
    * corpus scans as ~3 TB of codes — the difference between an
    * in-memory index and re-reading parquet per query batch.
    *
    * Build: vectors are unit-normalized, each of the `m` sub-vectors is
    * quantized to its nearest of `ksub` codebook entries — the codebook
    * is a driver-known model artifact ([[pqCodebook]], tiny by
    * contract), so encoding is a literal-struct `array_min` projection
    * over the corpus scan: zero Exchange, no UDF. Search: each query
    * precomputes its ksub×m distance lookup table ONCE (on its own
    * row); candidate scoring is then `m` array lookups + adds per pair
    * — never a dot product against the corpus — and approximate cosine
    * is 1 − d²/2 on the unit sphere. Ranking is two bounded stages:
    * ADC top-(k·refine) via the map-side-truncating [[TopK]] aggregate,
    * then an exact-cosine re-rank that reads full vectors for ONLY the
    * k·refine·nQueries survivors (the FAISS refine stage) — the full
    * corpus never ships float vectors anywhere.
    */
  def pqTopK(embeddings: DataFrame, codebook: Array[Array[Array[Double]]],
             nQueries: Int = 10, k: Int = 5, refine: Int = 4): DataFrame = {
    val e = withUnit(embeddings)
    val m = codebook.length
    val cn2 = pqCn2(codebook)
    // r11: fan the encode out and MATERIALIZE the codes (tiny rows: id +
    // m codes) before the ADC crossjoin — localCheckpoint makes it
    // impossible for the optimizer to inline the 128-literal-dot encode
    // above the join and re-run it per (query, row) pair (the measured
    // failure mode of a bare repartition here), and the narrow
    // embedding scan no longer single-threads the encode.
    // Routed through the Ckpt seam (ADVICE r11 #4) so the reliable-
    // checkpoint config applies on preemptible clusters; 'local' mode
    // is the same localCheckpoint as before.
    val corpus = graft.Ckpt.frame(Skew.fanOutScan(e, "vec_id")
      .select(col("vec_id").as("neighbor_id"),
        pqCodesCol(codebook, cn2).as("codes")))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), pqLutCol(codebook, cn2).as("lut"))

    // ADC scan: the corpus side carries ONLY (id, codes). Broadcast the
    // query side.
    val adc = broadcast(queries.select(col("query_id"), col("lut")))
      .join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_cos", pqAdcCol(m))
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"))
    val shortlist = TopK.groupedWithRank(adc, Seq(col("query_id")), k * refine,
        Seq(TopK.descNum(col("adc_cos")), col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"))

    // Refine: exact cosine for the shortlist only — full vectors join
    // back for k·refine·nQueries rows, not the corpus. The shortlist is
    // bounded by contract, so BROADCAST it into the corpus scan: the
    // corpus side never shuffles for this join.
    val refined = broadcast(shortlist
      .join(broadcast(queries.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id")))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("neighbor_id"))
      .withColumn("cos_sim",
        Publish.round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"), col("cos_sim"))
    TopK.groupedWithRank(refined, Seq(col("query_id")), k,
        Seq(TopK.descNum(col("cos_sim")), col("neighbor_id")))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_cos"),
        col("cos_sim"))
  }

  /** The PQ codebook artifact: `cb(subspace)(code)` = centroid
    * sub-vector, fit per subspace by driver Lloyd ([[fitSubCodebook]])
    * on the first `sampleN` nonzero-norm unit vectors by vec_id (at
    * 100 TB a quantizer trains on a bounded sample and assigns
    * everything — the fit input never scales with the corpus). Lloyd's
    * init is the first `ksub` sample points, so `iters = 0` is the
    * sampled-data-points-as-codes codebook that carries the
    * cross-engine oracle for the encode → LUT → ADC → refine machinery.
    */
  def pqCodebook(embeddings: DataFrame, m: Int, ksub: Int, iters: Int = 5,
                 sampleN: Int = 256): Array[Array[Array[Double]]] = {
    val sample = withNorm(embeddings).orderBy(col("vec_id")).limit(sampleN)
      .select(col("v"), col("nrm")).collect()
      .map(r => r.getSeq[Double](0).toArray.map(_ / r.getDouble(1)))
    require(sample.length >= ksub,
      s"pq: corpus has only ${sample.length} nonzero vectors; need $ksub")
    val dim = sample.head.length
    require(sample.forall(_.length == dim), "pq: embeddings must share one dimension")
    require(m > 0 && dim % m == 0, s"pq: dim $dim must divide evenly into m=$m subspaces")
    val ds = dim / m
    Array.tabulate(m) { mi =>
      fitSubCodebook(sample.map(_.slice(mi * ds, mi * ds + ds)), ksub, iters)
    }
  }

  /** #43d ann_ivfpq_topk: IVF-PQ — the composed FAISS production index
    * (IndexIVFPQ): the coarse quantizer prunes WHICH vectors each query
    * scans (nProbe/#cells of the corpus), PQ compresses WHAT the scan
    * reads (m code bytes per vector). Composed, a 100 TB embedding
    * corpus serves queries from ~nProbe/#cells × 3 TB of codes — both
    * scale levers at once, which is why this is the shape production
    * vector stores actually deploy.
    *
    * Codes are computed on the raw unit vector, not the cell residual
    * (FAISS `by_residual=false` mode): one encode for the whole corpus,
    * cells only restrict candidates, and the ADC machinery is exactly
    * [[pqTopK]]'s. Search: rank cells by the coarse argmin structs,
    * probe `nProbe`, ADC-score only the candidates in probed cells,
    * bounded-TopK shortlist, exact-cosine refine over the survivors.
    * Both levels are fitted artifacts: `coarse` from [[kmeansFit]]
    * (raw vectors), `codebook` from [[pqCodebook]] (unit vectors).
    */
  def ivfpqTopK(embeddings: DataFrame, coarse: Array[Array[Double]],
                codebook: Array[Array[Array[Double]]], nProbe: Int = 4,
                nQueries: Int = 10, k: Int = 5, refine: Int = 4): DataFrame = {
    val e = withUnit(embeddings)
    val m = codebook.length
    val cn2 = pqCn2(codebook)
    // Coarse cell argmin: the ivfTopK literal-struct projection (raw
    // vectors, as kmeansFit fits them); PQ codes ride the SAME
    // projection — one corpus pass emits (id, cell, codes).
    val cellDists = graft.functions.CentroidOps.centroidDists(
      col("v"), coarse.toSeq.map(_.toSeq), "cell")
    val corpus = e
      .withColumn("m", array_min(cellDists))
      .select(col("vec_id").as("neighbor_id"), col("m.cell").as("cell"),
        pqCodesCol(codebook, cn2).as("codes"))
    val qbase = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), pqLutCol(codebook, cn2).as("lut"),
        slice(sort_array(cellDists), 1, nProbe).as("pcs"))
    val probes = qbase
      .select(col("query_id"), col("lut"), explode(col("pcs")).as("pc"))
      .select(col("query_id"), col("lut"), col("pc.cell").as("cell"))
    // ADC only over candidates in probed cells: the broadcast probe
    // table keys the corpus scan by cell — nProbe/#cells of the code
    // table per query, never the whole corpus.
    val adc = broadcast(probes).join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_cos", pqAdcCol(m))
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("adc_cos"))
    val shortlist = TopK.groupedWithRank(adc, Seq(col("query_id")), k * refine,
        Seq(TopK.descNum(col("adc_cos")), col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("adc_cos"))
    val refined = broadcast(shortlist
      .join(broadcast(qbase.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id")))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("neighbor_id"))
      .withColumn("cos_sim",
        Publish.round6(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        col("adc_cos"), col("cos_sim"))
    TopK.groupedWithRank(refined, Seq(col("query_id")), k,
        Seq(TopK.descNum(col("cos_sim")), col("neighbor_id")))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cell"),
        col("adc_cos"), col("cos_sim"))
  }

  /** Corpus with unit-normalized double vector (zero-norm rows dropped —
    * they have no direction to quantize).
    */
  // r11 note: a fanOutScan + native vec_divide variant was measured and
  // REVERTED — repartitioning below the ADC crossjoin moved the encode
  // projection above the join boundary and the optimizer re-evaluated
  // the 128-literal-dot codes column once per (query, row) pair instead
  // of once per row (taskTime 2.4 s → 46 s at sf0.1). The single-pass
  // encode depends on this exact stage shape; leave it alone.
  private def withUnit(embeddings: DataFrame): DataFrame =
    withNorm(embeddings).withColumn("u", transform(col("v"), x => x / col("nrm")))

  /** Per-subspace Lloyd fit on the driver sample: init = first `ksub`
    * points, assign by (d², index)-lexicographic argmin, recompute
    * means, empty cells keep their centroid. Deterministic — no RNG,
    * no data-order dependence beyond the deterministic sample itself.
    */
  private def fitSubCodebook(points: Array[Array[Double]], ksub: Int,
                             iters: Int): Array[Array[Double]] = {
    var cents = points.take(ksub).map(_.clone)
    for (_ <- 0 until iters) {
      val assign = points.map { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < p.length) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
      cents = cents.indices.map { c =>
        val mine = points.indices.filter(assign(_) == c)
        if (mine.isEmpty) cents(c)
        else {
          val s = new Array[Double](points.head.length)
          mine.foreach { pi =>
            var i = 0
            while (i < s.length) { s(i) += points(pi)(i); i += 1 }
          }
          s.map(_ / mine.size)
        }
      }.toArray
    }
    cents
  }

  /** Driver-side |c|² per (subspace, code): same left-to-right
    * 0.0-seeded sum as vec_dot, so both engines' d² arithmetic agrees
    * bitwise.
    */
  private def pqCn2(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map(_.foldLeft(0.0)((s, x) => s + x * x)))

  private def pqSubv(c: Column, mi: Int, ds: Int): Column =
    slice(c, mi * ds + 1, ds)

  /** Encode: per subspace, argmin over literal (d², code) structs —
    * |u_m|² is constant per (row, subspace) so d² ranks on
    * |c|² − 2⟨u_m, c⟩. One narrow projection over the corpus scan;
    * the full-width vector drops out of the plan right here.
    */
  private def pqCodesCol(cb: Array[Array[Array[Double]]],
                         cn2: Array[Array[Double]]): Column = {
    val ds = cb(0)(0).length
    // r12: one native CentroidDists node per subspace replaces the
    // ksub-struct literal forest — d2 floats and argmin tie-break are
    // bit-identical (see graft.functions.CentroidOps), the driver stops
    // optimizing m·ksub·ds literal nodes per query.
    array(cb.indices.map { mi =>
      array_min(graft.functions.CentroidOps.centroidDists(
        pqSubv(col("u"), mi, ds), cb(mi).toSeq.map(_.toSeq), "c")).getField("c")
    }: _*)
  }

  /** Per-query LUT: lut(mi)(ci) = full d²(q_mi, c) including the |q_m|²
    * term, so summed ADC is a true squared distance on the unit sphere
    * and 1 − d²/2 a true approximate cosine. Computed once per query
    * ROW (nQueries rows), never per pair.
    */
  private def pqLutCol(cb: Array[Array[Array[Double]]],
                       cn2: Array[Array[Double]]): Column = {
    val ds = cb(0)(0).length
    // r12: native per-subspace LUT row — the (⟨q,q⟩ + |c|²) − 2⟨q,c⟩
    // add/subtract order is replicated exactly (CentroidLut).
    array(cb.indices.map { mi =>
      graft.functions.CentroidOps.centroidLut(
        pqSubv(col("u"), mi, ds), cb(mi).toSeq.map(_.toSeq))
    }: _*)
  }

  /** ADC approximate cosine from `lut`/`codes` columns: m array lookups
    * + a left-fold add chain (ascending subspace — the order the oracle
    * replays), never a dot product against the corpus.
    */
  private def pqAdcCol(m: Int): Column =
    Publish.round6(lit(1.0) -
      (0 until m).map(mi => element_at(element_at(col("lut"), mi + 1),
        element_at(col("codes"), mi + 1) + 1)).reduce(_ + _) / lit(2.0))

  /** #41b semantic_dedup: SemDeDup (Abbas et al. 2023) — semantic
    * deduplication over embedding clusters. Near-duplicate SEMANTICS
    * (paraphrases, re-renders, boilerplate variants) survive lexical
    * dedup; SemDeDup catches them by clustering the embedding space
    * coarsely and deduplicating within clusters only: candidate pairs
    * are cell-bounded (#cells is the blowup dial — the paper runs
    * ~100k clusters at web scale), never corpus-quadratic.
    *
    * Per cluster of cosine-≥-τ connected components, the KEPT member is
    * the one with the LOWEST cosine to its cell centroid (the paper's
    * diversity rule: keep the edge example, drop the redundant core;
    * tie → min vec_id). Output covers every nonzero-norm vector:
    * (vec_id, cell, cluster_id, cluster_size, cen_cos, is_kept) —
    * singletons are their own kept cluster.
    *
    * Scale shape: cell assignment is the IVF literal-centroid argmin
    * projection (zero Exchange; centroid cosine folds out of the SAME
    * d² the argmin ranks on — no second dot product); within-cell pairs
    * go through the [[nearDupPairs]] fail-loudly density guard
    * (`maxCellRows`); cluster resolution is the hash-min
    * [[Components.connectedComponents]] loop; keep-selection is a
    * min-of-struct aggregate + join, never a cluster window.
    * The coarse cells are a fitted [[kmeansFit]] artifact; at
    * `iters = 0` (the first #cells nonzero-norm vectors by vec_id) the
    * row carries the cross-engine oracle.
    */
  def semanticDedup(embeddings: DataFrame, coarse: Array[Array[Double]],
                    tau: Double = 0.3, maxCellRows: Int = 10000): DataFrame = {
    val e = withNorm(embeddings)
    val assigned = centroidAssigned(e, coarse)
    val guard = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
      .withColumn("__chk",
        when(col("__n") > maxCellRows, raise_error(concat(
          lit(s"semanticDedup: cell wider than maxCellRows=$maxCellRows (n="),
          col("__n").cast("string"),
          lit(") — the within-cell join would go quadratic; fit more cells"))))
          .otherwise(lit(1)))
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
        col("v").as("v1"), col("nrm").as("n1"))
      .join(broadcast(guard), Seq("cell"))
      .filter(col("__chk") === 1).drop("__n", "__chk")
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(dot(col("v1"), col("v2")) / (col("n1") * col("n2")) >= tau)
      .select(col("id1"), col("id2"))
    val comp = Components.connectedComponents(pairs, "id1", "id2")
      .select(col("id").as("vec_id"), col("label"))
    val labeled = assigned
      .select(col("vec_id"), col("cell"), col("cen_cos"))
      .join(comp, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("vec_id")))
      .drop("label")
    // Keep = min (cen_cos, vec_id) per cluster: aggregate + join (a
    // degenerate all-dup corpus is ONE cluster — a window would pin it
    // to a task; the join side lets AQE skew-split).
    val keep = labeled.groupBy(col("cluster_id")).agg(
      min(struct(col("cen_cos"), col("vec_id"))).as("kb"),
      count(lit(1)).as("cluster_size"))
    labeled.join(keep, Seq("cluster_id"))
      .select(col("vec_id"), col("cell"), col("cluster_id"),
        col("cluster_size"), col("cen_cos"),
        (col("vec_id") === col("kb.vec_id")).cast("int").as("is_kept"))
  }

  /** Literal-centroid cell assignment + centroid cosine — the shared
    * front of [[semanticDedup]], [[embedOutliers]] and [[ivfStats]].
    * One projection, zero Exchange: ⟨v,c⟩ = (|c|² − d2)/2 comes from the
    * argmin's own d2 (no second dot); |c| is a driver literal.
    */
  private def centroidAssigned(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val cn2 = cents.map(_.foldLeft(0.0)((s, x) => s + x * x))
    assignCell(e, cents)
      .withColumn("cen_cos", Publish.round6(
        (element_at(typedlit(cn2), col("cell") + 1) - col("d2")) / lit(2.0)
          / (col("nrm") * element_at(typedlit(cn2.map(math.sqrt)), col("cell") + 1))))
      .drop("d2")
  }

  /** #41c embed_outliers: embedding-space outlier flagging — the
    * CLIP-score-style curation gate in embedding space: assign every
    * vector to its coarse cell, z-score its centroid cosine
    * against the CELL's own distribution, flag members far below their
    * cluster (mislabeled, off-distribution, or corrupt points the
    * near-dup passes cannot see). z compares ROUNDED inputs (rounded
    * mean/std over the rounded cosines) so the verdict is exactly as
    * portable as the metrics (the gopher_filter policy). Cells with
    * <2 members carry a null z and are never flagged.
    *
    * Scale shape: assignment is the zero-Exchange literal-centroid
    * projection; the per-cell moment fold is bounded by #cells rows and
    * BROADCASTS back — corpus rows shuffle only for the moment fold's
    * map-side-combined partials.
    */
  def embedOutliers(embeddings: DataFrame, coarse: Array[Array[Double]],
                    zThresh: Double = -1.5): DataFrame = {
    val assigned = centroidAssigned(withNorm(embeddings), coarse)
      .select(col("vec_id"), col("cell"), col("cen_cos"))
    // Moments fold over EXACT integer micro-units: a float avg/stddev
    // over shuffled partials is order-dependent, and with cen_cos
    // already 6-rounded the true mean can sit ON a rounding boundary —
    // observed flipping the 6th decimal between runs. Σmi and Σmi² are
    // exact BIGINTs (order-free); the few float ops after them are a
    // fixed expression, deterministic in any engine.
    val mi = round(col("cen_cos") * 1e6, 0).cast("long")
    val nD = col("n_cell").cast("double")
    val varMicro = greatest(
      (col("__s2").cast("double") - col("__s1").cast("double") * col("__s1").cast("double") / nD)
        / (nD - 1), lit(0.0))
    val stats = assigned.groupBy("cell").agg(
      count(lit(1)).as("n_cell"),
      sum(mi).as("__s1"), sum(mi * mi).as("__s2"))
      .select(col("cell"), col("n_cell"),
        Publish.round6(col("__s1").cast("double") / (nD * 1e6)).as("cell_mean"),
        when(col("n_cell") > 1, Publish.round6(sqrt(varMicro) / 1e6)).as("__sd"))
    assigned.join(broadcast(stats), Seq("cell"))
      .withColumn("z", when(col("__sd").isNotNull && col("__sd") > 0,
        Publish.round6((col("cen_cos") - col("cell_mean")) / col("__sd"))))
      .select(col("vec_id"), col("cell"), col("cen_cos"), col("n_cell"),
        col("cell_mean"), col("z"),
        (coalesce(col("z"), lit(0.0)) < zThresh).cast("int").as("is_outlier"))
  }

  /** #43e ivf_stats: IVF index occupancy report over a fitted coarse
    * quantizer ([[kmeansFit]]) — per cell: member count, corpus share,
    * and the mean/min centroid cosine (cell tightness). THE capacity-planning read
    * before deploying an IVF/IVF-PQ index (#43b/#43d): a fat cell means
    * probe-time latency skew (nprobe hits it constantly) and a low mean
    * cen_cos means the quantizer under-fits that region — both argue
    * for more cells or a re-fit. Same artifact as [[ivfTopK]],
    * [[embedOutliers]] and [[semanticDedup]].
    *
    * Scale: zero-Exchange literal-centroid assignment + one hash
    * aggregate to #cells rows + a 1-row total broadcast. The mean folds
    * over exact integer micro-units (the [[embedOutliers]] rule: float
    * sums over shuffled partials are order-dependent).
    */
  def ivfStats(embeddings: DataFrame, coarse: Array[Array[Double]]): DataFrame = {
    val asg = centroidAssigned(withNorm(embeddings), coarse)
      .select(col("vec_id"), col("cell"), col("cen_cos"))
    val mi = round(col("cen_cos") * 1e6, 0).cast("long")
    val per = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(mi).as("__s1"),
        min(col("cen_cos")).as("min_cen_cos"))
    val tot = per.agg(sum(col("n_vecs")).as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        Publish.round6(col("n_vecs").cast("double") / col("__tot")).as("frac"),
        Publish.round6(col("__s1").cast("double") / (col("n_vecs") * 1e6)).as("avg_cen_cos"),
        col("min_cen_cos"))
  }

  /** Zero-Exchange literal-centroid argmin: adds `cell` (nearest
    * centroid, ties → lowest index) and `d2` = |c|² − 2⟨v,c⟩ (the L2²
    * distance up to the per-vector |v|² constant, which cannot change
    * the argmin). Shared by [[centroidAssigned]] and the kmeans rounds.
    */
  private def assignCell(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    // r12: native CentroidDists node (bit-identical d2/tie-break) — the
    // per-centroid literal forest was driver planning cost on every
    // assignment consumer (semantic dedup, outliers, ivf_stats, the
    // kmeans ladder's per-round plans).
    e.withColumn("m", array_min(graft.functions.CentroidOps.centroidDists(
        col("v"), cents.toSeq.map(_.toSeq), "cell")))
      .withColumn("cell", col("m.cell"))
      .withColumn("d2", col("m.d2"))
      .drop("m")
  }

  /** #43f kmeans_clusters (fit half): distributed Lloyd refinement over
    * the FULL corpus — the one coarse-quantizer fit. Its centroids are
    * the artifact [[ivfTopK]], [[ivfpqTopK]], [[semanticDedup]],
    * [[embedOutliers]], [[ivfStats]] and [[kmeansAssign]] deploy; topic
    * clustering for data mixing / cluster-balanced sampling wants
    * centroids refined on EVERY vector. `iters = 0` returns the init
    * itself (the first k nonzero-norm vectors by vec_id), which is the
    * artifact the ANN oracle rows replay; a bounded fit is
    * `kmeansFit(e.sample(…), …)`.
    *
    * Per round: (1) assignment is the zero-Exchange literal-centroid
    * argmin projection ([[assignCell]] — centroids are a k×dim driver
    * artifact, bounded by contract); (2) the update folds per-cell
    * element sums + counts through ONE map-side-combined hash aggregate
    * (k rows × dim columns collected). The corpus frame is re-scanned
    * per round rather than cached: its lineage is scan→project, and
    * pinning corpus-sized vectors in memory is exactly what 100 TB
    * forbids. Deterministic end to end: init = first k nonzero-norm
    * vectors by vec_id, argmin ties break to the lowest cell, empty
    * cells keep their previous centroid.
    *
    * The update folds INTEGER MICRO-UNITS (Σ round(v_d·10⁶) as BIGINT;
    * mean = Σ/(10⁶·n)): double partial sums are shuffle-order-dependent,
    * and a refined centroid feeds the NEXT round's argmin, where a
    * last-bit wobble can flip a boundary vector's cell — integer sums
    * are exact and order-free, so the ladder is bit-deterministic under
    * any partitioning AND the DuckDB oracle replays it round for round.
    * Quantization error ≤ 5·10⁻⁷ per coordinate per round — noise next
    * to the float32 grid the embeddings arrive on.
    */
  def kmeansFit(embeddings: DataFrame, k: Int = 8,
                iters: Int = 2): Array[Array[Double]] = {
    require(k > 0 && iters >= 0,
      s"kmeans: need k > 0 and iters >= 0, got k=$k iters=$iters")
    val e = withNorm(embeddings).select(col("vec_id"), col("v"))
    var cents = e.orderBy(col("vec_id")).limit(k).select(col("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(cents.length == k,
      s"corpus has only ${cents.length} nonzero vectors; need $k centroids")
    val dim = cents(0).length
    val sums = (0 until dim).map(d =>
      sum(round(element_at(col("v"), d + 1) * 1e6).cast("long")).as(s"__s$d"))
    for (_ <- 1 to iters) {
      val upd = assignCell(e, cents).groupBy(col("cell"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .collect()
      val byCell = upd.map(r => r.getInt(0) -> r).toMap
      cents = cents.zipWithIndex.map { case (c, i) =>
        byCell.get(i).fold(c) { r =>
          val n = r.getLong(1).toDouble
          Array.tabulate(dim)(d => r.getLong(d + 2).toDouble / (1e6 * n))
        }
      }
    }
    cents
  }

  /** #43f kmeans_clusters: the cluster profile after [[kmeansFit]] —
    * per cluster: member count, exact micro-unit inertia (Σ L2² to the
    * refined centroid), mean member distance². The read before
    * cluster-balanced sampling (per-cluster quotas) or before promoting
    * the refined centroids to an IVF coarse quantizer (#43b). One
    * argmin projection + one ≤k-row hash aggregate on top of the fit's
    * `iters` passes; empty clusters have no members and thus no row.
    */
  def kmeansClusters(embeddings: DataFrame, k: Int = 8,
                     iters: Int = 2): DataFrame = {
    val cents = kmeansFit(embeddings, k, iters)
    val assigned = assignCell(
      withNorm(embeddings).select(col("vec_id"), col("v")), cents)
      .withColumn("dist2", dot(col("v"), col("v")) + col("d2"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("dist2") * 1e6).cast("long")).as("__im"))
      .select(col("cell").as("cluster"), col("n_members"),
        Publish.round6(col("__im") / 1e6).as("inertia"),
        Publish.round6(col("__im") / (lit(1e6) * col("n_members"))).as("avg_dist2"))
  }

  /** #49i streaming topic routing: [[assignCell]] with a PRECOMPUTED
    * [[kmeansFit]] artifact is a stateless projection — no join, no
    * aggregation, no state — so the IDENTICAL operator routes incoming
    * embeddings to topic cells under readStream in append mode (assign
    * documents to curation topics as they LAND; the fit stays a batch
    * job — the same fit/deploy split every ANN tier here uses).
    * Zero-norm vectors are dropped, matching the batch corpus rule.
    * Returns (vec_id, cell, dist2 rounded 6).
    */
  def kmeansAssign(embeddings: DataFrame,
                   cents: Array[Array[Double]]): DataFrame =
    assignCell(withNorm(embeddings).select(col("vec_id"), col("v")), cents)
      .select(col("vec_id"), col("cell"),
        Publish.round6(dot(col("v"), col("v")) + col("d2")).as("dist2"))

}
