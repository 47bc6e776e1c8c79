package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair list — the resolution stage of the
  * dedup pipeline. The pair emitters (Dedup.minhashPairsPortable /
  * simhashPairsPortable, Similarity.nearDupPairs) find duplicate
  * EDGES; an actual dedup run
  * needs the transitive clusters those edges imply, one canonical
  * representative per cluster, and the keep/drop verdict per document.
  * The reference has no counterpart (its pandas engine dedups nothing);
  * this is the operator a 100 TB training-data pipeline cannot skip.
  */
object Components {

  /** Connected components of an edge list: one `(id, label)` row per
    * node, label = the minimum id reachable from it. Two phases (the
    * contract-then-finish shape of distributed CC, Kiveris et al., SoCC
    * 2014):
    *
    *  - contract: a union-find over each partition's edges, then one
    *    node-grain shuffle to (node, min local root, roots seen),
    *    checkpointed ([[graft.Ckpt.frame]]). A node seen under two roots
    *    is a quotient edge between them; the checkpoint job also observes
    *    how many quotient edges there are.
    *  - finish, chosen by that count. When 16 bytes per edge fit
    *    `spark.sql.autoBroadcastJoinThreshold`, one job collects the
    *    quotient edges and the driver runs the same union-find over them;
    *    the `(root, label)` rows join back as a broadcast local relation
    *    (an empty quotient needs no job). Otherwise, or when the threshold
    *    is ≤ 0 (broadcasts off), the distributed hash-min loop
    *    ([[hashMinLoop]]) resolves it at two jobs per round. `maxIter` and
    *    `pointerJump` apply to this loop only; it throws after `maxIter`
    *    rounds without convergence — a truncated propagation would
    *    silently mislabel components, and for dup clusters hitting 50
    *    rounds means the input is not a dup graph.
    *
    * Both finishes give the same labels. The driver finish holds the
    * quotient edges (at most the threshold) and its labels in driver
    * memory, the price any broadcast join pays; no option picks the path.
    */
  def connectedComponents(edges: DataFrame, src: String = "a",
                          dst: String = "b", maxIter: Int = 50,
                          pointerJump: Boolean = false): DataFrame = {
    import edges.sparkSession.implicits._
    // Phase 1 — partition-local contraction (r11, guide §2.3/§2.4 "do
    // fewer rounds on less data"): one mapPartitions pass runs a
    // union-find over each partition's edges and emits (node, localRoot)
    // with localRoot = the min node id of the node's partition-local
    // component. Everything that connects WITHIN a partition collapses
    // before the quotient finish runs, which then only resolves the (far
    // smaller) quotient graph of local roots —
    // measured at sf0.1 this cuts the LSH-chain resolution from ~10
    // pointer-jump rounds over the full node set to 1–3 rounds over a
    // few hundred roots (dedup_clusters 115 Spark jobs → ~30). At 100 TB
    // the same contraction wins bigger: dup clusters arrive
    // band-bucket-localized, so most components contract fully and the
    // loop's per-round shuffle moves root-grain rows, not node-grain.
    //
    // Memory bound (per task): the union-find map holds every distinct
    // node id in the partition — two long arrays at ≤2 slots/node, i.e.
    // ~32 bytes/node. At the default 128 MB input splits of 16-byte
    // pairs that is ≤16M nodes ≈ 512 MB worst-case (every edge two new
    // nodes); real dup graphs have far fewer distinct nodes than edges.
    // Tighter executors: lower spark.sql.files.maxPartitionBytes or
    // raise the emitter's shuffle partition count — the bound tracks
    // partition size, never corpus size.
    val nodeRoots = edges
      .select(col(src).cast("long").as("s"), col(dst).cast("long").as("d"))
      .as[(Long, Long)]
      .mapPartitions(localContract)
      .toDF("id", "root")
    // Per-node min root + the set of roots the node was seen under —
    // one node-grain shuffle producing BOTH the final-label join frame
    // and the quotient edge list (a node seen under two roots proves
    // those roots are one component). Ckpt: the frame feeds the quotient
    // finish AND the final join; without it the UF pass would run twice.
    // The observed sum is the quotient's edge count, delivered by the
    // checkpoint job itself (no second job reads the frame for it).
    val quotientSize = Observation()
    val grouped = nodeRoots.groupBy(col("id"))
      .agg(min(col("root")).as("root"), collect_set(col("root")).as("roots"))
      .observe(quotientSize, sum(size(col("roots")) - 1).as("edges"))
      .transform(graft.Ckpt.frame)
    val quotient = grouped
      .select(col("root").as("a"), explode(col("roots")).as("b"))
      .filter(col("a") =!= col("b"))
    val threshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val rootLabels = observedLong(quotientSize) match {
      case Some(n) if threshold > 0 && n * QuotientEdgeBytes <= threshold =>
        if (n == 0) None else Some(driverFinish(quotient))
      case _ => Some(hashMinLoop(quotient, maxIter, pointerJump)
        .select(col("id").as("root"), col("label").as("rlabel")))
    }
    // Roots absent from the quotient graph (fully contracted locally)
    // keep themselves: label = root. Both sides are root-keyed; the
    // quotient side is tiny, so this broadcasts at any realistic scale.
    rootLabels match {
      case None => grouped.select(col("id"), col("root").as("label"))
      case Some(labels) =>
        grouped.select(col("id"), col("root"))
          .join(labels, Seq("root"), "left")
          .select(col("id"), coalesce(col("rlabel"), col("root")).as("label"))
    }
  }

  /** Bytes per quotient edge (two longs) that [[connectedComponents]]
    * prices against `spark.sql.autoBroadcastJoinThreshold`.
    */
  private val QuotientEdgeBytes = 16L

  /** How long the driver waits for an observed checkpoint's metrics
    * (delivered on the listener bus right after the checkpoint job) before
    * it takes the path that needs no count.
    */
  private val ObservationWait = 60.seconds

  /** The single long an eager checkpoint observed (null, as `sum` over
    * no rows gives, reads 0); None when it was not delivered in time.
    */
  private def observedLong(o: Observation): Option[Long] =
    Try(Await.result(o.future, ObservationWait)).toOption
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))

  /** Union-find over the whole quotient graph on the driver: one job
    * collects its edges, [[localContract]] labels every quotient node
    * with the min root of its component, and the non-trivial
    * `(root, rlabel)` rows come back as a broadcast local relation.
    */
  private def driverFinish(quotient: DataFrame): DataFrame = {
    val spark = quotient.sparkSession
    import spark.implicits._
    val labels = localContract(quotient.as[(Long, Long)].collect().iterator)
      .filter { case (node, root) => node != root }.toSeq
    broadcast(labels.toDF("root", "rlabel"))
  }

  /** Partition-local union-find over an edge iterator: emits one
    * (node, root) row per distinct node in the partition, root = min
    * node id of its local component. Union-by-min keeps the
    * representative the minimum directly; find path-compresses.
    * Open-addressing long→long map — no per-entry boxing on the
    * multi-million-node partitions the 100 TB shape produces.
    * Long.MinValue is the empty-slot sentinel (no real id collides: ids
    * are doc/row keys).
    */
  private def localContract(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val EMPTY = Long.MinValue
    var cap = 1 << 10
    var keys = Array.fill(cap)(EMPTY)
    var vals = new Array[Long](cap)
    var size = 0
    def idx(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & (cap - 1)
      while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = Array.fill(cap)(EMPTY); vals = new Array[Long](cap)
      var j = 0
      while (j < ok.length) {
        if (ok(j) != EMPTY) { val i = idx(ok(j)); keys(i) = ok(j); vals(i) = ov(j) }
        j += 1
      }
    }
    def put(k: Long, v: Long): Unit = {
      val i = idx(k)
      if (keys(i) == EMPTY) {
        keys(i) = k; vals(i) = v; size += 1
        if (size * 2 > cap) grow()
      } else vals(i) = v
    }
    def getOrAdd(k: Long): Long = {
      val i = idx(k)
      if (keys(i) == EMPTY) { put(k, k); k } else vals(i)
    }
    def find(x: Long): Long = {
      var r = x
      var p = getOrAdd(r)
      while (p != r) { r = p; p = getOrAdd(r) }
      // path compression
      var c = x
      while (c != r) { val n = vals(idx(c)); put(c, r); c = n }
      r
    }
    it.foreach { case (a, b) =>
      require(a != EMPTY && b != EMPTY,
        "connectedComponents: Long.MinValue is reserved as the UF sentinel")
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) put(rb, ra) else put(ra, rb) }
    }
    // one (node, root) row per distinct node seen in this partition
    val out = Array.newBuilder[(Long, Long)]
    out.sizeHint(size)
    var j = 0
    while (j < keys.length) {
      if (keys(j) != EMPTY) out += ((keys(j), find(keys(j))))
      j += 1
    }
    out.result().iterator
  }

  /** The distributed hash-min resolution of a quotient graph too large
    * for the driver (pre-r11 this WAS connectedComponents).
    *
    * Hash-min label propagation: every node starts labeled with its own
    * id; each round a node adopts the minimum label among itself and its
    * neighbors; at fixpoint every node carries the minimum id reachable
    * in its component. Converges in O(component diameter) rounds —
    * duplicate clusters are near-cliques (or stars, under
    * graft.functions.ListPairs), so 3–5 rounds in practice.
    *
    * `pointerJump = true` additionally folds in the previous round's
    * label-of-label each round (labels are node ids, so the previous
    * mapping resolves them one hop further), compounding reach roughly
    * geometrically — O(log diameter) rounds at the cost of one extra
    * per-round join whose key is the component label (skewed by
    * construction). Round-5 measurement: the jump wins on BOTH
    * sparse-chain graphs (banded-LSH emitter, 19 plain rounds) and
    * near-clique dup graphs at sf0.1 — round 4's ~6× `dedup_clusters`
    * regression was the checkpoint lifecycle (lazy checkpoint + explicit
    * mid-loop block release), not this join. Default off so generic
    * callers keep the minimal plan; the dedup query paths opt in.
    *
    * The driver loop is orchestration only (the Pregel pattern): each
    * round's work is one distributed join + aggregate on (id, label)
    * pairs — never the document payload. localCheckpoint (eager)
    * truncates lineage so the plan stays constant-size across rounds; the
    * symmetrized edge list is persisted once and reused every round
    * instead of re-deriving the (possibly expensive) pair plan. Old
    * rounds' checkpoint blocks are left for the ContextCleaner: they are
    * narrow (id, label) pairs, and explicitly unpersisting
    * locally-checkpointed RDDs mid-loop proved fragile (Spark cannot
    * recompute a released local checkpoint, and round 4's explicit
    * release triggered recompute-failure WARN floods and retries).
    */
  private def hashMinLoop(edges: DataFrame, maxIter: Int,
                          pointerJump: Boolean): DataFrame = {
    val src = "a"; val dst = "b"
    // Symmetrized in ONE pass over the edge plan: a union of two selects
    // would evaluate the (possibly expensive — a banded-LSH or ngram
    // emitter) edge subtree once per branch; explode duplicates each row
    // inside a single scan instead (measured ~2 s off corpus_pipeline's
    // resolution stage at sf0.1).
    //
    // Persisted pre-partitioned on the per-round join key `b` (the
    // GraphX partitioned-edge-RDD idea): at corpus scale the label frame
    // outgrows the broadcast threshold and the per-round join becomes
    // shuffle-on-both-sides — hashing the edge list once means only the
    // (node-sized) label frame moves per round, never the (edge-sized)
    // graph. At sf0.1 Spark broadcasts the labels and the repartition is
    // noise-level cost; it is the 100 TB insurance.
    val sym = edges
      .select(col(src).cast("long").as("s"), col(dst).cast("long").as("d"))
      .select(explode(array(
        struct(col("s").as("a"), col("d").as("b")),
        struct(col("d").as("a"), col("s").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Seed labels with min(id, min neighbor) — the node-id distinct is a
    // shuffle aggregate anyway, so folding propagation round 1 into it
    // is free and shaves a full join+materialize round off the loop.
    var labels = sym.groupBy(col("a").as("id"))
      .agg(least(col("a"), min(col("b"))).as("label"))
      .transform(graft.Ckpt.frame)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Message + combine (the Pregel round as ONE join + ONE aggregate):
      // each node receives its neighbors' labels through the edge join,
      // plus one tagged self-message carrying its own label; the combine
      // takes the min. `prev` rides along on the self rows (every node
      // sends itself exactly one), so convergence needs no second join.
      val messages = sym
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .select(col("a").as("id"), col("label"), lit(null).cast("long").as("prev"))
        .union(labels.select(col("id"), col("label"), col("label").as("prev")))
      val stepped = messages.groupBy(col("id"))
        .agg(min(col("label")).as("label"), min(col("prev")).as("prev"))
      // Optional pointer jump against the PREVIOUS round's (checkpointed)
      // mapping: my label is a node id — that node's own label is at
      // least as small and in the same component, so folding it in is
      // monotone-safe.
      val advanced =
        if (!pointerJump) stepped
        else stepped.join(
            labels.select(col("id").as("label"), col("label").as("label2")),
            Seq("label"), "left")
          .select(col("id"), col("prev"),
            least(col("label"), coalesce(col("label2"), col("label"))).as("label"))
      val next = advanced
        .select(col("id"), col("label"),
          (col("label") < col("prev")).as("changed"))
        .transform(graft.Ckpt.frame)
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Duplicate-cluster table from a pair list: (id, cluster_id,
    * cluster_size, is_canonical). cluster_id = min id in the component
    * (deterministic); the canonical member is the cluster id itself —
    * the keep-one-drop-rest verdict a dedup pass applies. Only clustered
    * ids appear; everything else in the corpus is implicitly kept.
    *
    * cluster_size is an aggregate + join on cluster_id rather than
    * `count().over(partitionBy(cluster_id))`: a pathological dup corpus
    * (everything identical) is ONE giant cluster, and a window pins all
    * its members to a single task while a join lets AQE skew-split the
    * probe side. The aggregate combines map-side either way.
    */
  def dedupClusters(pairs: DataFrame, src: String, dst: String,
                    pointerJump: Boolean = false): DataFrame = {
    val labels = connectedComponents(pairs, src, dst, pointerJump = pointerJump)
      .select(col("id"), col("label").as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).cast("int").as("is_canonical"))
  }

  /** #40l cluster_stats: cluster-size profile over any clustered frame
    * carrying a `cluster_id` column ([[dedupClusters]],
    * [[graft.operators.Dedup.keepBest]]'s input) — one row per cluster
    * size: how many clusters, how many member docs, and how many a
    * keep-one pass removes (`size − 1` per cluster). THE report read
    * before committing a dedup threshold: a fat tail of giant clusters
    * means boilerplate (raise the threshold or switch to span removal),
    * a mass at size 2 means true near-dups. Scale: two hash aggregates
    * (members → per-cluster size → per-size counts), no window, no
    * join.
    */
  def clusterStats(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_removable"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_removable"))
}
