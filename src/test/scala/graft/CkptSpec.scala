package graft

import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Components, Dedup, Graph}

/** The materialization seam under block loss: every lineage cut goes
  * through [[Ckpt.frame]], so `reliable` mode must recover an operator
  * whose stored blocks are gone, and `local` mode must fail loudly.
  */
class CkptSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  /** Rows as a sorted list of their string forms (a multiset compare). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Build `op`, drop every block stored while building it — what an
    * executor death does to the blocks it held — then run the action.
    * Only RDDs persisted during the build are dropped, so frames other
    * suites hold in the shared session keep theirs.
    */
  private def rowsAfterBlockLoss(op: => DataFrame): Seq[String] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = op
    val stored = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    stored.values.foreach(_.unpersist(blocking = true))
    rows(df)
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  private def blockLoss(name: String)(op: => DataFrame): Unit =
    test(s"block loss: $name recovers under reliable, fails loudly under local") {
      val want = rows(op)
      assert(want.nonEmpty, s"$name: the fixture must produce rows")
      val dir = tempDir("graft-ckpt-loss").toString
      assert(withCkptMode("reliable", dir)(rowsAfterBlockLoss(op)) == want)
      val e = intercept[SparkException](withCkptMode("local", dir)(rowsAfterBlockLoss(op)))
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e.getMessage)
    }

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val nearDups = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "vi ral a b x1",
    4L -> "vi ral a b x2",
    5L -> "vi ral c5 d5 e5 f5",
    6L -> "completely different words here")

  /** An operator with no lineage cut: building it persists no block,
    * so there is nothing for an executor death to take, and its rows are
    * the same under either checkpoint mode.
    */
  private def noSeam(name: String)(op: => DataFrame): Unit =
    test(s"no seam: $name persists no block; identical rows under local and reliable") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val built = op
      assert(sc.getPersistentRDDs.keySet == before, s"$name persisted a block while built")
      val dir = tempDir("graft-ckpt-none").toString
      val local = withCkptMode("local", dir)(rows(op))
      assert(local.nonEmpty, s"$name: the fixture must produce rows")
      assert(withCkptMode("reliable", dir)(rows(op)) == local)
      assert(rows(built) == local)
    }

  // The posting-list pair emitter has one consumer of its postings, so
  // it carries no seam.
  noSeam("Dedup.ngramJaccardInvertedIndex")(
    Dedup.ngramJaccardInvertedIndex(nearDups, minJaccard = 0.3))

  noSeam("Dedup.ngramJaccardInvertedIndex with stopShingleDf")(
    Dedup.ngramJaccardInvertedIndex(nearDups, minJaccard = 0.01,
      stopShingleDf = Some(2)))

  private val incremental = Seq(
    (1L, "Alpha beta GAMMA", "en", "seen", 16L),
    (2L, "delta epsilon", "en", "seen", 13L),
    (10L, "gamma beta alpha alpha", "en", "new", 22L),
    (11L, "delta zeta", "en", "new", 10L),
    (12L, "Delta Epsilon", "en", "new", 13L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  blockLoss("Dedup.incrementalNew")(
    Dedup.incrementalNew(incremental, col("source") === "seen"))

  blockLoss("Dedup.incrementalNewBloom")(
    Dedup.incrementalNewBloom(incremental, col("source") === "seen",
      expectedItems = 100L))

  private def clusters = Components.dedupClusters(Seq((10L, 11L), (11L, 12L),
    (12L, 13L), (1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2"), "id1", "id2")

  // The quotient graph is finished by the driver union-find below the
  // broadcast threshold and by the distributed hash-min loop without one.
  blockLoss("Components.dedupClusters")(clusters)

  blockLoss("Components.dedupClusters, distributed loop")(withDistributedCc(clusters))

  blockLoss("Graph.pageRankLadder")(
    Graph.pageRankLadder(Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst"),
      rounds = 2, dampingPct = 50, micro = 1000000L))

  private lazy val merges = BpeReference.train(Seq((1L, "low low lower newest newest widest"))
    .toDF("doc_id", "text"), merges = 5)

  blockLoss("Bpe.packedSequences")(
    Bpe.packedSequences(Seq((1L, "low lower"), (2L, "newest newest low"))
      .toDF("doc_id", "text"), merges, seqLen = 4L))

  test("checkpoint dir: a new spark.graft.checkpointDir takes effect at the next frame") {
    // Reliable checkpoint files live in rdd-<id> directories under the
    // dir the context was pointed at (inside a per-context subdirectory).
    def rddDirs(root: Path): Int = {
      val walk = Files.walk(root)
      try walk.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-")).count().toInt
      finally walk.close()
    }
    val (first, second) = (tempDir("graft-ckpt-a"), tempDir("graft-ckpt-b"))
    val df = Seq(1L, 2L, 3L).toDF("x")
    withCkptMode("reliable", first.toString)(Ckpt.frame(df).count())
    assert(rddDirs(first) == 1)
    withCkptMode("reliable", second.toString)(Ckpt.frame(df).count())
    assert(rddDirs(second) == 1, s"the second frame was not written under $second")
    assert(rddDirs(first) == 1)
  }

  test("corpus_pipeline_full: identical rows under local and reliable checkpoints") {
    val query = SparkEntry.queries("corpus_pipeline_full")
    def run() = rows(query(spark, "/root/testdata/sf0.001"))
    val local = run()
    assert(local.nonEmpty)
    val dir = tempDir("graft-ckpt-curate").toString
    assert(withCkptMode("reliable", dir)(run()) == local)
  }
}
