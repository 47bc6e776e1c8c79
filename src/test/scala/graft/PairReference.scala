package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Spec reference for the posting-list pair emitters
  * ([[Dedup.ngramJaccardInvertedIndex]], [[Dedup.containmentPairs]]):
  * the posting self-join form they ran before, kept so the list form can
  * be pinned field for field (`PropertySpec`). The postings are the
  * operators' own [[Dedup.shinglePostings]] without their carried `n`;
  * sizes are recounted by a per-doc aggregate, as the join form did.
  * The checkpoints that form took were a cost seam, not semantics, and
  * are left out. Also the lambda form of the pair kernel.
  */
object PairReference {

  /** [[graft.functions.ListPairs]] as the HOF-lambda form computed it:
    * all C(n,2) `struct(a, b)` pairs at or under `cap`, else the star
    * against the first element.
    */
  def cappedPairs(xs: Column, cap: Int): Column =
    when(size(xs) <= lit(cap),
      flatten(transform(xs, (x, i) =>
        transform(slice(xs, i + lit(2), size(xs)), y =>
          struct(x.as("a"), y.as("b"))))))
      .otherwise(transform(slice(xs, lit(2), size(xs)), y =>
        struct(element_at(xs, 1).as("a"), y.as("b"))))

  /** The df guard / stop-shingle filter over (doc_id, source, lang, h)
    * postings: a 1-row max-df aggregate riding a broadcast crossJoin
    * (raises past `maxPostingDf`), or a keyed df filter.
    */
  def guardOver(postings: DataFrame, maxPostingDf: Int,
                stopShingleDf: Option[Int]): DataFrame = stopShingleDf match {
    case Some(cut) =>
      val keep = postings.groupBy(col("source"), col("lang"), col("h"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= cut)
      postings.join(keep, Seq("source", "lang", "h")).drop("__df")
    case None =>
      val guard = postings.groupBy(col("source"), col("lang"), col("h"))
        .agg(count(lit(1)).as("__df"))
        .agg(max(col("__df")).as("__maxdf"))
        .withColumn("__chk",
          when(col("__maxdf") > maxPostingDf, raise_error(concat(
            lit(s"shingle postings: a shingle's document frequency exceeds maxPostingDf=$maxPostingDf (df="),
            col("__maxdf").cast("string"), lit(")"))))
            .otherwise(lit(1)))
      postings.crossJoin(broadcast(guard))
        .filter(col("__chk") === 1)
        .drop("__maxdf", "__chk")
  }

  /** (id1, id2, n1, n2, n_common) by the posting self-join on
    * (source, lang, h) with a.doc_id < b.doc_id, sizes joined back.
    */
  def pairCounts(documents: DataFrame, maxPostingDf: Int,
                 stopShingleDf: Option[Int]): DataFrame = {
    val postings = guardOver(Dedup.shinglePostings(documents).drop("n"),
      maxPostingDf, stopShingleDf)
    val sizes = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    postings.as("a")
      .join(postings.as("b"),
        col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("id1"), col("n_sh").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n_sh").as("n2")), Seq("id2"))
  }

  /** [[Dedup.ngramJaccardInvertedIndex]] */
  def ngramJaccard(documents: DataFrame, minJaccard: Double, maxPostingDf: Int = 10000,
                   stopShingleDf: Option[Int] = None): DataFrame =
    pairCounts(documents, maxPostingDf, stopShingleDf)
      .select(col("id1"), col("id2"), col("n_common"),
        (col("n1") + col("n2") - col("n_common")).as("n_union"))
      .withColumn("jaccard",
        col("n_common").cast("double") / nullif(col("n_union").cast("double"), lit(0.0)))
      .filter(col("jaccard") >= minJaccard)

  /** [[Dedup.containmentPairs]] */
  def containment(documents: DataFrame, minContainment: Double, maxPostingDf: Int = 10000,
                  stopShingleDf: Option[Int] = None): DataFrame =
    pairCounts(documents, maxPostingDf, stopShingleDf)
      .select(col("id1"), col("id2"), col("n_common"), col("n1"), col("n2"),
        round(col("n_common").cast("double") / col("n1"), 6).as("c1_in_2"),
        round(col("n_common").cast("double") / col("n2"), 6).as("c2_in_1"),
        round(col("n_common").cast("double") / least(col("n1"), col("n2")), 6)
          .as("containment"))
      .filter(col("containment") >= minContainment)
}
