package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, TopK}
import graft.operators.Bpe.Merge

/** Spec reference for the BPE trainer ([[Bpe.trainBatched]]): the
  * one-merge-per-round loop it batches, and the interpreted left-fold
  * merge application [[graft.functions.BpeMergeFold]] replaced. Kept so
  * the batched trainer and the native fold can be pinned merge for merge
  * and symbol for symbol (`BpeSpec`, `PropertySpec`).
  */
object BpeReference {

  /** Greedy left-to-right single-merge application as a left-fold
    * `aggregate`: state (out, prev); (prev, s) = (a, b) emits the merged
    * symbol, anything else flushes prev. Overlaps resolve leftmost
    * ("aaa" + (a,a) → [aa, a]) — standard BPE greediness.
    */
  def mergeSyms(syms: Column, a: String, b: String): Column = {
    val nil = array().cast("array<string>")
    aggregate(syms,
      struct(nil.as("out"), lit(null).cast("string").as("prev")),
      (acc, s) =>
        when(acc.getField("prev").isNull,
          struct(acc.getField("out").as("out"), s.as("prev")))
        .when(acc.getField("prev") === lit(a) && s === lit(b),
          struct(concat(acc.getField("out"), array(lit(a + b))).as("out"),
            lit(null).cast("string").as("prev")))
        .otherwise(
          struct(concat(acc.getField("out"), array(acc.getField("prev"))).as("out"),
            s.as("prev"))),
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
  }

  /** Train `merges` rounds; returns the merge table (the model
    * artifact). Stops early when no pair remains. Each round is one
    * vocabulary-scale job: pair count → driver argmax → fold-in.
    */
  def train(documents: DataFrame, merges: Int = 10): Seq[Merge] = {
    var vocab = Bpe.wordFreqs(documents)
      .select(Bpe.initSymbols(col("w")).as("syms"), col("freq"))
      .transform(Ckpt.frame)
    val out = Seq.newBuilder[Merge]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val top = Bpe.pairCounts(vocab)
        .orderBy(TopK.descNum(col("pair_count")), col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top.head.getAs[String]("lhs"),
          top.head.getAs[String]("rhs"), top.head.getAs[Long]("pair_count"))
        out += Merge(round, a, b, a + b, n)
        vocab = vocab
          .withColumn("syms", mergeSyms(col("syms"), a, b))
          .transform(Ckpt.frame)
        round += 1
      }
    }
    out.result()
  }
}
