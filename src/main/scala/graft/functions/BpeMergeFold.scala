package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sequential BPE merge-table application over a symbol array in ONE
  * native pass per merge (r12 optimization) — the drop-in replacement
  * for the R-deep interpreted `aggregate` HOF ladder the trainer
  * built (`BpeReference.mergeSyms` in the specs: one Catalyst
  * `aggregate` lambda per merge, each evaluating an interpreted
  * when-chain per symbol with a growing `concat` state — O(R × len²)
  * boxed work per word where this loop is O(R × len) array writes).
  *
  * Semantics are EXACTLY the greedy leftmost single-merge fold, applied
  * in merge-table order: for merge (a, b) scan left to right, replace
  * each non-overlapping adjacent (a, b) with ab, restarting after an
  * emitted merge ("aaa" + (a,a) → [aa, a]) — the two-pointer loop below
  * is the state machine `mergeSyms` documents (spec-pinned equal).
  * Merge ORDER is the model, so the fold applies merges strictly in the
  * given sequence, exactly like `merges.foldLeft(syms)(mergeSyms)`.
  *
  * NULL in → NULL out (callers coalesce upstream); symbol arrays carry
  * no NULL elements (`split` never produces them).
  */
case class BpeMergeFold(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge_fold requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_merge_fold"

  // Precompiled merge table: (lhs, rhs, lhs+rhs) as UTF8String — built
  // once per expression instance, not per row.
  @transient private lazy val table: Array[(UTF8String, UTF8String, UTF8String)] =
    merges.map { case (a, b) =>
      (UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + b))
    }.toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var n = arr.numElements()
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < n) { buf(i) = arr.getUTF8String(i); i += 1 }
    val t = table
    var mi = 0
    while (mi < t.length && n >= 2) {
      val (a, b, ab) = t(mi)
      // two-pointer in-place pass == the greedy leftmost state machine
      var r = 0
      var w = 0
      while (r < n) {
        if (r + 1 < n && buf(r) == a && buf(r + 1) == b) {
          buf(w) = ab; w += 1; r += 2
        } else {
          buf(w) = buf(r); w += 1; r += 1
        }
      }
      n = w
      mi += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeFold =
    copy(child = newChild)
}

object BpeMergeFold {
  /** Column wrapper: `syms` with `merges` applied sequentially, each as
    * one greedy leftmost non-overlapping pass — value-identical to
    * folding `BpeReference.mergeSyms` over the merge table (spec-pinned).
    */
  def bpeMergeFold(syms: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      BpeMergeFold(GraftColumnBridge.expression(syms), merges))
}
