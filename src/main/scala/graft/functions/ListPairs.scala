package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** The pair kernel of the bucket-collect emitters (minhash and hamming
  * banding, embedding LSH, winnowing): one row `(a, b)` per position
  * pair i < j of a sorted list, streamed as a generator.
  *
  * Each caller collects a bucket's members with
  * `sort_array(collect_list(…))` and expands them here, where the list
  * lives — the list form of pairwise similarity (Elsayed, Lin & Oard,
  * ACL 2008) rather than a self-join on the bucket key.
  *
  * This replaces the `transform`/`slice`/`flatten` lambda form
  * (`cappedPairs`). That form built the whole C(n,2) array per bucket
  * through interpreted lambdas before `explode` could read it. The
  * kernel reads the list once and yields pairs lazily, so a bucket's
  * pairs never sit in memory together.
  *
  * Lists at or under `cap` emit all C(n,2) pairs. An OVERSIZED
  * (degenerate) list emits a star against its first element instead:
  * O(n) pairs that keep every member connected to one canonical
  * representative, so duplicate clusters survive intact for
  * connected-components grouping without the quadratic blowup. The
  * list must be sorted ascending so pair order and the star root are
  * deterministic; equal elements still pair.
  *
  * Recall contract of the star: downstream verification runs PER PAIR,
  * so in an oversized list that is NOT homogeneous, a spoke whose
  * similarity to the root fails the threshold is disconnected even if it
  * duplicates another non-root member. Callers measure exposure by
  * counting keys over `cap` before emitting. Below the cap a list of n
  * members yields n(n−1)/2 rows from ONE task, so `cap` is also the
  * skew bound of the pair stage.
  *
  * NULL list → no rows (`explode` semantics). Output nullability is the
  * list's element nullability (the lambda form marked `a` nullable).
  * Interpreted: the generator is a fallback node, and the projection
  * above it is codegen'd.
  */
case class ListPairs(child: Expression, cap: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  require(cap >= 1, s"list_pairs requires cap >= 1, got $cap")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"list_pairs requires an array, got $t")
  }

  private def elementType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType = {
    val nullable = child.dataType.asInstanceOf[ArrayType].containsNull
    StructType(Seq(StructField("a", elementType, nullable),
      StructField("b", elementType, nullable)))
  }

  override def prettyName: String = "list_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val xs = arr.toObjectArray(elementType)
    val n = xs.length
    if (n > cap) Iterator.range(1, n).map(j => InternalRow(xs(0), xs(j)))
    else new Iterator[InternalRow] {
      private var i = 0
      private var j = 1
      override def hasNext: Boolean = j < n
      override def next(): InternalRow = {
        val row = InternalRow(xs(i), xs(j))
        j += 1
        if (j == n) { i += 1; j = i + 1 }
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ListPairs =
    copy(child = newChild)
}

object ListPairs {

  /** Generator column: rows `(a, b)` for every pair of the sorted list
    * `xs`, or the star against `xs[0]` when `xs` holds more than `cap`
    * elements (see [[ListPairs]]). Use it as the only generator of a
    * `select`.
    */
  def listPairs(xs: Column, cap: Int): Column =
    GraftColumnBridge.column(ListPairs(GraftColumnBridge.expression(xs), cap))
}
