package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.DoubleType

/** The recursive indicators as one ordered-series operator: pandas
  * `ewm(span, adjust=False)` EMAs, and MACD with its signal
  * (technical_indicators.py:44 and :83), in one pass over each key's rows.
  *
  * No SQL window expresses a linear recursion, so the exec states its
  * needs to the planner (SURVEY §5's custom-operator path, as `AsOf`):
  * rows clustered on the key and sorted by (key, order column, the other
  * columns in column order, the order `sort_array` gives a per-key array
  * of row structs). EnsureRequirements plans the Exchange and Sort; the
  * exec passes both on, so `(key ORDER BY date)` windows above it reuse
  * them. State is O(spans) doubles, whatever the series length.
  *
  * Each step is `a * v + (1.0 - a) * prev`, `a = 2.0 / (span + 1)`,
  * seeded at the key's first value. An EMA is null before `span` rows;
  * macd (EMA fast − EMA slow) before `slow` rows; its signal, the
  * EMA(`sig`) of macd seeded at row `slow`, before `slow + sig - 1` rows.
  * A NULL value nulls every output of its key from that row on.
  */
object SeriesFold {

  def emaName(span: Int): String = s"__f_ema$span"
  val MacdName = "__f_macd"
  val SignalName = "__f_sig"

  /** `bars` followed by [[emaName]] per span in `emaSpans`, then
    * [[MacdName]] and [[SignalName]] when `macd` = (fast, slow, sig),
    * folded over `value` per `key` in `order` order. Installs
    * [[SeriesFoldStrategy]] into the session's experimental strategies
    * idempotently; `GraftExtensions` also injects it.
    */
  def apply(bars: DataFrame, key: String, order: String, value: String,
            emaSpans: Seq[Int], macd: Option[(Int, Int, Int)]): DataFrame = {
    // Planned per micro-batch, the exec would restart every recurrence.
    require(!bars.isStreaming, "SeriesFold is batch-only: the exec folds each key's " +
      "complete series; for streams use graft.streaming.StreamIndicators")
    require((emaSpans ++ macd.toSeq.flatMap { case (f, s, g) => Seq(f, s, g) }).forall(_ >= 1),
      s"SeriesFold spans must be positive: $emaSpans, $macd")
    val spark = bars.sparkSession
    if (!spark.experimental.extraStrategies.contains(SeriesFoldStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ SeriesFoldStrategy
    val child = bars.queryExecution.analyzed
    def attr(name: String): Attribute = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"series fold column '$name' not in ${bars.columns.toSeq}"))
    val (k, o, v) = (attr(key), attr(order), attr(value))
    require(v.dataType == DoubleType, s"series fold value '$value' must be double, not ${v.dataType}")
    val ordering = (k +: o +: child.output.filterNot(a => a == k || a == o)).map(SortOrder(_, Ascending))
    val folded = (emaSpans.map(emaName) ++ macd.toSeq.flatMap(_ => Seq(MacdName, SignalName)))
      .map(AttributeReference(_, DoubleType)())
    GraftSqlBridge.ofRows(spark, SeriesFoldPlan(k, ordering, v, emaSpans, macd, folded, child))
  }
}

/** Logical node: the child's rows with `folded` appended. */
case class SeriesFoldPlan(key: Attribute, ordering: Seq[SortOrder], value: Attribute,
    emaSpans: Seq[Int], macd: Option[(Int, Int, Int)], folded: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ folded
  override def producedAttributes: AttributeSet = AttributeSet(folded)
  override protected def withNewChildInternal(c: LogicalPlan): SeriesFoldPlan = copy(child = c)
}

object SeriesFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SeriesFoldPlan(k, ord, v, emas, macd, out, child) =>
      SeriesFoldExec(k, ord, v, emas, macd, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class SeriesFoldExec(key: Attribute, ordering: Seq[SortOrder], value: Attribute,
    emaSpans: Seq[Int], macd: Option[(Int, Int, Int)], folded: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ folded
  override def producedAttributes: AttributeSet = AttributeSet(folded)
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(Seq(key)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(ordering)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(c: SparkPlan): SeriesFoldExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (inputs, keyAttr) = (child.output, key)
    val valueAt = inputs.indexWhere(_.exprId == value.exprId)
    val outTypes = output.map(_.dataType).toArray
    // One running EMA per distinct span; the outputs read them by index.
    val spans = (emaSpans ++ macd.toSeq.flatMap { case (f, s, _) => Seq(f, s) }).distinct.toArray
    val alphas = spans.map(sp => 2.0 / (sp + 1))
    val emaAt = emaSpans.map(spans.indexOf(_)).toArray
    val (fastAt, slowAt, slow, sig) = macd.fold((-1, -1, 0, 0)) { case (f, s, g) =>
      (spans.indexOf(f), spans.indexOf(s), s, g) }
    val aSig = 2.0 / (sig + 1)
    // The row from which each output is non-null: the EMAs, macd, signal.
    val starts = emaSpans.map(_ - 1L).toArray ++ macd.toSeq.flatMap(_ => Seq(slow - 1L, slow + sig - 2L))
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(Seq(keyAttr), inputs)
      val toUnsafe = UnsafeProjection.create(outTypes)
      val out = new SpecificInternalRow(starts.toSeq.map(_ => DoubleType))
      val (joined, e, vals) = (new JoinedRow, new Array[Double](spans.length), new Array[Double](starts.length))
      var (curKey, pos, poisoned) = (null: UnsafeRow, 0L, false)
      rows.map { row =>
        val k = keyOf(row)
        if (curKey == null || k != curKey) { curKey = k.copy(); pos = 0L; poisoned = false }
        else pos += 1
        if (row.isNullAt(valueAt)) poisoned = true
        else if (!poisoned) {
          val v = row.getDouble(valueAt)
          for (i <- e.indices) e(i) = if (pos == 0L) v else alphas(i) * v + (1.0 - alphas(i)) * e(i)
          for (j <- emaAt.indices) vals(j) = e(emaAt(j))
          if (slowAt >= 0) {
            val (m, j) = (e(fastAt) - e(slowAt), emaAt.length)
            vals(j) = m
            if (pos == slow - 1) vals(j + 1) = m
            else if (pos >= slow) vals(j + 1) = aSig * m + (1.0 - aSig) * vals(j + 1)
          }
        }
        for (j <- starts.indices)
          if (!poisoned && pos >= starts(j)) out.setDouble(j, vals(j)) else out.setNullAt(j)
        toUnsafe(joined(row, out))
      }
    }
  }
}
