package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, Literal, Multiply, Round, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** How graft publishes fractional columns: to 6 decimals, the way the
  * DuckDB oracles' `round(x, 6)` does. Every 6-decimal round under
  * `src/main` goes through [[round6]] (an `OpsSpec` lint holds it).
  *
  * DuckDB rounds a double as `round(x * 1e6) / 1e6`, half away from
  * zero on the scaled binary value. Spark's `round(x, 6)` instead rounds
  * the shortest decimal string of `x`, and the two disagree on values
  * that sit on a 6th-decimal boundary (`ind_returns`' `momentum_10` at
  * sf0.1 was one). Scaled first, both engines round the same double to
  * an integer, where they agree, and divide by the same constant.
  * Non-double columns keep Spark's `round(c, 6)` (exact on decimals, the
  * identity on integers), so no column changes type.
  */
object Publish {

  /** `c` rounded to 6 decimals by the rule above, chosen by its type once
    * the column is resolved.
    */
  def round6(c: Column): Column =
    GraftColumnBridge.column(Round6(GraftColumnBridge.expression(c)))

  def roundCols(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(c => c -> round6(col(c))).toMap)

  private case class Round6(child: Expression) extends RuntimeReplaceable
      with UnaryLike[Expression] {
    override lazy val replacement: Expression = if (child.dataType == DoubleType)
      Divide(Round(Multiply(child, Literal(1e6)), Literal(0)), Literal(1e6)) else Round(child, Literal(6))
    // the name an unaliased column gets, as Spark's round(x, 6) had it
    override def sql: String = s"round(${child.sql}, 6)"
    override protected def withNewChildInternal(c: Expression): Round6 = copy(child = c)
  }
}
