package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** How the oracle-checked rows publish fractional columns: to 6
  * decimals, the way the DuckDB oracles' `round(x, 6)` does.
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

  def roundCols(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map { c =>
      c -> (if (df.schema(c).dataType == DoubleType) round(col(c) * 1e6) / 1e6
            else round(col(c), 6))
    }.toMap)
}
