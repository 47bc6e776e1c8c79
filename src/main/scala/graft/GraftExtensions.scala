package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, TopKStruct}

/** Session-extension injector — the standard install path for a
  * Spark-native library: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) registers graft's native
  * expressions in the session's function registry, so plain SQL users
  * get them without touching the Scala API:
  *
  * {{{
  *   SELECT vec_dot(a, b)            -- codegen'd double-array dot product
  *   SELECT topk_struct(s, 5)        -- bounded per-group top-k aggregate
  * }}}
  *
  * Registration is per-session and idempotent; nothing global mutates.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Whole-operator extensions: the native as-of join's and the
    // ordered-series fold's planner rules. `AsOf.join` and `SeriesFold`
    // also self-install via experimental strategies for sessions built
    // without extensions.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SeriesFoldStrategy)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "vec_dot(a, b) takes two array<double> args")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("topk_struct"),
      new ExpressionInfo(classOf[TopKStruct].getName, "topk_struct"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "topk_struct(struct, k) takes a struct and a literal k")
        val k = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"topk_struct k must be an integer literal, got $other")
        }
        TopKStruct(exprs.head, k)
      }))
  }
}
