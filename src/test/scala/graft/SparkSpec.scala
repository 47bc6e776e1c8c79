package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for test suites (one JVM-wide session). */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** The repo-wide float publication rule (round(x, 6), HALF_UP — what
    * Spark's `round` and the DuckDB oracles both apply), for
    * hand-computed spec expectations.
    */
  def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Run `body` with the checkpoint seam in `mode` against `dir`, then
    * restore both [[Ckpt.ModeKey]] and [[Ckpt.DirKey]] to what they were
    * (unset stays unset), so no later suite inherits the mode or dir.
    */
  def withCkptMode[T](mode: String, dir: String)(body: => T): T = {
    val keys = Seq(Ckpt.ModeKey -> mode, Ckpt.DirKey -> dir)
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", 4)
}
