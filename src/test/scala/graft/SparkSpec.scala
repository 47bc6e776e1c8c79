package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for test suites (one JVM-wide session). */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** The repo-wide float publication rule, `Publish.round6`, for
    * hand-computed spec expectations: scale by 1e6, round half away from
    * zero to an integer, divide by 1e6 — what DuckDB's `round(x, 6)`
    * does. Spark's `round(x, 6)` rounds the shortest decimal string of
    * `x` instead and can differ on a 6th-decimal tie.
    */
  def r6(x: Double): Double =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6

  /** Run `body` with the session confs in `settings`, then restore each
    * to what it was (unset stays unset), so no later suite inherits them.
    */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` with the checkpoint seam in `mode` against `dir`
    * ([[Ckpt.ModeKey]] and [[Ckpt.DirKey]], restored afterwards).
    */
  def withCkptMode[T](mode: String, dir: String)(body: => T): T =
    withConf(Ckpt.ModeKey -> mode, Ckpt.DirKey -> dir)(body)

  /** Run `body` with broadcast joins off, so connected components
    * resolves its quotient graph with the distributed hash-min loop
    * instead of the driver union-find.
    */
  def withDistributedCc[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", 4)
}
