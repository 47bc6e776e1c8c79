package graft.tools

import graft.SparkEntry

/** Dump formatted physical plans for named queries (dev diagnostics):
  * `runMain graft.tools.PlanReview q1 q2 ...`. The session is the
  * default one (AQE on, as every query runs), so the dump is AQE's
  * initial plan (`isFinalPlan=false`). Counts read from the plan that
  * actually executed are in each Bench row's `layers` entry.
  */
object PlanReview {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanReview <query> [query ...]")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.builder("graft-planreview")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"\n======== $name ========")
      SparkEntry.queries(name)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
