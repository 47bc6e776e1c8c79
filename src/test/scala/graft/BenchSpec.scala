package graft

import org.apache.spark.sql.functions._
import org.json4s.JObject
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with SparkSpec {

  private def withMeter[T](body: Bench.Meter => T): T = {
    val meter = new Bench.Meter(spark)
    try body(meter) finally meter.close()
  }

  test("bench rows: every row has a layers entry with its job and plan counts") {
    val names = Set("bars_daily", "dedup_incremental", "q1_pricing_summary")
    val rows = withMeter { meter =>
      Bench.rowThunks(spark, "/root/testdata/sf0.001", Some(names))
        .map { case (n, mk) => meter.row(n, mk) }
    }
    assert(rows.map(_.name).toSet == names)
    val JObject(fields) = parse(Bench.layersJson(rows)): @unchecked
    assert(fields.map(_._1) == rows.map(_.name), "layers keyed like queries")
    rows.foreach { r =>
      assert(r.secs >= 0, s"${r.name} failed")
      val l = r.layers.get
      assert(l.tasks >= l.stages && l.stages >= l.jobs && l.jobs >= 1, s"${r.name}: $l")
      assert(l.taskS >= 0 && l.gcS >= 0 && l.planMs >= 0 && l.maxTaskS <= l.taskS, s"${r.name}: $l")
      assert(l.plan.keySet == Bench.PlanKinds.toSet)
    }
    // SURVEY #37d: the keyed frame materializes once while the frame is
    // built, and both join branches read the stored rows — the corpus
    // file is not scanned again by the write.
    val incr = rows.find(_.name == "dedup_incremental").get.layers.get.plan
    assert(incr("file_scans") == 0 && incr("rdd_scans") == 2, incr)
  }

  test("bench rows: reuse is counted on the plan the write executed") {
    // A self-join of one aggregated frame: AQE reuses the aggregate's
    // shuffle for the second branch, but only when it builds query
    // stages. The frame's own queryExecution holds the initial adaptive
    // plan, in which no reuse has been decided yet.
    val agg = spark.range(0, 2000).select((col("id") % 50).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))
    val joined = agg.as("a").join(agg.as("b"), "k")
    val (_, layers) = withMeter(_.pass(() => joined))
    assert(layers.plan("reused") >= 1, layers)
    assert(Bench.planCounts(joined.queryExecution.executedPlan)("reused") == 0)
  }
}
