package graft

import org.apache.spark.sql.functions._
import graft.operators.QuantileSketch
import graft.util.Tables.t

class QuantileSketchSpec extends SparkTestBase {
  import spark.implicits._

  private val ps = Seq(("p50", 1, 2), ("p90", 9, 10))

  test("sketches are mergeable: day-partitioned rollup equals one-shot") {
    val e = t(spark, sfDir, "events").withColumn("day", to_date(col("ts")))
    val daily = QuantileSketch.build(e, Seq("event_type", "day"), "value", 0.5)
    val oneShot = QuantileSketch.build(e, Seq("event_type"), "value", 0.5)
    val a = QuantileSketch.mergeEstimate(daily, Seq("event_type"), 0.5, ps)
      .select("event_type", "n_rows", "est_p50", "est_p90")
      .as[(String, Long, Double, Double)].collect().toSet
    val b = QuantileSketch.mergeEstimate(oneShot, Seq("event_type"), 0.5, ps)
      .select("event_type", "n_rows", "est_p50", "est_p90")
      .as[(String, Long, Double, Double)].collect().toSet
    assert(a === b)
  }

  test("estimate is within binWidth of the true rank element — every group") {
    val e = t(spark, sfDir, "events")
    val w = 2.0
    val sk = QuantileSketch.build(e, Seq("event_type"), "value", w)
    val est = QuantileSketch.mergeEstimate(sk, Seq("event_type"), w, ps)
      .select("event_type", "n_rows", "est_p50", "est_p90")
      .as[(String, Long, Double, Double)].collect()
    val rows = e.select("event_type", "value").as[(String, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, n, e50, e90) <- est) {
      val vs = rows(g)
      assert(vs.length === n)
      val t50 = vs(((n + 1) / 2 - 1).toInt)
      val t90 = vs(((9 * n + 9) / 10 - 1).toInt)
      assert(e50 <= t50 && t50 < e50 + w, s"$g p50: est $e50 true $t50")
      assert(e90 <= t90 && t90 < e90 + w, s"$g p90: est $e90 true $t90")
    }
  }

  test("sketch survives a parquet round trip") {
    val e = t(spark, sfDir, "events").withColumn("day", to_date(col("ts")))
    val dir = scratch.dir("qsk")
    QuantileSketch.build(e, Seq("event_type", "day"), "value", 0.5)
      .write.mode("overwrite").parquet(dir)
    val a = QuantileSketch.mergeEstimate(spark.read.parquet(dir),
        Seq("event_type"), 0.5, ps)
      .select("event_type", "est_p50").as[(String, Double)].collect().toSet
    val b = QuantileSketch.mergeEstimate(
        QuantileSketch.build(e, Seq("event_type", "day"), "value", 0.5),
        Seq("event_type"), 0.5, ps)
      .select("event_type", "est_p50").as[(String, Double)].collect().toSet
    assert(a === b)
  }

  test("merge path reads sketch rows, not the fact table") {
    val e = t(spark, sfDir, "events").withColumn("day", to_date(col("ts")))
    val sk = QuantileSketch.build(e, Seq("event_type", "day"), "value", 0.5)
    val n = sk.count()
    // ~30 days x 5 types of sketch rows vs thousands of fact rows
    assert(n < 200, s"sketch cube should be tiny, got $n rows")
  }
}
