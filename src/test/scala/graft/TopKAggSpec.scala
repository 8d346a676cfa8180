package graft

import org.apache.spark.sql.functions._
import graft.operators.TopKAgg
import graft.util.Tables.t

class TopKAggSpec extends SparkTestBase {
  import spark.implicits._

  test("matches the row_number window formulation on real data") {
    val e = t(spark, sfDir, "events")
    val got = e.groupBy("event_type")
      .agg(TopKAgg.topK(col("value"), col("event_id"), 5).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).as("rank"),
        col("col.id").as("event_id"))
      .as[(String, Int, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
    val want = windowBaseline(t(windowed, sfDir, "events")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("event_type"), col("rank"), col("event_id")))
      .as[(String, Int, Long)].collect().toSet
    assert(got === want)
  }

  test("survives many partial buffers (merge + serde path)") {
    val rows = (1 to 1000).map(i => (i % 7, i.toDouble % 13, i.toLong))
    val df = rows.toDF("g", "v", "id").repartition(32)
    val got = df.groupBy("g")
      .agg(TopKAgg.topK(col("v"), col("id"), 3).as("top"))
      .select(col("g"), explode(col("top")).as("e"))
      .select(col("g"), col("e.value"), col("e.id"))
      .as[(Int, Double, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val want = windowBaseline(windowed.createDataFrame(rows).toDF("g", "v", "id")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("g"), col("v"), col("id")))
      .as[(Int, Double, Long)].collect().toSet
    assert(got === want)
  }

  test("k larger than the group returns the whole group, best-first") {
    val out = Seq((1, 2.0, 10L), (1, 5.0, 11L), (1, 5.0, 9L))
      .toDF("g", "v", "id")
      .groupBy("g").agg(TopKAgg.topK(col("v"), col("id"), 10).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.value"), col("e.id")).as[(Double, Long)].collect().toSeq
    assert(out === Seq((5.0, 9L), (5.0, 11L), (2.0, 10L)))
  }

  test("plan does map-side partial top-k before the exchange") {
    val plan = t(spark, sfDir, "events").groupBy("event_type")
      .agg(TopKAgg.topK(col("value"), col("event_id"), 3).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by_value"),
      s"expected a partial aggregate phase:\n$plan")
    assert(!plan.contains("Window"), s"no window sort wanted:\n$plan")
  }
}
