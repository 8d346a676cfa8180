package graft

import org.apache.spark.sql.functions._

class SumSparseHistogramsSpec extends SparkTestBase {
  import spark.implicits._

  test("native hist_sum matches the typed Aggregator path on real data") {
    val e = graft.util.Tables.t(spark, sfDir, "events")
    val perUser = e
      .groupBy(col("event_type"), col("user_id"),
        floor(col("value") / 50).cast("int").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type", "user_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("c")))).as("hist"))

    val native = perUser.groupBy("event_type")
      .agg(expr("sum_sparse_histograms(hist)").as("hist"))
      .select(col("event_type"), explode(col("hist")).as(Seq("bucket", "n")))
    val agg = perUser.groupBy("event_type")
      .agg(graft.operators.HistogramAgg.sumHistograms(col("hist")).as("hist"))
      .select(col("event_type"), explode(col("hist")).as(Seq("bucket", "n")))

    val n = native.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val a = agg.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(n.nonEmpty && n == a)
  }

  test("hist_sum: serialize/deserialize round-trip and null-input tolerance") {
    val df = Seq(
      (1, Map(0 -> 2L, 3 -> 1L)),
      (1, Map(0 -> 1L)),
      (2, Map.empty[Int, Long])).toDF("g", "hist")
      .union(Seq((2, null.asInstanceOf[Map[Int, Long]])).toDF("g", "hist"))
    val got = df.groupBy("g").agg(expr("sum_sparse_histograms(hist)").as("h"))
      .orderBy("g")
      .collect().map(r => r.getMap[Int, Long](1).toMap).toSeq
    assert(got == Seq(Map(0 -> 3L, 3 -> 1L), Map.empty[Int, Long]))
  }
}
