package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.PairCountAgg
import graft.util.Tables.t

/** PairCountSelect (r17): the fused pair-count + selection aggregate
  * must match the two-step groupBy(a,b).count → select formulation
  * bit-for-bit, across partial/merge/serde paths. */
class PairCountAggSpec extends SparkTestBase {
  import spark.implicits._

  test("pairTopK matches count + TopK window on real pair data") {
    def pairs(s: SparkSession) = {
      val li = t(s, sfDir, "lineitem").select("l_orderkey", "l_partkey")
      li.select(col("l_orderkey"), col("l_partkey").as("a"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("b")),
          Seq("l_orderkey"))
        .filter(col("a") =!= col("b"))
    }
    val got = pairs(spark).groupBy("a")
      .agg(PairCountAgg.pairTopK(col("b"), 3).as("top"))
      .select(col("a"), posexplode(col("top")))
      .select(col("a"), (col("pos") + 1).as("rank"), col("col.b"), col("col.n"))
      .as[(Long, Int, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("n").desc, col("b").asc)
    val want = windowBaseline(pairs(windowed).groupBy("a", "b").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("a"), col("rank"), col("b"), col("n")))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("countsAtLeast matches count + filter across many partial buffers") {
    val df = (1 to 5000).map(i => (i % 11, (i * 7) % 23))
      .toDF("a", "b").repartition(32)
    val got = df.groupBy("a")
      .agg(PairCountAgg.countsAtLeast(col("b"), 20L).as("bs"))
      .select(col("a"), explode(col("bs")).as("e"))
      .select(col("a"), col("e.b"), col("e.n"))
      .as[(Int, Long, Long)].collect().toSet
    val want = df.groupBy("a", "b").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20)
      .select(col("a"), col("b").cast("long"), col("n"))
      .as[(Int, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty, "selection should keep some pairs at this floor")
  }

  test("eval order is (n DESC, b ASC) and k bounds the output") {
    val df = Seq((1, 5L), (1, 5L), (1, 3L), (1, 3L), (1, 9L), (1, 9L), (1, 1L))
      .toDF("a", "b")
    val out = df.groupBy("a")
      .agg(PairCountAgg.pairTopK(col("b"), 2).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.b"), col("e.n")).as[(Long, Long)].collect().toSeq
    // counts: 5->2, 3->2, 9->2, 1->1; top-2 by (n DESC, b ASC) = (3,2),(5,2)
    assert(out === Seq((3L, 2L), (5L, 2L)))
  }

  test("null b values are ignored, empty groups publish empty arrays") {
    val df = Seq((1, Some(4L)), (1, None), (2, None))
      .toDF("a", "b")
    val out = df.groupBy("a")
      .agg(PairCountAgg.countsAtLeast(col("b"), 1L).as("bs"))
      .select(col("a"), size(col("bs")).as("sz"))
      .as[(Int, Int)].collect().toMap
    assert(out === Map(1 -> 1, 2 -> 0))
  }

  test("plan partial-aggregates the pair map before the exchange") {
    val plan = t(spark, sfDir, "lineitem")
      .groupBy("l_orderkey")
      .agg(PairCountAgg.pairTopK(col("l_partkey"), 3).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_pair_count_select"),
      s"expected a partial aggregate phase:\n$plan")
  }
}
