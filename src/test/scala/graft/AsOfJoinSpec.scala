package graft

import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def left = Seq(
    (1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 50L, "p3"), (3L, 10L, "p4"))
    .toDF("k", "t", "lid")
  private def right = Seq(
    (1L, 100L, "c1", 1.0), (1L, 200L, "c2", 2.0), (1L, 300L, "c3", 3.0),
    (2L, 60L, "c4", 4.0))
    .toDF("k", "t", "rid", "v")

  test("backward picks latest right at-or-before each left ts") {
    val out = AsOfJoin.backward(left, right, "k", "t", "rid")
      .orderBy("k", "t").collect()
    // p1@100 matches c1@100 (exact match eligible); p2@250 matches c2@200;
    // p3@50 has no prior right; p4's key has no right rows at all
    assert(out.map(r => (r.getAs[String]("lid"), r.getAs[String]("r_rid")))
      .toSeq === Seq(("p1", "c1"), ("p2", "c2"), ("p3", null), ("p4", null)))
  }

  test("backward tolerance nulls out stale matches") {
    val out = AsOfJoin.backward(left, right, "k", "t", "rid",
        tolerance = Some(30L))
      .orderBy("k", "t").collect()
    // p2@250: latest right is c2@200, gap 50 > 30 → null
    assert(out.map(r => (r.getAs[String]("lid"), r.getAs[String]("r_rid")))
      .toSeq === Seq(("p1", "c1"), ("p2", null), ("p3", null), ("p4", null)))
  }

  test("forward picks earliest right at-or-after each left ts") {
    val out = AsOfJoin.forward(left, right, "k", "t", "rid")
      .orderBy("k", "t").collect()
    assert(out.map(r => (r.getAs[String]("lid"), r.getAs[String]("r_rid")))
      .toSeq === Seq(("p1", "c1"), ("p2", "c3"), ("p3", "c4"), ("p4", null)))
  }

  test("forward tolerance bounds the look-ahead") {
    val out = AsOfJoin.forward(left, right, "k", "t", "rid",
        tolerance = Some(20L))
      .orderBy("k", "t").collect()
    // p2@250 → c3@300 is 50 ahead > 20 → null; p3@50 → c4@60 within 20
    assert(out.map(r => (r.getAs[String]("lid"), r.getAs[String]("r_rid")))
      .toSeq === Seq(("p1", "c1"), ("p2", null), ("p3", "c4"), ("p4", null)))
  }

  test("full right payload carries through with the prefix") {
    val out = AsOfJoin.backward(left, right, "k", "t", "rid")
      .filter(col("lid") === "p2").collect().head
    assert(out.getAs[Long]("r_t") === 200L)
    assert(out.getAs[Double]("r_v") === 2.0)
    assert(out.getAs[Long]("k") === 1L)
  }

  test("tied right rows resolve to the largest tieBreak (backward)") {
    val r2 = Seq((1L, 100L, "a", 0.0), (1L, 100L, "b", 0.0))
      .toDF("k", "t", "rid", "v")
    val out = AsOfJoin.backward(Seq((1L, 150L, "p")).toDF("k", "t", "lid"),
      r2, "k", "t", "rid").collect().head
    assert(out.getAs[String]("r_rid") === "b")
  }

  test("plan is one window pass — no join operator anywhere") {
    val plan = AsOfJoin.backward(left, right, "k", "t", "rid")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Window"), s"expected a window pass:\n$plan")
  }
}
