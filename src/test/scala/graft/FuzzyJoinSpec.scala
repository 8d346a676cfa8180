package graft

import graft.operators.FuzzyJoin

class FuzzyJoinSpec extends SparkTestBase {
  import spark.implicits._

  private val clean = Seq(
    (1L, "alpha widget"), (2L, "alpha wedget"), (3L, "beta gear"),
    (4L, "gamma bolt")).toDF("id", "name")

  test("best match per dirty record: lowest dist, ties to lowest id") {
    val dirty = Seq(
      (10L, "alpha widgex"), // dist 1 to #1, dist 2 to #2 -> #1
      (11L, "alpha wadget"), // dist 1 to both #1 and #2 -> tie -> #1
      (12L, "beta gearzzzz"), // dist 4 to #3 -> dropped (budget 2)
      (13L, "gamma jolt")) // dist 1 to #4
      .toDF("id", "name")
    val got = FuzzyJoin.resolve(dirty, clean, maxDist = 2, prefixLen = 4)
      .select("dirty_id", "clean_id", "dist")
      .orderBy("dirty_id").as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((10L, 1L, 1), (11L, 1L, 1), (13L, 4L, 1)))
  }

  test("blocking: a typo inside the prefix falls out of the block") {
    val dirty = Seq((20L, "xlpha widget")).toDF("id", "name") // dist 1 but prefix broken
    val got = FuzzyJoin.resolve(dirty, clean, maxDist = 2, prefixLen = 4)
    assert(got.count() == 0)
  }

  test("candidates are block-bounded, never a cross product") {
    val dirty = Seq((30L, "alpha widgey")).toDF("id", "name")
    val plan = FuzzyJoin.resolve(dirty, clean, maxDist = 2, prefixLen = 4)
      .queryExecution.executedPlan.toString
    // the candidate join must be an equi-join on the block key (hash or
    // broadcast-hash), not BroadcastNestedLoop/cartesian
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin"), plan)
  }
}
