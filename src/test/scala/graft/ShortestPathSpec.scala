package graft

import graft.operators.ShortestPath
import graft.util.Hold

class ShortestPathSpec extends SparkTestBase {
  import spark.implicits._

  test("relax rounds find the cheaper multi-hop path over the direct edge") {
    // 1 -> 2 (w=10), 1 -> 3 (w=1), 3 -> 2 (w=1): best 1->2 is 2 via 3
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val src = Seq(1L).toDF("id")
    val got = ShortestPath.run(edges, src, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
  }

  test("hop bound is respected: paths longer than `rounds` stay at Inf") {
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val src = Seq(1L).toDF("id")
    val r1 = ShortestPath.run(chain, src, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 3L -> ShortestPath.Inf,
      4L -> ShortestPath.Inf))
    val r3 = ShortestPath.run(chain, src, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("multiple sources: every node takes its nearest source") {
    val edges = Seq((1L, 2L, 5L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    val src = Seq(1L, 3L).toDF("id")
    val got = ShortestPath.run(edges, src, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
  }
  test("run releases its loop caches: no session-lifetime cache leak") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L)).toDF("src", "dst", "w")
    val src = Seq(1L).toDF("id")
    Hold.scope {
      assert(ShortestPath.run(edges, src, rounds = 2).count() == 3)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left: $leaked")
  }
}
