package graft

import graft.operators.PageRank

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("matches a hand-rolled reference on a small directed graph") {
    // 1 -> 2, 1 -> 3, 2 -> 3, 3 -> 1 (classic 3-node example)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = PageRank.run(edges, iters = 3)
      .as[(Long, Long)].collect().toMap

    // driver-side integer replay of the same arithmetic
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L))
    var r = Map(1L -> PageRank.Scale, 2L -> PageRank.Scale, 3L -> PageRank.Scale)
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, ds) <- out; v <- ds) in(v) += r(u) / ds.length
      r = r.keys.map(v => v -> (PageRank.Teleport + 85L * in(v) / 100L)).toMap
    }
    assert(got == r)
    // sanity: node 3 (two in-edges incl. full rank of 2) outranks 1 and 2
    assert(r(3L) > r(1L) && r(3L) > r(2L))
  }

  test("rank mass stays bounded: teleport floor and near-conservation") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ranks = PageRank.run(edges, iters = 4).as[(Long, Long)].collect()
    assert(ranks.forall(_._2 >= PageRank.Teleport))
    // no dangling nodes here -> total mass conserved up to floor-div loss
    val total = ranks.map(_._2).sum
    assert(total <= 3 * PageRank.Scale && total > 3 * PageRank.Scale - 100L,
      s"total=$total")
  }

  test("edges are shuffled once: iteration joins reuse the cached layout") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val (ranks, ed, nodes) = PageRank.iterate(edges, iters = 3)
    val plan = ranks.queryExecution.executedPlan.toString
    // the stationary edge+degree table enters every iteration as an
    // InMemoryTableScan (cached), never as a re-executed join pipeline
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(ranks.count() == 3)
    ed.unpersist(true); nodes.unpersist(true)
  }

  test("run releases its loop caches: no session-lifetime cache leak") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ranks = PageRank.run(edges, iters = 3)
    assert(ranks.count() == 3)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the localCheckpoint'd result vector may remain persisted (it
    // is context-cleaned when the result is released); the ed/nodes loop
    // caches must be gone
    assert(leaked.size <= 1, s"leaked cached RDDs: $leaked")
  }
}
