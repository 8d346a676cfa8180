package graft

import graft.operators.ConnectedComponents.connectedComponents
import graft.llm.TextDedup

class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def cc(vs: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] =
    connectedComponents(
      vs.toDF("id"), es.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("isolated vertices label themselves") {
    assert(cc(Seq(1L, 2L, 3L), Seq.empty) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("two components + isolated vertex get min-id labels") {
    val got = cc(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      Seq((2L, 5L), (5L, 3L), (6L, 7L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 2L,
      6L -> 6L, 7L -> 6L))
  }

  test("long chain converges within the iteration budget (star contraction)") {
    // a 64-vertex path: pure label propagation needs 63 rounds; the
    // star-contraction shortcut must close it inside maxIter=20
    val n = 64L
    val got = cc(0L until n, (0L until n - 1).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(0L))
  }

  test("edge orientation is irrelevant (symmetrized internally)") {
    assert(cc(Seq(1L, 2L, 3L), Seq((3L, 2L), (2L, 1L))).values.toSet == Set(1L))
  }

  test("clusterAssignments: exact dups cluster, canonical = min doc id") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "omega psi chi phi upsilon"),
      (13L, "alpha beta gamma delta epsilon"),
      (14L, "one two three four five")).toDF("doc_id", "text")
    val got = TextDedup.clusterAssignments(docs, threshold = 0.95,
      k = 32, bands = 8, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((10L, 10L, 1), (11L, 10L, 0), (12L, 12L, 1),
      (13L, 10L, 0), (14L, 14L, 1)))
  }
}
