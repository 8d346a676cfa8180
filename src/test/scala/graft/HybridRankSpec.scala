package graft

import graft.llm.HybridRank

class HybridRankSpec extends SparkTestBase {
  import spark.implicits._

  test("doc present in both rankings outranks single-list docs at similar depth") {
    // q1: lexical ranks docs 10,11,12; dense ranks 11,20,21.
    // doc 11 (rank 2 + rank 1) must fuse above everything else.
    val lex = Seq((1, 1, 10L), (1, 2, 11L), (1, 3, 12L))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq((1, 1, 11L), (1, 2, 20L), (1, 3, 21L))
      .toDF("qid", "rank", "cid")
    val got = HybridRank.rrf(lex, dense, k0 = 60, topK = 10)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got.head == (1, 11L), s"fused head: $got")
    // absent-side ranks are null, contribute 0 — single-list docs keep
    // their relative order after the both-list doc
    assert(got.map(_._2).toSet == Set(10L, 11L, 12L, 20L, 21L))
  }

  test("rrf arithmetic: exact reciprocal sums, fixed order") {
    val lex = Seq((1, 1, 5L)).toDF("query_id", "rank", "doc_id")
    val dense = Seq((1, 3, 5L)).toDF("qid", "rank", "cid")
    val rrf = HybridRank.rrf(lex, dense, k0 = 60, topK = 1)
      .select("rrf").as[Double].head()
    val expected = BigDecimal(1.0 / 61 + 1.0 / 63)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rrf == expected, s"$rrf != $expected")
  }

  test("ties broken by doc_id; topK truncates per query independently") {
    val lex = Seq((1, 1, 7L), (1, 1, 3L), (2, 1, 9L))
      .toDF("query_id", "rank", "doc_id")
    val dense = Seq.empty[(Int, Int, Long)].toDF("qid", "rank", "cid")
    val got = HybridRank.rrf(lex, dense, k0 = 60, topK = 1)
      .orderBy("query_id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1, 1, 3L), (2, 1, 9L)))
  }
}
