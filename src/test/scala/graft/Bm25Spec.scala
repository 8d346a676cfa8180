package graft

import graft.llm.Bm25

class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("per-query ranks are 1..k with non-increasing scores") {
    val r = Bm25.topK(docs, Seq(1 -> Seq("hash", "join"), 2 -> Seq("scan")), k = 5)
      .orderBy("query_id", "rank").collect()
    r.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).toSeq == (1 to rows.length))
      val scores = rows.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  test("matching both terms beats matching one; rarer term outweighs common one") {
    val d = Seq(
      (1L, "alpha beta gamma gamma"),
      (2L, "alpha gamma gamma gamma"),
      (3L, "beta gamma gamma gamma"),
      (4L, "gamma gamma gamma gamma"),
      (5L, "alpha alpha alpha alpha"),
      (6L, "beta delta delta delta")
    ).toDF("doc_id", "text")
    // 'alpha' (df=3) and 'beta' (df=3) vs common 'gamma' (df=4)
    val both = Bm25.topK(d, Seq(1 -> Seq("alpha", "beta")), k = 6).collect()
    assert(both.head.getLong(2) == 1L, "doc with both terms must rank first")
    // rarer 'delta' (df=1) must outscore 'gamma' (df=4) at equal tf/dl
    val rare = Bm25.topK(d, Seq(1 -> Seq("delta"), 2 -> Seq("gamma")), k = 1)
      .orderBy("query_id").collect()
    assert(rare(0).getDouble(3) > rare(1).getDouble(3))
  }

  test("scores are partition-invariant bit-for-bit") {
    val qs = Seq(1 -> Seq("hash", "join"), 2 -> Seq("spark", "stream", "window"))
    val a = Bm25.topK(docs, qs, k = 10).orderBy("query_id", "rank")
      .collect().map(_.toString).toSeq
    val b = Bm25.topK(docs.repartition(13), qs, k = 10).orderBy("query_id", "rank")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("docs without any query term never appear") {
    val d = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val r = Bm25.topK(d, Seq(1 -> Seq("alpha")), k = 10).collect()
    assert(r.map(_.getLong(2)).toSet == Set(1L))
  }
}
