package graft

import graft.llm.Bm25

class Bm25IndexSpec extends SparkTestBase {
  import spark.implicits._

  private val queries = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("scan", "filter", "slow"))

  test("index probe reproduces the full-scan scorer bit-for-bit") {
    val docs = graft.util.Tables.t(spark, sfDir, "documents")
    val full = Bm25.topK(docs, queries, k = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val probed = Bm25.topKFromIndex(Bm25.buildIndex(docs), queries, k = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sortBy(t => (t._1, t._2)).toSeq ==
      probed.sortBy(t => (t._1, t._2)).toSeq)
    assert(full.nonEmpty)
  }

  test("postings carry one row per (term, doc) with exact tf and dl") {
    val docs = Seq((1L, "a b a c"), (2L, "b b")).toDF("doc_id", "text")
    val idx = Bm25.buildIndex(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(idx == Set(("a", 1L, 4L, 2L), ("b", 1L, 4L, 1L), ("c", 1L, 4L, 1L),
      ("b", 2L, 2L, 2L)))
    val stats = Bm25.indexStats(Bm25.buildIndex(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(stats == ((2L, 6L)))
  }

  test("applyChanges: maintained index row-identical to a full rebuild") {
    import spark.implicits._
    val base = Seq((1L, "a b"), (2L, "b c"), (3L, "c d"), (4L, "d e"))
      .toDF("doc_id", "text")
    val changes = Seq(
      ("I", 5L, "e f"),          // new doc
      ("U", 2L, "b c changed"),  // text change
      ("D", 3L, null.asInstanceOf[String]), // delete
      ("U", 4L, "ghost"), ("D", 4L, null.asInstanceOf[String])) // D wins
      .toDF("op", "doc_id", "text")
    val maintained = Bm25.applyChanges(Bm25.buildIndex(base), changes)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val finalCorpus = Seq((1L, "a b"), (2L, "b c changed"), (5L, "e f"))
      .toDF("doc_id", "text")
    val rebuilt = Bm25.buildIndex(finalCorpus)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(maintained === rebuilt)
  }

  test("probe plan touches only query-term postings: isin filter present, stats broadcast") {
    // r16: topKFromIndex checkpoints the per-doc frame (so the probe
    // runs once across query branches), which hides the probe stage from
    // the result's plan — assert on the lazy probeScores plan instead.
    val docs = graft.util.Tables.t(spark, sfDir, "documents")
    val plan = Bm25.probeScores(Bm25.buildIndex(docs), queries)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("hash IN") || plan.contains("term#") && plan.contains(" IN "), plan)
  }
}
