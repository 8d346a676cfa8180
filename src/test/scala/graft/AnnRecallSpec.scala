package graft

import org.apache.spark.sql.functions._
import graft.llm.Ann

/** Recall properties of the approximate ANN paths against the exact
  * brute-force baseline, on the sf0.001 embeddings fixture. The data
  * and all hashing are deterministic, so these are exact assertions,
  * not statistical ones.
  */
class AnnRecallSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(approx: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else approx.intersect(truth).size.toDouble / truth.size

  test("LSH multi-probe recall >= single-probe recall (and both nonzero)") {
    val queries = emb.filter(col("vec_id") < 50)
    val truth = pairs(Ann.bruteForceTopK(emb, queries, k = 3))
    val single = recall(pairs(Ann.lshTopK(emb, queries, k = 3, nBits = 6, multiProbe = false)), truth)
    val multi = recall(pairs(Ann.lshTopK(emb, queries, k = 3, nBits = 6, multiProbe = true)), truth)
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi > 0.0)
  }

  test("multi-table LSH recall >= single-table recall, no duplicate pairs") {
    val queries = emb.filter(col("vec_id") < 50)
    val truth = pairs(Ann.bruteForceTopK(emb, queries, k = 3))
    val one = recall(pairs(Ann.lshTopK(emb, queries, k = 3, nBits = 6, nTables = 1)), truth)
    val multi = Ann.lshTopK(emb, queries, k = 3, nBits = 6, nTables = 8)
    val multiR = recall(pairs(multi), truth)
    assert(multiR >= one, s"8-table recall $multiR < 1-table $one")
    // cross-table candidate dedupe: (qid, rank) unique
    val n = multi.count()
    assert(multi.select("qid", "rank").distinct().count() == n)
  }

  test("PQ-ADC recall vs brute force stays above the pinned floor") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = pairs(Ann.bruteForceTopK(emb, queries, k = 3))
    val pq = pairs(graft.llm.Pq.pqTopK(emb, queries, k = 3, dim = 64,
      m = 8, ksub = 16, refine = 16))
    val r = recall(pq, truth)
    // measured 0.82 on the sf0.001 fixture (synthetic isotropic
    // embeddings are PQ's worst case — no cluster structure for the
    // codebooks to exploit); pinned with slack so seeding tweaks don't
    // flake the suite
    assert(r >= 0.6, s"PQ recall $r below pinned floor 0.6")
  }

  test("IVF-PQ composition: probed-cell ADC recall above floor, schema matches brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = pairs(Ann.bruteForceTopK(emb, queries, k = 3))
    val ivfpq = graft.llm.Pq.ivfPqTopK(emb, queries, k = 3, dim = 64,
      m = 8, ksub = 16, nCells = 8, nProbe = 4, refine = 16)
    assert(ivfpq.columns.toSeq == Seq("qid", "rank", "cid", "cosine"))
    val r = recall(pairs(ivfpq), truth)
    // the cell prune can only lose candidates PQ would have scored, so
    // the floor sits below the plain-PQ pin; half the cells are probed
    assert(r >= 0.5, s"IVF-PQ recall $r below floor 0.5")
    // determinism: two runs produce identical pairs
    assert(pairs(graft.llm.Pq.ivfPqTopK(emb, queries, k = 3, dim = 64,
      m = 8, ksub = 16, nCells = 8, nProbe = 4, refine = 16)) == pairs(ivfpq))
  }

  test("IVF with a Lloyd step returns top-k candidates with positive recall") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = pairs(Ann.bruteForceTopK(emb, queries, k = 3))
    val ivf = pairs(Ann.ivfTopK(emb, queries, k = 3, nCells = 16, nProbe = 4))
    assert(recall(ivf, truth) > 0.0)
    // every query got answers (probing never empties a query's candidate set)
    val qids = Ann.ivfTopK(emb, queries, k = 3).select("qid").distinct().count()
    assert(qids == queries.count())
  }
}
