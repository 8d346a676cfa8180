package graft

import graft.util.Hold

/** Every SparkEntry query runs on sf0.001 and yields a sane result.
  * (Value-level correctness is the driver's DuckDB gate at sf0.01 —
  * mirrored locally by tools/check_driver.py.) */
class QueriesSmokeSpec extends SparkTestBase {

  // Queries whose legitimate result can be empty at sf0.001.
  private val mayBeEmpty = Set("q05_regex_filter", "q12_anti_join",
    "q22_except_distinct", "q71_jaccard_neardup", "q72_minhash_lsh",
    "q254_jw_linkage")

  // Queries that read the reference SQL corpus.
  private val needsCorpus = Set("q108_corpus_sweep", "q109_corpus_exec")

  // Each query is built and counted in one Hold.scope, with no GC
  // forced: when the scope closes, no RDD it persisted may remain beyond
  // the named pins.
  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows") {
      if (needsCorpus(name)) assume(corpusAvailable, "reference corpus not present")
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val n = Hold.scope(fn(spark, sfDir).count())
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      val left = Hold.loose(spark.sparkContext) -- before
      assert(left.isEmpty, s"$name left persisted RDDs: $left")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
