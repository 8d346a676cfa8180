package graft

import graft.llm.ContainmentJoin
import graft.operators.CdcApply

/** Operators leave nothing in the CacheManager. It is shared by every
  * session in the JVM, so a leaked entry outlives its query, and any
  * later plan with a matching subplan reads it instead of recomputing. */
class CacheLeakSpec extends SparkTestBase {
  import spark.implicits._

  // numCachedEntries is private[sql] in Scala, public in bytecode
  private def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("q184 build and collect leave no cache entry behind") {
    val before = cachedEntries
    SparkEntry.queries("q184_containment_dedup")(spark, sfDir).collect()
    assert(cachedEntries == before)
  }

  test("ContainmentJoin.pairs leaves no cache entry behind") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g h i j"),
      (3L, "x y z w v u t")).toDF("id", "text")
    val before = cachedEntries
    val got = ContainmentJoin.pairs(docs, "id", "text", shingleW = 3,
      num = 4, den = 5).select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
    assert(cachedEntries == before)
  }

  test("CdcApply leaves no cache entry behind") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val log = Seq((1L, 1L, "U", "a2"), (2L, 1L, "D", null), (3L, 1L, "I", "c"))
      .toDF("k", "seq", "op", "v")
    val before = cachedEntries
    val got = CdcApply(snap, log, "k", Seq("seq")).select("k", "v")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (3L, "c")))
    assert(cachedEntries == before)
  }
}
