package graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BlockId

import graft.llm.ContainmentJoin
import graft.operators.CdcApply
import graft.util.Hold

/** Operators leave nothing in the CacheManager, and run in a scope they
  * leave no RDD block in the block manager. The CacheManager is shared
  * by every session in the JVM, so a leaked entry outlives its query,
  * and any later plan with a matching subplan reads it instead of
  * recomputing; a leaked block holds executor memory until a driver GC. */
class CacheLeakSpec extends SparkTestBase {
  import spark.implicits._

  // numCachedEntries is private[sql] in Scala, public in bytecode
  private def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  // The RDD blocks of the block manager the driver and the local
  // executor share (getMatchingBlockIds is private[spark] in Scala,
  // public in bytecode).
  private def rddBlocks: Set[BlockId] = {
    val bm = SparkEnv.get.getClass.getMethod("blockManager").invoke(SparkEnv.get)
    val isRdd: BlockId => Boolean = _.isRDD
    bm.getClass.getMethod("getMatchingBlockIds", classOf[Function1[_, _]])
      .invoke(bm, isRdd).asInstanceOf[Seq[BlockId]].toSet
  }

  /** Runs `body` in a scope and checks that it leaves no cache entry and
    * no RDD block behind. */
  private def leavesNothing[T](body: => T): T = {
    val (entries, blocks) = (cachedEntries, rddBlocks)
    val out = Hold.scope(body)
    assert(cachedEntries == entries)
    assert(rddBlocks -- blocks == Set.empty)
    out
  }

  test("q184 build and collect leave no cache entry behind") {
    leavesNothing(SparkEntry.queries("q184_containment_dedup")(spark, sfDir).collect())
  }

  test("ContainmentJoin.pairs leaves no cache entry behind") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g h i j"),
      (3L, "x y z w v u t")).toDF("id", "text")
    val got = leavesNothing(ContainmentJoin.pairs(docs, "id", "text", shingleW = 3,
      num = 4, den = 5).select("a", "b").as[(Long, Long)].collect().toSet)
    assert(got == Set((1L, 2L)))
  }

  test("CdcApply leaves no cache entry behind") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val log = Seq((1L, 1L, "U", "a2"), (2L, 1L, "D", null), (3L, 1L, "I", "c"))
      .toDF("k", "seq", "op", "v")
    val got = leavesNothing(CdcApply(snap, log, "k", Seq("seq")).select("k", "v")
      .as[(Long, String)].collect().toSet)
    assert(got == Set((1L, "a2"), (3L, "c")))
  }
}
