package graft

import org.apache.spark.sql.functions._
import graft.operators.ResultCache

class ResultCacheSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot =
    scratch.dir("graft_rc")

  test("second identical query is served from the cache") {
    val root = freshRoot
    val q = Seq((1L, "a"), (2L, "b")).toDF("id", "v").filter(col("id") > 0)
    val (r1, hit1) = ResultCache.getOrCompute(spark, q, root, "v1")
    assert(!hit1 && r1.count() == 2)
    val (r2, hit2) = ResultCache.getOrCompute(spark, q, root, "v1")
    assert(hit2 && r2.count() == 2)
  }

  test("key is canonical: aliases and column order don't miss the cache") {
    val root = freshRoot
    val df = Seq((1L, 2L)).toDF("x", "y")
    val a = df.select(col("x").as("x"), col("y"))
    val b = df.select(col("x"), col("y"))
    assert(ResultCache.key(a, "v1") == ResultCache.key(b, "v1"))
  }

  test("a different plan or fingerprint recomputes") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    val (_, h1) = ResultCache.getOrCompute(spark, df, root, "v1")
    assert(!h1)
    // new fingerprint = new world version -> recompute
    val (_, h2) = ResultCache.getOrCompute(spark, df, root, "v2")
    assert(!h2)
    // different predicate -> different plan key
    val (_, h3) =
      ResultCache.getOrCompute(spark, df.filter(col("id") > 0), root, "v1")
    assert(!h3)
    // and each now hits on repeat
    assert(ResultCache.getOrCompute(spark, df, root, "v2")._2)
  }

  test("a missing commit marker is treated as absent (crash-safe)") {
    val root = freshRoot
    val df = Seq((1L, "a")).toDF("id", "v")
    ResultCache.getOrCompute(spark, df, root, "v1")
    val dir = java.nio.file.Paths.get(root, ResultCache.key(df, "v1"))
    java.nio.file.Files.delete(dir.resolve("_GRAFT_COMMITTED"))
    val (_, hit) = ResultCache.getOrCompute(spark, df, root, "v1")
    assert(!hit, "uncommitted cache entry must be recomputed, not served")
  }
}
