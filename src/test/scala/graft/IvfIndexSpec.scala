package graft

import org.apache.spark.sql.functions._
import graft.llm.Ann

class IvfIndexSpec extends SparkTestBase {

  private lazy val emb = graft.util.Tables.t(spark, sfDir, "embeddings")
  private lazy val idxDir = {
    val p = scratch.dir("ivfidx_spec")
    Ann.writeIvfIndex(emb, nCells = 8, kmeansIters = 1, p)
    p
  }

  test("persisted-index probe reproduces the in-query IVF exactly") {
    val qs = emb.filter(col("vec_id") < 10)
    val direct = Ann.ivfTopK(emb, qs, k = 3, nCells = 8, nProbe = 4, kmeansIters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val probed = Ann.ivfTopKFromIndex(spark, idxDir, qs, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(direct.nonEmpty)
    assert(direct.sortBy(t => (t._1, t._2)).toSeq ==
      probed.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("assignment scan partition-prunes to the probed cells") {
    val qs = emb.filter(col("vec_id") < 3)
    val plan = Ann.ivfTopKFromIndex(spark, idxDir, qs, k = 3, nProbe = 2)
      .queryExecution.executedPlan.toString
    // the parquet assignments scan must carry a partition filter on cell
    // (pruned directories), not a post-scan filter over all cells
    assert(plan.contains("PartitionFilters: [cell"), plan)
  }

  test("index layout: one assignment row per corpus vector, cells cover all") {
    val asg = spark.read.parquet(s"$idxDir/assignments")
    assert(asg.count() == emb.count())
    assert(asg.select("cid").distinct().count() == emb.count())
    val nCells = spark.read.parquet(s"$idxDir/centroids").count()
    assert(asg.select("cell").distinct().count() <= nCells)
  }
}
