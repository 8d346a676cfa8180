package graft

import graft.operators.Compaction
import graft.util.Tables.t

class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  test("fragmented table compacts to the computed target, rows identical") {
    val dir = scratch.dir("frag") + "/tbl"
    val src = t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    src.repartition(64).write.parquet(dir) // 64 tiny files
    val before = src.as[(Long, Long, Double)].collect().sorted.toSeq
    val (nb, na, rows) = Compaction.compact(spark, dir,
      targetBytes = 512L * 1024)
    assert(nb === 64)
    assert(na < nb, s"compaction must reduce files: $nb -> $na")
    assert(rows === before.length)
    val after = spark.read.parquet(dir)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(after === before, "row multiset must be preserved")
  }

  test("already-compact table collapses to a single file") {
    val dir = scratch.dir("tiny") + "/tbl"
    (1 to 100).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(8).write.parquet(dir)
    val (nb, na, rows) = Compaction.compact(spark, dir)
    assert(nb === 8 && na === 1 && rows === 100)
  }
}
