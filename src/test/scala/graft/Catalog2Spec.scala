package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionedTable, QueryValidation}
import graft.functions.BqShims

class Catalog2Spec extends SparkTestBase {
  import spark.implicits._

  test("PartitionedTable: dynamic partition overwrite touches only incoming partitions") {
    val dir = scratch.dir("pt") + "/t"
    val tbl = PartitionedTable(spark, dir, "yyyymm")
    tbl.append(Seq((202401, 1, "a"), (202401, 2, "b"), (202402, 3, "c"))
      .toDF("yyyymm", "id", "v"))
    assert(tbl.partitions == Seq("202401", "202402"))
    // re-import month 202401 with different content; 202402 untouched
    tbl.overwritePartitions(Seq((202401, 9, "z")).toDF("yyyymm", "id", "v"))
    val got = tbl.read.orderBy("id").collect()
      .map(r => (r.getAs[Int]("yyyymm"), r.getAs[Int]("id"))).toSeq
    assert(got == Seq((202402, 3), (202401, 9)))
    // idempotent re-run: same result
    tbl.overwritePartitions(Seq((202401, 9, "z")).toDF("yyyymm", "id", "v"))
    assert(tbl.read.count() == 2)
  }

  test("QueryValidation: analyzes without executing, catches bad refs") {
    spark.range(3).toDF("id").createOrReplaceTempView("qv_ok")
    assert(QueryValidation.validate(spark, "SELECT id + 1 FROM qv_ok").isEmpty)
    assert(QueryValidation.validate(spark, "SELECT nope FROM qv_ok").isDefined)
    assert(QueryValidation.validate(spark, "SELECT * FROM no_such_table_xyz").isDefined)
    assert(QueryValidation.validate(spark, "SELEKT broken").isDefined)
  }

  test("diff-aware deploy: a 1-view change redeploys exactly 1 view") {
    import graft.dag.{ViewDag, ViewDef}
    spark.range(5).toDF("id").createOrReplaceTempView("dd_src")
    val v1 = Seq(
      ViewDef("dd_top", "SELECT n * 2 AS n2 FROM {{ ref('dd_mid') }}"),
      ViewDef("dd_mid", "SELECT COUNT(*) AS n FROM {{ ref('dd_base') }}"),
      ViewDef("dd_base", "SELECT id FROM {{ ref('dd_src') }}"))
    val first = ViewDag.deploy(spark, v1)
    assert(first.deployed.toSet == Set("dd_base", "dd_mid", "dd_top"))
    // no-op redeploy: everything unchanged, nothing re-registered
    val second = ViewDag.deploy(spark, v1)
    assert(second.deployed.isEmpty && second.unchanged.size == 3)
    // change one leaf: only it redeploys, and (late-binding views)
    // the unchanged dependents still see the new definition
    val v2 = v1.map(v => if (v.name == "dd_base")
      v.copy(sql = "SELECT id FROM {{ ref('dd_src') }} WHERE id < 2") else v)
    val third = ViewDag.deploy(spark, v2)
    assert(third.deployed == Seq("dd_base"), s"deployed: ${third.deployed}")
    assert(third.unchanged.toSet == Set("dd_mid", "dd_top"))
    assert(spark.table("dd_top").collect().head.getLong(0) == 4L) // 2 rows * 2
  }

  test("correctU64Wraparound: values above 2^63 become negative deltas") {
    val big = new java.math.BigDecimal("18446744073709551615") // 2^64 - 1
    val df = Seq("5", "18446744073709551615", "9223372036854775809")
      .toDF("raw")
      .select(col("raw").cast("decimal(20,0)").as("u"))
    val got = df.select(BqShims.correctU64Wraparound(col("u")).as("v"))
      .collect().map(_.getDecimal(0).longValueExact()).toSeq
    assert(got == Seq(5L, -1L, -9223372036854775807L))
  }
}
