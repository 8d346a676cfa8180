package graft

import graft.catalog.QueryValidation

class Catalog2Spec extends SparkTestBase {

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
}
