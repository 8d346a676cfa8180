package graft

/** The SQL surface of the native expressions: the session built with
  * spark.sql.extensions=graft.GraftExtensions can call every custom
  * Catalyst expression/aggregate from plain SQL.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("dot_product_f32 is callable from SQL") {
    val r = spark.sql(
      """SELECT dot_product_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                       array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
        |""".stripMargin).head.getDouble(0)
    assert(math.abs(r - 11.0) < 1e-9)
  }

  test("portable_hash60 is callable from SQL and matches the md5 derivation") {
    val r = spark.sql(
      """SELECT portable_hash60('spark') AS h,
        |  CAST(conv(substring(md5('spark'), 1, 15), 16, 10) AS BIGINT) AS ref
        |""".stripMargin).head
    assert(r.getLong(0) == r.getLong(1))
  }

  test("native aggregates are callable from SQL") {
    import spark.implicits._
    Seq("a", "a", "b", "a", "c").toDF("k").createOrReplaceTempView("t")
    val mg = spark.sql("SELECT misra_gries(k, 4) AS m FROM t")
      .head.getMap[String, Long](0)
    assert(mg("a") == 3L)
    val cms = spark.sql("SELECT count_min_sketch(k, 2, 8) AS c FROM t")
      .head.getSeq[Long](0)
    assert(cms.length == 16 && cms.sum == 5L * 2)
    Seq((1.0, 10L), (5.0, 20L), (3.0, 30L)).toDF("v", "id")
      .createOrReplaceTempView("s")
    val tk = spark.sql("SELECT top_k_by_value(v, id, 2) AS t FROM s")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(_.getLong(1)) == Seq(20L, 30L))
  }

  test("non-literal sketch parameters are rejected with a clear error") {
    import spark.implicits._
    Seq("a").toDF("k").createOrReplaceTempView("t2")
    val e = intercept[Exception](
      spark.sql("SELECT misra_gries(k, length(k)) FROM t2").collect())
    assert(e.getMessage.contains("integer literal"))
  }
}
