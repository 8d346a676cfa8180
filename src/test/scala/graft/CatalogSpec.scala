package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.catalog._

/** Catalog/schema unit tests mirroring the reference's pytest style
  * (jobs/webcompat-kb/tests/test_bqhelpers.py). Pure functions, no
  * SparkSession needed. */
class CatalogSpec extends AnyFunSuite {

  test("StagingMapper rewrites datasets except prod-read exceptions") {
    val m = StagingMapper(staging = true, readFromProd = Set("keep_prod"))
    assert(m.mapId(SchemaId("p", "d", "x")).dataset == "d_test")
    assert(m.mapId(SchemaId("p", "d", "keep_prod")).dataset == "d")
    val off = StagingMapper(staging = false)
    assert(off.mapId(SchemaId("p", "d", "x")).dataset == "d")
  }

  test("FieldDef maps BigQuery-style types to Spark types") {
    assert(FieldDef("s", "STRING").sparkType == StringType)
    assert(FieldDef("i", "INT64").sparkType == LongType)
    assert(FieldDef("n", "NUMERIC").sparkType == DecimalType(38, 9))
    assert(FieldDef("a", "STRING", FieldMode.Repeated).sparkType ==
      ArrayType(StringType, containsNull = false))
    val rec = FieldDef("r", "RECORD", FieldMode.Nullable,
      Seq(FieldDef("x", "INT64", FieldMode.Required)))
    assert(rec.sparkType == StructType(Seq(StructField("x", LongType, nullable = false))))
    assert(FieldDef("req", "STRING", FieldMode.Required).sparkField.nullable == false)
  }
}
