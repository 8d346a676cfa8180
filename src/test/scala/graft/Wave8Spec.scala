package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wave-8 invariants: CDC capture (q204), bitmap index (q205),
  * encoding stats (q201). */
class Wave8Spec extends SparkTestBase {

  test("cdc capture -> apply round-trips the new snapshot exactly") {
    val o = graft.util.Tables.t(spark, sfDir, "orders")
    val snapOld = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
        col("o_orderstatus").as("status"))
    val snapNew = o.filter(col("o_orderkey") % 7 =!= 3)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(DecimalType(18, 2)) +
          when(col("o_orderkey") % 3 === 0, 5).otherwise(0))
          .cast(DecimalType(18, 2)).as("price"),
        col("o_orderstatus").as("status"))
    val log = graft.operators.CdcApply.capture(snapOld, snapNew, "k")
    // the captured log is |delta|-sized: every row is a real change
    assert(log.filter(col("op").isNull).count() == 0)
    val applied = graft.operators.CdcApply(snapOld,
        log.withColumn("seq", lit(1L)), key = "k", seqCols = Seq("seq"))
      .drop("from_change")
    assert(applied.exceptAll(snapNew).isEmpty &&
      snapNew.exceptAll(applied).isEmpty)
    // all three ops occur in this fixture
    val ops = log.select("op").distinct().collect().map(_.getString(0)).toSet
    assert(ops == Set("I", "U", "D"))
  }

  test("capture of identical snapshots is empty") {
    val o = graft.util.Tables.t(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
    assert(graft.operators.CdcApply.capture(o, o, "k").isEmpty)
  }

  test("bitmap answer agrees with the direct scan") {
    val r = SparkEntry.queries("q205_bitmap_index")(spark, sfDir).collect()(0)
    assert(r.getAs[Boolean]("agree"))
    assert(r.getAs[Long]("n_match") > 0)
  }

  test("multi-touch: per-conversion credits sum within n of the unit") {
    val e = graft.util.Tables.t(spark, sfDir, "events")
      .select(col("user_id").as("key"),
        graft.functions.BqShims.epochMicros(col("ts")).as("ts"),
        col("event_type").as("kind"), col("event_id").as("id"))
    val credits = graft.operators.Attribution.linearMultiTouch(e,
      Seq("click", "view"), "purchase", 259200000000L)
    val perConv = credits.groupBy("conv_id")
      .agg(sum("credit").as("total"), count(lit(1)).as("n"))
    val unit = 1000000000000L
    val bad = perConv.filter(col("total") > unit ||
      col("total") <= lit(unit) - col("n")).count()
    assert(bad == 0, "per-conversion credit outside (unit-n, unit]")
    // every credited touch strictly precedes (or ties into) its conversion
    assert(credits.filter(col("conv_ts") < col("ts")).count() == 0)
  }

  test("cube: gid partitions agree with per-set aggregates") {
    val r = SparkEntry.queries("q206_cube")(spark, sfDir)
    val n = graft.util.Tables.t(spark, sfDir, "orders").count()
    // gid=3 is the grand total; gid=0 rows sum to the table size
    val grand = r.filter(col("gid") === 3).collect()
    assert(grand.length == 1 && grand(0).getAs[Long]("n") == n)
    val detail = r.filter(col("gid") === 0)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(detail == n)
  }

  test("streaming MG guarantees hold under a different trigger chop") {
    val docs = graft.util.Tables.t(spark, sfDir, "events")
      .select("event_id", "user_id")
    val srcDir = scratch.dir("w8hh")
    docs.repartition(6).write.mode("overwrite").parquet(srcDir)
    val stateDir = scratch.dir("w8hhs")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val k = 8
    def toKeys(b: org.apache.spark.sql.DataFrame) = b.select(
      floor(sqrt(col("user_id").cast("double"))).cast("long")
        .cast("string").as("key"))
    val summary = graft.streaming.StreamOps.heavyHittersStream(
      spark, srcDir, schema, toKeys, k, stateDir, maxFilesPerTrigger = 2)
    assert(summary.count() <= k)
    val e = toKeys(docs)
    val n = e.count()
    val exact = e.groupBy("key").agg(count(lit(1)).as("exact_n"))
    val joined = exact.filter(col("exact_n") * (k + 1) > n)
      .join(summary.select(col("key"), col("cnt").as("est")), Seq("key"), "left")
    assert(joined.filter(col("est").isNull).count() == 0,
      "a true heavy hitter missing from the merged summary")
    assert(joined.filter((col("exact_n") - col("est")) * (k + 1) > n)
      .count() == 0, "estimate error exceeded N/(k+1) after merges")
  }

  test("encoding stats: runs bounded by [n_distinct, n] and decisions sane") {
    val rows = SparkEntry.queries("q201_encoding_stats")(spark, sfDir)
      .collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val n = r.getAs[Long]("n"); val nd = r.getAs[Long]("n_distinct")
      val runs = r.getAs[Long]("runs")
      assert(runs >= nd && runs <= n, s"runs $runs outside [$nd, $n]")
    }
  }
}
