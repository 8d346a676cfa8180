package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wave-6 invariants: streaming CDC upsert (q199) and the as-of SCD2
  * read (q198). */
class Wave6Spec extends SparkTestBase {
  import spark.implicits._

  private val logSchema = StructType(Seq(
    StructField("k", LongType), StructField("seq", LongType),
    StructField("op", StringType), StructField("v", StringType)))

  private def run(snapRows: Seq[(Long, String)],
      batches: Seq[Seq[(Long, Long, String, String)]]): Map[Long, (String, Boolean)] = {
    val logDir = scratch.dir("w6log")
    // one file per batch, written in order — with maxFilesPerTrigger=1
    // the stream consumes them as separate triggers in listing order
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = scratch.dir("w6b")
      rows.toDF("k", "seq", "op", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(logDir, f"b$i%03d.parquet"))
    }
    val stateDir = scratch.dir("w6state")
    graft.streaming.StreamOps.cdcUpsertStream(spark, logDir, stateDir,
        logSchema, snapRows.toDF("k", "v"))
      .select("k", "v", "from_change")
      .as[(Long, String, Boolean)].collect()
      .map { case (k, v, fc) => k -> (v, fc) }.toMap
  }

  test("cdc stream: late lower-seq update cannot resurrect a tombstone") {
    val out = run(
      snapRows = Seq((1L, "base"), (2L, "keep")),
      batches = Seq(
        Seq((1L, 5L, "D", null)),          // trigger 1: delete at seq 5
        Seq((1L, 3L, "U", "stale"))))      // trigger 2: older update
    assert(!out.contains(1L), "tombstoned key resurrected by a late update")
    assert(out(2L) == ("keep", false))
  }

  test("cdc stream: newer cross-batch update beats the applied one") {
    val out = run(
      snapRows = Seq((1L, "base")),
      batches = Seq(
        Seq((1L, 2L, "U", "v2")),
        Seq((1L, 1L, "U", "v1")),          // older — ignored
        Seq((1L, 7L, "U", "v7"))))         // newer — applied
    assert(out(1L) == ("v7", true))
  }

  test("cdc stream: equal-seq tie resolves U over D in either arrival order") {
    val a = run(Seq((1L, "base")),
      Seq(Seq((1L, 4L, "D", null)), Seq((1L, 4L, "U", "won"))))
    val b = run(Seq((1L, "base")),
      Seq(Seq((1L, 4L, "U", "won")), Seq((1L, 4L, "D", null))))
    assert(a(1L) == ("won", true) && b(1L) == ("won", true))
  }

  test("cdc stream equals the single-shot batch fold on the q129 changelog") {
    val o = graft.util.Tables.t(spark, sfDir, "orders")
    val snap = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
        col("o_orderstatus").as("status"))
    val streamed = SparkEntry.queries("q199_stream_cdc_upsert")(spark, sfDir)
    val upserts = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), (col("o_orderkey") % 7).as("seq"),
        lit("U").as("op"),
        (col("o_totalprice").cast(DecimalType(18, 2)) + lit(10))
          .cast(DecimalType(18, 2)).as("price"),
        col("o_orderpriority").as("status"))
    val deletes = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("k"), (col("o_orderkey") % 11).as("seq"),
        lit("D").as("op"), lit(null).cast(DecimalType(18, 2)).as("price"),
        lit(null).cast(StringType).as("status"))
    val batch = graft.operators.CdcApply(snap,
      upserts.unionByName(deletes), key = "k", seqCols = Seq("seq"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("as-of snapshot: one row per user active at T, consistent with q127") {
    val snap = SparkEntry.queries("q198_asof_snapshot")(spark, sfDir)
    assert(snap.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    val scd = SparkEntry.queries("q127_scd2_build")(spark, sfDir)
    val t0 = 1705363200000000L
    val expected = scd.filter(col("valid_from") <= t0 &&
      (col("valid_to").isNull || col("valid_to") > t0))
    assert(snap.count() == expected.count())
  }
}
