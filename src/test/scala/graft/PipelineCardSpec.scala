package graft

import org.apache.spark.sql.types._

/** Scale-robustness guards for the q271 fused pipeline card (r13
  * verdict ask #1/#7): the card crashed at sf0.1 because (a) its
  * 3-gram decontamination gate saturated (every corpus doc flagged →
  * empty sampled set) and (b) the partitioned export's read-back used
  * schema inference, which throws on a part-file-less directory. The
  * fixes are an 8-token gate and a schema-explicit read-back; these
  * tests pin both behaviors on every sf fixture present.
  */
class PipelineCardSpec extends SparkTestBase {

  private val card = SparkEntry.queries("q271_pipeline_card")

  private def stageCounts(dir: String): Map[String, Long] =
    card(spark, dir).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n")).toMap

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    val dir = s"/root/testdata/$sf"
    test(s"q271 funnel is non-degenerate at $sf") {
      assume(new java.io.File(dir, "documents.parquet").exists())
      val st = stageCounts(dir)
      // every stage monotone down the funnel...
      assert(st("raw") >= st("eval_holdout"))
      assert(st("eval_holdout") >= st("exact_dedup"))
      assert(st("exact_dedup") >= st("decontaminated"))
      assert(st("decontaminated") >= st("quality"))
      assert(st("quality") >= st("sampled"))
      // ...and the two gates that can silently zero the card are
      // non-degenerate: the decon gate must not saturate (r13's sf0.1
      // failure mode) and the mixture sample must select something.
      assert(st("decontaminated") > 0,
        s"decontamination gate saturated at $sf: $st")
      assert(st("sampled") > 0, s"sampled stage empty at $sf: $st")
      assert(st("exported_rows") === st("sampled"))
    }
  }

  test("schema-explicit parquet read-back survives an empty partitioned export") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_tok", LongType),
      StructField("shard", IntegerType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val path = scratch.dir("graft_card_empty")
    empty.write.mode("overwrite").partitionBy("shard").parquet(path)
    // inference on the part-file-less dir throws UNABLE_TO_INFER_SCHEMA;
    // the explicit schema turns it into the zero-row answer it should be
    assert(spark.read.schema(schema).parquet(path).count() === 0L)
    intercept[Exception](spark.read.parquet(path).count())
  }
}
