package graft

import org.apache.spark.sql.functions._

class SketchRollupSpec extends SparkTestBase {
  import spark.implicits._

  test("partition-and-merge equals one-shot: sketches are mergeable") {
    val ids = spark.range(0, 5000).select(col("id"), (col("id") % 7).as("p"))
    val oneShot = ids.agg(
      hll_sketch_estimate(hll_sketch_agg(col("id"))).as("est"))
      .as[Long].head()
    val merged = ids.groupBy("p").agg(hll_sketch_agg(col("id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .as[Long].head()
    assert(oneShot == merged, s"one-shot $oneShot vs merged $merged")
    assert(math.abs(oneShot - 5000L) <= 250L) // within ~5%
  }

  test("sketches survive a parquet round trip as binary columns") {
    val dir = scratch.dir("sk_spec")
    val ids = spark.range(0, 2000).select(col("id"), (col("id") % 3).as("p"))
    ids.groupBy("p").agg(hll_sketch_agg(col("id")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val est = spark.read.parquet(dir)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .as[Long].head()
    val direct = ids.agg(hll_sketch_estimate(hll_sketch_agg(col("id"))))
      .as[Long].head()
    assert(est == direct)
  }

  test("estimate is NOT partitioning-invariant — which is why q133 " +
      "publishes an error-bound boolean, never the raw estimate") {
    // DataSketches HLL uses the HIP estimator for streamed inserts and a
    // different (register-only) estimator after unions, so the estimate
    // shifts slightly with how the data was partitioned (measured: 3002
    // vs 2993 on 3000 ids at 2 vs 17 partitions). The drift stays well
    // inside the advertised rsd; the published column must be the
    // bound check, not the number.
    val ids = spark.range(0, 3000)
    val a = ids.repartition(2).agg(
      hll_sketch_estimate(hll_sketch_agg(col("id")))).as[Long].head()
    val b = ids.repartition(17).agg(
      hll_sketch_estimate(hll_sketch_agg(col("id")))).as[Long].head()
    assert(math.abs(a - b) <= 60L, s"drift $a vs $b beyond 2%")
    assert(math.abs(a - 3000L) <= 150L && math.abs(b - 3000L) <= 150L)
  }
}
