package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.ArrayKernels
import graft.llm.Ann

class ArrayKernelsSpec extends SparkTestBase {

  private lazy val emb = graft.util.Tables.t(spark, sfDir, "embeddings").limit(50)

  private def pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
    .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
    .filter(col("a_id") < col("b_id"))

  test("dot_arr float×float matches the HOF double dot bit-for-bit") {
    val both = pairs.select(
      ArrayKernels.dotArr(col("a"), col("b")).as("native"),
      Ann.dotDouble(col("a"), col("b")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 1000)
  }

  test("dot_arr mixed float×double matches the HOF (the centroid-routing shape)") {
    val d = pairs.withColumn("bd", transform(col("b"), x => x.cast(DoubleType)))
    val both = d.select(
      ArrayKernels.dotArr(col("a"), col("bd")).as("native"),
      Ann.dotDouble(col("a"), col("bd")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("dist2_arr double×double matches the HOF squared-L2 bit-for-bit") {
    val d = pairs
      .withColumn("ad", transform(col("a"), x => x.cast(DoubleType)))
      .withColumn("bd", transform(col("b"), x => x.cast(DoubleType)))
    val hof = aggregate(zip_with(col("ad"), col("bd"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val both = d.select(
      ArrayKernels.dist2Arr(col("ad"), col("bd")).as("native"), hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("kernels participate in whole-stage codegen") {
    val df = emb.select(
        ArrayKernels.dotArr(col("embedding"), col("embedding")).as("n2"))
      .agg(sum("n2"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"dot_arr fell out of codegen:\n$plan")
  }

  test("precomputed-weight LSH signature is bit-identical to the per-row HOF") {
    val all = graft.util.Tables.t(spark, sfDir, "embeddings")
    for (offset <- Seq(0, 6, 42)) {
      val both = all.select(
        Ann.lshSignature(col("embedding"), nBits = 6, offset).as("fast"),
        Ann.lshSignatureHof(col("embedding"), nBits = 6, offset).as("hof"))
      assert(both.filter(col("fast") =!= col("hof")).count() == 0,
        s"signature mismatch at planeOffset=$offset")
    }
  }

  test("qdot_arr checked mode fails loudly on out-of-contract inputs") {
    import spark.implicits._
    import graft.functions.QDotArr
    // |v| = 2^25 at dim 4: each quantized element is 2^45, each product
    // 2^90 — far outside long. The default (unchecked) fold wraps
    // silently; checked mode must throw instead of mis-ranking.
    val big = Seq((Array.fill(4)(math.pow(2, 25)), Array.fill(4)(math.pow(2, 25))))
      .toDF("a", "b")
    val inContract = Seq((Array.fill(4)(0.5), Array.fill(4)(0.25))).toDF("a", "b")
    def qdot(df: org.apache.spark.sql.DataFrame) =
      df.select(ArrayKernels.qdotArr(col("a"), col("b"))).collect()
    assert(QDotArr.checked === false, "checked mode must default off (hot path)")
    qdot(big) // unchecked: wraps, no throw — the documented trade
    QDotArr.checked = true
    try {
      val e = intercept[Exception](qdot(big))
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
        s"expected ArithmeticException, got $e")
      // in-contract inputs are unaffected by checked mode
      assert(qdot(inContract).head.getLong(0) ===
        4L * (1L << 19) * (1L << 18))
    } finally QDotArr.checked = false
  }
}
