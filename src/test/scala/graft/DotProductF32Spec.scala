package graft

import org.apache.spark.sql.functions._
import graft.llm.Ann

class DotProductF32Spec extends SparkTestBase {

  test("dot_f32 matches the HOF double dot bit-for-bit on real embeddings") {
    val e = graft.util.Tables.t(spark, sfDir, "embeddings").limit(50)
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id"))
    val both = pairs.select(
      expr("dot_product_f32(a, b)").as("native"),
      Ann.dotDouble(col("a"), col("b")).as("hof"))
    val mismatches = both.filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
    assert(both.count() > 1000)
  }

  test("dot_f32 participates in whole-stage codegen") {
    val e = graft.util.Tables.t(spark, sfDir, "embeddings")
    val df = e.select(expr("dot_product_f32(embedding, embedding)").as("n2"))
      .agg(sum("n2"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"dot_f32 fell out of codegen:\n$plan")
  }

  test("null and length-mismatch semantics") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f, 5.0f)),
      (Array.empty[Float], Array(1.0f))).toDF("a", "b")
    val got = df.select(expr("dot_product_f32(a, b)")).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(11.0, 0.0)) // min-length semantics
    val n = Seq((null.asInstanceOf[Array[Float]], Array(1.0f))).toDF("a", "b")
      .select(expr("dot_product_f32(a, b)")).collect().head
    assert(n.isNullAt(0))
  }
}
