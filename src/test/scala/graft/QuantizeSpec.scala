package graft

import graft.llm.Quantize

class QuantizeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("codes stay in [-127, 127] and the max-|x| dimension saturates") {
    val rows = Quantize.int8Codes(emb).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(codes.forall(c => c >= -127 && c <= 127))
      // symmetric scaling pins the largest-magnitude dim at ±127
      assert(codes.exists(c => math.abs(c) == 127))
    }
  }

  test("reconstruction error is bounded by scale/2 for every dimension (real corpus)") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    val codes = Quantize.int8Codes(emb).collect()
    assert(codes.length == vecs.size)
    val violations = codes.count { r =>
      val scale = r.getAs[Double]("scale")
      val x = vecs(r.getAs[Long]("vec_id"))
      val c = r.getAs[scala.collection.Seq[Int]]("codes")
      x.zip(c).exists { case (xi, ci) =>
        math.abs(xi.toDouble - ci * scale) > scale * 0.5 + 1e-12 }
    }
    assert(violations == 0, "reconstruction bound violated")
  }

  test("all-zero vector maps to all-zero codes, no division blowup") {
    val z = Seq((1L, Array.fill(8)(0.0f)), (2L, Array(1.0f, -2.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val rows = Quantize.int8Codes(z).collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Int]]("codes")).toMap
    assert(rows(1L).forall(_ == 0))
    assert(rows(2L).exists(_ != 0))
    val rep = Quantize.int8Report(z).orderBy("vec_id").collect()
    assert(rep(0).getAs[Long]("code_sum") == 0L)
    // x=(1,-2,0.5): scale=2/127; codes=(round(63.5), -127, round(31.75))
    assert(rep(1).getAs[Long]("n_sat") == 1L)
    assert(rep(1).getAs[Long]("code_sum") == 64L - 127L + 32L)
  }
}
