package graft

import org.apache.spark.sql.functions._

import graft.llm.Pooling

class PoolingSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs = Seq(
    (0L, 0L, Seq(1.0f, 2.0f, 3.0f)),
    (0L, 1L, Seq(3.0f, 0.0f, -1.0f)),
    (1L, 2L, Seq(0.5f, 0.25f, 8.0f)),
    (2L, 3L, Seq(1.0f, 1.0f)), // ragged: dim 2 vs dim 3
    (2L, 4L, Seq(2.0f, 2.0f, 6.0f)))
    .toDF("g", "ord", "vec")

  test("mean pooling: exact means, ragged per-cell counts") {
    val out = Pooling.meanPoolCells(vecs, col("g"), col("vec"))
      .orderBy("g", "pos").collect()
    val asMap = out.map(r => (r.getLong(0), r.getInt(1)) ->
      (r.getDouble(2), r.getLong(3))).toMap
    assert(asMap((0L, 0)) == (2.0, 2L))   // (1+3)/2
    assert(asMap((0L, 1)) == (1.0, 2L))   // (2+0)/2
    assert(asMap((0L, 2)) == (1.0, 2L))   // (3-1)/2
    assert(asMap((1L, 2)) == (8.0, 1L))
    assert(asMap((2L, 0)) == (1.5, 2L))
    // ragged tail: only one vector contributes to (2, pos=2)
    assert(asMap((2L, 2)) == (6.0, 1L))
  }

  test("mean pooling is invariant under repartitioning (exact accumulator)") {
    val a = Pooling.meanPoolCells(vecs.repartition(7), col("g"), col("vec"))
      .orderBy("g", "pos").collect().toSeq
    val b = Pooling.meanPoolCells(vecs.coalesce(1), col("g"), col("vec"))
      .orderBy("g", "pos").collect().toSeq
    assert(a == b)
  }

  test("max pooling takes per-dimension maxima") {
    val out = Pooling.maxPoolCells(vecs, col("g"), col("vec"))
      .orderBy("g", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 0)) == 3.0)
    assert(out((0L, 2)) == 3.0)
    assert(out((2L, 2)) == 6.0)
  }

  test("CLS pooling keeps the min-order vector verbatim") {
    val out = Pooling.clsPool(vecs, col("g"), col("vec"), col("ord"))
      .orderBy("g").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 2L, 3L))
    assert(out(0).getSeq[Float](out(0).fieldIndex("pooled")).toSeq ==
      Seq(1.0f, 2.0f, 3.0f))
    assert(out(2).getSeq[Float](out(2).fieldIndex("pooled")).toSeq ==
      Seq(1.0f, 1.0f))
  }

  test("negative and tiny values round-trip the quantized accumulator") {
    // floor(v·2^40) handles negatives (floor, not truncate) and values
    // below float precision; mean of (x, -x) is exactly 0 only when
    // the quantizer treats both sides symmetrically... it floors, so
    // (x, -x) sums to -1 quantum when x·2^40 is non-integral — assert
    // the documented bound |err| ≤ 2^-40 instead of exact zero.
    val df = Seq((0L, Seq(0.1f)), (0L, Seq(-0.1f))).toDF("g", "vec")
    val m = Pooling.meanPoolCells(df, col("g"), col("vec"))
      .collect().head.getDouble(2)
    assert(math.abs(m) <= math.pow(2, -40))
  }
}
