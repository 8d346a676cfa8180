package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Symmetric int8 quantization of an embedding column — the storage
  * path for embeddings at corpus scale: codes are 4× smaller than
  * float32 (8× smaller than the double form they decode to), and
  * cosine/dot screening can run on codes directly (the PQ/ADC idea,
  * one code per DIMENSION instead of per subspace).
  *
  * Per vector: scale = max|x| / 127, code_i = round(x_i / scale)
  * (round-half-away, which Spark's ROUND and DuckDB's ROUND share for
  * doubles), all-zero vectors map to all-zero codes. Every published
  * output is an INTEGER derived from the codes — code sums, saturation
  * counts, position-weighted checksums — so the oracle compare is
  * bit-exact without any float hashing (the float arithmetic itself is
  * identical IEEE double ops on both engines: cast, max, divide,
  * round).
  *
  * Scale: one narrow projection per row, no shuffle; the quantized
  * table is the thing you'd persist next to (or instead of) the float
  * embeddings. Symmetric rounding bounds every dimension's
  * reconstruction error |x − code·scale| by scale/2 (QuantizeSpec).
  */
object Quantize {

  /** (vec_id, scale, codes array<int>) — scale is carried for decode
    * but is derived (max|x|/127), never published to an oracle. */
  def int8Codes(embeddings: DataFrame): DataFrame = {
    val absMax = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast(DoubleType))))
    embeddings
      .select(col("vec_id"), col("embedding"),
        (absMax / 127.0d).as("scale"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0.0d,
          transform(col("embedding"), _ => lit(0).cast(IntegerType)))
          .otherwise(transform(col("embedding"),
            x => round(x.cast(DoubleType) / col("scale"), 0).cast(IntegerType)))
          .as("codes"))
  }

  /** Integer-only per-vector quantization report: dims, saturated-code
    * count, plain and position-weighted code sums. Everything here is
    * derived from the int codes, so an external engine recomputing the
    * same pipeline hash-matches bit-for-bit. */
  def int8Report(embeddings: DataFrame): DataFrame =
    int8Codes(embeddings).select(
      col("vec_id"),
      size(col("codes")).as("n_dims"),
      aggregate(col("codes"), lit(0L),
        (acc, c) => acc + when(abs(c) >= 127, 1L).otherwise(0L)).as("n_sat"),
      aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
      aggregate(zip_with(col("codes"),
          sequence(lit(1), size(col("codes"))),
          (c, i) => c.cast(LongType) * i.cast(LongType)),
        lit(0L), (acc, v) => acc + v).as("weighted_sum"))
}
