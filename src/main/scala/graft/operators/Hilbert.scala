package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hilbert-curve multi-dimensional clustering — [[ZOrder]]'s
  * better-locality sibling. The Morton curve's bit interleave has
  * long diagonal jumps at power-of-two seams, so a z-range can cover
  * a box up to ~2× looser than optimal; the Hilbert curve visits
  * every grid cell in unit steps (adjacent d ⇒ adjacent cells), which
  * tightens every curve-range's bounding box and is why lakehouse
  * engines offer `hilbert_clustered` layouts next to z-order. Same
  * 100 TB write shape as ZOrder: `repartitionByRange(col("h"))` +
  * sort-within-partitions → parquet; the scan side is plain min/max
  * row-group pruning.
  *
  * The xy→d transform is the classic per-level rotate/reflect walk
  * (16 levels for a 16-bit grid), fully unrolled: each level reads
  * bit k of both coordinates, adds the quadrant offset 4^k·((3·rx)
  * XOR ry), and conditionally reflects (XOR with 65535 ≡ 65535−v on
  * the 16-bit grid) and swaps the carried coordinates. Pure integer
  * arithmetic — shifts, masks, XOR, CASE — generated for BOTH engines
  * from the SAME loop ([[withH]] / [[hilbertSql]]), so the oracle
  * replays the layout bit-for-bit.
  */
object Hilbert {

  /** Bits per dimension; the curve index spans [0, 4^16). */
  val Bits = 16

  private val Mask = (1L << Bits) - 1 // 65535

  /** Append the Hilbert index `h` computed from 16-bit grid columns
    * `gx`, `gy` (one `withColumns` per level — Catalyst collapses the
    * 16 projects into one codegen'd stage). */
  def withH(df: DataFrame, gx: String = "gx", gy: String = "gy"): DataFrame = {
    var cur = df
      .withColumn("_hx", col(gx)).withColumn("_hy", col(gy))
      .withColumn("h", lit(0L))
    for (k <- Bits - 1 to 0 by -1) {
      val rx = shiftright(col("_hx"), k).bitwiseAND(lit(1L))
      val ry = shiftright(col("_hy"), k).bitwiseAND(lit(1L))
      val dAdd = (rx * lit(3L)).bitwiseXOR(ry) * lit(1L << (2 * k))
      val flip = ry === 0L && rx === 1L
      val swap = ry === 0L
      cur = cur.withColumns(Map(
        "h" -> (col("h") + dAdd),
        "_hx" -> when(swap,
          when(flip, col("_hy").bitwiseXOR(lit(Mask))).otherwise(col("_hy")))
          .otherwise(col("_hx")),
        "_hy" -> when(swap,
          when(flip, col("_hx").bitwiseXOR(lit(Mask))).otherwise(col("_hx")))
          .otherwise(col("_hy"))))
    }
    cur.drop("_hx", "_hy")
  }

  /** The DuckDB replay of [[withH]]: one CTE per level over a source
    * CTE exposing (… carryCols …, hx, hy, h). Emitted from the same
    * level loop and constants. DuckDB's `^` is power, so XOR is the
    * `xor()` function; reflection is `xor(v, 65535)` exactly like the
    * Column side. */
  def hilbertSql(srcCte: String, carryCols: Seq[String]): String = {
    // every reference is qualified `p.…` so the freshly-aliased hx/hy/h
    // can never shadow the carried values via lateral column aliasing
    val carry = carryCols.map(c => s"p.$c").mkString(", ")
    val levels = (Bits - 1 to 0 by -1).map { k =>
      val name = s"h$k"
      val prev = if (k == Bits - 1) "h_src" else s"h${k + 1}"
      s"""$name AS (
         |  SELECT $carry,
         |    CASE WHEN ((p.hy >> $k) & 1) = 0 THEN
         |      CASE WHEN ((p.hx >> $k) & 1) = 1
         |        THEN xor(p.hy, $Mask) ELSE p.hy END
         |    ELSE p.hx END AS hx,
         |    CASE WHEN ((p.hy >> $k) & 1) = 0 THEN
         |      CASE WHEN ((p.hx >> $k) & 1) = 1
         |        THEN xor(p.hx, $Mask) ELSE p.hx END
         |    ELSE p.hy END AS hy,
         |    p.h + xor(3 * ((p.hx >> $k) & 1), (p.hy >> $k) & 1)
         |      * CAST(${1L << (2 * k)} AS BIGINT) AS h
         |  FROM $prev p)""".stripMargin
    }
    s"""h_src AS ($srcCte),
       |${levels.mkString(",\n")}""".stripMargin
  }

  /** Hilbert twin of [[ZOrder.withZ]]: grid both integer key columns
    * to 16 bits from their observed min/max (broadcast 1-row agg) and
    * append the curve index `h`. */
  def withHilbert(df: DataFrame, xCol: String = "x",
      yCol: String = "y"): DataFrame = {
    val mm = df.agg(
      min(col(xCol)).as("xmin"), max(col(xCol)).as("xmax"),
      min(col(yCol)).as("ymin"), max(col(yCol)).as("ymax"))
    withH(
      df.crossJoin(broadcast(mm))
        .withColumn("gx", ZOrder.grid16(col(xCol), col("xmin"), col("xmax")))
        .withColumn("gy", ZOrder.grid16(col(yCol), col("ymin"), col("ymax"))))
  }

  /** Per-curve-bucket bound audit (top `bucketBits` of the 32-bit h) —
    * same skippability evidence as [[ZOrder.layoutReport]], directly
    * comparable bucket-for-bucket. */
  def layoutReport(df: DataFrame, xCol: String = "x", yCol: String = "y",
      bucketBits: Int = 10): DataFrame =
    withHilbert(df, xCol, yCol)
      .withColumn("bucket", shiftright(col("h"), 2 * Bits - bucketBits))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol)).as("min_x"), max(col(xCol)).as("max_x"),
        min(col(yCol)).as("min_y"), max(col(yCol)).as("max_y"))
}
