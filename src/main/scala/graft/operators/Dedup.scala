package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup patterns (SURVEY §2.5 W1/W2, §2.4 A17).
  *
  * Scale notes: all variants are a single hash-partitioned window or
  * aggregate on the dedup key — one shuffle, no global sort. Skewed keys
  * are handled by AQE; for pathological skew pre-salt the key.
  */
object Dedup {

  /** Keep the latest row per key — QUALIFY ROW_NUMBER() = 1 shape
    * (reference: jobs/graphics-dashboard/graphics_dashboard/sql/
    * graphics_dashboard.sql:165-169). Tiebreak keeps it deterministic. */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderDesc: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderDesc: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Deterministic pseudo-random one-per-key — FARM_FINGERPRINT ordering
    * (graphics_trends.sql:48,91). `hashCol` must be a stable hash both
    * for reproducibility and so re-runs pick identical representatives. */
  def deterministicSamplePerKey(df: DataFrame, keys: Seq[String], hashCol: Column): DataFrame =
    latestPerKey(df, keys, Seq(hashCol.asc))
}
