package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CUSUM changepoint detection over per-key ordered series — the
  * monitoring operator that answers "did this metric's level shift,
  * and when". The classic statistic cumsum(x_i − mean) needs a float
  * mean; here the mean subtraction is cross-multiplied away:
  *
  *   c_k = Σ_{i≤k} (D·x_i − S)  =  D·cum_k − k·S
  *
  * with D = series length and S = series total — EXACT integer
  * arithmetic, order-independent, so the argmax day and the max
  * deviation are portable across engines. The only floats are the
  * final normalization max|c| / (D·√S) (≈ the deviation in σ units for
  * Poisson-ish counts) — one IEEE sqrt and one divide, both correctly
  * rounded and replayed identically by the oracle.
  *
  * Scale shape: everything rides ONE hash exchange by the key — the
  * running cumsum, the per-key totals (unbounded frame on the same
  * partition), and the argmax (a struct max, no second shuffle).
  */
object Cusum {

  /** @param df     (keyCols..., ordCol, xCol) — one row per step
    * @param thresh  flag series whose normalized stat exceeds this
    * @return per key: n_steps, total, cp_<ordCol> (argmax step,
    *         earliest on ties), max_abs_c, stat, changed
    */
  def changepoint(df: DataFrame, keyCols: Seq[String], ordCol: String,
      xCol: String, thresh: Double): DataFrame = {
    val part = Window.partitionBy(keyCols.map(col): _*)
    val wOrd = part.orderBy(ordCol)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = part.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val c = df
      .withColumn("_cum", sum(col(xCol)).over(wCum))
      .withColumn("_k", row_number().over(wOrd))
      .withColumn("_d", count(lit(1)).over(wAll))
      .withColumn("_s", sum(col(xCol)).over(wAll))
      .withColumn("_a", abs(col("_d") * col("_cum") - col("_k") * col("_s")))
    val byKey = c.groupBy(keyCols.map(col): _*)
      .agg(first(col("_d")).as("n_steps"), first(col("_s")).as("total"),
        // argmax by (deviation DESC, ord ASC): max over a struct whose
        // second field inverts the order; ord re-emerges from the struct
        max(struct(col("_a"), (-col("_k")).as("_nk"), col(ordCol).as("_o")))
          .as("_best"))
    byKey.select(keyCols.map(col) ++ Seq(
      col("n_steps"), col("total"),
      col("_best._o").as(s"cp_$ordCol"),
      col("_best._a").as("max_abs_c"),
      (col("_best._a").cast(DoubleType) /
        (col("n_steps") * sqrt(col("total").cast(DoubleType)))).as("stat")): _*)
      .withColumn("changed", col("stat") > thresh)
  }
}
