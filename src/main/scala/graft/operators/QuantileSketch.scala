package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mergeable fixed-bin quantile sketch — the percentile analogue of the
  * q133 HLL rollup: per-partition (e.g. per day) sketches are persisted
  * once, and any range query merges the tiny sketch rows instead of
  * rescanning the fact table. A sketch is a sparse `map<bin,count>`
  * histogram over a declared value domain; merge is elementwise
  * addition (the native [[SumSparseHistograms]] aggregate), and the
  * rank-p estimate is the lower edge of the first bin whose cumulative
  * count reaches ⌈p·N⌉ — which is by construction the bin CONTAINING
  * the true rank element, so the estimate error is < binWidth always
  * (provable, not probabilistic — unlike HLL's rsd bound).
  *
  * Everything is integer arithmetic plus one double multiply
  * (bin·width) and the shared IEEE binning divide, so a DuckDB oracle
  * replays estimates bit-for-bit — no TRUE-gate needed.
  *
  * Scale shape: building is one groupBy over (group, bin) then one
  * map-assembly per group; merging reads sketch rows (thousands), never
  * the fact table. At 100 TB the sketch table is the only thing a
  * dashboard's quantile query touches.
  */
object QuantileSketch {

  /** Bin of a value: floor(v/w). Shared IEEE double ops → portable. */
  def binOf(v: Column, w: Double): Column =
    floor(v / lit(w)).cast(IntegerType)

  /** One sketch row per group: (groupCols..., sketch map<int,long>,
    * n_rows). */
  def build(df: DataFrame, groupCols: Seq[String], valueCol: String,
      w: Double): DataFrame =
    df.groupBy((groupCols.map(col) :+ binOf(col(valueCol), w).as("_bin")): _*)
      .agg(count(lit(1)).as("_n"))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("_bin"), col("_n"))))
        .as("sketch"),
        sum(col("_n")).as("n_rows"))

  /** Merge sketches per `byCols` and estimate rank quantiles.
    * `ps` are (name, num, den) rational ranks — target rank is
    * ⌈num·N/den⌉ in pure integer arithmetic. Output per group:
    * byCols..., n_rows, n_sketches, est_<name>... */
  def mergeEstimate(sketches: DataFrame, byCols: Seq[String], w: Double,
      ps: Seq[(String, Int, Int)]): DataFrame = {
    val merged = sketches.groupBy(byCols.map(col): _*)
      .agg(expr("sum_sparse_histograms(sketch)").as("_m"),
        sum(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_sketches"))
    val keyCols = byCols.map(col) ++ Seq(col("n_rows"), col("n_sketches"))
    val exploded = merged.select(keyCols :+ explode(col("_m")).as(Seq("_bin", "_c")): _*)
    val wc = Window.partitionBy(byCols.map(col): _*).orderBy("_bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = exploded.withColumn("_cum", sum(col("_c")).over(wc))
    val aggs = ps.map { case (name, num, den) =>
      // ceil(num·N/den) via integer floordiv — matches DuckDB's `//`
      val target = expr(s"($num * n_rows + ${den - 1}) div $den")
      min(when(col("_cum") >= target, col("_bin"))).as(s"_bin_$name")
    }
    cum.groupBy(keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keyCols ++ ps.map { case (name, _, _) =>
        (col(s"_bin_$name") * lit(w)).as(s"est_$name") }: _*)
  }
}
