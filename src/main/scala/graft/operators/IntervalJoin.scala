package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (point-in-interval) join without an equi-key, by bin-explode.
  *
  * The naive formulation — `points JOIN intervals ON ts >= lo AND
  * ts < hi` — has no equi-condition, so Spark plans a
  * BroadcastNestedLoopJoin (or worse, a cartesian product): O(|P|·|I|)
  * comparisons, a scale-killer the moment neither side broadcasts.
  * Rewrite: quantize time into fixed-width bins, explode each interval
  * onto every bin it overlaps, tag each point with its single bin, and
  * equi-join on the bin with the range predicate as a post-filter.
  * Candidate pairs collapse from |P|·|I| to
  * Σ_bins |P_bin|·|I_bin| — linear when `binWidth` is chosen near the
  * typical interval length (each interval covers ≤ len/W + 1 bins).
  *
  * Every (interval, point) pair appears at most ONCE in the output —
  * a point has exactly one bin — so no post-dedup is needed (the
  * classic correctness trap of interval binning).
  *
  * Scale shape: one hash shuffle of each side on `_bin`; hot bins
  * (burst traffic) are ordinary join skew — AQE's skew-join split
  * handles moderate cases, and `binWidth` is the knob for the rest.
  * Assumes non-negative ts/lo/hi (epoch micros); `div` truncation and
  * floor agree there.
  */
object IntervalJoin {

  /** Inner-join points into intervals. `lo`/`hi` are half-open
    * `[lo, hi)` long columns on `intervals`; `ts` a long column on
    * `points`. Column sets must be disjoint. */
  def binned(intervals: DataFrame, points: DataFrame,
      lo: String, hi: String, ts: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val iBinned = intervals.withColumn("_bin",
      explode(sequence(expr(s"$lo div $binWidth"),
        expr(s"($hi - 1) div $binWidth"))))
    val pBinned = points.withColumn("_bin", expr(s"$ts div $binWidth"))
    iBinned.join(pBinned,
        iBinned("_bin") === pBinned("_bin") &&
          col(ts) >= col(lo) && col(ts) < col(hi))
      .select((intervals.columns ++ points.columns).map(col).toSeq: _*)
  }

  /** Left-join shape: every interval kept, with match count and
    * integer-exact span stats of its points (no float aggregation —
    * the caller adds value aggregates with the decimal helpers when
    * needed). `idCols` identify an interval. */
  def countPerInterval(intervals: DataFrame, points: DataFrame,
      lo: String, hi: String, ts: String, binWidth: Long,
      idCols: Seq[String]): DataFrame = {
    val matched = binned(intervals, points, lo, hi, ts, binWidth)
      .groupBy(idCols.map(col): _*)
      .agg(count(lit(1)).as("n_points"),
        min(col(ts)).as("first_ts"), max(col(ts)).as("last_ts"))
    intervals.join(matched, idCols, "left")
      .withColumn("n_points", coalesce(col("n_points"), lit(0L)))
  }
}
