package graft.jobs

import org.apache.spark.sql.{Dataset, Encoders}

/** Per-segment forecasting frame with grid search + crossvalidation —
  * the funnel-forecast shape (reference: jobs/kpi-forecasting/
  * kpi_forecasting/models/funnel_forecast.py:75-155 segment
  * partitioning; :365-412 per-segment grid search over parameters with
  * crossvalidation, independent model per segment; seeds fixed,
  * base_forecast.py:158-160).
  *
  * The model zoo here is a deterministic stand-in for Prophet (this
  * container has no Stan): constant-mean and linear-OLS candidates over
  * optionally windowed history. The *frame* is the ported semantics —
  * segments are independent (mapGroups), the grid is exhaustive, the
  * selection metric is rolling-origin CV bias with deterministic
  * tie-break (first in grid order wins), the winner refits on full
  * history and predicts.
  *
  * Scale: one shuffle on segment; each group's work is bounded by its
  * own history (exactly the reference's applyInPandas boundary).
  */
object SegmentForecast {

  final case class Obs(segment: String, x: Double, y: Double)
  final case class ModelSpec(kind: String, window: Int) // window 0 = all history

  val defaultGrid: Seq[ModelSpec] = Seq(
    ModelSpec("mean", 0), ModelSpec("mean", 8),
    ModelSpec("linear", 0), ModelSpec("linear", 8))

  /** Prophet-shaped grid (funnel_forecast.py:365-412 sweeps
    * growth={linear,logistic} and seasonality terms): adds the
    * saturating-growth and weekly-seasonality candidates to the base
    * mean/linear pair. */
  val wideGrid: Seq[ModelSpec] = Seq(
    ModelSpec("mean", 0), ModelSpec("linear", 0),
    ModelSpec("sat", 0), ModelSpec("seasonal", 0))

  private final case class Fitted(predict: Double => Double)

  /** OLS slope/intercept from decimal-exact sums (BigDecimal inputs keep
    * the sums order-independent; the final arithmetic is fixed-order
    * IEEE, matched term-for-term by the DuckDB oracles). Degenerate x
    * (zero variance) falls back to (slope 0, intercept = mean y). */
  private def ols(pts: Seq[(BigDecimal, BigDecimal)]): (Double, Double) = {
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val denom = n * sxx - sx * sx
    if (denom == 0) (0.0, sy / n)
    else {
      val slope = (n * sxy - sx * sy) / denom
      (slope, (sy - slope * sx) / n)
    }
  }

  private def fit(spec: ModelSpec, data: Seq[Obs]): Fitted = {
    val windowed = if (spec.window > 0) data.takeRight(spec.window) else data
    spec.kind match {
      case "mean" =>
        val m = windowed.map(o => BigDecimal(o.y)).sum.toDouble / windowed.size
        Fitted(_ => m)
      case "linear" =>
        val (slope, intercept) =
          ols(windowed.map(o => (BigDecimal(o.x), BigDecimal(o.y))))
        Fitted(x => intercept + slope * x)
      case "sat" =>
        // Saturating growth, the logistic stand-in: instead of the exp/ln
        // logistic link (libm last-ulp behavior differs across engines),
        // use the rational link z = 1e6·y/(cap−y) with cap pinned at
        // 2·max(y)+$1 over the fit window. y is DECIMAL(18,2) so y·100 is
        // an exact integer; z is pure BIGINT floor-division (operands
        // non-negative, so trunc == floor on both engines); the OLS runs
        // on exact integers and the back-transform cap·ẑ/(1e6+ẑ) is
        // fixed-order IEEE — bit-reproducible end to end.
        val cents = windowed.map(o => (BigDecimal(o.y) * 100).toLong.max(0L))
        val capCents = 2L * cents.max + 100L
        val zs = windowed.zip(cents).map { case (o, yc) =>
          (BigDecimal(o.x), BigDecimal((yc * 1000000L) / (capCents - yc)))
        }
        val (slope, intercept) = ols(zs)
        val cap = capCents / 100.0
        Fitted { x =>
          val zh = intercept + slope * x
          cap * zh / (1000000.0 + zh)
        }
      case "seasonal" =>
        // Linear trend + day-of-week offsets (Prophet weekly seasonality
        // stand-in): offsets are the mean residual per (x mod 7) class,
        // computed from decimal-exact class sums as
        // (Σy_c − (n_c·b0 + b1·Σx_c))/n_c so the oracle reproduces them
        // without summing per-row double residuals.
        val (slope, intercept) =
          ols(windowed.map(o => (BigDecimal(o.x), BigDecimal(o.y))))
        val off: Map[Long, Double] =
          windowed.groupBy(o => o.x.toLong % 7).map { case (d, rows) =>
            val nc = rows.size.toDouble
            val sxc = rows.map(o => BigDecimal(o.x)).sum.toDouble
            val syc = rows.map(o => BigDecimal(o.y)).sum.toDouble
            d -> (syc - (nc * intercept + slope * sxc)) / nc
          }
        Fitted(x => (intercept + slope * x) + off.getOrElse(x.toLong % 7, 0.0))
    }
  }

  /** `spec` fit on all of `data`, predicted `horizon` steps past the
    * last x. */
  def forecast(spec: ModelSpec, data: Seq[Obs], horizon: Int): Seq[Double] = {
    val sorted = data.sortBy(_.x)
    val full = fit(spec, sorted)
    (1 to horizon).map(i => full.predict(sorted.last.x + i))
  }

  // ---- rolling-origin crossvalidation selection (funnel_forecast.py) ----

  /** Rolling-origin CV settings, the cross_validation(initial, period,
    * horizon) surface of funnel_forecast.py:353-359 plus the tail(3)
    * most-recent-cutoffs rule. */
  final case class CvSettings(initial: Int, period: Int, horizon: Int,
      lastN: Int = 3)

  /** Per-segment winner under the CV-bias metric, with a fixed 3-step
    * forecast flattened for oracle comparison. */
  final case class SegmentCvFit(segment: String, kind: String, window: Int,
      cv_bias: Double, f1: Double, f2: Double, f3: Double)

  /** Train-prefix sizes for each CV cutoff: walk back from the last
    * possible cutoff (n - horizon) in steps of `period` while at least
    * `initial` training points remain, keep the `lastN` most recent,
    * ascending — funnel_forecast.py:360-363 ("tail(3)"). */
  def cutoffIndices(n: Int, cv: CvSettings): Seq[Int] =
    Iterator.iterate(n - cv.horizon)(_ - cv.period)
      .takeWhile(_ >= cv.initial).take(cv.lastN).toSeq.reverse

  /** CV percent-bias of one spec on one segment: per cutoff, fit on the
    * first j points, predict the next `cv.horizon` observed x's, and
    * compare sums (pcnt_bias = Σyhat/Σy − 1, funnel_forecast.py:345-363);
    * the metric is the mean over the kept cutoffs. Summation is
    * left-to-right so the metric is bit-reproducible (and matched by the
    * DuckDB oracle's explicit (b1+b2+b3)/3 form). */
  def cvBias(spec: ModelSpec, sorted: Seq[Obs], cv: CvSettings): Double = {
    val cuts = cutoffIndices(sorted.size, cv)
    if (cuts.isEmpty) 0.0
    else {
      val biases = cuts.map { j =>
        val m = fit(spec, sorted.take(j))
        val fut = sorted.slice(j, j + cv.horizon)
        val yhat = fut.map(o => m.predict(o.x)).foldLeft(0.0)(_ + _)
        val y = fut.map(_.y).foldLeft(0.0)(_ + _)
        yhat / y - 1.0
      }
      biases.foldLeft(0.0)(_ + _) / biases.size
    }
  }

  /** Grid-search one segment with CV-bias selection: the spec whose mean
    * pcnt-bias is closest to zero wins (argmin |bias|,
    * funnel_forecast.py:410-412), ties resolved by grid order; the winner
    * refits on the full history and forecasts 3 steps past the last x. */
  def fitSegmentCV(data: Seq[Obs], grid: Seq[ModelSpec],
      cv: CvSettings): SegmentCvFit = {
    val sorted = data.sortBy(_.x)
    val scored = grid.map(spec => spec -> cvBias(spec, sorted, cv))
    val (best, bias) = scored.minBy { case (_, b) => math.abs(b) } // stable: grid order breaks ties
    val fs = forecast(best, sorted, 3)
    SegmentCvFit(sorted.head.segment, best.kind, best.window, bias,
      fs(0), fs(1), fs(2))
  }

  /** One (segment, horizon step) of the predictive sample matrix: the
    * reference's nPaths pandas columns become one array column. */
  final case class SegmentPathRow(segment: String, h: Int, samples: Seq[Double])

  /** First 15 hex chars of md5 as a non-negative 60-bit long — the same
    * engine-portable convention as TextDedup.portableHash, computed
    * JVM-side for use inside mapGroups (DuckDB:
    * CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)). */
  private def md5Prefix60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** SEEDED residual-bootstrap predictive sample paths for the CV
    * winner (prophet_forecast.py:52-59 predictive_samples — 1000
    * simulation paths per horizon step from the fitted model — with
    * base_forecast.py:151-160's pinned seed): the winner refits on full
    * history, the full-history residuals form the bootstrap pool, and
    * path i's step-h draw resamples pool index md5("segment|i|h") mod n
    * — a deterministic, engine-portable RNG, so DuckDB independently
    * recomputes every draw. Each (segment, h) row carries its nPaths
    * samples as one array, ready for q61's row-axis mean/p10/p50/p90
    * reductions. */
  def cvBootstrapPaths(data: Seq[Obs], grid: Seq[ModelSpec], cv: CvSettings,
      nPaths: Int, horizon: Int): Seq[SegmentPathRow] = {
    val sorted = data.sortBy(_.x)
    val segment = sorted.head.segment
    val scored = grid.map(spec => spec -> cvBias(spec, sorted, cv))
    val (best, _) = scored.minBy { case (_, b) => math.abs(b) }
    val full = fit(best, sorted)
    val residuals = sorted.map(o => o.y - full.predict(o.x)).toIndexedSeq
    val n = residuals.size
    val lastX = sorted.last.x
    (1 to horizon).map { h =>
      val yhat = full.predict(lastX + h)
      val samples = (0 until nPaths).map { i =>
        yhat + residuals((md5Prefix60(s"$segment|$i|$h") % n).toInt)
      }
      SegmentPathRow(segment, h, samples)
    }
  }

  /** Distributed path generation: one shuffle on segment; each group
    * emits horizon rows of nPaths samples — the executor-side matrix
    * never visits the driver. */
  def runCvPaths(observed: Dataset[Obs],
      grid: Seq[ModelSpec] = defaultGrid,
      cv: CvSettings = CvSettings(initial = 6, period = 2, horizon = 2),
      nPaths: Int = 1000, horizon: Int = 3): Dataset[SegmentPathRow] = {
    implicit val enc = Encoders.product[SegmentPathRow]
    observed.groupByKey(_.segment)(Encoders.STRING)
      .flatMapGroups((_, rows) =>
        cvBootstrapPaths(rows.toSeq, grid, cv, nPaths, horizon).iterator)
  }

  /** Distributed CV grid search: one shuffle on segment, bounded
    * per-group work — the applyInPandas boundary of the reference,
    * expressed as mapGroups. */
  def runCV(observed: Dataset[Obs],
      grid: Seq[ModelSpec] = defaultGrid,
      cv: CvSettings = CvSettings(initial = 6, period = 2, horizon = 2))
      : Dataset[SegmentCvFit] = {
    implicit val enc = Encoders.product[SegmentCvFit]
    observed.groupByKey(_.segment)(Encoders.STRING)
      .mapGroups((_, rows) => fitSegmentCV(rows.toSeq, grid, cv))
  }
}
