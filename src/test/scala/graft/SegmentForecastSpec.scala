package graft

import graft.jobs.SegmentForecast
import graft.jobs.SegmentForecast.Obs

/** Mirrors the reference's funnel-forecast test intent
  * (kpi_forecasting/tests/test_funnel_forecast.py: segment partitioning
  * + grid-search selection with deterministic fake models). */
class SegmentForecastSpec extends SparkTestBase {

  private def trendSeg = (0 until 20).map(i => Obs("trend", i, 2.0 * i + 1))
  private def flatSeg = (0 until 20).map(i => Obs("flat", i, if (i % 2 == 0) 10.0 else 12.0))

  test("segments are fit independently via mapGroups") {
    import spark.implicits._
    val ds = (trendSeg ++ flatSeg).toDS()
    val out = SegmentForecast.runCV(ds).collect().map(f => f.segment -> f.kind).toMap
    assert(out == Map("trend" -> "linear", "flat" -> "mean"))
  }

  test("CV cutoffs walk back from the end, keep the lastN most recent") {
    val cv = SegmentForecast.CvSettings(initial = 6, period = 2, horizon = 2)
    assert(SegmentForecast.cutoffIndices(30, cv) == Seq(24, 26, 28))
    // initial floor truncates the walk
    assert(SegmentForecast.cutoffIndices(9, cv) == Seq(7))
    // no room for any cutoff → empty
    assert(SegmentForecast.cutoffIndices(5, cv) == Seq.empty)
  }

  test("CV-bias selection picks the unbiased model and ties go to grid order") {
    val cv = SegmentForecast.CvSettings(initial = 6, period = 2, horizon = 2)
    // exact line: linear has zero bias at every cutoff; mean lags the trend
    val t = SegmentForecast.fitSegmentCV(trendSeg, SegmentForecast.defaultGrid, cv)
    assert(t.kind == "linear" && math.abs(t.cv_bias) < 1e-12)
    assert(t.f1 == 2.0 * 20 + 1 && t.f3 == 2.0 * 22 + 1)
    // constant data: all four specs have bias exactly 0 → first grid entry
    val c = (0 until 12).map(i => Obs("c", i, 5.0))
    val tie = SegmentForecast.fitSegmentCV(c, SegmentForecast.defaultGrid, cv)
    assert(tie.kind == "mean" && tie.window == 0, s"tie must go to grid[0], got $tie")
    assert(tie.cv_bias == 0.0 && tie.f1 == 5.0)
  }

  test("CV bias metric is the mean pcnt-bias over the kept cutoffs") {
    val cv = SegmentForecast.CvSettings(initial = 6, period = 2, horizon = 2)
    // mean-model bias on a linear trend is computable in closed form:
    // at cutoff j, model = mean of 0..j-1 = (j-1)/2 scaled; check sign
    val bias = SegmentForecast.cvBias(
      SegmentForecast.ModelSpec("mean", 0), trendSeg.sortBy(_.x), cv)
    assert(bias < 0, s"mean model must under-forecast a rising trend, got $bias")
  }

  test("seeded bootstrap paths: deterministic, matrix-shaped, pool-valued") {
    val cv = SegmentForecast.CvSettings(initial = 6, period = 2, horizon = 2)
    val noisy = (0 until 20).map(i =>
      Obs("n", i, 2.0 * i + 1 + (if (i % 2 == 0) 1.0 else -1.0)))
    val a = SegmentForecast.cvBootstrapPaths(noisy,
      SegmentForecast.defaultGrid, cv, nPaths = 50, horizon = 3)
    val b = SegmentForecast.cvBootstrapPaths(noisy,
      SegmentForecast.defaultGrid, cv, nPaths = 50, horizon = 3)
    assert(a == b, "seeded draws must be bit-identical across runs")
    assert(a.map(_.h) == Seq(1, 2, 3) && a.forall(_.samples.size == 50))
    // every draw is yhat + some pool residual: with a 20-point pool and
    // 50 draws per step, the distinct sample count per step is <= 20
    a.foreach(row =>
      assert(row.samples.distinct.size <= 20, s"draws outside pool: $row"))
    // the draw index depends on (i, h): steps must not all reuse one
    // residual (a constant-index bug would make each step's set size 1)
    assert(a.exists(_.samples.distinct.size > 5), "degenerate index hash")
  }

  test("saturating model wins on plateauing data where linear overshoots") {
    val cv = SegmentForecast.CvSettings(initial = 6, period = 2, horizon = 2)
    // logistic-shaped curve rising to a plateau near 100: by the CV
    // cutoffs the series has flattened, so linear (still extrapolating
    // the climb) and mean (dragged down by early points) both carry
    // bias; the saturating rational link tracks the flattening.
    val plateau = (0 until 20).map { i =>
      val y = math.rint(10000.0 / (1.0 + math.exp(-(i - 6) / 1.5))) / 100.0
      Obs("p", i, y)
    }
    val fit = SegmentForecast.fitSegmentCV(plateau, SegmentForecast.wideGrid, cv)
    assert(fit.kind == "sat", s"expected saturating winner, got $fit")
    // the saturating forecast must stay below the cap (2*max + $1)
    val cap = 2 * plateau.map(_.y).max + 1
    assert(fit.f3 < cap && fit.f3 > plateau.last.y - 1,
      s"forecast must plateau under the cap: $fit")
  }

  test("seasonal model wins on trend + weekly pattern and forecasts the right dow offset") {
    val cv = SegmentForecast.CvSettings(initial = 6, period = 2, horizon = 2)
    // exact linear trend plus a (x mod 7) offset chosen orthogonal to x
    // over the 4 full weeks (Σs_c = 0 AND Σc·s_c = 0), so the two-stage
    // decomposition (OLS trend, then mean residual per dow class)
    // recovers both components exactly on the final 28-point refit. CV
    // train prefixes are NOT whole weeks, so the selection bias is only
    // near-zero — but far below plain linear's weekly residual.
    val s = Seq(5.0, -3.0, 0.0, 4.0, -6.0, -15.0, 15.0)
    val weekly = (0 until 28).map(i => Obs("w", i, 100.0 + 2.0 * i + s(i % 7)))
    val fit = SegmentForecast.fitSegmentCV(weekly, SegmentForecast.wideGrid, cv)
    assert(fit.kind == "seasonal", s"expected seasonal winner, got $fit")
    assert(math.abs(fit.cv_bias) < 0.01, s"seasonal fit must be near-unbiased: $fit")
    // forecast day 28 has dow 0: trend + the +5 offset; day 29 dow 1
    assert(math.abs(fit.f1 - (100.0 + 2.0 * 28 + 5.0)) < 1e-6, s"dow-0 offset: $fit")
    assert(math.abs(fit.f2 - (100.0 + 2.0 * 29 - 3.0)) < 1e-6, s"dow-1 offset: $fit")
  }
}
