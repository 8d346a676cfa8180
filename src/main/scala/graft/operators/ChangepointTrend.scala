package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Hold

/** Prophet-style single-changepoint trend fit, fully relational.
  *
  * Prophet's trend component (Taylor & Letham 2018, "Forecasting at
  * scale") is a continuous piecewise-linear function with slope shifts
  * at potential changepoints placed over the first 80% of the series —
  * the structural element the engine's forecast zoo (mean / linear /
  * sat / seasonal, `jobs/SegmentForecast`) lacked next to the reference
  * (kpi-forecasting's `prophet_forecast.py`, DELTAS §2). This operator
  * closes the trend-changepoint half of that gap deterministically:
  *
  *   ŷ(x) = b0 + b1·x + b2·max(0, x − c),  c chosen from ≤ `k`
  *   candidates (evenly rank-spaced over the first 80%, Prophet's
  *   default placement) by least SSE.
  *
  * Everything is expressed as ONE Spark plan — no per-segment driver
  * loop, no mapGroups: candidates come from a rank filter, each
  * (segment, candidate) pair folds its sufficient statistics in a
  * single map-side-combined groupBy, the 3×3 normal equations solve in
  * closed form (Cramer) as column arithmetic, and the per-segment
  * argmin is the usual top-1 window idiom. Scale shape: the candidate
  * join multiplies the series by ≤ k = O(25), so the whole fit is
  * O(k·n) rows through two hash exchanges — linear in the corpus, and
  * each segment's fit is independent (the reference fits segments
  * independently too).
  *
  * Exactness contract (the q110/q266 pattern): sufficient statistics
  * are EXACT — integer sums for the x-side moments, decimal sums for
  * the y-side — converted to double once, after aggregation; the
  * Cramer solve and SSE ranking are then fixed-order IEEE expression
  * trees that DuckDB replays term-for-term, so the fitted slopes,
  * chosen changepoints, and forecasts hash-match the oracle instead of
  * drifting in the last ulp.
  *
  * Input: (segment: string, x: numeric "time index", y: decimal).
  * Output per segment: n_points, changepoint (x units), slope_pre,
  * slope_post, sse, f1/f2/f3 (1/2/3-step-ahead forecasts).
  */
object ChangepointTrend {

  /** det of [[a,b,c],[d,e,f],[g,h,i]] by first-row cofactors, written
    * once so Spark and the SQL oracle share the exact IEEE shape:
    * a*(e*i - f*h) - b*(d*i - f*g) + c*(d*h - e*g). */
  private def det3(a: Column, b: Column, c: Column,
      d: Column, e: Column, f: Column,
      g: Column, h: Column, i: Column): Column =
    a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

  /** 4×4 determinant, first-row cofactor expansion into [[det3]] minors
    * — the same association the SQL generator in the q276 oracle emits,
    * so both engines run one IEEE chain. `m` is row-major. */
  private def det4(m: Seq[Seq[Column]]): Column = {
    def minor(col0: Int): Column = {
      val cols = (0 to 3).filterNot(_ == col0)
      val r = (1 to 3).map(i => cols.map(j => m(i)(j)))
      det3(r(0)(0), r(0)(1), r(0)(2),
        r(1)(0), r(1)(1), r(1)(2),
        r(2)(0), r(2)(1), r(2)(2))
    }
    m(0)(0) * minor(0) - m(0)(1) * minor(1) +
      m(0)(2) * minor(2) - m(0)(3) * minor(3)
  }

  /** The [[fit]] winner per segment with UNROUNDED coefficients —
    * (segment, sn, c, b0, b1, b2, sse, syy, xmax0) — for consumers
    * that need the model itself (residuals, predictive intervals:
    * q323) rather than the published rounded summary. Same expression
    * trees as [[fit]]; the rounding there happens on these columns. */
  def fitParams(obs: DataFrame, k: Int = 25): DataFrame = {
    val wSeg = Window.partitionBy("segment")
    val wOrd = wSeg.orderBy("x")
    // integer day offsets from the segment's first point: keeps the
    // x-side moment sums exact in long arithmetic
    val base = obs
      .withColumn("x0", (col("x") - min("x").over(wSeg)).cast(LongType))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wSeg))
      .withColumn("xmax0", max("x0").over(wSeg))
    // ≤ k candidates, evenly rank-spaced over the first 80% (Prophet's
    // placement): step = max(1, n/k), positions 2, 2+step, … ≤ 0.8n.
    // Integer arithmetic only — both engines derive the same set.
    val lim = floor(col("n") * 0.8).cast(LongType)
    val step = greatest(lit(1L), floor(col("n") / k).cast(LongType))
    val cands = base
      .filter(col("rn") >= 2 && col("rn") <= lim &&
        pmod(col("rn") - 2, step) === 0)
      .select(col("segment"), col("x0").as("c"))
    // sufficient statistics per (segment, candidate): x-moments exact
    // in long, y-moments exact in decimal; ONE double conversion after
    val feat = base.join(cands, Seq("segment"))
      .withColumn("h", greatest(lit(0L), col("x0") - col("c")))
    def d(c: Column): Column = c.cast(DoubleType)
    val sums = feat.groupBy("segment", "c")
      .agg(
        d(count(lit(1))).as("sn"),
        d(sum(col("x0"))).as("sx"),
        d(sum(col("x0") * col("x0"))).as("sxx"),
        d(sum(col("h"))).as("sh"),
        d(sum(col("h") * col("h"))).as("shh"),
        d(sum(col("x0") * col("h"))).as("sxh"),
        d(sum(col("y"))).as("sy"),
        // x-side factors cast to DECIMAL(18,0) before the product:
        // long × decimal would hit Spark's 38-precision cap and round —
        // decimal(18,0) × decimal(18,2) stays exact at decimal(37,2)
        d(sum(col("y") * col("x0").cast(DecimalType(18, 0)))).as("sxy"),
        d(sum(col("y") * col("h").cast(DecimalType(18, 0)))).as("shy"),
        d(sum(col("y") * col("y"))).as("syy"),
        max("xmax0").as("xmax0"))
    // Cramer on the normal equations [[n,sx,sh],[sx,sxx,sxh],[sh,sxh,shh]]
    val solved = sums
      .withColumn("det", det3(
        col("sn"), col("sx"), col("sh"),
        col("sx"), col("sxx"), col("sxh"),
        col("sh"), col("sxh"), col("shh")))
      .filter(col("det") =!= 0.0)
      .withColumn("b0", det3(
        col("sy"), col("sx"), col("sh"),
        col("sxy"), col("sxx"), col("sxh"),
        col("shy"), col("sxh"), col("shh")) / col("det"))
      .withColumn("b1", det3(
        col("sn"), col("sy"), col("sh"),
        col("sx"), col("sxy"), col("sxh"),
        col("sh"), col("shy"), col("shh")) / col("det"))
      .withColumn("b2", det3(
        col("sn"), col("sx"), col("sy"),
        col("sx"), col("sxx"), col("sxy"),
        col("sh"), col("sxh"), col("shy")) / col("det"))
      .withColumn("sse",
        col("syy") - (col("b0") * col("sy") + col("b1") * col("sxy") +
          col("b2") * col("shy")))
    // per-segment argmin(SSE), ties to the earliest changepoint — the
    // top-1 window idiom (eligible for the WindowTopKRewrite). Ranked
    // on the ROUNDED scale-free SSE, not the raw double: two engines
    // computing the same IEEE chains can still differ ~1e-12 relative
    // (FP-contraction policy), and a raw-double argmin would flip on a
    // near-tied candidate pair; at 9 decimals of an O(1) quantity the
    // grids agree and the c tiebreak resolves rounding-ties the same
    // way everywhere.
    val wBest = Window.partitionBy("segment")
      .orderBy(round(col("sse") / col("syy"), 9), col("c"))
    solved
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("segment"), col("sn"), col("c"), col("b0"), col("b1"),
        col("b2"), col("sse"), col("syy"), col("xmax0"))
  }

  def fit(obs: DataFrame, k: Int = 25): DataFrame = {
    def fc(stepAhead: Int): Column = {
      val xf = col("xmax0") + stepAhead
      col("b0") + col("b1") * xf +
        col("b2") * greatest(lit(0L), xf - col("c"))
    }
    fitParams(obs, k)
      .select(col("segment"),
        col("sn").cast(LongType).as("n_points"),
        col("c").as("changepoint"),
        round(col("b1"), 6).as("slope_pre"),
        round(col("b1") + col("b2"), 6).as("slope_post"),
        // published SCALE-FREE: raw SSE is O(syy) and rounding it at
        // fixed decimals would demand ~1e-12 relative cross-engine
        // agreement — beyond what differing FP-contraction policies
        // give on the Cramer chains (measured: last-digit flips at
        // sf0.1). sse/syy is O(1), so the same chains agree to far
        // below the rounding grid at every scale.
        round(col("sse") / col("syy"), 6).as("rel_sse"),
        round(fc(1), 4).as("f1"), round(fc(2), 4).as("f2"),
        round(fc(3), 4).as("f3"))
      .orderBy("segment")
  }

  /** JOINT two-changepoint trend: ŷ = b0 + b1·x + b2·relu(x−c1)
    * + b3·relu(x−c2) over all candidate PAIRS c1 < c2 from a k-sized
    * rank-spaced set — jointly least-SSE, not greedy, so a break that
    * only pays off in combination is still found. Same architecture as
    * [[fit]] one dimension up: the pair grid is ≤ C(k,2) per segment
    * (k defaults to 10 → ≤ 36 pairs, still O(k²·n) = linear in the
    * corpus for fixed k), the normal equations are 4×4 and solve by
    * [[det4]] Cramer in the shared fixed-IEEE shape, and the argmin
    * ranks on the 9-decimal rounded scale-free SSE with (c1, c2)
    * tiebreak. Degenerate pairs (no points past c2, collinear
    * features) have det = 0 and are filtered, matching the oracle. */
  def fit2(obs: DataFrame, k: Int = 10): DataFrame = {
    val wSeg = Window.partitionBy("segment")
    val wOrd = wSeg.orderBy("x")
    val base = obs
      .withColumn("x0", (col("x") - min("x").over(wSeg)).cast(LongType))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wSeg))
      .withColumn("xmax0", max("x0").over(wSeg))
    val lim = floor(col("n") * 0.8).cast(LongType)
    val step = greatest(lit(1L), floor(col("n") / k).cast(LongType))
    val cand = base
      .filter(col("rn") >= 2 && col("rn") <= lim &&
        pmod(col("rn") - 2, step) === 0)
      .select(col("segment"), col("x0"))
    val pairs = cand.select(col("segment"), col("x0").as("c1"))
      .join(cand.select(col("segment"), col("x0").as("c2")), Seq("segment"))
      .filter(col("c1") < col("c2"))
    val feat = base.join(pairs, Seq("segment"))
      .withColumn("h1", greatest(lit(0L), col("x0") - col("c1")))
      .withColumn("h2", greatest(lit(0L), col("x0") - col("c2")))
    def d(c: Column): Column = c.cast(DoubleType)
    def dec(c: Column): Column = c.cast(DecimalType(18, 0))
    val sums = feat.groupBy("segment", "c1", "c2")
      .agg(
        d(count(lit(1))).as("sn"),
        d(sum(col("x0"))).as("sx"),
        d(sum(col("x0") * col("x0"))).as("sxx"),
        d(sum(col("h1"))).as("s1"),
        d(sum(col("h1") * col("h1"))).as("s11"),
        d(sum(col("x0") * col("h1"))).as("sx1"),
        d(sum(col("h2"))).as("s2"),
        d(sum(col("h2") * col("h2"))).as("s22"),
        d(sum(col("x0") * col("h2"))).as("sx2"),
        d(sum(col("h1") * col("h2"))).as("s12"),
        d(sum(col("y"))).as("sy"),
        d(sum(col("y") * dec(col("x0")))).as("sxy"),
        d(sum(col("y") * dec(col("h1")))).as("s1y"),
        d(sum(col("y") * dec(col("h2")))).as("s2y"),
        d(sum(col("y") * col("y"))).as("syy"),
        max("xmax0").as("xmax0"))
    // normal-equation matrix rows and Cramer column replacements
    def A = Seq(
      Seq(col("sn"), col("sx"), col("s1"), col("s2")),
      Seq(col("sx"), col("sxx"), col("sx1"), col("sx2")),
      Seq(col("s1"), col("sx1"), col("s11"), col("s12")),
      Seq(col("s2"), col("sx2"), col("s12"), col("s22")))
    val r = Seq(col("sy"), col("sxy"), col("s1y"), col("s2y"))
    def replaced(j: Int): Seq[Seq[Column]] =
      A.zipWithIndex.map { case (row, i) => row.updated(j, r(i)) }
    val solved = sums
      .withColumn("det", det4(A))
      .filter(col("det") =!= 0.0)
      .withColumn("b0", det4(replaced(0)) / col("det"))
      .withColumn("b1", det4(replaced(1)) / col("det"))
      .withColumn("b2", det4(replaced(2)) / col("det"))
      .withColumn("b3", det4(replaced(3)) / col("det"))
      .withColumn("sse",
        col("syy") - (col("b0") * col("sy") + col("b1") * col("sxy") +
          col("b2") * col("s1y") + col("b3") * col("s2y")))
    val wBest = Window.partitionBy("segment")
      .orderBy(round(col("sse") / col("syy"), 9), col("c1"), col("c2"))
    def fc(stepAhead: Int): Column = {
      val xf = col("xmax0") + stepAhead
      col("b0") + col("b1") * xf +
        col("b2") * greatest(lit(0L), xf - col("c1")) +
        col("b3") * greatest(lit(0L), xf - col("c2"))
    }
    solved
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("segment"),
        col("sn").cast(LongType).as("n_points"),
        col("c1").as("cp1"), col("c2").as("cp2"),
        round(col("b1"), 6).as("slope1"),
        round(col("b1") + col("b2"), 6).as("slope2"),
        round(col("b1") + col("b2") + col("b3"), 6).as("slope3"),
        round(col("sse") / col("syy"), 6).as("rel_sse"),
        round(fc(1), 4).as("f1"), round(fc(2), 4).as("f2"),
        round(fc(3), 4).as("f3"))
      .orderBy("segment")
  }

  // ---- changepoint-aware predictive intervals ---------------------------

  /** Changepoint-aware predictive intervals (q323) — Prophet's interval
    * SEMANTICS (prophet_forecast.py:52-59 predictive_samples: trend
    * uncertainty GROWS past the last changepoint because future slope
    * shifts may occur) on a deterministic, engine-portable sampler.
    *
    * Per segment, the [[fitParams]] single-changepoint model gives the
    * trend and the historical slope-shift magnitude |b2| — the analog
    * of Prophet's Laplace scale fitted to historical deltas. Path i
    * then draws, via the md5-prefix portable hash (the q121 seeded-RNG
    * convention, so DuckDB recomputes every draw):
    *   - occurrence: a future changepoint happens on this path iff
    *     hash(seg|i|cp) is even — Prophet's changepoint frequency made
    *     a fixed documented prior;
    *   - location g ∈ {1,2,3}: hash(seg|i|g) mod 3 + 1, the step where
    *     the new slope starts;
    *   - sign ±1: hash(seg|i|s) parity (Laplace is symmetric);
    *   - a residual from the full-history pool: hash(seg|i|h) mod n.
    * sample(i,h) = trend(xmax+h) + sign·|b2|·max(0, h−g+1) + resid —
    * so more paths carry a shift as h grows AND each shift grows
    * linearly, giving the widening interval fan Prophet draws, while
    * every draw is replayable in SQL.
    *
    * Scale shape: params is one segment-sized frame; the path grid is
    * segments × horizon × nPaths rows built by explode (no driver
    * loop) and joins the residual pool on (segment, rn) — residuals
    * are history-sized, so the join broadcasts. The per-(segment, h)
    * summary collects nPaths values — bounded by construction, the
    * same contract as Stats.groupPercentile.
    *
    * Output per (segment, h): mean/p10/p50/p90 and width = p90−p10,
    * rounded at 6 dp like q121. */
  def intervalSummary(obs: DataFrame, k: Int = 25, horizon: Int = 7,
      nPaths: Int = 1000): DataFrame = {
    import graft.operators.Stats
    val params = fitParams(obs, k)
    val wSeg = Window.partitionBy("segment")
    val based = obs
      .withColumn("x0", (col("x") - min("x").over(wSeg)).cast(LongType))
      .withColumn("rn",
        row_number().over(wSeg.orderBy("x")).cast(LongType))
    val resid = based
      .join(params.select("segment", "c", "b0", "b1", "b2"), Seq("segment"))
      .select(col("segment"), col("rn"),
        (col("y").cast(DoubleType) - (col("b0") + col("b1") * col("x0") +
          col("b2") * greatest(lit(0L), col("x0") - col("c")))).as("rr"))
    def ph(parts: Column*): Column =
      graft.llm.TextDedup.portableHash(concat(parts: _*))
    val iS = col("i").cast(StringType)
    val grid = params
      .withColumn("h", explode(sequence(lit(1), lit(horizon))))
      .withColumn("i", explode(sequence(lit(0), lit(nPaths - 1))))
      .withColumn("ridx", pmod(
        ph(col("segment"), lit("|"), iS, lit("|"), col("h").cast(StringType)),
        col("sn").cast(LongType)))
      .withColumn("occ",
        pmod(ph(col("segment"), lit("|"), iS, lit("|cp")), lit(2L)) === 0L)
      .withColumn("g",
        pmod(ph(col("segment"), lit("|"), iS, lit("|g")), lit(3L)) + 1L)
      .withColumn("sgn",
        (pmod(ph(col("segment"), lit("|"), iS, lit("|s")), lit(2L)) * 2L -
          1L).cast(DoubleType))
      .withColumn("shift", when(col("occ"),
        col("sgn") * abs(col("b2")) *
          greatest(lit(0L), col("h") - col("g") + 1L).cast(DoubleType))
        .otherwise(lit(0.0)))
    val sampled = grid
      .join(resid, grid("segment") === resid("segment") &&
        resid("rn") === col("ridx") + 1L)
      .drop(resid("segment"))
      .withColumn("v",
        col("b0") + col("b1") * (col("xmax0") + col("h")) +
          col("b2") *
            greatest(lit(0L), col("xmax0") + col("h") - col("c")) +
          col("shift") + col("rr"))
    sampled.groupBy("segment", "h")
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .select(col("segment"), col("h"),
        round(Stats.arrayMean(col("vs")), 6).as("mean"),
        round(Stats.arrayPercentile(col("vs"), 0.1), 6).as("p10"),
        round(Stats.arrayPercentile(col("vs"), 0.5), 6).as("p50"),
        round(Stats.arrayPercentile(col("vs"), 0.9), 6).as("p90"),
        round(Stats.arrayPercentile(col("vs"), 0.9) -
          Stats.arrayPercentile(col("vs"), 0.1), 6).as("width"))
      .orderBy("segment", "h")
  }

  // ---- greedy-forward k-changepoint selection ---------------------------

  /** n×n determinant as SQL text: first-row cofactor expansion with
    * parenthesized minors and a left-associated alternating sum — the
    * string form of [[det3]]/[[det4]]'s shape at every dimension, so
    * the 3×3, 4×4 and 5×5 Cramer chains of the greedy rounds are ONE
    * IEEE expression tree in both engines. */
  private def detStr(m: IndexedSeq[IndexedSeq[String]]): String =
    if (m.size == 1) m(0)(0)
    else if (m.size == 2) s"${m(0)(0)}*${m(1)(1)} - ${m(0)(1)}*${m(1)(0)}"
    else {
      val terms = m(0).indices.map { c0 =>
        val cols = m(0).indices.filterNot(_ == c0)
        val minor = detStr(
          (1 until m.size).map(i => cols.map(j => m(i)(j)).toIndexedSeq)
            .toIndexedSeq)
        s"${m(0)(c0)}*($minor)"
      }
      terms.zipWithIndex.map { case (t, i) =>
        if (i == 0) t else if (i % 2 == 1) s" - $t" else s" + $t"
      }.mkString
    }

  /** The greedy-forward changepoint pipeline as ONE SQL text over an
    * `input` relation (segment: string, x: integer time index,
    * y: DECIMAL(18,2)) — the L0 analog of Prophet's L1 changepoint
    * shrinkage (`prophet_forecast.py:33-59`): instead of soft-shrinking
    * 25 slack variables, breaks enter one at a time (each round refits
    * the FULL model exactly — normal equations grow 3×3 → 4×4 → 5×5 —
    * and takes the least-SSE candidate) and selection STOPS when the
    * best new break improves the rounded scale-free SSE by less than
    * `tauPct` percent — Prophet's "most series need few changepoints"
    * prior made into an explicit stopping rule.
    *
    * Generated as text because the engine RUNS this same text
    * (`spark.sql`) and the DuckDB oracle replays it verbatim: the
    * Cramer determinant chains are far past the size where maintaining
    * two hand-written copies in identical IEEE shape is tenable, and
    * textual identity is what q274/q276 proved makes the fits
    * hash-match. Dialect intersection only: GREATEST / ROUND / CASE /
    * window row_number / `%` on non-negative operands behave
    * identically; integer sums pass through CAST(... AS BIGINT) (a
    * no-op in Spark, the HUGEINT collapse in DuckDB).
    *
    * Scale shape: round j is one O(k·n)-row candidate join + one
    * map-side-combined groupBy + a top-1 window — the same linear
    * shape as [[fit]], `maxBreaks` times; segments that stop early
    * drop out of later rounds via the eligibility filter (`nb = j-1`),
    * so a corpus of mostly-linear segments pays ~one round. */
  def greedySql(input: String, k: Int = 10, maxBreaks: Int = 3,
      tauPct: Int = 2): String = {
    val (ctes, fin) = greedyStages("", k, maxBreaks, tauPct)
    s"WITH obs0 AS (SELECT segment, x, y FROM $input),\n" +
      ctes.map { case (n, s) => s"$n AS (\n$s)" }.mkString(",\n") +
      "\n" + fin
  }

  /** The pipeline as ORDERED (name, body) stages plus the final
    * select, every relation name prefixed with `pfx`: the oracle
    * assembles them into one WITH chain (prefix ""), while the engine
    * executes them stage-by-stage as session views (unique prefix per
    * call) with the multiply-referenced frames (`obs`, `cand`, each
    * round's `st`) locally checkpointed — a WITH chain would inline
    * each `st` TWICE per round (eligibility + carry-forward join),
    * doubling the analyzed tree per round on top of the large Cramer
    * expressions. The ARITHMETIC text is prefix-free and therefore
    * byte-identical between the two modes. */
  private def greedyStages(pfx: String, k: Int, maxBreaks: Int,
      tauPct: Int): (Seq[(String, String)], String) = {
    require(maxBreaks >= 1 && maxBreaks <= 3,
      "maxBreaks 1..3 (5x5 Cramer is the generated-text ceiling)")
    val factor = s"0.${100 - tauPct}" // e.g. 0.98
    val stages = scala.collection.mutable.ArrayBuffer[(String, String)]()
    stages += (s"${pfx}obs" ->
      s"""  SELECT segment, x - MIN(x) OVER (PARTITION BY segment) AS x0, y,
         |    row_number() OVER (PARTITION BY segment ORDER BY x) AS rn,
         |    COUNT(*) OVER (PARTITION BY segment) AS n,
         |    MAX(x) OVER (PARTITION BY segment)
         |      - MIN(x) OVER (PARTITION BY segment) AS xmax0
         |  FROM ${pfx}obs0""".stripMargin)
    stages += (s"${pfx}cand" ->
      s"""  SELECT DISTINCT segment, x0 AS c FROM ${pfx}obs
         |  WHERE rn >= 2 AND rn <= FLOOR(n * 0.8)
         |    AND (rn - 2) % GREATEST(1, CAST(FLOOR(n / $k) AS BIGINT)) = 0""".stripMargin)
    // stage 0: plain line fit (2x2 Cramer), the no-break baseline
    val a0 = IndexedSeq(IndexedSeq("sn", "sf0"), IndexedSeq("sf0", "sp0_0"))
    val r0 = IndexedSeq("sy", "sy0")
    def rep(a: IndexedSeq[IndexedSeq[String]], r: IndexedSeq[String],
        j: Int): IndexedSeq[IndexedSeq[String]] =
      a.zipWithIndex.map { case (row, i) => row.updated(j, r(i)) }
    stages += (s"${pfx}m0" ->
      s"""  SELECT segment,
         |    CAST(COUNT(*) AS DOUBLE) AS sn,
         |    CAST(CAST(SUM(x0) AS BIGINT) AS DOUBLE) AS sf0,
         |    CAST(CAST(SUM(x0 * x0) AS BIGINT) AS DOUBLE) AS sp0_0,
         |    CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(y * CAST(x0 AS DECIMAL(18,0))) AS DOUBLE) AS sy0,
         |    CAST(SUM(y * y) AS DOUBLE) AS syy,
         |    MAX(xmax0) AS xmax0
         |  FROM ${pfx}obs GROUP BY segment""".stripMargin)
    stages += (s"${pfx}p0" ->
      s"  SELECT *, ${detStr(a0)} AS det FROM ${pfx}m0")
    stages += (s"${pfx}q0" ->
      s"""  SELECT *,
         |    (${detStr(rep(a0, r0, 0))}) / det AS b0,
         |    (${detStr(rep(a0, r0, 1))}) / det AS b1
         |  FROM ${pfx}p0 WHERE det <> 0""".stripMargin)
    stages += (s"${pfx}s0" ->
      s"  SELECT *, syy - (b0*sy + b1*sy0) AS sse FROM ${pfx}q0")
    stages += (s"${pfx}st0" ->
      s"""  SELECT segment, CAST(sn AS BIGINT) AS n_points, xmax0, syy,
         |    0 AS nb,
         |${(1 to maxBreaks).map(i => s"    CAST(NULL AS BIGINT) AS cp$i,").mkString("\n")}
         |    ROUND(sse / syy, 9) AS r,
         |    ROUND(sse / syy, 6) AS rel6,
         |    ROUND(b0 + b1*(xmax0 + 1), 4) AS f1,
         |    ROUND(b0 + b1*(xmax0 + 2), 4) AS f2,
         |    ROUND(b0 + b1*(xmax0 + 3), 4) AS f3
         |  FROM ${pfx}s0""".stripMargin)
    for (j <- 1 to maxBreaks) {
      val dim = j + 2
      // features: f0 = x0, f1..f(j-1) = accepted breaks, fj = candidate
      val prevCps = (1 until j).map(i => s"cp$i")
      val aj: IndexedSeq[IndexedSeq[String]] =
        IndexedSeq.tabulate(dim, dim) { (row, colN) =>
          (row, colN) match {
            case (0, 0) => "sn"
            case (0, cI) => s"sf${cI - 1}"
            case (rI, 0) => s"sf${rI - 1}"
            case (rI, cI) =>
              val (lo, hi) = (math.min(rI, cI) - 1, math.max(rI, cI) - 1)
              s"sp${lo}_$hi"
          }
        }
      val rj = "sy" +: (0 until dim - 1).map(i => s"sy$i")
      val feats = "o.x0" +:
        prevCps.map(cp => s"GREATEST(0, o.x0 - e.$cp)") :+
        "GREATEST(0, o.x0 - cd.c)"
      val featAliases = (0 until dim - 1).map(i => s"h$i")
      val sumsSql =
        (0 until dim - 1).map(i =>
          s"    CAST(CAST(SUM(h$i) AS BIGINT) AS DOUBLE) AS sf$i,") ++
        (for { lo <- 0 until dim - 1; hi <- lo until dim - 1 } yield
          s"    CAST(CAST(SUM(h$lo * h$hi) AS BIGINT) AS DOUBLE) AS sp${lo}_$hi,") ++
        Seq("    CAST(SUM(y) AS DOUBLE) AS sy") ++
        (0 until dim - 1).map(i =>
          s"    , CAST(SUM(y * CAST(h$i AS DECIMAL(18,0))) AS DOUBLE) AS sy$i")
      val bSql = (0 until dim).map(i =>
        s"    (${detStr(rep(aj, rj.toIndexedSeq, i))}) / det AS b$i")
      val sseTerms = ("b0*sy" +: (1 until dim).map(i => s"b$i*sy${i - 1}"))
        .mkString(" + ")
      // forecast at horizon h for the winner model: uses the winner's
      // own carried cps (wcp*) and candidate (wc)
      def fcW(h: Int): String = {
        val terms = s"w.b0 + w.b1*(s.xmax0 + $h)" +:
          (prevCps.map(cp => s"w.b${prevCps.indexOf(cp) + 2}" +
            s"*GREATEST(0, (s.xmax0 + $h) - w.w$cp)") :+
          s"w.b${dim - 1}*GREATEST(0, (s.xmax0 + $h) - w.wc)")
        terms.mkString(" + ")
      }
      val exclCand = prevCps.map(cp => s" AND cd.c <> e.$cp").mkString
      val carryCps = prevCps.map(cp => s"e.$cp AS w$cp")
      val groupCps = prevCps.map(cp => s"w$cp")
      stages += (s"$pfx" + s"e$j" ->
        s"""  SELECT segment${prevCps.map(c => s", $c").mkString}, syy
           |  FROM ${pfx}st${j - 1} WHERE nb = ${j - 1}""".stripMargin)
      stages += (s"$pfx" + s"f$j" ->
        s"""  SELECT o.segment, cd.c${carryCps.map(c => s", $c").mkString}, e.syy, o.y,
           |${feats.zip(featAliases).map { case (f, a) => s"    $f AS $a," }.mkString("\n")}
           |    o.xmax0
           |  FROM ${pfx}obs o
           |  JOIN ${pfx}e$j e ON o.segment = e.segment
           |  JOIN ${pfx}cand cd ON cd.segment = o.segment$exclCand""".stripMargin)
      stages += (s"$pfx" + s"m$j" ->
        s"""  SELECT segment, c${groupCps.map(c => s", $c").mkString},
           |    CAST(COUNT(*) AS DOUBLE) AS sn,
           |${sumsSql.mkString("\n")},
           |    MAX(syy) AS syy
           |  FROM ${pfx}f$j GROUP BY segment, c${groupCps.map(c => s", $c").mkString}""".stripMargin)
      stages += (s"$pfx" + s"p$j" ->
        s"  SELECT *, ${detStr(aj)} AS det FROM ${pfx}m$j")
      stages += (s"$pfx" + s"q$j" ->
        s"""  SELECT *,
           |${bSql.mkString(",\n")}
           |  FROM ${pfx}p$j WHERE det <> 0""".stripMargin)
      stages += (s"$pfx" + s"s$j" ->
        s"  SELECT *, syy - ($sseTerms) AS sse FROM ${pfx}q$j")
      stages += (s"$pfx" + s"w$j" ->
        s"""  SELECT segment, c AS wc${groupCps.map(c => s", $c").mkString},
           |${(0 until dim).map(i => s"    b$i,").mkString("\n")}
           |    ROUND(sse / syy, 9) AS wr, ROUND(sse / syy, 6) AS wrel6
           |  FROM (SELECT *, row_number() OVER (PARTITION BY segment
           |    ORDER BY ROUND(sse / syy, 9), c) AS rk FROM ${pfx}s$j)
           |  WHERE rk = 1""".stripMargin)
      stages += (s"$pfx" + s"st$j" ->
        s"""  SELECT s.segment, s.n_points, s.xmax0, s.syy,
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN $j ELSE s.nb END AS nb,
           |${(1 until j).map(i => s"    s.cp$i,").mkString("\n")}
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN w.wc ELSE s.cp$j END AS cp$j,
           |${(j + 1 to maxBreaks).map(i => s"    s.cp$i,").mkString("\n")}
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN w.wr ELSE s.r END AS r,
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN w.wrel6 ELSE s.rel6 END AS rel6,
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN ROUND(${fcW(1)}, 4) ELSE s.f1 END AS f1,
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN ROUND(${fcW(2)}, 4) ELSE s.f2 END AS f2,
           |    CASE WHEN w.segment IS NOT NULL AND w.wr < s.r * $factor
           |      THEN ROUND(${fcW(3)}, 4) ELSE s.f3 END AS f3
           |  FROM ${pfx}st${j - 1} s LEFT JOIN ${pfx}w$j w ON s.segment = w.segment""".stripMargin)
    }
    val fin =
      s"""SELECT segment, n_points, CAST(nb AS BIGINT) AS n_breaks,
         |${(1 to maxBreaks).map(i => s"  cp$i,").mkString("\n")}
         |  rel6 AS rel_sse, f1, f2, f3
         |FROM ${pfx}st$maxBreaks ORDER BY segment""".stripMargin
    (stages.toSeq, fin)
  }

  /** Greedy-forward changepoint fit over `obs` (segment, x, y):
    * executes [[greedyStages]] — the same text [[greedySql]] hands the
    * oracle, staged through session views with the multiply-referenced
    * frames checkpointed (see [[greedyStages]]). Output per segment:
    * n_points, n_breaks (0..maxBreaks, 0 = the plain line was never
    * beaten by `tauPct`%), cp1..cpN in SELECTION order (cp1 = the
    * break that bought the most SSE — the greedy analog of Prophet's
    * largest-|delta| changepoint), final rel_sse, and 1/2/3-step
    * forecasts from the final model. */
  def fitGreedy(obs: DataFrame, k: Int = 10, maxBreaks: Int = 3,
      tauPct: Int = 2): DataFrame = {
    val spark = obs.sparkSession
    val pfx = "gcpt" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8) + "_"
    val (ctes, fin) = greedyStages(pfx, k, maxBreaks, tauPct)
    val eager = Set(s"${pfx}obs", s"${pfx}cand") ++
      (0 to maxBreaks).map(j => s"${pfx}st$j")
    obs.createOrReplaceTempView(s"${pfx}obs0")
    try {
      ctes.foreach { case (name, sql) =>
        val df = spark.sql(sql)
        (if (eager(name)) Hold(df) else df)
          .createOrReplaceTempView(name)
      }
      // analyzed eagerly by spark.sql, so the view drops below are safe
      spark.sql(fin)
    } finally {
      (s"${pfx}obs0" +: ctes.map(_._1)).foreach { v =>
        spark.catalog.dropTempView(v); ()
      }
    }
  }
}
