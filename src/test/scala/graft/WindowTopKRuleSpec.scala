package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The shared session carries the rule (GraftExtensions), so a query
  * built on `spark` is the rewritten side. The Window baseline is the
  * same query on `windowed`, the child session that excludes the rule
  * (see [[SparkTestBase]]). */
class WindowTopKRuleSpec extends SparkTestBase {
  import spark.implicits._

  private def windowTopK(df: DataFrame, k: Int, desc0: Boolean): DataFrame = {
    val o = if (desc0) desc("v") else asc("v")
    df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(o, col("id"))))
      .filter(col("rn") <= k)
  }

  private val schema = StructType(Seq(StructField("g", LongType, nullable = false),
    StructField("v", DoubleType), StructField("id", LongType, nullable = false)))

  private def data(seed: Int, n: Int, s: SparkSession = spark): DataFrame = {
    val rnd = new Random(seed)
    val rows = (1 to n).map { i =>
      Row(rnd.nextInt(7).toLong, if (rnd.nextInt(10) == 0) null
      else java.lang.Double.valueOf(rnd.nextInt(40) / 4.0), i.toLong)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def canon(df: DataFrame): Set[(Long, Option[Double], Long, Int)] =
    df.select("g", "v", "id", "rn")
      .as[(Long, Option[Double], Long, Int)].collect().toSet

  test("rewrite removes the Window and matches, asc and desc, with ties and nulls") {
    for (desc0 <- Seq(true, false); seed <- Seq(1, 2)) {
      val q = windowBaseline(windowTopK(data(seed, 500, windowed), 3, desc0))
      val r = windowTopK(data(seed, 500), 3, desc0)
      val plan = r.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Window"), s"window survived:\n$plan")
      assert(plan.contains("topk_rows"), s"no topk_rows:\n$plan")
      assert(canon(r) == canon(q), s"desc=$desc0 seed=$seed mismatch")
    }
  }

  test("k larger than every group returns all rows with full numbering") {
    val df = data(3, 60)
    val q = windowBaseline(windowTopK(data(3, 60, windowed), 1000, desc0 = true))
    val r = windowTopK(df, 1000, desc0 = true)
    assert(canon(r) == canon(q))
    assert(r.count() == df.count())
  }

  test("nulls-first ordering (asc_nulls_first) is preserved") {
    def shaped(df: DataFrame) = df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(asc_nulls_first("v"), col("id"))))
      .filter(col("rn") <= 2)
    val q = windowBaseline(shaped(data(4, 300, windowed)))
    val r = shaped(data(4, 300))
    assert(!r.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(canon(r) == canon(q))
  }

  test("rn = 1 (latest-row-per-key) and flipped-literal forms rewrite") {
    def latest(df: DataFrame) = df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(desc("v"), col("id"))))
      .filter(col("rn") === 1)
    val r1 = latest(data(7, 300))
    assert(!r1.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(canon(r1) == canon(windowBaseline(latest(data(7, 300, windowed)))))
    def flipped(df: DataFrame) = df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(desc("v"), col("id"))))
      .filter(lit(2) >= col("rn"))
    val r2 = flipped(data(7, 300))
    assert(!r2.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(canon(r2) == canon(windowBaseline(flipped(data(7, 300, windowed)))))
  }

  test("rank() and dense_rank() rewrite tie-aware (boundary ties kept)") {
    // v = i/4 over a small domain → heavy ties, including at the
    // boundary; rank<=k may keep MORE than k rows per group
    for (seed <- Seq(8, 9); k <- Seq(1, 3)) {
      def ranked(df: DataFrame) = df.withColumn("rn", rank().over(
          Window.partitionBy("g").orderBy(desc("v"))))
        .filter(col("rn") <= k)
      val rr = ranked(data(seed, 400))
      assert(!rr.queryExecution.optimizedPlan.toString.contains("Window"))
      assert(rr.queryExecution.optimizedPlan.toString.contains("rank_topk_rows"))
      assert(canon(rr) == canon(windowBaseline(ranked(data(seed, 400, windowed)))),
        s"rank seed=$seed k=$k")
      def dense(df: DataFrame) = df.withColumn("rn", dense_rank().over(
          Window.partitionBy("g").orderBy(desc("v"))))
        .filter(col("rn") <= k)
      val rd = dense(data(seed, 400))
      assert(!rd.queryExecution.optimizedPlan.toString.contains("Window"))
      assert(canon(rd) == canon(windowBaseline(dense(data(seed, 400, windowed)))),
        s"dense seed=$seed k=$k")
    }
  }

  test("non-matching shapes are left untouched") {
    val df = data(5, 100)
    // ntile is not a supported ranking function: no rewrite
    val q1 = df.withColumn("rn", ntile(4).over(
        Window.partitionBy("g").orderBy("v")))
      .filter(col("rn") <= 3)
    assert(q1.queryExecution.optimizedPlan.toString.contains("Window"))
    // filter on the wrong side (rn >= k): no rewrite
    val q3 = df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("v"))).filter(col("rn") >= 3)
    assert(q3.queryExecution.optimizedPlan.toString.contains("Window"))
    // matching shape under a projection that DROPS rn still rewrites
    val q2 = windowTopK(df, 3, desc0 = true).drop("rn")
    assert(!q2.queryExecution.optimizedPlan.toString.contains("Window"))
    assert(windowBaseline(windowTopK(data(5, 100, windowed), 3, desc0 = true).drop("rn"))
      .collect().length == q2.collect().length)
  }

  test("multi-window-expression QUALIFY shape: rank splits out, others keep QUALIFY semantics") {
    // SELECT *, sum(v) OVER w, lag(v) OVER w, row_number() OVER w AS rn
    // ... WHERE rn <= k — the rank is rewritten to the aggregate; the
    // other window expressions move to their OWN Window node computed
    // over ALL rows (QUALIFY applies after every window), so their
    // values must equal the unrewritten plan's on surviving rows.
    for (seed <- Seq(11, 12); k <- Seq(1, 2)) {
      val w = Window.partitionBy("g").orderBy(desc("v"), col("id"))
      def shaped(d: DataFrame) = d
        .withColumn("run_sum", sum(coalesce(col("v"), lit(0.0))).over(w))
        .withColumn("prev_v", lag("v", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
      val q = windowBaseline(shaped(data(seed, 400, windowed)))
      val r = shaped(data(seed, 400))
      val plan = r.queryExecution.optimizedPlan.toString
      // the rank window is gone (aggregate in its place) but exactly
      // one Window node remains for the non-rank expressions
      assert(plan.contains("topk_rows"), s"no topk_rows:\n$plan")
      assert("(?s)windowspecdefinition".r.findAllIn(plan.toLowerCase).size >= 1)
      assert(!plan.contains("row_number"), s"row_number survived:\n$plan")
      def c(d: DataFrame) = d.select("g", "v", "id", "run_sum", "prev_v", "rn")
        .collect().map(_.toString).toSet
      assert(c(r) == c(q), s"seed=$seed k=$k mismatch")
      // column ORDER is preserved exactly (the rank may interleave)
      assert(r.schema.fieldNames.toSeq == q.schema.fieldNames.toSeq)
    }
  }

  test("downstream operators see identical resolution (join on rewritten frame)") {
    def joined(df: DataFrame) = windowTopK(df, 2, desc0 = true)
      .join(df.select(col("id"), col("v").as("v2")), "id")
      .filter(col("rn") === 1)
    val got = joined(data(6, 200))
    assert(got.queryExecution.optimizedPlan.toString.contains("topk_rows"))
    val expect = windowBaseline(joined(data(6, 200, windowed)))
    assert(got.collect().toSet.map((r: Row) => r.toString) ==
      expect.collect().toSet.map((r: Row) => r.toString))
  }

  test("sessions built with GraftExtensions rewrite automatically") {
    val df = (1 to 100).map(i => (i % 5, i * 1.0, i)).toDF("g", "v", "id")
    val q = df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(desc("v"), col("id"))))
      .filter(col("rn") <= 3)
    assert(q.queryExecution.optimizedPlan.toString.contains("topk_rows"))
    assert(q.count() == 15)
  }
}
