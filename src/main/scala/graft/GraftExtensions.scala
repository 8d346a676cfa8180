package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** graft's one session hook (`spark.sql.extensions=graft.GraftExtensions`,
  * set by [[GraftSession]]): it injects the window-top-k optimizer rule
  * ([[graft.plans.WindowTopKRewrite]]) and the SQL surface of the
  * engine's native Catalyst expressions:
  *
  *   SELECT dot_product_f32(a.embedding, b.embedding) ...
  *   SELECT misra_gries(key, 8)           -- heavy-hitters summary
  *   SELECT count_min_sketch(key, 4, 64)  -- CMS counters
  *   SELECT top_k_by_value(score, id, 10)
  *   SELECT sum_sparse_histograms(hist)
  *
  * Every session the engine plans on is built with it, so a query sees
  * the same functions and rules in Main, Verify, Bench and the tests.
  *
  * Integer parameters must be foldable literals, mirroring how Spark's
  * own parameterized aggregates (approx_percentile, ...) validate
  * their arguments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls, name), builder))
    }
    // window-top-k → bounded-heap aggregate (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  /** (name, implementing class, builder) for every native function. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_product_f32", classOf[graft.functions.DotProductF32].getName,
      (args: Seq[Expression]) =>
        graft.functions.DotProductF32(args(0), args(1))),
    ("portable_hash60", classOf[graft.functions.PortableHash60].getName,
      (args: Seq[Expression]) =>
        graft.functions.PortableHash60(args(0))),
    ("jaro_winkler_micro", classOf[graft.functions.JaroWinklerMicro].getName,
      (args: Seq[Expression]) =>
        graft.functions.JaroWinklerMicro(args(0), args(1))),
    ("nfc_normalize", classOf[graft.functions.NfcNormalize].getName,
      (args: Seq[Expression]) =>
        graft.functions.NfcNormalize(args(0))),
    ("misra_gries", classOf[graft.operators.MisraGriesAgg].getName,
      (args: Seq[Expression]) =>
        graft.operators.MisraGriesAgg(args(0),
          intArg(args(1), "misra_gries", 2)).toAggregateExpression()),
    ("count_min_sketch", classOf[graft.operators.CountMinAgg].getName,
      (args: Seq[Expression]) =>
        graft.operators.CountMinAgg(args(0),
          intArg(args(1), "count_min_sketch", 2),
          intArg(args(2), "count_min_sketch", 3)).toAggregateExpression()),
    ("top_k_by_value", classOf[graft.operators.TopKByValue].getName,
      (args: Seq[Expression]) =>
        graft.operators.TopKByValue(args(0), args(1),
          intArg(args(2), "top_k_by_value", 3)).toAggregateExpression()),
    ("sum_sparse_histograms",
      classOf[graft.operators.SumSparseHistograms].getName,
      (args: Seq[Expression]) =>
        graft.operators.SumSparseHistograms(args(0)).toAggregateExpression()))
}
