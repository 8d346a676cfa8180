package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Ascending, Attribute, AttributeReference, Cast, DenseRank, EqualTo, Expression, GetStructField, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, Literal, NullsFirst, PosExplode, Rank, RowNumber, SortOrder, SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, UnboundedPreceding}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructType}

import graft.operators.{RankTopKRows, TopKRows}

/** Optimizer rule: rewrite the grouped-top-k window idiom
  *
  *   SELECT ... FROM (SELECT *, row_number() OVER
  *     (PARTITION BY p ORDER BY o) AS rn FROM t) WHERE rn <= k
  *
  * into a [[TopKRows]] hash aggregate + posexplode. The window plan
  * shuffles EVERY row of t to its group and sorts whole groups before
  * the filter throws away all but k rows per group; the rewrite keeps
  * a bounded k-heap per group per map task, so the exchange carries
  * ≤ k·groups·tasks rows and nothing sorts more than k elements.
  * (Spark's own InferWindowGroupLimit prunes rows before the shuffle
  * too, but still sorts each partition and runs the full Window
  * machinery; this rewrite removes the sort entirely — the win grows
  * with rows-per-group. Measured at sf0.1 (PERF_NOTES.md, round-12
  * "q262 topk_rewrite" entry: top-3 per supplier over 600k lineitems,
  * ~600 rows/group): 1.32 s window vs 0.67 s rewritten, warm min-of-3
  * — ~2x, against a window plan that already benefits from
  * WindowGroupLimit.)
  *
  * Semantics: exact row_number semantics including ties broken by
  * heap order — like the window form, the choice among order-key ties
  * is only deterministic if the ORDER BY is total (every query in this
  * repo tiebreaks on a unique key; so does the oracle).
  *
  * Scope guards (rewrite only when provably safe):
  *   - the filtered expression is a plain row_number/rank/dense_rank
  *     with the default running frame; any OTHER window expressions in
  *     the node (multi-expression QUALIFY shape) must be deterministic
  *     — they are split into their own Window computed BELOW the
  *     aggregate, over all rows, exactly as QUALIFY semantics demand;
  *   - filter is exactly `rn <= IntLiteral` / `rn < IntLiteral`
  *     (optionally under a Cast);
  *   - partition keys are plain attributes, order keys deterministic;
  *   - 0 < k ≤ 10000 (the heap is per-group in-memory state).
  *
  * The rewritten subtree reproduces the Filter's exact output
  * (child columns + rn, original exprIds), so any parent plan is
  * untouched. [[graft.GraftExtensions]] injects it into every session
  * graft builds, so it is the one way a plan gets rewritten; a session
  * that must keep the Window form (a test's baseline) excludes it with
  * `spark.sql.optimizer.excludedRules=graft.plans.WindowTopKRewrite`.
  */
object WindowTopKRewrite extends Rule[LogicalPlan] {

  private val MaxK = 10000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, w: Window) =>
      tryRewrite(cond, w).getOrElse(f)
    // the analyzer's ExtractWindowExpressions leaves a pure column-
    // reordering Project over the Window node — rewrite through it
    case f @ Filter(cond, Project(projList, w: Window))
        if projList.forall(_.isInstanceOf[Attribute]) =>
      tryRewrite(cond, w).map(r => Project(projList, r)).getOrElse(f)
  }

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = {
    def isRn(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == rn.exprId
      case Cast(a: Attribute, _, _, _) => a.exprId == rn.exprId
      case _ => false
    }
    cond match {
      case LessThanOrEqual(e, IntegerLiteral(k)) if isRn(e) => Some(k)
      case LessThan(e, IntegerLiteral(k)) if isRn(e) => Some(k - 1)
      case LessThanOrEqual(e, Literal(k: Long, _)) if isRn(e) &&
        k <= Int.MaxValue => Some(k.toInt)
      case LessThan(e, Literal(k: Long, _)) if isRn(e) &&
        k <= Int.MaxValue => Some(k.toInt - 1)
      // rn = 1: the latest-row-per-key idiom (argmax) — top-1
      case EqualTo(e, IntegerLiteral(1)) if isRn(e) => Some(1)
      case EqualTo(IntegerLiteral(1), e) if isRn(e) => Some(1)
      // flipped literal-first comparisons: k >= rn ⇔ rn <= k
      case GreaterThanOrEqual(IntegerLiteral(k), e) if isRn(e) => Some(k)
      case GreaterThan(IntegerLiteral(k), e) if isRn(e) => Some(k - 1)
      case _ => None
    }
  }

  private sealed trait Mode
  private case object ModeRowNumber extends Mode
  private case object ModeRank extends Mode
  private case object ModeDenseRank extends Mode

  private def modeOf(fn: Expression): Option[Mode] = fn match {
    case RowNumber() => Some(ModeRowNumber)
    case _: Rank => Some(ModeRank)
    case _: DenseRank => Some(ModeDenseRank)
    case _ => None
  }

  private def tryRewrite(cond: Expression,
      w: Window): Option[LogicalPlan] = {
    if (!w.partitionSpec.forall(_.isInstanceOf[Attribute])) return None
    // Find THE window expression the filter bounds: rank-like function,
    // default running frame (row_number carries a RowFrame; rank/
    // dense_rank a RangeFrame — both UNBOUNDED PRECEDING..CURRENT ROW),
    // deterministic total order, filter shape `fn <= k`. Any OTHER
    // window expressions in the node (the common QUALIFY shape:
    // `SELECT *, lag(..) OVER w, sum(..) OVER w .. QUALIFY
    // row_number() OVER w <= k`) are split into their own Window node
    // UNDER the top-k aggregate — valid because expressions within one
    // Window node are computed independently over the same child rows,
    // so stacking preserves each one's input, and the rank filter then
    // prunes rows after they are computed, exactly as QUALIFY does.
    val matched = w.windowExpressions.collectFirst {
      case alias @ Alias(WindowExpression(fn,
          WindowSpecDefinition(_, order, SpecifiedWindowFrame(_,
            UnboundedPreceding, CurrentRow))), _)
          if order.nonEmpty && order.forall(_.child.deterministic) &&
            modeOf(fn).isDefined &&
            limitOf(cond, alias.toAttribute).isDefined =>
        (alias, modeOf(fn).get, order, limitOf(cond, alias.toAttribute).get)
    }
    matched.flatMap { case (alias, mode, order, k) =>
      val others = w.windowExpressions.filterNot(_ eq alias)
      if (k > 0 && k <= MaxK && others.forall(_.deterministic))
        Some(build(w, order, alias, k, mode, others))
      else None
    }
  }

  /** dense_rank ≤ rank ≤ row_number pointwise; a WindowGroupLimit
    * keeping glFn ≤ glLimit retains every row with modeFn ≤ k iff the
    * gl's function is ≤ the mode's in that chain AND glLimit ≥ k. */
  private def rankStrength(fn: Expression): Option[Int] = fn match {
    case _: DenseRank => Some(0)
    case _: Rank => Some(1)
    case RowNumber() => Some(2)
    case _ => None
  }

  private def build(w: Window, order: Seq[SortOrder], rnAlias: Alias,
      k: Int, mode: Mode, others: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): LogicalPlan = {
    val modeStrength = mode match {
      case ModeDenseRank => 0
      case ModeRank => 1
      case ModeRowNumber => 2
    }
    // Spark's InferWindowGroupLimit may already sit below the Window:
    // its per-partition sorted prune becomes pure overhead once the
    // whole window is gone, so strip it — but ONLY when it provably
    // keeps a superset of our top-k rows (same spec, limit ≥ k, and a
    // rank function no stronger than ours in the dense≤rank≤row_number
    // chain); a gl with a smaller limit or stronger function would
    // make the rewrite emit rows the original plan pruned.
    val child0 = w.child match {
      case gl: WindowGroupLimit
          if gl.partitionSpec == w.partitionSpec &&
            gl.orderSpec == w.orderSpec && gl.limit >= k &&
            rankStrength(gl.rankLikeFunction).exists(_ <= modeStrength) =>
        gl.child
      case c => c
    }
    // Non-rank window expressions sharing the node get their own
    // Window UNDER the aggregate: computed over all rows (QUALIFY
    // semantics), one exchange serves both (the aggregate's
    // hash-partitioning requirement is already satisfied).
    val child =
      if (others.isEmpty) child0
      else Window(others, w.partitionSpec, w.orderSpec, child0)
    val sortKeys = order.map(_.child)
    val payload = child.output
    val asc = order.map(_.direction == Ascending)
    val nf = order.map(_.nullOrdering == NullsFirst)
    val agg = mode match {
      case ModeRowNumber =>
        TopKRows(sortKeys ++ payload, sortKeys.length, asc, nf, k)
      case ModeRank =>
        RankTopKRows(sortKeys ++ payload, sortKeys.length, asc, nf, k,
          dense = false)
      case ModeDenseRank =>
        RankTopKRows(sortKeys ++ payload, sortKeys.length, asc, nf, k,
          dense = true)
    }
    // RankTopKRows structs lead with the computed rank field
    val fieldBase = if (mode == ModeRowNumber) 0 else 1
    val arr = Alias(agg.toAggregateExpression(), "graft_topk")()
    val partAttrs = w.partitionSpec.map(_.asInstanceOf[Attribute])
    val aggregate = Aggregate(partAttrs, partAttrs :+ arr, child)
    val elemType = agg.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val posAttr = AttributeReference("graft_pos", IntegerType,
      nullable = false)()
    val colAttr = AttributeReference("graft_col", elemType,
      nullable = false)()
    // every aggregate output is consumed by the generator or rebuilt
    // from the struct — drop them all from Generate's passthrough so
    // the rebuilt original exprIds below can't collide
    val gen = Generate(PosExplode(arr.toAttribute),
      unrequiredChildIndex = aggregate.output.indices,
      outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, colAttr), aggregate)
    val rebuilt = payload.zipWithIndex.map { case (a, i) =>
      // the name HINT must be the struct's real field name (c$i) —
      // GeneratorNestedColumnAliasing re-resolves extractors by the
      // hint, and a payload-column hint fails FIELD_NOT_FOUND
      Alias(GetStructField(colAttr, fieldBase + sortKeys.length + i,
        Some(s"c$i")), a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
    // row_number comes back as explode position + 1; rank/dense_rank
    // were computed inside the aggregate (field 0 of the struct)
    val rn = mode match {
      case ModeRowNumber =>
        Alias(Add(posAttr, Literal(1)), rnAlias.name)(
          exprId = rnAlias.exprId, qualifier = rnAlias.qualifier)
      case _ =>
        Alias(GetStructField(colAttr, 0, Some("rk")), rnAlias.name)(
          exprId = rnAlias.exprId, qualifier = rnAlias.qualifier)
    }
    // Emit columns in the ORIGINAL Filter output order (w.output may
    // interleave the rank among other window expressions), so parents
    // that bind positionally — the query's top-level output — see the
    // exact schema the window plan produced.
    val byId = (rebuilt :+ rn).map(a => a.exprId -> a).toMap
    Project(w.output.map(a => byId(a.exprId)), gen)
  }
}
