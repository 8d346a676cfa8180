package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd array kernels for the ANN/k-means hot paths,
  * generalizing [[DotProductF32]] to FLOAT and DOUBLE element types
  * (chosen per input side at bind time, so float-embedding ×
  * double-centroid works without a per-row cast of the whole array).
  *
  * Both kernels accumulate in double with the same sequential
  * left-to-right order as the `zip_with`+`aggregate` HOF chains they
  * replace (`Ann.dotDouble`, `Pq.l2`), so results are bit-identical
  * and they can drop into existing prefilters unchanged. The HOF chain
  * allocates an intermediate array per row and walks two lambdas —
  * per-candidate cost that dominates k-means assignment and candidate
  * pruning at scale.
  *
  * PRECONDITION (hot-path contract, deliberately unchecked per row):
  * both arrays must have the same length and contain no null elements.
  * On mismatched lengths the kernels fold over the first min(n)
  * elements, where the HOF chain's zip_with null-pads and yields NULL;
  * a null element is read as the raw slot value instead of propagating
  * null. Every caller in this library (k-means assignment, ADC/re-rank
  * prefilters, LSH plane dots) meets the precondition by construction:
  * fixed-dim embeddings / codebooks with non-null elements. Wrong
  * input TYPES fail at analysis time via [[checkInputDataTypes]].
  */
trait ArrayKernel extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double> on both sides, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }

  protected def get(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Per-element combine in interpreted eval. */
  protected def combine(x: Double, y: Double): Double

  /** Java source for the per-element combine in codegen. */
  protected def combineCode(x: String, y: String): String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += combine(get(x, lf, i), get(y, rf, i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val la = if (elemIsFloat(left)) s"(double) $a.getFloat" else s"$a.getDouble"
      val rb = if (elemIsFloat(right)) s"(double) $b.getFloat" else s"$b.getDouble"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $la($i);
         |  double $yv = $rb($i);
         |  $sum += ${combineCode(xv, yv)};
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
}

/** dot_arr(a, b): double dot product over float/double arrays. */
case class DotArr(left: Expression, right: Expression) extends ArrayKernel {
  override protected def combine(x: Double, y: Double): Double = x * y
  override protected def combineCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotArr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_arr"
}

/** dist2_arr(a, b): squared L2 distance over float/double arrays. */
case class Dist2Arr(left: Expression, right: Expression) extends ArrayKernel {
  override protected def combine(x: Double, y: Double): Double =
    (x - y) * (x - y)
  override protected def combineCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2Arr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dist2_arr"
}

/** qdot_arr(a, b): EXACT integer dot product of quantized arrays —
  * Σ floor(aᵢ·2²⁰)·floor(bᵢ·2²⁰) as a long. The quantizer is floor of
  * an exact double (v·2²⁰ is a pure exponent shift, never rounded), so
  * every engine computes the same integers and the same sum — unlike a
  * double→DECIMAL(30,15) cast, where Spark rounds the double's
  * shortest decimal repr while DuckDB rounds its exact binary
  * expansion (the seam that red-flagged q185 in r11). Integer addition
  * is associative, so the value is also independent of row/partition
  * order — the portability contract the ANN family's oracle gates
  * need, at the cost of one tight codegen loop per pair instead of a
  * per-element decimal add.
  *
  * Range: |floor(v·2²⁰)| < 2²⁰·max|v|, so each product is below
  * 2⁴⁰·max|v|² and the sum of dim products stays inside long whenever
  * dim·max|v|² < 2²² — ample for any embedding this engine sees
  * (unit-scale float32, dim ≤ 4096: sum < 2⁵²), but NOT checked on
  * the hot path. Out-of-contract inputs (|v| ≫ 1 at high dim) would
  * silently wrap and corrupt rankings (r13 advisor finding), so a
  * checked mode exists: `-Dgraft.qdot.checked=true` switches the fold
  * to Math.multiplyExact/addExact, which throws ArithmeticException on
  * the first wrap — the branch is a codegen-time constant, so the
  * default path is unchanged. Run ingest validation (or any suite) once
  * with the flag when onboarding a new embedding source.
  * Same unchecked same-length/no-null hot-path contract as the double
  * kernels. */
case class QDotArr(left: Expression, right: Expression) extends ArrayKernel {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override protected def combine(x: Double, y: Double): Double =
    throw new IllegalStateException("QDotArr folds in long, not double")
  override protected def combineCode(x: String, y: String): String =
    throw new IllegalStateException("QDotArr folds in long, not double")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    if (QDotArr.checked) {
      while (i < n) {
        s = Math.addExact(s, Math.multiplyExact(
          math.floor(get(x, lf, i) * 1048576.0).toLong,
          math.floor(get(y, rf, i) * 1048576.0).toLong))
        i += 1
      }
    } else {
      while (i < n) {
        s += math.floor(get(x, lf, i) * 1048576.0).toLong *
          math.floor(get(y, rf, i) * 1048576.0).toLong
        i += 1
      }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val la = if (elemIsFloat(left)) s"(double) $a.getFloat" else s"$a.getDouble"
      val rb = if (elemIsFloat(right)) s"(double) $b.getFloat" else s"$b.getDouble"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      // checked mode resolves at CODEGEN time: the fast path compiles
      // with no extra branch or call in the loop body.
      val fold =
        if (QDotArr.checked)
          s"""$sum = java.lang.Math.addExact($sum, java.lang.Math.multiplyExact(
             |    (long) java.lang.Math.floor($la($i) * 1048576.0),
             |    (long) java.lang.Math.floor($rb($i) * 1048576.0)));""".stripMargin
        else
          s"""$sum += (long) java.lang.Math.floor($la($i) * 1048576.0)
             |    * (long) java.lang.Math.floor($rb($i) * 1048576.0);""".stripMargin
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $fold
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QDotArr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "qdot_arr"
}

object QDotArr {
  /** `-Dgraft.qdot.checked=true` → overflow-checked fold (see class
    * doc). Read once per JVM; both interpreted and codegen paths obey
    * it. A var (not val) only so tests can exercise both modes. */
  @volatile private[graft] var checked: Boolean =
    java.lang.Boolean.getBoolean("graft.qdot.checked")
}

object ArrayKernels {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnShim

  /** Column-level kernels (no SQL registration needed). */
  def dotArr(a: Column, b: Column): Column =
    ColumnShim.column(DotArr(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  def dist2Arr(a: Column, b: Column): Column =
    ColumnShim.column(Dist2Arr(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  def qdotArr(a: Column, b: Column): Column =
    ColumnShim.column(QDotArr(
      ColumnShim.expression(a), ColumnShim.expression(b)))
}
