package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: dot product of two float-array columns in
  * double precision, with whole-stage codegen (`doGenCode`) — a tight
  * primitive loop instead of the `zip_with`+`aggregate` HOF chain (which
  * allocates an intermediate array per row and walks two lambdas).
  *
  * This is the preference-order (b) tier from the builder brief: a
  * scalar Expression for a hot inner loop the built-in operators express
  * only with per-row allocation. Same sequential left-to-right
  * summation as `Ann.dotDouble`, so results are bit-identical and it
  * can drop into the ANN prefilter unchanged.
  */
case class DotProductF32(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF32 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f32"
}
