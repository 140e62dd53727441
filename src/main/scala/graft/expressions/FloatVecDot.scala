package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two `array<float>` columns, accumulating in
  * double with left-to-right fold order.
  *
  * Why a custom Catalyst `Expression` (SURVEY.md §2.12 / builder-prompt
  * preference order (b)): the declarative form
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` is
  * semantically identical but higher-order lambdas execute interpreted —
  * ~µs per pair — which dominates brute-force similarity search. This
  * expression emits a tight Java loop inside whole-stage codegen
  * (`doGenCode`), with an interpreted `nullSafeEval` fallback.
  *
  * The arithmetic is bit-identical to the declarative form and to the
  * DuckDB oracle (float×float widened to double is exact; sequential
  * accumulation), so swapping it into oracle-checked queries changes no
  * result.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // (ExpectsInputTypes is off-limits outside Spark's sql package —
  // AbstractDataType is private[sql] — so input types are checked here)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isFloatArray(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects two array<float> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
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
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}
