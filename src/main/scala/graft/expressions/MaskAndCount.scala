package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd popcount-of-intersection over two `array<long>` bitmask
  * columns: `Σ_i Long.bitCount(a(i) & b(i))`.
  *
  * This is the set-intersection kernel behind the multi-word fast path of
  * `Dedup.jaccardPairs`: token sets dictionary-encoded into w-word bit
  * masks intersect in w AND+POPCNT steps per pair instead of a per-token
  * join — the fixed-width cousin of a roaring bitmap. Like
  * [[FloatVecDot]], the declarative equivalent
  * `aggregate(zip_with(a, b, (x,y) -> bit_count(x & y)), 0L, +)` is
  * semantically identical but runs interpreted per pair; this expression
  * emits a tight Java loop inside whole-stage codegen.
  *
  * Total-function edge semantics (pinned by SimilaritySpec): mismatched
  * lengths intersect over the common prefix, and a NULL array element
  * counts as an empty word (0 bits) — both differ from the HOF form,
  * which null-pads `zip_with` and propagates NULL through the sum. A
  * mask kernel should treat "no entry" as "no bits", not poison the
  * count.
  */
case class MaskAndCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def isLongArray(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mask_and_count expects two array<bigint> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "mask_and_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
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
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaskAndCount =
    copy(left = newLeft, right = newRight)
}
