package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd set-intersection size of two SORTED `array<string>` (or
  * `array<long>`, r14) columns: one merge walk, counting equal elements.
  *
  * This is the per-pair kernel for exact similarity joins over token sets
  * too large for any bitmask vocabulary (word trigrams: ~|corpus|
  * distinct shingles): `sort_array` the per-doc distinct tokens once —
  * a pure expression, no shuffle — then each candidate pair costs
  * O(|a|+|b|) binary string comparisons inside whole-stage codegen. The
  * declarative `size(array_intersect(a, b))` is semantically identical
  * but hash-builds a set per pair, interpreted; measured ~2× slower on
  * identical cached inputs (sf0.1 trigram block join, PLANS.md — which
  * also records when a posting-list join beats BOTH: block-pair
  * enumeration loses to postings whenever qualifying pairs are sparse).
  *
  * PRECONDITIONS (callers construct both sides with
  * `sort_array(filter(array_distinct(...), x -> x.isNotNull))`):
  * elements sorted ascending, distinct, non-null. Unsorted input
  * undercounts; null elements throw — `array_distinct` alone does NOT
  * remove nulls, hence the explicit filter in the recipe.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isStrArray(t: DataType) = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  private def isLongArray(t: DataType) = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if ((isStrArray(left.dataType) && isStrArray(right.dataType)) ||
        (isLongArray(left.dataType) && isLongArray(right.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects two array<string> or two " +
          s"array<long> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n1 = x.numElements(); val n2 = y.numElements()
    var i = 0; var j = 0; var s = 0L
    if (isLongArray(left.dataType)) {
      while (i < n1 && j < n2) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { s += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    } else {
      while (i < n1 && j < n2) {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { s += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val body =
        if (isLongArray(left.dataType)) {
          val xv = ctx.freshName("xv")
          val yv = ctx.freshName("yv")
          s"""
             |while ($i < $n1 && $j < $n2) {
             |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
             |  if ($xv == $yv) { $s++; $i++; $j++; }
             |  else if ($xv < $yv) { $i++; } else { $j++; }
             |}
           """.stripMargin
        } else {
          val c = ctx.freshName("c")
          s"""
             |while ($i < $n1 && $j < $n2) {
             |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
             |  if ($c == 0) { $s++; $i++; $j++; }
             |  else if ($c < 0) { $i++; } else { $j++; }
             |}
           """.stripMargin
        }
      s"""
         |int $n1 = $a.numElements(); int $n2 = $b.numElements();
         |int $i = 0; int $j = 0; long $s = 0L;
         |$body
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
