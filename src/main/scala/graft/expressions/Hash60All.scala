package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** [[graft.ops.Dedup.hash60]] of EVERY element of an `array<string>`, in
  * one native loop: md5 of the element's UTF-8 bytes, first 15 hex
  * digits parsed base 16 (= first 7 digest bytes + the high nibble of
  * the 8th, big-endian) — bit-identical to the declarative
  * `conv(substring(md5(x), 1, 15), 16, 10)` the DuckDB oracle replays,
  * pinned row-by-row by Hash60AllSpec.
  *
  * Why a custom Catalyst `Expression` (builder-preference tier (b), the
  * [[CdcBoundaries]] precedent): `transform(arr, x -> hash60(x))`
  * evaluates one INTERPRETED lambda per element — expression-tree walk,
  * hex-string render of the digest, `conv` string parse, cast — and the
  * gram-grain arrays behind ext_winnowing put ~10⁶ elements per sf0.1
  * partition through it (measured 18.9 s executor CPU for that entry
  * alone). This loop reuses one MessageDigest and never renders hex.
  * `CodegenFallback` is deliberate: per-row interpretation cost is
  * nothing next to the per-element digest loop inside.
  */
case class Hash60All(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hash60_all expects an array<string> argument, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)

  override def prettyName: String = "hash60_all"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out(i) = null
      else {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var v = 0L
        var k = 0
        while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        out(i) = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Hash60All =
    copy(child = newChild)
}
