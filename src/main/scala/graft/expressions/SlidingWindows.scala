package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All fixed-width character windows of a string in ONE forward pass:
  * `sliding_windows(text, width, stride)` ==
  * `transform(sequence(1, length(text) - width + 1, stride),
  *            p -> substring(text, p, width))`
  * for `length(text) >= width` (empty array below — callers guard that
  * edge with `when`/`filter`, mirroring the declarative spelling whose
  * `sequence(1, len-w+1)` would error on a negative stop).
  *
  * Why a custom Catalyst `Expression` (builder-preference tier (b), the
  * [[CdcBoundaries]] precedent): `substring(text, p, w)` re-seeks the
  * UTF-8 char boundary from byte 0 on EVERY call, so the per-position
  * spelling is O(len²) bytes touched per row. Harmless at the corpus's
  * ~500-byte docs; a single 100k-token document (round-11 giant-row
  * fuzz axis) turns one task into ~10¹¹ byte-steps — jstack'd live at
  * 15+ min of CPU inside `UTF8String.substring` on fuzz seed 1200.
  * This eval walks the byte array once, records each code point's byte
  * offset, and slices windows by offset: O(len·width/stride) total,
  * identical output on ASCII and multi-byte text (code-POINT grain,
  * matching Spark's substring and the DuckDB oracle's substr).
  * `CodegenFallback` is deliberate, as for the sibling expressions:
  * per-row interpretation overhead is nothing next to the per-char
  * loop inside.
  */
case class SlidingWindows(first: Expression, second: Expression,
                          third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == StringType && second.dataType == IntegerType &&
        third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "sliding_windows expects (string, int, int), got (" +
          Seq(first, second, third).map(_.dataType.simpleString)
            .mkString(", ") + ")")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "sliding_windows"

  override protected def nullSafeEval(t: Any, w: Any, s: Any): Any = {
    val str = t.asInstanceOf[UTF8String]
    val width = w.asInstanceOf[Int]
    val stride = s.asInstanceOf[Int]
    require(width >= 1 && stride >= 1,
      s"sliding_windows: width/stride must be >= 1, got $width/$stride")
    val bytes = str.getBytes
    val nBytes = bytes.length
    // one pass: byte offset of each code point (offs(i) = start of char i)
    val nChars = str.numChars()
    if (nChars < width) return new GenericArrayData(Array.empty[Any])
    val n = (nChars - width) / stride + 1
    val out = new Array[Any](n)
    if (nBytes == nChars) {             // all-ASCII: offsets are identity
      var k = 0
      while (k < n) {
        out(k) = UTF8String.fromBytes(bytes, k * stride, width)
        k += 1
      }
    } else {
      val offs = new Array[Int](nChars + 1)
      var i = 0
      var c = 0
      while (i < nBytes) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      offs(nChars) = nBytes
      var k = 0
      while (k < n) {
        val a = offs(k * stride)
        val b = offs(k * stride + width)
        out(k) = UTF8String.fromBytes(bytes, a, b - a)
        k += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SlidingWindows =
    copy(first = newFirst, second = newSecond, third = newThird)
}
