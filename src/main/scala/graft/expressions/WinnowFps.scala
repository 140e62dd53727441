package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole winnowing fingerprint projection in ONE native pass:
  * `winnow_fps(text, width, w)` ==
  * {{{
  *   grams = if (numChars(text) >= width) sliding_windows(text, width, 1)
  *           else array(text)
  *   hs    = hash60_all(grams)                // md5-60 per gram
  *   if (size(hs) >= w)
  *     array_distinct(transform(sequence(0, size(hs) - w),
  *       j -> least(hs[j+1], ..., hs[j+w])))  // window minima
  *   else array(array_min(hs))
  * }}}
  * — the Schleimer–Wilkerson–Aiken selection ext_winnowing ships,
  * bit-identical including first-occurrence distinct order (pinned
  * row-by-row by WinnowFpsSpec against exactly that declarative chain).
  *
  * Why (r15): after r14 moved the per-gram md5 into [[Hash60All]], the
  * entry's residual CPU was the INTERPRETED window-min lambda — one
  * `transform` element per corpus character, each evaluating w
  * `element_at`s and a `least` through the expression interpreter —
  * plus the materialization of two ~len-element intermediate arrays
  * (the gram strings and their hashes) per document. This kernel walks
  * the text's code points once, digests each width-gram DIRECTLY from
  * the shared byte buffer (no per-gram UTF8String), keeps a w-slot
  * ring of hashes for the running minima, and emits first-occurrence
  * distinct fingerprints — O(len) with no intermediate allocation
  * beyond the output. `CodegenFallback` as for the sibling kernels:
  * per-row interpretation cost is nothing next to the per-char digest
  * loop inside. */
case class WinnowFps(first: Expression, second: Expression,
                     third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == StringType && second.dataType == IntegerType &&
        third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "winnow_fps expects (string, int, int), got (" +
          Seq(first, second, third).map(_.dataType.simpleString)
            .mkString(", ") + ")")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = true)

  override def prettyName: String = "winnow_fps"

  // a NULL text must produce [null], not null: the declarative chain
  // sends a null text through `otherwise(array(t))` → one null gram →
  // one null hash → array(array_min([null])) = [null] (WinnowFpsSpec
  // pins this class), so the expression itself is never null
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = first.eval(input)
    if (t == null) new GenericArrayData(Array[Any](null))
    else {
      val wd = second.eval(input)
      val ww = third.eval(input)
      if (wd == null || ww == null) null else nullSafeEval(t, wd, ww)
    }
  }

  private def hash60(md: java.security.MessageDigest,
                     bytes: Array[Byte], off: Int, len: Int): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  override protected def nullSafeEval(t: Any, wd: Any, ww: Any): Any = {
    val str = t.asInstanceOf[UTF8String]
    val width = wd.asInstanceOf[Int]
    val w = ww.asInstanceOf[Int]
    require(width >= 1 && w >= 1,
      s"winnow_fps: width/w must be >= 1, got $width/$w")
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = str.getBytes
    val nBytes = bytes.length
    val nChars = str.numChars()
    // gram byte ranges: identity offsets on ASCII, else code-point map
    val nGrams = if (nChars < width) 1 else nChars - width + 1
    var offs: Array[Int] = null
    if (nBytes != nChars) {
      offs = new Array[Int](nChars + 1)
      var i = 0
      var c = 0
      while (i < nBytes) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      offs(nChars) = nBytes
    }
    @inline def gramHash(g: Int): Long =
      if (nChars < width) hash60(md, bytes, 0, nBytes)
      else if (offs == null) hash60(md, bytes, g, width)
      else hash60(md, bytes, offs(g), offs(g + width) - offs(g))
    if (nGrams < w) {
      // array(array_min(hs)): single minimum over the < w hashes
      var mn = Long.MaxValue
      var g = 0
      while (g < nGrams) { mn = math.min(mn, gramHash(g)); g += 1 }
      return new GenericArrayData(Array[Any](mn))
    }
    // sliding minima over a w-slot ring, distinct by first occurrence
    val ring = new Array[Long](w)
    var g = 0
    while (g < w - 1) { ring(g % w) = gramHash(g); g += 1 }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[Any]()
    while (g < nGrams) {
      ring(g % w) = gramHash(g)
      var mn = ring(0)
      var k = 1
      while (k < w) { if (ring(k) < mn) mn = ring(k); k += 1 }
      if (seen.add(mn)) out.add(mn): Unit
      g += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFps =
    copy(first = newFirst, second = newSecond, third = newThird)
}
