package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined-chunking boundary positions of a string: 1, plus every
  * 1-based position `i` in [2, max(len-7, 1)] whose 8-char window hash is
  * ≡ 0 (mod 64). The window hash is the repo's cross-engine `hash60`
  * contract — the first 15 hex digits of md5 parsed base 16 — so the
  * DuckDB oracle replays it verbatim with `md5(substr(...))`.
  *
  * Why a custom Catalyst `Expression` (builder-preference tier (b), like
  * [[FloatVecDot]]): the declarative spelling
  * `filter(sequence(1, len-7), i -> pmod(hash60(substr(text, i, 8)), 64) = 0)`
  * evaluates one interpreted lambda — expression tree walk, UTF8String
  * slice, hex-string md5, `conv` parse — per CHARACTER of the corpus;
  * measured 10 s at sf0.1 (39 s for the 8-way ascii-fold variant). This
  * eval runs ONE tight Java loop per row, reusing a single MessageDigest
  * and hashing 8-byte windows straight out of the UTF-8 byte array on the
  * (overwhelmingly common) all-ASCII path — identical output, ~20×
  * cheaper. `CodegenFallback` is deliberate: per-row interpretation cost
  * is nothing next to the per-char digest loop inside.
  */
case class CdcBoundaries(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_bounds expects a string argument, got " +
          child.dataType.simpleString)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "cdc_bounds"

  // hash60 of a digest: first 15 hex digits = first 7 bytes + high
  // nibble of the 8th, as a big-endian 60-bit value; emit position i on
  // a (mod 64)-zero window
  private def emit(d: Array[Byte], i: Int,
                   out: scala.collection.mutable.ArrayBuffer[Int]): Unit = {
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
    if (v % 64 == 0) out += i
  }

  override protected def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    val bytes = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val allAscii = bytes.length == str.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = scala.collection.mutable.ArrayBuffer[Int](1)
    if (allAscii) {
      val lim = math.max(str.length - 7, 1)
      var i = 2
      while (i <= lim) {
        md.reset()
        md.update(bytes, i - 1, 8)
        emit(md.digest(), i, out)
        i += 1
      }
    } else {
      // CODE-POINT grain, not Java-String (UTF-16) grain: Spark's
      // substr/length and the DuckDB replay both count unicode code
      // points, and a String.substring window would split surrogate
      // pairs — an astral char (fuzz seed 415's emoji) shifted every
      // window and diverged the boundary set. BMP-only text is
      // unaffected (UTF-16 length == code-point length there).
      val cps = str.codePoints().toArray
      val lim = math.max(cps.length - 7, 1)
      var i = 2
      while (i <= lim) {
        md.reset()
        md.update(new String(cps, i - 1, 8)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        emit(md.digest(), i, out)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}
