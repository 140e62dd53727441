package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 60-bit SimHash of an `array<string>` token set in ONE native loop:
  * per element the [[graft.ops.Dedup.hash60]] digest value (md5, first
  * 15 hex digits base-16 = first 7 digest bytes + high nibble of the
  * 8th), then the per-bit ±1 majority vote over all elements, bit b of
  * the result set iff its vote sum is strictly positive — bit-identical
  * to the declarative spelling `Dedup.simhash60Decl` (60 interpreted
  * `aggregate` folds over a `hash60_all` array) that the DuckDB oracle
  * replays, pinned row-by-row by Simhash60Spec.
  *
  * Why (r15, the [[Hash60All]] precedent): the declarative form walks
  * the hash array 60 TIMES per document through interpreted
  * higher-order aggregates — ~60 expression-tree folds per doc was the
  * residual signature CPU of the simhash family (ext_simhash_dedup,
  * ext_hamming_hist) after r14 moved the md5 itself into `hash60_all`.
  * This loop digests each token once and votes all 60 bits in the same
  * pass. Null ELEMENTS vote −1 on every bit (exactly what the
  * declarative fold computes for a null hash); a NULL ARRAY returns 0,
  * not null — the declarative per-bit `when(bs > 0, …).otherwise(0)`
  * sends a null fold result to its otherwise branch, so 60 zeros sum
  * to 0 (Simhash60Spec pins this class) — and an empty array yields 0
  * (no positive vote sums). `CodegenFallback` is deliberate:
  * per-row interpretation cost is nothing next to the per-element
  * digest+vote loop inside. */
case class Simhash60(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash60 expects an array<string> argument, got ${t.simpleString}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash60"

  // a null array must produce 0 (see class doc), so the expression is
  // never null and eval bypasses the null-safe unary shortcut
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        // a null hash makes the declarative when() take its -1 branch
        // on every bit
        var b = 0
        while (b < 60) { votes(b) -= 1; b += 1 }
      } else {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        var v = 0L
        var k = 0
        while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
        var b = 0
        while (b < 60) {
          if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}
