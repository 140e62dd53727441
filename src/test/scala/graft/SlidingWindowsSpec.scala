package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Row-by-row equivalence of the native one-pass `sliding_windows`
  * expression against the declarative per-position-substring spelling
  * it replaced (which the DuckDB oracles still replay) — the standard
  * cross-check discipline for every custom expression swap
  * (CdcBoundaries precedent). Covers ASCII, multi-byte (accents/CJK)
  * and astral (emoji, surrogate-pair) text, every (width, stride) used
  * by the operators, and the guard edges. */
class SlidingWindowsSpec extends SparkSpec {

  private def declarative(t: org.apache.spark.sql.Column,
                          w: Int, s: Int): org.apache.spark.sql.Column =
    transform(
      sequence(lit(1),
               org.apache.spark.sql.functions.length(t) - (w - 1), lit(s)),
      p => substring(t, p, lit(w)))

  private val cases = Seq((32, 8), (8, 1), (3, 1), (20, 5))

  test("sliding_windows == transform/sequence/substring on the sf0.001 " +
       "corpus for every operator (width, stride)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    for ((w, s) <- cases) {
      val cmp = docs.filter(org.apache.spark.sql.functions.length(col("text")) >= w)
        .select(col("doc_id"),
                call_function("sliding_windows",
                  col("text"), lit(w), lit(s)).as("fast"),
                declarative(col("text"), w, s).as("slow"))
        .filter(org.apache.spark.sql.functions
          .not(col("fast") === col("slow")))
      withClue(s"width=$w stride=$s: ") { cmp.count() shouldBe 0L }
    }
  }

  test("sliding_windows handles multi-byte and astral text at code-" +
       "POINT grain (byte-offset windows would split chars; UTF-16 " +
       "grain would split surrogate pairs)") {
    import spark.implicits._
    val rows = Seq(
      "café naïve 数据 模型 résumé",                 // 2-3 byte chars
      "🙂ok🙃 emoji 𝕊urrogate pairs 🚂🚃🚃",          // astral (4-byte)
      "mixed ascii 中文 and 🙂 all together",
      "ééééééééééééé",                               // all multi-byte
      "ab🙂",                                        // len 3 exactly
      "xy",                                          // below min width
      "")                                            // empty
      .toDF("text")
    for ((w, s) <- cases) {
      val cmp = rows.filter(org.apache.spark.sql.functions.length(col("text")) >= w)
        .select(call_function("sliding_windows",
                  col("text"), lit(w), lit(s)).as("fast"),
                declarative(col("text"), w, s).as("slow"))
        .collect()
      cmp.foreach { r =>
        withClue(s"width=$w stride=$s: ") {
          r.getSeq[String](0) shouldBe r.getSeq[String](1)
        }
      }
    }
    // guard edge: below-width input yields an EMPTY array (callers'
    // when/filter guards never reach it, but it must not throw)
    spark.range(1).select(
      call_function("sliding_windows", lit("xy"), lit(3), lit(1))
        .as("e")).head.getSeq[String](0) shouldBe Seq.empty
  }

  test("a 150k-char single row stays sub-second (the O(len²) blowup " +
       "the expression exists to kill)") {
    import spark.implicits._
    val big = ("word " * 30000).trim
    val t0 = System.nanoTime()
    val n = Seq(big).toDF("text")
      .select(explode(call_function("sliding_windows",
        col("text"), lit(8), lit(1))).as("w"))
      .count()
    val sec = (System.nanoTime() - t0) / 1e9
    n shouldBe (big.length - 7).toLong
    withClue(f"took $sec%.1f s: ") { sec should be < 10.0 }
  }
}
