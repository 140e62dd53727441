package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the fused native winnowing kernel (graft.expressions.WinnowFps:
  * grams → md5-60 → w-window minima → first-occurrence distinct, one
  * pass) to the declarative chain it replaces
  * ([[graft.ops.Dedup.winnowFpsDecl]]) — element order included, on the
  * classes that can diverge a hand-rolled byte-range digest path: empty
  * strings, texts straddling the length-8 gram guard and the size-4
  * window guard, multi-byte and astral code points, and every fixture
  * document. */
class WinnowFpsSpec extends SparkSpec with Matchers { self: AnyFunSuite =>

  private def both(df: org.apache.spark.sql.DataFrame) = df.select(
    call_function("winnow_fps", lower(col("text")), lit(8), lit(4))
      .as("native"),
    graft.ops.Dedup.winnowFpsDecl(lower(col("text"))).as("decl"))

  test("winnow_fps equals the declarative chain on crafted edge classes") {
    import spark.implicits._
    val rows = Seq(
      "",                     // empty: whole-text gram, single min
      "short",                // < 8 chars: whole-text gram
      "exactly8",             // 8 chars: one gram, < 4 windows
      "exactly9.",            // 2 grams, < 4 windows
      "elevenchars",          // 4 grams, exactly one window
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaa", // all-equal hashes: distinct collapses to 1
      "café éclair straßen-Übergang in the rain",   // multi-byte
      "😀😀😀 astral plane 😀 content with emoji padding")
    both(rows.toDF("text")).collect().foreach { r =>
      r.getSeq[Long](0) shouldBe r.getSeq[Long](1)
    }
    // null text: both sides null
    val nullRow = both(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
      .collect()
    nullRow.foreach { r => r.get(0) shouldBe r.get(1) }
  }

  test("winnow_fps equals the declarative chain on every fixture doc") {
    val diff = both(Tables.documents(spark, "/root/testdata/sf0.001"))
      .filter(!(col("native") <=> col("decl")))
      .count()
    diff shouldBe 0L
  }
}
