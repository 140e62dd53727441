package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.scalatest.matchers.should.Matchers._

/** GraftExtensions gives the eight native expressions their SQL names on
  * a session built with `spark.sql.extensions=graft.GraftExtensions` (the
  * spark-submit path; the shared spec session is built that way). */
class ExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions=graft.GraftExtensions provides vec_dot") {
    // ... and the other seven, each equal to its typed Column
    import spark.implicits._
    import graft.expressions.Natives._
    sqlNames.map(_._1).filterNot(spark.catalog.functionExists) shouldBe empty
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(0x3L),
                  Array(0x1L), Array(1L, 2L, 5L), Array(2L, 5L, 7L),
                  "the quick brown fox jumps", Seq("the", "quick")))
      .toDF("a", "b", "ma", "mb", "sa", "sb", "t", "arr")
    val byName = df.selectExpr("vec_dot(a, b)", "mask_and_count(ma, mb)",
        "sorted_intersect_count(sa, sb)", "cdc_bounds(t)", "hash60_all(arr)",
        "sliding_windows(t, 8, 1)", "simhash60(arr)", "winnow_fps(t, 8, 2)")
      .first()
    val typed = df.select(vecDot(col("a"), col("b")),
        maskAndCount(col("ma"), col("mb")),
        sortedIntersectCount(col("sa"), col("sb")), cdcBounds(col("t")),
        hash60All(col("arr")), slidingWindows(col("t"), 8, 1),
        simhash60(col("arr")), winnowFps(col("t"), 8, 2))
      .first()
    byName shouldBe typed
    byName.getDouble(0) shouldBe 11.0
    byName.getLong(1) shouldBe 1L
    byName.getLong(2) shouldBe 2L
    byName.getSeq[String](5).head shouldBe "the quic"
  }

  test("a wrong-arity call fails analysis with WRONG_NUM_ARGS naming the " +
       "function") {
    import spark.implicits._
    val df = Seq((Array(1.0f), "abc")).toDF("a", "t")
    Seq("cdc_bounds(t, t)" -> ("cdc_bounds", "1"),
        "vec_dot(a)" -> ("vec_dot", "2"),
        "sliding_windows(t, 3)" -> ("sliding_windows", "3")).foreach {
      case (call, (name, arity)) =>
        val e = intercept[AnalysisException](df.selectExpr(call))
        e.getCondition shouldBe "WRONG_NUM_ARGS.WITHOUT_SUGGESTION"
        e.getMessage should include(s"`$name`")
        e.getMessageParameters.get("expectedNum") shouldBe arity
    }
  }
}
