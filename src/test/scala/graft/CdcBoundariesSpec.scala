package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** The native `cdc_bounds` expression must be indistinguishable from the
  * declarative hash60-window spelling it replaced — this is the contract
  * that lets the DuckDB oracle keep replaying the HOF formula while Spark
  * runs the tight-loop kernel. */
class CdcBoundariesSpec extends SparkSpec {

  private def declarative(t: org.apache.spark.sql.Column) =
    filter(
      sequence(lit(1), greatest(org.apache.spark.sql.functions.length(t) - 7, lit(1))),
      i => i === 1 || pmod(Dedup.hash60(t.substr(i, lit(8))), lit(64L)) === 0)

  test("native cdc_bounds equals the declarative hash60 spelling on every corpus row") {
    val mismatches = Tables.documents(spark, sf("sf0.001"))
      .select(call_function("cdc_bounds", col("text")).as("nb"),
              declarative(col("text")).as("db"))
      .filter(!(col("nb") === col("db")))
      .count()
    mismatches shouldBe 0L
  }

  test("native cdc_bounds edge cases: empty, short, and BMP non-ascii input") {
    import spark.implicits._
    // the last two rows carry ASTRAL chars (surrogate pairs in Java's
    // UTF-16): the kernel must window by CODE POINTS like Spark substr
    // and the DuckDB replay, not by String indices — a String.substring
    // window off an emoji shifted every boundary (fuzz seed 415)
    val df = Seq("", "abc", "café au lait et encore du texte ici pour lui",
                 "🙂ok a 数据 café 🙂ok the fast key order sort 🙂ok done",
                 "🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂 padding words here to window")
      .toDF("text")
      .select(col("text"), call_function("cdc_bounds", col("text")).as("nb"),
              declarative(col("text")).as("db"))
      .collect()
    df.foreach { r =>
      r.getSeq[Int](1) shouldBe r.getSeq[Int](2)
      r.getSeq[Int](1).head shouldBe 1 // position 1 is always a boundary
    }
  }
}
