package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins hash60_all (native per-element md5 loop) to the declarative
  * transform(arr, hash60) spelling it replaces — element by element,
  * including the classes that can diverge a hand-rolled digest path:
  * empty strings, non-ASCII (NFD accents), astral code points, nulls,
  * and the real fixture's gram arrays. */
class Hash60AllSpec extends SparkSpec with Matchers { self: AnyFunSuite =>

  private def declarative(c: org.apache.spark.sql.Column) =
    transform(c, x => graft.ops.Dedup.hash60(x))

  test("hash60_all equals transform(arr, hash60) on crafted edge classes") {
    import spark.implicits._
    val rows = Seq(
      Seq("abc", "", "the quick brown fox"),
      Seq("café", "éclair", "😀emoji"),
      Seq("x"),
      Seq.empty[String])
    val df = rows.toDF("arr")
      .select(call_function("hash60_all", col("arr")).as("native"),
              declarative(col("arr")).as("decl"))
    df.collect().foreach { r =>
      r.getSeq[Long](0) shouldBe r.getSeq[Long](1)
    }
    // null element and null array
    val withNull = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b') AS arr " +
      "UNION ALL SELECT CAST(NULL AS ARRAY<STRING>)")
    val got = withNull
      .select(call_function("hash60_all", col("arr")).as("native"),
              declarative(col("arr")).as("decl"))
      .collect()
    got.foreach { r => r.get(0) shouldBe r.get(1) }
  }

  test("hash60_all equals the declarative spelling on the fixture's " +
       "winnowing grams (every doc, every gram)") {
    val lt = lower(col("text"))
    // (scalatest's `length` matcher shadows functions.length)
    val grams = when(org.apache.spark.sql.functions.length(lt) >= 8,
        call_function("sliding_windows", lt, lit(8), lit(1)))
      .otherwise(array(lt))
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(grams.as("g"))
      .select(call_function("hash60_all", col("g")).as("native"),
              declarative(col("g")).as("decl"))
      .filter(!(col("native") <=> col("decl")))
      .count()
    diff shouldBe 0L
  }
}
