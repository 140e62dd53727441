package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the native simhash60 kernel (one md5+vote loop per document,
  * graft.expressions.Simhash60) to the declarative spelling it replaces
  * (60 interpreted per-bit aggregate folds over the hash60 array,
  * [[graft.ops.Dedup.simhash60Decl]]) — the same bit-identity discipline
  * as Hash60AllSpec, on the classes that can diverge a hand-rolled
  * digest/vote path: empty strings, non-ASCII, astral code points,
  * nulls, empty arrays, and every document of the real fixture. */
class Simhash60Spec extends SparkSpec with Matchers { self: AnyFunSuite =>

  test("simhash60 kernel equals the declarative 60-fold spelling on " +
       "crafted edge classes") {
    import spark.implicits._
    val rows = Seq(
      "abc def the quick brown fox",
      "café éclair 😀emoji",
      "x",
      "", // tokenizes to [""] — a single empty-string token
      "a a a b b c") // duplicate tokens collapse via array_distinct
    val df = rows.toDF("text")
      .select(graft.ops.Dedup.simhash60(col("text")).as("native"),
              graft.ops.Dedup.simhash60Decl(col("text")).as("decl"))
    df.collect().foreach { r => r.getLong(0) shouldBe r.getLong(1) }
    // null text and arrays with null elements (kernel votes -1 on every
    // bit for a null element, exactly like the declarative fold)
    val edge = spark.sql(
      "SELECT CAST(NULL AS STRING) AS text").select(
      graft.ops.Dedup.simhash60(col("text")).as("native"),
      graft.ops.Dedup.simhash60Decl(col("text")).as("decl"))
    edge.collect().foreach { r => r.get(0) shouldBe r.get(1) }
    val withNullElem = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b') AS arr " +
      "UNION ALL SELECT array() " +
      "UNION ALL SELECT CAST(NULL AS ARRAY<STRING>)")
      .select(call_function("simhash60", col("arr")).as("native"),
        // fully-declarative reference over the raw array: hash60 per
        // element (the spelling Hash60AllSpec pins hash60_all to), then
        // the 60 per-bit folds
        element_at(transform(array(
          transform(col("arr"), x => graft.ops.Dedup.hash60(x))), hs => {
            val bitSums = (0 until 60).map { b =>
              aggregate(hs, lit(0), (acc, h) => acc +
                when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
            }
            bitSums.zipWithIndex.map { case (bs, b) =>
              when(bs > 0, lit(1L << b)).otherwise(0L)
            }.reduce(_ + _)
          }), 1).as("decl"))
    withNullElem.collect().foreach { r => r.get(0) shouldBe r.get(1) }
  }

  test("simhash60 kernel equals the declarative spelling on every " +
       "fixture document") {
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(graft.ops.Dedup.simhash60(col("text")).as("native"),
              graft.ops.Dedup.simhash60Decl(col("text")).as("decl"))
      .filter(!(col("native") <=> col("decl")))
      .count()
    diff shouldBe 0L
  }
}
