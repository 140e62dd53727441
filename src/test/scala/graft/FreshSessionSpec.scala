package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, lower}
import org.scalatest.matchers.should.Matchers._

/** The native-expression helpers must run on a session that never heard
  * of the natives: a `newSession()` with no native name in its function
  * registry, which is never made the active session. Each helper returns
  * the same rows there as on the shared session. */
class FreshSessionSpec extends SparkSpec {

  private val nativeNames = Seq("vec_dot", "mask_and_count",
    "sorted_intersect_count", "cdc_bounds", "hash60_all", "sliding_windows",
    "simhash60", "winnow_fps")

  private lazy val fresh: SparkSession = {
    val s = spark.newSession()
    // a new session inherits the parent's extensions: drop their names so
    // nothing can resolve a native by name
    nativeNames.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    s
  }

  private val texts = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "ab"),
    (3L, ""),
    (4L, (1 to 40).map(i => s"word$i the lazy dog sleeps").mkString(" ")))

  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame(texts).toDF("doc_id", "text")

  /** `f` on the fresh session and on the shared one: same rows, in order. */
  private def sameRows(f: SparkSession => DataFrame): Unit = {
    val got = f(fresh).collect().toSeq
    got should not be empty
    got shouldBe f(spark).collect().toSeq
  }

  test("the fresh session resolves no native by name and is not active") {
    nativeNames.filter(fresh.catalog.functionExists) shouldBe empty
    SparkSession.getActiveSession should not contain fresh
  }

  test("Similarity.dotD/normD") {
    sameRows(s => s.createDataFrame(Seq(
        (Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)),
        (Array(0.5f, 0.25f), Array(2.0f, 8.0f)))).toDF("a", "b")
      .select(Similarity.dotD(col("a"), col("b")),
              Similarity.normD(col("a"))))
  }

  test("Dedup.minhashSig(Dedup.shingles3(...))") {
    sameRows(s => docs(s).select(col("doc_id"),
      Dedup.minhashSig(Dedup.shingles3(col("text")))))
  }

  test("Dedup.simhash60") {
    sameRows(s => docs(s).select(col("doc_id"),
      Dedup.simhash60(col("text"))))
  }

  test("Dedup.cdcChunks") {
    sameRows(s => docs(s).select(col("doc_id"),
      Dedup.cdcChunks(col("text"))))
  }

  test("sliding_windows and hash60_all: Dedup.winnowFpsDecl") {
    sameRows(s => docs(s).select(col("doc_id"),
      Dedup.winnowFpsDecl(lower(col("text")))))
  }

  test("sorted_intersect_count: the ext_dedup_sweep entry") {
    sameRows(s => Dedup.extDedupSweep(s, sf("sf0.001")))
  }
}
