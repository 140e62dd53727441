package graft

import graft.ops.Curation
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Planted-fixture semantics for the curation tier: the sf tables carry
  * little PII/repetition, so each operator is also proven on a corpus
  * where the expected outcome is constructed. */
class CurationSpec extends SparkSpec {

  private def writeDocs(name: String,
                        rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = SparkSpec.scratch(s"curation_$name")
    rows.map { case (id, text, lang, source) =>
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("repetition: duplicate-3-gram and top-token ratios flag the spam doc only") {
    val dir = writeDocs("rep", Seq(
      (0L, "buy now buy now buy now buy now buy now", "en", "s"),
      (1L, "a perfectly ordinary sentence with distinct words throughout", "en", "s"),
      (2L, "tiny", "en", "s"))) // <3 tokens -> whole-text fallback
    val out = Curation.extRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 0: 10 tokens, 8 trigrams, only 2 distinct ("buy now buy"/"now buy now")
    out(0L).getAs[Int]("n_3grams") shouldBe 8
    out(0L).getAs[Int]("distinct_3grams") shouldBe 2
    out(0L).getAs[Boolean]("is_repetitive") shouldBe true
    out(0L).getAs[Double]("top_token_ratio") shouldBe 0.5 // "buy" 5/10
    out(1L).getAs[Boolean]("is_repetitive") shouldBe false
    out(2L).getAs[Int]("n_3grams") shouldBe 1 // fallback list
    out(2L).getAs[Double]("dup_3gram_ratio") shouldBe 0.0
  }

  test("pii scrub: counts on original text, redaction order email-then-phone") {
    val dir = writeDocs("pii", Seq(
      (0L, "write to alice.smith+x@example.org or call +1 (415) 555-0100 now", "en", "s"),
      (1L, "no contact details here", "en", "s")))
    val out = Curation.extPiiScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    out(0L).getAs[Int]("n_emails") shouldBe 1
    out(0L).getAs[Int]("n_phones") shouldBe 1
    out(0L).getAs[Boolean]("pii_free") shouldBe false
    // the sha must equal sha256 of the exact expected scrubbed string
    val expected = "write to <EMAIL> or call <PHONE> now"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expectedSha = md.digest(expected.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    out(0L).getAs[String]("scrub_sha") shouldBe expectedSha
    out(1L).getAs[Boolean]("pii_free") shouldBe true
  }

  test("contamination: finds the planted cross-source pair, drops boilerplate shingles") {
    // 7 docs across sources share the "common boiler plate" trigram
    // (df=7 > maxDf=5 -> dropped); exactly one src0 doc shares a UNIQUE
    // trigram with one src1 doc
    val boiler = (0 until 7).map(i =>
      (10L + i, s"common boiler plate filler$i", "en", s"src${i % 4}"))
    val dir = writeDocs("contam", boiler ++ Seq(
      (1L, "alpha beta gamma delta", "en", "src0"),
      (2L, "prefix alpha beta gamma", "en", "src1"),
      (3L, "unrelated text entirely different", "en", "src2")))
    val out = Curation.contamination(spark, dir, probe = "src0", maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq((1L, 2L, 1L)) // one pair, one shared shingle
  }

  test("url dedup: raw counts conserve, canonicalization merges surface variants") {
    val d = sf("sf0.01")
    val rows = Curation.extUrlDedup(spark, d).collect()
    val nDocs = Tables.documents(spark, d).count()
    rows.map(_.getAs[Long]("n_raw")).sum shouldBe nDocs
    rows.foreach { r =>
      val raw = r.getAs[Long]("n_raw"); val canon = r.getAs[Long]("n_canonical")
      canon should be <= raw
      r.getAs[Long]("n_dupes") shouldBe raw - canon
      val ratio = r.getAs[Double]("dup_ratio")
      ratio should be >= 0.0
      ratio should be < 1.0
    }
    // 500 docs vs a 20-residue path space per source: variants MUST merge
    rows.map(_.getAs[Long]("n_dupes")).sum should be > 0L
  }

  test("tfidf: reciprocal idf boosts the rare term; log damping flips to the high-tf term") {
    // 100 docs all containing 'the'; doc 0 repeats it 13x and holds the
    // unique term 'quark'. Reciprocal idf: quark = 1*101/2 = 50.5 beats
    // the = 13*101/101 = 13. Log (Lucene 1+ln) damping: the = 13*(1+0)=13
    // beats quark = 1+ln(50.5) ≈ 4.9 — the two weightings genuinely
    // disagree, which is what the library log variant exists for.
    val filler = (1 until 100).map(i =>
      (i.toLong, s"the filler$i words", "en", "s"))
    val dir = writeDocs("tfidf",
      (0L, ("the " * 13) + "quark", "en", "s") +: filler)
    val top = Curation.extTfidf(spark, dir)
      .filter(col("doc_id") === 0 && col("rn") === 1).first()
    top.getAs[String]("tok") shouldBe "quark"
    val logScores = Curation.tfidfLog(spark, dir)
      .filter(col("doc_id") === 0 && col("tok").isin("the", "quark"))
      .collect().map(r => r.getAs[String]("tok") -> r.getAs[Double]("score")).toMap
    logScores("the") should be > logScores("quark")
  }

  test("drop reasons: each crafted doc lands on its funnel stage, counts conserve") {
    val passing = Array.fill(30)("the quantum computer performs").mkString(" ")
    val dir = writeDocs("dropreasons", Seq(
      (1L, "the a of", "en", "s"),            // 3 tokens -> low_quality
      (2L, Array.fill(100)("zzzzzzzzz").mkString(" "), "xx", "s"), // q=1, no stopwords -> non_english
      (10L, passing, "en", "s"),              // keeper (min doc_id of sha)
      (11L, passing.toUpperCase + "!", "en", "s"), // normalizes to same sha -> exact_dup
      (12L, Array.fill(40)("a distinct passing document").mkString(" "), "en", "s"))) // kept
    val rows = Curation.extDropReasons(spark, dir)
      .collect().map(r => r.getAs[String]("reason") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    rows.keySet shouldBe Set("low_quality", "non_english", "exact_dup", "kept")
    rows("low_quality")._1 shouldBe 1L
    rows("non_english")._1 shouldBe 1L
    rows("exact_dup")._1 shouldBe 1L
    rows("kept")._1 shouldBe 2L
    // conservation: every doc is attributed exactly once
    rows.values.map(_._1).sum shouldBe 5L
  }
}
