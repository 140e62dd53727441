package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Semantics of the near-dup operators that have no SQL oracle
  * (MinHash-LSH, SimHash): crafted near-duplicates must collide, unrelated
  * texts must not. */
class DedupSpec extends SparkSpec {
  import Dedup._

  private val base =
    "spark shuffles data across the cluster when a wide dependency requires " +
    "repartitioning by key and the optimizer cannot avoid the exchange"
  private val nearDup = base.replace("optimizer", "optimiser") // one-token edit
  private val unrelated =
    "completely different subject matter entirely about cooking pasta with " +
    "fresh tomatoes basil and olive oil on a sunday afternoon in july"

  private lazy val docs = {
    import spark.implicits._
    Seq((0L, base), (1L, nearDup), (2L, unrelated),
        (3L, base)) // exact dup of 0
      .toDF("doc_id", "text")
  }

  test("minhash signatures: identical texts share all sigs; near-dups share most; unrelated share none") {
    val sigs = docs.select(col("doc_id"),
        minhashSig(shingles3(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sigs(0L) shouldBe sigs(3L) // exact dup -> identical signature
    val sharedNear = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    val sharedUnrel = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    sharedNear should be >= 10 // small edit: most of 16 permutations agree
    sharedUnrel shouldBe 0
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    // 60-bit signatures: thresholds hold with four fewer bits in play
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val hs = docs.select(col("doc_id"), simhash60(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hs(0L) shouldBe hs(3L)
    hamming(hs(0L), hs(1L)) should be <= 12
    hamming(hs(0L), hs(2L)) should be > 16
  }

  test("3-gram jaccard: high for near-dups, low for unrelated") {
    import spark.implicits._
    val pairs = Seq((base, nearDup), (base, unrelated), (base, base))
      .toDF("a", "b")
      .select(jaccard3(col("a"), col("b"))).collect().map(_.getDouble(0))
    pairs(0) should be > 0.5
    pairs(1) shouldBe 0.0
    pairs(2) shouldBe 1.0
  }

  test("jaccardPairs: bitmask path (vocab<=64) and postings path (vocab>64) " +
       "both match brute-force jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // deterministic corpus generator: doc i draws tokens i..i+9 from a
    // cyclic vocabulary, so adjacent docs overlap 90% and distant ones 0%.
    // 140 docs ⇒ every vocabSize <= 140 is fully realized, so the
    // vocab > 64 iterations genuinely exceed the mask and take the
    // postings path (asserted below)
    def corpus(vocabSize: Int): DataFrame =
      (0 until 140).map { i =>
        val toksSeq = (0 until 10).map(j => s"w${(i + j) % vocabSize}")
        (i.toLong, if (i % 2 == 0) "s0" else "s1", toksSeq)
      }.toDF("doc_id", "source", "toks")
    // brute force: every same-block pair, exact set jaccard
    val sz = org.apache.spark.sql.functions.size _
    def brute(df: DataFrame, t: Double) =
      df.as("x").join(df.as("y"),
          col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          sz(array_intersect(col("x.toks"), col("y.toks"))).cast("long").as("n_common"),
          (sz(array_intersect(col("x.toks"), col("y.toks"))).cast("double") /
           sz(array_union(col("x.toks"), col("y.toks")))).as("jaccard"))
        .filter(col("jaccard") >= t)
    def key(df: DataFrame) = df.select("d1", "d2", "n_common").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the maskMaxVocab axis covers every dispatch route: 0 = postings
    // with no probe; 64 = the library default (30/64 → single-long mask;
    // 65/120 → probe sample-REJECTS → postings); 4096 = single-long for
    // 30/64 and multi-word MaskAndCount for 65/120
    for (vocab <- Seq(30, 64, 65, 120); maxV <- Seq(0, 64, 4096)) {
      val c = corpus(vocab)
      // the generator must actually realize the intended vocabulary —
      // a smaller corpus would silently test the mask paths only
      c.select(explode(col("toks"))).distinct().count() shouldBe vocab.toLong
      val got = key(Dedup.jaccardPairs(c, 0.5, maskMaxVocab = maxV))
      val want = key(brute(c, 0.5))
      withClue(s"vocab=$vocab maskMaxVocab=$maxV: ") { got shouldBe want }
      want.nonEmpty shouldBe true
    }
  }

  test("hash60 equals the md5-prefix reference value (cross-engine contract)") {
    import spark.implicits._
    // int(hashlib.md5(b'hello').hexdigest()[:15], 16) — the value the
    // DuckDB oracle's hex-parse fold must also produce
    Seq("hello").toDF("t").select(hash60(col("t")))
      .first().getLong(0) shouldBe 419982666956583591L
  }

  test("shingles fall back to whole text below 3 tokens") {
    import spark.implicits._
    Seq("one two").toDF("t").select(shingles3(col("t")))
      .first().getSeq[String](0) shouldBe Seq("one two")
  }

  test("cdc chunking: boundaries re-align after a prefix insertion; chars conserve") {
    import spark.implicits._
    // index-salted sections so chunks don't collapse to repeats
    val t1 = (1 to 6).map(i => s"section$i " + base).mkString(" ")
    val t2 = "freshly inserted prefix words " + t1
    def digs(t: String): Set[String] =
      spark.range(1).select(explode(cdcChunks(lit(t))).as("c"))
        .select(md5(col("c"))).collect().map(_.getString(0)).toSet
    val d1 = digs(t1)
    d1.size should be >= 3 // several content-defined chunks
    // the insertion perturbs only the leading chunk(s): once the window
    // hash re-enters copied content, every later boundary — and digest —
    // re-aligns. Fixed-width chunking would shift ALL of them.
    val shared = d1.intersect(digs(t2)).size
    shared.toDouble / d1.size should be >= 0.6
    // census conservation: chunk chars partition doc chars per source
    val census = extCdcChunks(spark, sf("sf0.001"))
    val expect = graft.Tables.documents(spark, sf("sf0.001"))
      .groupBy(col("source"))
      .agg(sum(org.apache.spark.sql.functions.length(col("text"))
        .cast("long")).as("chars"))
    census.join(expect, "source")
      .filter(col("total_chunk_chars") =!= col("chars"))
      .count() shouldBe 0L
  }

  test("cdc dedup: re-crawled doc with an inserted banner is caught with high containment") {
    import spark.implicits._
    val dir = SparkSpec.scratch("dedup_cdcdedup")
    val article = (1 to 8).map(i => s"paragraph$i " + base).mkString(" ")
    val recrawl = "new cookie banner text appended by the site template " + article
    Seq((0L, article), (1L, recrawl), (2L, unrelated))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.extCdcDedup(spark, dir).collect()
    rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSeq shouldBe Seq((0L, 1L))
    // everything after the banner re-aligns: most of the smaller doc's
    // chunks are shared — fixed-width chunking would shift every chunk
    rows.head.getAs[Long]("containment_ppm") should be >= 600000L
  }

  test("minhash estimator calibration: identical pair scores exact 1e6 ppm with zero error") {
    import spark.implicits._
    val dir = SparkSpec.scratch("dedup_mhest")
    Seq((0L, base), (1L, base), (2L, unrelated))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // identical docs share every band -> exactly the (0,1) candidate pair;
    // 16/16 matching components and |∩|=|∪| make both ppm columns exactly
    // 1e6 and the error exactly 0 — the estimator's fixed point
    val r = extMinhashEst(spark, dir).first()
    r.getAs[Long]("n_pairs") shouldBe 1L
    r.getAs[Long]("mean_est_ppm") shouldBe 1000000L
    r.getAs[Long]("mean_true_ppm") shouldBe 1000000L
    r.getAs[Long]("mean_abs_err_ppm") shouldBe 0L
    r.getAs[Long]("max_abs_err_ppm") shouldBe 0L
  }

  test("lsh plan: candidate volume is monotone non-increasing in rows-per-band; " +
       "exact dups flagged in every config") {
    import spark.implicits._
    val dir = SparkSpec.scratch("dedup_lshplan")
    Seq((0L, base), (1L, base), (2L, nearDup), (3L, unrelated))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.extLshPlan(spark, dir).collect()
    rows.length shouldBe 4
    // agreement on an r-row band implies agreement on its sub-bands, so
    // candidates at larger r are a subset of those at smaller r
    val byR = rows.map(r => r.getAs[Long]("rows_per_band") ->
      (r.getAs[Long]("n_cand_pairs"), r.getAs[Long]("n_flagged_docs"))).toMap
    Seq(1L, 2L, 4L).zip(Seq(2L, 4L, 8L)).foreach { case (lo, hi) =>
      byR(hi)._1 should be <= byR(lo)._1
      byR(hi)._2 should be <= byR(lo)._2
    }
    // identical docs agree on the whole signature -> candidate pair in
    // every config, including the strictest (2 bands of 8)
    byR(8L)._1 should be >= 1L
    // analytic S-curve midpoints rise with r (and match the inlined ppm)
    rows.map(r => r.getAs[Long]("rows_per_band") -> r.getAs[Long]("thresh_ppm"))
      .toMap shouldBe Map(1L -> 62500L, 2L -> 353553L, 4L -> 707106L, 8L -> 917004L)
  }

  test("hamming histogram: exact dups land in bucket 0, near-dups within the " +
       "guaranteed radius, cumulative is monotone") {
    import spark.implicits._
    val dir = SparkSpec.scratch("dedup_hamming")
    Seq((0L, base), (1L, base), (2L, nearDup), (3L, unrelated))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.extHammingHist(spark, dir).collect()
      .map(r => r.getAs[Long]("hamming_bucket") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("cum_pairs"))).toMap
    // identical texts: distance 0, always banded
    rows(0L)._1 should be >= 1L
    // buckets come only from the declared set
    rows.keySet.subsetOf(Set(0L, 1L, 2L, 3L, 4L, 8L, 16L)) shouldBe true
    // cumulative is the running sum in bucket order
    val sorted = rows.toSeq.sortBy(_._1)
    sorted.map(_._2._1).scanLeft(0L)(_ + _).tail shouldBe sorted.map(_._2._2)
  }

  test("minhash estimator calibration: corpus-level error profile is sane at sf0.001") {
    val r = extMinhashEst(spark, sf("sf0.001")).first()
    r.getAs[Long]("n_pairs") should be > 0L
    // estimate quantum is 1/16 -> every per-pair estimate is a multiple
    // of 62500; means live in [0, 1e6]
    r.getAs[Long]("mean_est_ppm") should (be >= 0L and be <= 1000000L)
    r.getAs[Long]("mean_true_ppm") should (be >= 0L and be <= 1000000L)
    r.getAs[Long]("max_abs_err_ppm") should
      be >= r.getAs[Long]("mean_abs_err_ppm")
    // 16 permutations -> sampling std ~ sqrt(j(1-j)/16) <= 125000 ppm;
    // a mean absolute error beyond 4x that bound means the estimator or
    // the banding broke, not noise
    r.getAs[Long]("mean_abs_err_ppm") should be <= 500000L
  }

  test("suffix dedup: catches the mod-8-misaligned span the fixed stride grid " +
       "provably misses; spans carry true variable token lengths; islands split") {
    import spark.implicits._
    val dir = SparkSpec.scratch("dedup_suffix")
    // varied token lengths => the shared region has no period-8
    // self-repeat, so the misalignment argument below is airtight
    def mk(pfx: String, n: Int, from: Int = 1): String =
      (from until from + n).map(i => pfx * (1 + i % 3) + i).mkString(" ")
    val common25 = mk("a", 25)
    // source s: shared region starts at char 1 in A but char 4 in B
    // (offset delta 3 ≢ 0 mod 8): NO 32-char stride-8 window of A is
    // verbatim-equal to one of B, so extSubstringDedup sees nothing —
    // while the whole 25-token span is duplicated
    val docA = common25
    val docB = "zz " + common25
    // source t: a 21-token shared prefix, then E diverges — spans must
    // report 21, not a window-grid artifact
    val shared21 = mk("b", 21)
    val docD = shared21
    val docE = shared21 + " " + mk("e", 8)
    // source u: two disjoint 20-token shared regions separated by
    // doc-unique gaps — must come back as TWO spans per doc, not one
    val p20 = mk("p", 20)
    val q20 = mk("q", 20)
    val docF = p20 + " " + mk("f", 5) + " " + q20
    val docG = p20 + " " + mk("g", 5) + " " + q20
    Seq((0L, docA, "s"), (1L, docB, "s"), (2L, docD, "t"), (3L, docE, "t"),
        (4L, docF, "u"), (5L, docG, "u"),
        (6L, "nothing shared here at all beyond stray words", "s"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the fixed grid is blind to source s's misaligned pair
    extSubstringDedup(spark, dir).collect()
      .map(_.getAs[String]("source")).toSeq shouldNot contain("s")
    val rows = extSuffixDedup(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("docs_with_dup"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Long]("max_span_tokens"))))
      .toMap
    rows("s") shouldBe ((2L, 2L, 50L, 25L)) // one 25-token span per doc
    rows("t") shouldBe ((2L, 2L, 42L, 21L)) // true variable length 21
    rows("u") shouldBe ((2L, 4L, 80L, 20L)) // two islands per doc
  }

  test("the MinHash oracle permutation table equals permConsts(16)") {
    val rows = """\((\d+), (\d+), (\d+)\)""".r
      .findAllMatchIn(minhashPermsSql)
      .map(m => (m.group(1).toInt, m.group(2).toLong, m.group(3).toLong))
      .toSeq
    rows.map(_._1) shouldBe (0 until 16)
    rows.map(r => (r._2, r._3)) shouldBe permConsts(16)
  }
}
