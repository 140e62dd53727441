package graft

import graft.ops.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Behavior of the dataset-composition tier (stratified sample, domain
  * mix, sequence packing) beyond the oracle hash-compare: invariants a
  * value-equality check can't see, and the top-k plan rewrite. */
class SamplingSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("stratified sample: exactly min(k, |stratum|) rows per source, stable across runs") {
    val a = Sampling.extStratifiedSample(spark, dir).collect()
    val b = Sampling.extStratifiedSample(spark, dir).collect()
    a.map(_.toString) shouldBe b.map(_.toString) // deterministic, no PRNG
    val perSource = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = graft.Tables.documents(spark, dir)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      n shouldBe math.min(5L, totals(src))
      // rn is dense 1..n within each stratum
      a.filter(_.getString(1) == src).map(_.getInt(2)).sorted shouldBe
        (1 to n).toArray
    }
  }

  test("stratified sample plan uses the WindowGroupLimit top-k rewrite (no full-stratum sort kept)") {
    val df = Sampling.extStratifiedSample(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
  }

  test("domain mix: audit rows reconcile with a direct per-doc replay") {
    val out = Sampling.extDomainMix(spark, dir).collect()
    out.foreach { r =>
      val rate = r.getLong(1)
      rate should be >= 100L
      rate should be <= 899L
      r.getLong(3) should be <= r.getLong(2) // kept <= total
    }
    // replay one source end-to-end with the same hash
    val docs = graft.Tables.documents(spark, dir)
    val src = out.head.getString(0)
    val rate = out.head.getLong(1)
    val kept = docs.where(col("source") === src)
      .where(pmod(graft.ops.Dedup.hash60(
        concat(lit("mix|"), col("doc_id").cast("string"))), lit(1000L)) < rate)
      .count()
    out.head.getLong(3) shouldBe kept
  }

  test("sequence packing: chunk ids are the prefix-sum cut of each source's token stream") {
    val rows = Sampling.extSeqPack(spark, dir).collect()
      .groupBy(_.getString(1))
    rows.foreach { case (_, docs) =>
      val inOrder = docs.sortBy(_.getLong(0))
      var cum = 0L
      inOrder.foreach { r =>
        r.getLong(3) shouldBe cum // start_pos = tokens before this doc
        val start = cum
        cum += r.getInt(2)
        r.getLong(4) shouldBe start / 512
        r.getBoolean(5) shouldBe (start / 512 != (cum - 1) / 512)
      }
    }
    // at least one doc must straddle a boundary for the flag to be tested
    rows.values.flatten.count(_.getBoolean(5)) should be > 0
  }

  test("chunk overlap: full coverage, 32-token overlap between consecutive full chunks") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
              org.apache.spark.sql.functions.size(split(col("text"), " "))
                .as("n_tok"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = Sampling.extChunkOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
                 r.getString(4)))
      .groupBy(_._1)
    chunks.keySet shouldBe docs.keySet // every doc chunked
    chunks.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.head._3 shouldBe 0 // first chunk starts at token 0
      sorted.foreach { case (_, idx, start, n, text) =>
        start shouldBe idx * 96 // stride
        n shouldBe math.min(128, docs(id) - start)
        text.split(" ", -1).length shouldBe n // text matches token count
      }
      // chunks cover the last token
      (sorted.last._3 + sorted.last._4 : Int) shouldBe docs(id)
      // consecutive full chunks overlap by 128 - 96 = 32 tokens
      sorted.sliding(2).foreach {
        case Array(a, b) if a._4 == 128 =>
          (a._3 + a._4 - b._3) shouldBe 32
        case _ =>
      }
    }
  }

  test("dp count: integer geometric noise, bounded, deterministic, mechanism audit") {
    val run1 = graft.ops.Sampling.extDpCount(spark, sf("sf0.001")).collect()
    val run2 = graft.ops.Sampling.extDpCount(spark, sf("sf0.001")).collect()
    run1.map(_.toString).toSeq shouldBe run2.map(_.toString).toSeq // seeded, not PRNG
    run1.length should be > 0
    run1.foreach { r =>
      val (g1, g2) = (r.getAs[Long]("g1"), r.getAs[Long]("g2"))
      g1 should (be >= 0L and be <= 19L)
      g2 should (be >= 0L and be <= 19L)
      // the released count is exactly the audited mechanism output
      r.getAs[Long]("noisy_count") shouldBe r.getAs[Long]("n_docs") + g1 - g2
    }
  }

  test("dp histogram: every released cell clears the suppression threshold, " +
       "mechanism audited, deterministic") {
    val run1 = graft.ops.Sampling.extDpHistogram(spark, sf("sf0.001")).collect()
    val run2 = graft.ops.Sampling.extDpHistogram(spark, sf("sf0.001")).collect()
    run1.map(_.toString).toSeq shouldBe run2.map(_.toString).toSeq
    run1.length should be > 0
    run1.foreach { r =>
      val (g1, g2) = (r.getAs[Long]("g1"), r.getAs[Long]("g2"))
      g1 should (be >= 0L and be <= 19L)
      g2 should (be >= 0L and be <= 19L)
      r.getAs[Long]("noisy_count") shouldBe r.getAs[Long]("n_docs") + g1 - g2
      // tau = 3 suppression: no released cell has a sub-threshold noisy count
      r.getAs[Long]("noisy_count") should be >= 3L
    }
    // cells are disjoint (source, bucket) groups -> parallel composition
    val keys = run1.map(r => (r.getAs[String]("source"), r.getAs[Long]("len_bucket")))
    keys.distinct.length shouldBe keys.length
  }

  test("mixture egd: weights are exact powers of two of the clamped step, " +
       "mixture normalizes, update is monotone in the proxy loss") {
    val rows = graft.ops.Sampling.extMixtureEgd(spark, sf("sf0.001")).collect()
    rows.length should be > 1
    rows.foreach { r =>
      val step = r.getAs[Long]("excess_step")
      step should (be >= -8L and be <= 8L)
      r.getAs[Long]("weight") shouldBe (1L << (step + 8)).toLong
    }
    // floor-divide normalization: sum within nsrc ulps of 1e6, never over
    val total = rows.map(_.getAs[Long]("mix_ppm")).sum
    total should be <= 1000000L
    total should be > 1000000L - rows.length.toLong
    // multiplicative update preserves the proxy-loss order
    rows.sortBy(_.getAs[Long]("mean_tok_x1000")).map(_.getAs[Long]("weight"))
      .sliding(2).foreach { case Array(a, b) => a should be <= b; case _ => }
  }

  test("dp mean: clipping bounds the sum, mechanism identity holds, " +
       "deterministic") {
    val run1 = graft.ops.Sampling.extDpMean(spark, sf("sf0.001")).collect()
    val run2 = graft.ops.Sampling.extDpMean(spark, sf("sf0.001")).collect()
    run1.map(_.toString).toSeq shouldBe run2.map(_.toString).toSeq
    run1.length should be > 0
    run1.foreach { r =>
      val (n, cs, ts) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("clipped_sum"), r.getAs[Long]("true_sum"))
      cs should be <= ts        // clipping only shrinks
      cs should be <= n * 1000L // sensitivity bound actually enforced
      // released mean is exactly noisy_sum div noisy_n, floors applied
      val (ns, nn) = (r.getAs[Long]("noisy_sum"), r.getAs[Long]("noisy_n"))
      ns should be >= 0L
      nn should be >= 1L
      r.getAs[Long]("dp_mean_chars") shouldBe ns / nn
      // geometric noise is bounded: |noise| <= 19 steps of the scale
      math.abs(ns - cs) should be <= 19000L
      math.abs(nn - n) should be <= 19L
    }
  }

  test("k-anonymity audit: only sub-k classes surface, and the risk mass " +
       "reconciles with a direct replay") {
    import org.apache.spark.sql.functions._
    val d = sf("sf0.001")
    val rows = graft.ops.Sampling.extKAnon(spark, d).collect()
    rows.length should be > 0
    rows.foreach(_.getAs[Long]("class_size") should be < 5L)
    // direct replay of the class histogram
    val classes = Tables.documents(spark, d)
      .groupBy(col("source"), col("lang"), expr("n_chars div 100"))
      .count().collect().map(_.getAs[Long]("count"))
    rows.map(_.getAs[Long]("min_class")).distinct.toSeq shouldBe
      Seq(classes.min)
    val riskPpm = classes.filter(_ < 5).sum * 1000000L / classes.sum
    rows.map(_.getAs[Long]("risk_ppm")).distinct.toSeq shouldBe Seq(riskPpm)
    // one output row per sub-k class
    rows.length shouldBe classes.count(_ < 5)
  }

  test("DSIR importance weights reconcile with a full driver-side replay " +
       "of the hashed-unigram models") {
    import org.apache.spark.sql.functions._
    val d = sf("sf0.001")
    val got = graft.ops.Sampling.extDsirWeights(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_unats"))).toMap
    // independent replay: same bucket hash (15-hex md5 prefix), same add-1
    // smoothed models, same micro-nat quantization — in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): Long = {
      val hex = md.digest(("dsir|" + tok).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
                 r.getString(2).toLowerCase.split(" ", -1)))
    val rawC = new Array[Long](64); val tgtC = new Array[Long](64)
    docs.foreach { case (_, lang, toks) =>
      toks.foreach { t =>
        val b = bucket(t).toInt
        rawC(b) += 1; if (lang == "en") tgtC(b) += 1
      }
    }
    val rr = rawC.sum; val tt = tgtC.sum
    val unats = Array.tabulate(64) { b =>
      math.floor(1000000.0 * math.log(
        ((tgtC(b) + 1).toDouble * (rr + 64).toDouble) /
          ((rawC(b) + 1).toDouble * (tt + 64).toDouble))).toLong
    }
    got.size shouldBe docs.length
    docs.foreach { case (id, _, toks) =>
      val (n, w) = got(id)
      n shouldBe toks.length.toLong
      w shouldBe toks.map(t => unats(bucket(t).toInt)).sum
    }
  }

  test("JSD domains: identical sources read exactly 0, disjoint sources " +
       "match a driver-side replay, and all pairs are symmetric-bounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = SparkSpec.scratch("sampspec_jsd")
    // X and Y share the identical token multiset (JSD must be exactly 0:
    // every bucket ratio is exactly 1, floor(1e6*ln 1) = 0); Z is
    // vocabulary-disjoint from both
    Seq((0L, "alpha beta gamma", "en", "srcX", 16L),
        (1L, "alpha beta gamma", "en", "srcY", 16L),
        (2L, "delta eps zeta eta", "en", "srcZ", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.ops.Sampling.extJsdDomains(spark, dir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_tokens_a"), r.getAs[Long]("n_tokens_b"),
         r.getAs[Long]("jsd_micro"))).toMap
    rows.keySet shouldBe Set(("srcX", "srcY"), ("srcX", "srcZ"),
                             ("srcY", "srcZ"))
    rows(("srcX", "srcY")) shouldBe ((3L, 3L, 0L))
    // identical corpora for X and Y ⇒ their divergences to Z agree
    rows(("srcX", "srcZ")) shouldBe rows(("srcY", "srcZ"))
    // driver-side replay of the X–Z pair: same 15-hex-md5 buckets, same
    // once-quantized micro-nat log-ratios, same split-sign floor-divides
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): Int = {
      val hex = md.digest(("jsd|" + tok).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    val xa = new Array[Long](64); val zb = new Array[Long](64)
    "alpha beta gamma".split(" ").foreach(t => xa(bucket(t)) += 1)
    "delta eps zeta eta".split(" ").foreach(t => zb(bucket(t)) += 1)
    val (ta, tb) = (xa.sum, zb.sum)
    var sa = 0L; var sb = 0L
    (0 until 64).foreach { i =>
      val den = (xa(i) * tb + zb(i) * ta).toDouble
      if (xa(i) > 0)
        sa += xa(i) * math.floor(
          1000000.0 * math.log(2.0 * xa(i) * tb / den)).toLong
      if (zb(i) > 0)
        sb += zb(i) * math.floor(
          1000000.0 * math.log(2.0 * zb(i) * ta / den)).toLong
    }
    def half(sx: Long, tx: Long): Long =
      (if (sx < 0) -1L else 1L) * (math.abs(sx) / (2 * tx))
    rows(("srcX", "srcZ")) shouldBe ((3L, 4L, half(sa, ta) + half(sb, tb)))
    // JSD is bounded by ln 2 in nats; micro-nat grain with floor slack
    rows.values.foreach { case (_, _, j) =>
      j should (be >= 0L - 2L and be <= 693148L)
    }
  }

  test("rtbf propagation: full Scala replay of the deletion set, pack " +
       "layout and chunk invalidation") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
                 r.getString(2).split(" ", -1).length.toLong))
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val inOrder = ds.sortBy(_._1)
      var cum = 0L
      val chunks = scala.collection.mutable.Set[Long]()
      var (nDel, tokDel, tokTot) = (0L, 0L, 0L)
      inOrder.foreach { case (id, _, nTok) =>
        val del = h60(s"rtbf|$id") % 37 == 0
        val start = cum
        cum += nTok; tokTot += nTok
        if (del) {
          nDel += 1; tokDel += nTok
          (start / 512 to (cum - 1) / 512).foreach(chunks += _)
        }
      }
      val chunksTotal = (cum - 1) / 512 + 1
      src -> (inOrder.length.toLong, nDel, tokTot, tokDel, chunksTotal,
              chunks.size.toLong,
              chunks.size.toLong * 1000000L / chunksTotal)
    }
    val got = Sampling.extRtbfPropagation(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    got shouldBe expect
    // the testdata draw must actually delete something for this to bite
    got.values.map(_._2).sum should be > 0L
  }
}
