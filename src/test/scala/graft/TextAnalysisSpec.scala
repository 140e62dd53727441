package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Crafted-input behavior of the text operators (the corpus itself is
  * punctuation-free lowercase, so edge behavior needs synthetic rows). */
class TextAnalysisSpec extends SparkSpec {

  test("bm25 plan carries exactly one shuffle: the 1-row corpus-stats aggregate") {
    // the r5 explode+groupBy spelling re-derived the tokenize lineage six
    // times and shuffled twice; this pins the respelled shape — map-only
    // per-doc tf, a single Exchange SinglePartition for the stats agg,
    // broadcast back, TakeOrdered. A regression re-introducing a per-doc
    // shuffle (groupBy doc_id) trips this count.
    val df = SparkEntry.queries("ext_bm25")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    val shuffles =
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
        .findAllIn(plan).length
    shuffles shouldBe 1
    // and the only join is the broadcast of that 1-row frame
    plan.contains("SortMergeJoin") shouldBe false
  }

  test("normalization collapses case/punctuation/whitespace variants to one form") {
    import spark.implicits._
    val variants = Seq(
      (0L, "Hello, World!  This is   GREAT."),
      (1L, "hello world this is great"),
      (2L, "HELLO...world?? this IS great"))
      .toDF("doc_id", "text")
    variants.createOrReplaceTempView("documents_variants")
    val normed = variants.select(
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
        " +", " ")).as("n"))
      .collect().map(_.getString(0)).toSet
    normed shouldBe Set("hello world this is great")
  }

  test("BPE-ish token regex segments mixed text into letters/digits/symbols") {
    import spark.implicits._
    val toks = Seq("ab12 c-d 3.5x").toDF("text")
      .select(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .first().getSeq[String](0)
    toks shouldBe Seq("ab", "12", "c", "-", "d", "3", ".", "5", "x")
  }

  test("fingerprint is order-sensitive and prefix-stable") {
    import spark.implicits._
    val df = Seq(("abc def", "def abc", "abc defX")).toDF("a", "b", "c")
    def fp(c: org.apache.spark.sql.Column) =
      aggregate(transform(split(c, ""), ch => ascii(ch).cast("long")),
        lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)
    val r = df.select(fp(col("a")), fp(col("b")), fp(col("c"))).first()
    (r.getLong(0) == r.getLong(1)) shouldBe false // order matters
    (r.getLong(0) == r.getLong(2)) shouldBe false
  }

  test("BMP codec: encode→decode round-trips dims and pixel sum at every padding residue") {
    import graft.ops.Multimodal.Bmp
    // widths 1..5 cover row-padding residues (w*3 mod 4 = 3,2,1,0,3)
    for (w <- 1 to 5; h <- Seq(1, 3, 4)) {
      val n = w * h * 3
      val bytes = Array.tabulate(n)(i => (i * 37 + 11) % 256)
      val enc = Bmp.encode(w, h, bytes(_))
      val dec = Bmp.decode(enc).get
      dec.width shouldBe w
      dec.height shouldBe h
      dec.nPixels shouldBe w * h
      dec.sumRgb shouldBe bytes.map(_.toLong).sum
    }
  }

  test("BMP decode rejects malformed payloads instead of mis-reading them") {
    import graft.ops.Multimodal.Bmp
    val good = Bmp.encode(3, 2, _ => 7)
    Bmp.decode(good).isDefined shouldBe true
    Bmp.decode(Array[Byte]()) shouldBe None              // empty
    Bmp.decode(good.take(53)) shouldBe None              // truncated header
    Bmp.decode(good.dropRight(1)) shouldBe None          // truncated pixels
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    Bmp.decode(badMagic) shouldBe None
    val badBpp = good.clone(); badBpp(28) = 8.toByte     // not 24bpp
    Bmp.decode(badBpp) shouldBe None
    val compressed = good.clone(); compressed(30) = 1.toByte
    Bmp.decode(compressed) shouldBe None
    // header-controlled width near Int.MaxValue/3: rowBytes = w*3 would
    // overflow Int to negative, sneaking past the overrun check and
    // "decoding" garbage (round-3 advice). Must be rejected, not decoded.
    val hugeW = good.clone()
    val bb = java.nio.ByteBuffer.wrap(hugeW)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(18, 800000000) // w: 800M * 3 overflows to negative Int
    bb.putInt(22, 3)
    Bmp.decode(hugeW) shouldBe None
    Bmp.decodePixels(hugeW) shouldBe None
  }

  test("multimodal pipeline decodes real BMP payloads (UTF-8 byte cycle, empty text)") {
    import spark.implicits._
    import graft.ops.Multimodal
    // 'éxé' is 3 chars but 5 UTF-8 bytes: C3 A9 78 C3 A9
    val df = Seq((0L, "hello", "en", "s", 5L), (1L, "éxé", "fr", "s", 3L),
                 (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.scratch("mmspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.extMultimodal(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Int]("n_pixels"), r.getAs[Long]("sum_rgb")))).toMap
    // doc 0: w=1+5%12=6, h=1+0%7=1, 18 channel bytes cycling "hello"(5B):
    // 3 full cycles (sum 532*3) + 3 bytes (104+101+108)
    val hello = "hello".getBytes("UTF-8").map(_ & 0xFF)
    out(0L) shouldBe ((6, 1, 6, hello.sum.toLong * 3 + 104 + 101 + 108))
    // doc 1: w=1+3%12=4, h=1+1%7=2, 24 bytes cycling 5 UTF-8 bytes:
    // 4 full cycles + first 4 bytes
    val exe = "éxé".getBytes("UTF-8").map(_ & 0xFF)
    out(1L) shouldBe ((4, 2, 8, exe.sum.toLong * 4 + exe.take(4).sum))
    // doc 2: empty text -> all-zero pixels
    out(2L) shouldBe ((1, 3, 3, 0L))
  }

  test("decodePixels + resizeNN: un-pads, flips to top-down, samples nearest source pixel") {
    import graft.ops.Multimodal.Bmp
    // 4×2 image, channel bytes 0..23 in top-down order (w=4 → 12-byte
    // rows need no padding; use w=3 for the padded case below)
    val enc = Bmp.encode(4, 2, i => i)
    val (w, h, pix) = Bmp.decodePixels(enc).get
    (w, h) shouldBe ((4, 2))
    pix.map(_ & 0xFF).toSeq shouldBe (0 until 24)
    // identity resize is a no-op
    Bmp.resizeNN(4, 2, pix, 4, 2).toSeq shouldBe pix.toSeq
    // 2×1 downscale samples src (0,0) and (2,0): channels 0,1,2 and 6,7,8
    Bmp.resizeNN(4, 2, pix, 2, 1).map(_ & 0xFF).toSeq shouldBe
      Seq(0, 1, 2, 6, 7, 8)
    // padded width: 3×2 rows are 9 bytes + 3 pad; decode must skip pad
    val encP = Bmp.encode(3, 2, i => i + 100)
    Bmp.decodePixels(encP).get._3.map(_ & 0xFF).toSeq shouldBe
      (100 until 118)
  }

  test("WAV codec: encode→decode round-trips format fields and sample stats") {
    import graft.ops.Multimodal.Wav
    for (ch <- Seq(1, 2); rate <- Seq(8000, 24000); junk <- 0 to 3) {
      val n = 12 // divisible by both channel counts
      val samples = Array.tabulate(n)(i => (i - 6) * 1000)
      val enc = Wav.encode(ch, rate, n, junk, samples(_))
      val dec = Wav.decode(enc).get
      dec.channels shouldBe ch
      dec.rate shouldBe rate
      dec.nFrames shouldBe n / ch
      dec.sumAbs shouldBe samples.map(s => math.abs(s).toLong).sum
      dec.peak shouldBe 6000
    }
  }

  test("WAV decode rejects malformed payloads instead of mis-reading them") {
    import graft.ops.Multimodal.Wav
    val good = Wav.encode(1, 8000, 4, 1, _ => 100)
    Wav.decode(good).isDefined shouldBe true
    Wav.decode(Array[Byte]()) shouldBe None                 // empty
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    Wav.decode(badMagic) shouldBe None
    val notWave = good.clone(); notWave(8) = 'A'.toByte
    Wav.decode(notWave) shouldBe None
    val nonPcm = good.clone(); nonPcm(20) = 3.toByte        // fmt code
    Wav.decode(nonPcm) shouldBe None
    val eightBit = good.clone(); eightBit(34) = 8.toByte    // bits/sample
    Wav.decode(eightBit) shouldBe None
    Wav.decode(good.dropRight(1)) shouldBe None             // truncated data
    // stereo data whose byte size is not a whole number of frames:
    // patch the data-chunk size (last header field before the samples)
    // from 8 to 6 — 6 bytes is 1.5 stereo frames
    val oddStereo = Wav.encode(2, 8000, 4, 0, _ => 1)
    java.nio.ByteBuffer.wrap(oddStereo)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(oddStereo.length - 12, 6)
    Wav.decode(oddStereo) shouldBe None
  }

  test("audio pipeline: closed-form duration/sum/peak over the UTF-8 sample cycle") {
    import spark.implicits._
    import graft.ops.Multimodal
    val df = Seq((0L, "hello", "en", "s", 5L), (1L, "éxé", "fr", "s", 3L),
                 (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.scratch("wavspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.extAudioFeatures(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Int]("channels"), r.getAs[Int]("sample_rate"),
          r.getAs[Int]("n_samp_frames"), r.getAs[Long]("duration_ms"),
          r.getAs[Long]("sum_abs"), r.getAs[Int]("peak")))).toMap
    // doc 0: ch=1, rate=8000, n_total=8+5+0=13; abs cycle over "hello"
    val hAbs = "hello".getBytes("UTF-8").map(b => math.abs((b & 0xFF) - 128) * 256)
    val sum0 = hAbs.map(_.toLong).sum * 2 + hAbs.take(3).map(_.toLong).sum
    out(0L) shouldBe ((1, 8000, 13, 13L * 1000 / 8000, sum0, hAbs.max))
    // doc 1: ch=2, rate=16000, n0=8+5+1=14 (even) → 7 stereo frames
    val eAbs = "éxé".getBytes("UTF-8").map(b => math.abs((b & 0xFF) - 128) * 256)
    val sum1 = eAbs.map(_.toLong).sum * 2 + eAbs.take(4).map(_.toLong).sum
    out(1L) shouldBe ((2, 16000, 7, 0L, sum1, eAbs.max))
    // doc 2: empty text -> silent samples
    out(2L) shouldBe ((1, 24000, (8 + 2) / 1, 0L, 0L, 0))
  }

  test("frame-sample pipeline: walks frame boundaries, decodes only even frames") {
    import spark.implicits._
    import graft.ops.Multimodal
    // doc 3: f=1+3%4=4 frames, h=1+3%7=4, widths (5+i)%12+1 = 6,7,8,9
    val df = Seq((3L, "hello", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.scratch("framespec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.extFrameSample(spark, dir).collect().head
    r.getAs[Int]("n_frames") shouldBe 4
    r.getAs[Int]("n_sampled") shouldBe 2
    val hb = "hello".getBytes("UTF-8").map(_ & 0xFF)
    def cycleSum(m: Int): Long =
      hb.map(_.toLong).sum * (m / 5) + hb.take(m % 5).map(_.toLong).sum
    // sampled frames 0 (w=6) and 2 (w=8), h=4 → m = w*4*3
    r.getAs[Long]("sum_rgb_sampled") shouldBe cycleSum(6 * 12) + cycleSum(8 * 12)
    val widths = Seq(6, 7, 8, 9)
    val expectBytes = widths.map { w =>
      val rb = w * 3; 54 + (rb + (4 - rb % 4) % 4) * 4
    }.sum
    r.getAs[Int]("total_bytes") shouldBe expectBytes
  }

  test("quality score is monotone in stopword pollution") {
    import spark.implicits._
    val rich = "the cat sat on the mat and the dog ran to the park in the sun"
    val clean = "quantum entanglement violates classical locality constraints fundamentally"
    val df = Seq((0L, rich, "en", "s", 60L), (1L, clean, "en", "s", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // run the real operator against a scratch dir exposing these rows as
    // the documents table
    val dir = SparkSpec.scratch("textspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.extQualityScore(spark, dir)
    val q = out.collect().map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    q(1L) should be > q(0L) // stopword-free text scores higher
  }

  test("bpe train: hand-computed merge table, greedy non-overlapping runs, " +
       "loop drains when no pairs remain") {
    import spark.implicits._
    val dir = SparkSpec.scratch("textspec_bpe")
    // 10x "aaaa" + 5x "bc" + 3x "aaa":
    //  r1 (a,a)  n = 10*3 + 3*2 = 36 -> aaaa=[aa,aa], aaa=[aa,a] (greedy
    //     takes odd ranks of the candidate run: 3 a's give ONE merge)
    //  r2 (aa,aa) n = 10           -> aaaa=[aaaa]
    //  r3 (b,c)   n = 5            -> bc=[bc]
    //  r4 (aa,a)  n = 3            -> aaa=[aaa]
    //  r5+ no pairs left -> no further rows
    val text = ("aaaa " * 10 + "bc " * 5 + "aaa " * 3).trim
    Seq((0L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.extBpeTrain(spark, dir).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("left_sym"),
                 r.getAs[String]("right_sym"), r.getAs[String]("merged"),
                 r.getAs[Long]("pair_count"))).toSeq
    rows shouldBe Seq(
      (1L, "a", "a", "aa", 36L),
      (2L, "aa", "aa", "aaaa", 10L),
      (3L, "b", "c", "bc", 5L),
      (4L, "aa", "a", "aaa", 3L))

    // apply: hand-computed token-mass curve over the same corpus —
    // 59 chars; r1 greedy (a,a) leaves 36 symbols; r5+ drained
    val curve = TextAnalysis.extBpeApply(spark, dir).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("n_tokens"),
                 r.getAs[Long]("chars_per_token_x1000"))).toSeq
    curve shouldBe Seq(
      (0L, 59L, 1000L),
      (1L, 36L, 59L * 1000 / 36),
      (2L, 26L, 59L * 1000 / 26),
      (3L, 21L, 59L * 1000 / 21),
      (4L, 18L, 59L * 1000 / 18))
    // compression is monotone: each merge can only shrink segmentations
    curve.map(_._2).sliding(2).foreach {
      case Seq(a, b) => b should be <= a; case _ => }
  }

  test("fuzz regression (seed 429): a language of all-empty documents has " +
       "NULL fertility, not a divide-by-zero") {
    import spark.implicits._
    val dir = SparkSpec.scratch("textspec_fert")
    Seq((0L, "", "xx", "s", 0L), (1L, "", "xx", "s", 0L),
        (2L, "ab cd", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.extTokenFertility(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_bpe_tokens"),
                 Option(r.getAs[Any]("chars_per_token_c")))).toSeq
    rows shouldBe Seq(("en", 2L, Some(250L)), ("xx", 0L, None))
  }

  test("Good-Turing table on a crafted corpus: hand-computed N_r, an absent " +
       "frequency class still reports its row, r* and P0 floor-divides") {
    import spark.implicits._
    val dir = SparkSpec.scratch("textspec_gt")
    // frequencies: w1:1 w2:1 w3:2 w4:3 w5:3 w6:5 w7:6
    //  -> N_1=2 N_2=1 N_3=2 N_4=0 (absent) N_5=1 N_6=1
    //     n_vocab=7 n_tokens=21 n1=2 p0=floor(2e6/21)=95238
    val text = ("w1 w2 " + "w3 " * 2 + "w4 " * 3 + "w5 " * 3 +
                "w6 " * 5 + "w7 " * 6).trim
    Seq((0L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.extGoodturing(spark, dir).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_r"),
                 r.getAs[Long]("n_next"),
                 Option(r.getAs[Any]("gt_star_micro")).map(_.toString.toLong),
                 r.getAs[Long]("n_vocab"), r.getAs[Long]("n_tokens"),
                 r.getAs[Long]("p0_micro"))).toSeq
    rows shouldBe Seq(
      // r*: (r+1) * N_{r+1} * 1e6 div N_r; NULL where N_r = 0
      (1L, 2L, 1L, Some(1000000L), 7L, 21L, 95238L),
      (2L, 1L, 2L, Some(6000000L), 7L, 21L, 95238L),
      (3L, 2L, 0L, Some(0L), 7L, 21L, 95238L),
      (4L, 0L, 1L, None, 7L, 21L, 95238L),
      (5L, 1L, 1L, Some(6000000L), 7L, 21L, 95238L))
  }

  test("Zipf fit: a driver-side exact-integer OLS replay over the real " +
       "corpus reproduces the entry, and the slope is negative") {
    val d = sf("sf0.001")
    val row = TextAnalysis.extZipfFit(spark, d).collect() match {
      case Array(r) => r; case other => fail(s"1 row expected, got ${other.length}")
    }
    val tf = spark.read.parquet(s"$d/documents.parquet")
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    // rank by (tf desc, tok asc) — ASCII corpus, so Java string order
    // and Spark's binary order agree
    val xy = tf.toSeq.sortBy { case (t, n) => (-n, t) }.zipWithIndex.map {
      case ((_, n), i) =>
        (n,
         math.floor(math.log((i + 1).toDouble) * 1000000.0).toLong,
         math.floor(math.log(n.toDouble) * 1000000.0).toLong)
    }
    val nV = BigInt(xy.length)
    val sx = xy.map(t => BigInt(t._2)).sum
    val sy = xy.map(t => BigInt(t._3)).sum
    val sxy = xy.map(t => BigInt(t._2) * BigInt(t._3)).sum
    val sxx = xy.map(t => BigInt(t._2) * BigInt(t._2)).sum
    val a = nV * sxy - sx * sy
    val b = nV * sxx - sx * sx
    b should be > BigInt(0)
    val slope = (if (a < 0) BigInt(-1) else BigInt(1)) * (a.abs * 1000000 / b)
    row.getAs[Long]("n_vocab") shouldBe xy.length.toLong
    row.getAs[Long]("n_tokens") shouldBe xy.map(_._1).sum
    row.getAs[Long]("slope_micro") shouldBe slope.toLong
    // natural-ish text: frequency falls with rank
    row.getAs[Long]("slope_micro") should be < 0L
  }

  test("distinct-n diversity: exact Scala replay per (source, n)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).toLowerCase.split(" ", -1)))
    val expect = (for {
      n <- 1 to 3
      (src, tk) <- docs
      if tk.length >= n
      p <- 0 to tk.length - n
    } yield (src, n, tk.slice(p, p + n).mkString(" ")))
      .groupBy(t => (t._1, t._2))
      .map { case ((src, n), gs) =>
        val total = gs.size.toLong
        val dist = gs.map(_._3).distinct.size.toLong
        (src, n) -> (total, dist, dist * 1000000L / total)
      }
    val got = TextAnalysis.extDistinctNgrams(spark, sf("sf0.001")).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    got shouldBe expect
    // diversity must strictly rise with n on natural-ish text
    got.keys.map(_._1).foreach { src =>
      got((src, 1))._3 should be < got((src, 2))._3
      got((src, 2))._3 should be < got((src, 3))._3
    }
  }
}
