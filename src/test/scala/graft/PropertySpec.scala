package graft

import graft.functions.GtfsFunctions
import graft.ops.{Dedup, TopK}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Property-style tests over seeded random samples (SURVEY.md §5.3;
  * the scalatest↔scalacheck bridge isn't in the offline cache, so
  * sampling is hand-rolled with a fixed seed): format∘parse identity on
  * valid GTFS times, dedup idempotence, union-count additivity. */
class PropertySpec extends SparkSpec {

  private val rng = new scala.util.Random(42)

  test("gtfs time format∘parse = identity for random valid second counts (incl >24h)") {
    import spark.implicits._
    val samples = Seq.fill(200)(rng.nextLong(100L * 3600)).distinct
    val strs = samples.map(s => f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d")
    val parsed = strs.toDF("t")
      .select(GtfsFunctions.gtfsTimeToSeconds(col("t")))
      .collect().map(_.getLong(0)).toSeq
    parsed shouldBe samples
  }

  test("exact dedup is idempotent") {
    val d = sf("sf0.001")
    val once = Dedup.extExactDedup(spark, d)
    once.count() shouldBe once.dropDuplicates("text_sha").count()
  }

  test("union-all counts are additive with the individual table counts") {
    val d = sf("sf0.001")
    val rows = TopK.unionAllCounts(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows("region") shouldBe 5L
    rows.values.sum shouldBe graft.Tables.allNames
      .map(n => graft.Tables.table(spark, d, n).count()).sum
  }

  test("BMP and WAV codecs round-trip under random dims/formats (seeded sweep)") {
    import graft.ops.Multimodal.{Bmp, Wav}
    for (_ <- 1 to 60) {
      val w = 1 + rng.nextInt(40); val h = 1 + rng.nextInt(20)
      val pix = Array.fill(w * h * 3)(rng.nextInt(256))
      val dec = Bmp.decode(Bmp.encode(w, h, pix(_))).get
      (dec.width, dec.height, dec.sumRgb) shouldBe
        ((w, h, pix.map(_.toLong).sum))
    }
    for (_ <- 1 to 60) {
      val ch = 1 + rng.nextInt(3)
      val frames = 1 + rng.nextInt(50)
      val n = frames * ch
      val rate = 1 + rng.nextInt(48000)
      val junk = rng.nextInt(9)
      val smp = Array.fill(n)(rng.nextInt(65536) - 32768)
      val dec = Wav.decode(Wav.encode(ch, rate, n, junk, smp(_))).get
      (dec.channels, dec.rate, dec.nFrames) shouldBe ((ch, rate, frames))
      dec.sumAbs shouldBe smp.map(s => math.abs(s).toLong).sum
      dec.peak shouldBe smp.map(math.abs).max
    }
  }

  test("connectedComponents agrees with a reference union-find on random graphs") {
    import spark.implicits._
    for (trial <- 1 to 5) {
      val nV = 30 + rng.nextInt(40)
      val nE = rng.nextInt(60)
      val vertices = (0L until nV).toDF("id")
      val edgeSeq = Seq.fill(nE)((rng.nextLong(nV), rng.nextLong(nV)))
        .filter { case (a, b) => a != b }
      val edges = if (edgeSeq.isEmpty) Seq((0L, 0L)).toDF("a", "b").limit(0)
                  else edgeSeq.toDF("a", "b")
      // reference: sequential union-find with path compression
      val parent = Array.tabulate(nV)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edgeSeq.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until nV).map(v => v.toLong -> find(v).toLong).toMap
      val got = graft.ops.Clustering.connectedComponents(edges, vertices)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"trial $trial (nV=$nV nE=${edgeSeq.size}): ") {
        got shouldBe expect
      }
    }
  }

  test("sessionizeByGap agrees with a sequential reference on random event streams") {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    for (trial <- 1 to 5) {
      val nUsers = 1 + rng.nextInt(5)
      val rows = (0 until 120).map { i =>
        // gaps cluster around the 30-min boundary to stress the edge
        val us = rng.nextLong(3 * gapUs)
        (rng.nextInt(nUsers).toLong, us, i.toLong)
      }
      // reference: sort per user, cut where gap >= 30 min
      val expect = rows.groupBy(_._1).map { case (u, es) =>
        val ts = es.sortBy(e => (e._2, e._3))
        val sessions = scala.collection.mutable.ArrayBuffer(List(ts.head))
        ts.sliding(2).foreach {
          case Seq(a, b) =>
            if (b._2 - a._2 >= gapUs) sessions += List(b)
            else sessions(sessions.size - 1) :+= b
          case _ =>
        }
        u -> sessions.map(_.size).toList
      }
      val got = graft.ops.Windows.sessionizeByGap(
          rows.toDF("user_id", "us", "event_id")
            .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
                    col("event_id")))
        .collect()
        .groupBy(_.getLong(0)).map { case (u, rs) =>
          u -> rs.sortBy(_.getLong(1)).map(_.getLong(4).toInt).toList }
      withClue(s"trial $trial: ") { got shouldBe expect }
    }
  }

  test("scd2Merge invariants hold on random dimensions and update batches") {
    import spark.implicits._
    for (trial <- 1 to 5) {
      val nKeys = 5 + rng.nextInt(20)
      val cur = (0 until nKeys)
        .map(k => (k.toLong, rng.nextDouble() * 100, s"s$k"))
        .toDF("c_custkey", "c_acctbal", "c_mktsegment")
      val updKeys = (0 until nKeys).filter(_ => rng.nextBoolean())
      val upd = updKeys.map(k => (k.toLong, -1.0, "UPD"))
        .toDF("c_custkey", "c_acctbal", "c_mktsegment")
      val out = graft.ops.Joins.scd2Merge(cur, upd, "c_custkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getBoolean(4)))
      withClue(s"trial $trial: ") {
        out.length shouldBe nKeys + updKeys.size
        // exactly one open (is_current) version per key
        out.filter(_._4).groupBy(_._1).values.foreach(_.length shouldBe 1)
        // every updated key's open version is v2 with the new payload;
        // every untouched key keeps an open v1 with the old payload
        val open = out.filter(_._4).map(t => t._1 -> (t._2, t._3)).toMap
        (0 until nKeys).foreach { k =>
          open(k.toLong) shouldBe
            (if (updKeys.contains(k)) (2, "UPD") else (1, s"s$k"))
        }
        // closed rows exist exactly for updated keys, as v1
        out.filterNot(_._4).map(t => (t._1, t._2)).sorted shouldBe
          updKeys.map(k => (k.toLong, 1)).sorted
      }
    }
  }

  test("minhash estimated similarity tracks true jaccard within banding tolerance") {
    import spark.implicits._
    val words = Vector("alpha","beta","gamma","delta","epsilon","zeta","eta",
      "theta","iota","kappa","lambda","mu","nu","xi","omicron","pi")
    for (_ <- 1 to 10) {
      val cut = rng.nextInt(13); val len = 13 + rng.nextInt(3)
      val a = words.take(len + 1).mkString(" ")
      val b = (words.take(cut) ++ words.drop(cut).take(len + 1 - cut).map(_.toUpperCase))
        .mkString(" ")
      val df = Seq((a, b)).toDF("a", "b")
      val (sa, sb) = df.select(
        Dedup.minhashSig(Dedup.shingles3(col("a"))),
        Dedup.minhashSig(Dedup.shingles3(col("b"))))
        .collect().map(r => (r.getSeq[Long](0), r.getSeq[Long](1))).head
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.size
      val trueJ = df.select(Dedup.jaccard3(col("a"), col("b"))).first().getDouble(0)
      est shouldBe trueJ +- 0.45 // 16 permutations: coarse but correlated
    }
  }

  test("bpe training agrees with a sequential reference trainer on random corpora") {
    import spark.implicits._
    // reference: greedy BPE exactly as documented — count ALL adjacent
    // pairs weighted by word frequency, argmax by (count desc, a, b),
    // apply left-to-right non-overlapping, repeat until no pairs
    def reference(words: Map[String, Long], rounds: Int)
        : Seq[(String, String, Long)] = {
      var segs: Map[Vector[String], Long] =
        words.map { case (w, c) => w.toVector.map(_.toString) -> c }
      val out = Seq.newBuilder[(String, String, Long)]
      var t = 0
      var done = false
      while (t < rounds && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((seg, c) <- segs; i <- 0 until seg.length - 1)
          counts((seg(i), seg(i + 1))) =
            counts.getOrElse((seg(i), seg(i + 1)), 0L) + c
        if (counts.isEmpty) done = true
        else {
          val ((a, b), n) = counts.toSeq
            .sortBy { case ((x, y), m) => (-m, x, y) }.head
          out += ((a, b, n))
          segs = segs.groupMapReduce { case (seg, _) =>
            val buf = Vector.newBuilder[String]
            var i = 0
            while (i < seg.length) {
              if (i + 1 < seg.length && seg(i) == a && seg(i + 1) == b) {
                buf += (a + b); i += 2
              } else { buf += seg(i); i += 1 }
            }
            buf.result()
          } { case (_, c) => c }(_ + _)
          t += 1
        }
      }
      out.result()
    }
    val alphabet = "abcd"
    for (trial <- 1 to 3) {
      // short random words over a 4-letter alphabet: dense pair
      // collisions, identical-symbol runs, ties — the hard cases
      val words = (0 until 15).map { _ =>
        (0 until (2 + rng.nextInt(5)))
          .map(_ => alphabet(rng.nextInt(4))).mkString
      }
      val text = rng.shuffle(words.flatMap(w =>
        Seq.fill(1 + rng.nextInt(4))(w))).mkString(" ")
      val dir = SparkSpec.scratch(s"prop_bpe_$trial")
      Seq((0L, text, "en", "s", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val wordCounts = text.split(" ").filter(_.length >= 2)
        .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
      val expected = reference(wordCounts, 6)
      val got = graft.ops.TextAnalysis.extBpeTrain(spark, dir).collect()
        .sortBy(_.getAs[Long]("round"))
        .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
                   r.getAs[Long]("pair_count"))).toSeq
      got shouldBe expected
    }
  }

  test("merkle attestation is invariant to input row order and partitioning") {
    import spark.implicits._
    // the tree orders by content digest, never by arrival: any shuffle of
    // the rows (and any partition count) must reproduce every root
    val base = (0L until 40L).map { id =>
      val t = s"stable document body $id"
      (id, t, "en", "s", t.length.toLong)
    }
    def roots(rows: Seq[(Long, String, String, String, Long)],
              parts: Int, tag: String): Seq[(Long, String, String)] = {
      val dir = SparkSpec.scratch(s"prop_merkle_$tag")
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.ops.Quality.extMerkleShards(spark, dir).collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[String]("shard_root"),
                   r.getAs[String]("dataset_root"))).toSeq.sortBy(_._1)
    }
    val orig = roots(base, 1, "a")
    val shuffled = roots(rng.shuffle(base), 7, "b")
    shuffled shouldBe orig
  }

  test("lsh plan candidate monotonicity holds on random near-dup corpora") {
    import spark.implicits._
    val words = Vector("alpha","beta","gamma","delta","epsilon","zeta","eta",
      "theta","iota","kappa","lambda","mu","nu","xi","omicron","pi")
    for (trial <- 1 to 3) {
      // random docs + planted near-dups: band agreement on a coarser
      // split implies agreement on its refinement, for ANY corpus
      val docs = (0 until 12).map { i =>
        val toks = (0 until 14).map(_ => words(rng.nextInt(words.size)))
        (i.toLong, toks.mkString(" "))
      } ++ Seq((12L, "planted dup " + words.mkString(" ")),
               (13L, "planted dup " + words.mkString(" ")))
      val dir = SparkSpec.scratch(s"prop_lsh_$trial")
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val byR = Dedup.extLshPlan(spark, dir).collect()
        .map(r => r.getAs[Long]("rows_per_band") ->
          r.getAs[Long]("n_cand_pairs")).toMap
      byR(2L) should be <= byR(1L)
      byR(4L) should be <= byR(2L)
      byR(8L) should be <= byR(4L)
      byR(8L) should be >= 1L // the exact planted pair survives every config
    }
  }
}
