package graft

import graft.ops.{Aggregates, Curation, Ingest, Scalars}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Specs for the round-4 continuation surface entries (JSON ingest,
  * deterministic mode, trig scalars, vocabulary encoding). */
class SurfaceSpec extends SparkSpec {

  test("json ingest round-trips rows and doubles losslessly") {
    val d = sf("sf0.001")
    val out = Ingest.jsonIngest(spark, d)
    val src = Tables.customer(spark, d)
    out.count() shouldBe src.count()
    out.agg(sum(col("c_acctbal"))).first().getDouble(0) shouldBe
      src.agg(sum(col("c_acctbal"))).first().getDouble(0)
  }

  test("mode picks the max-count value with deterministic tie-break") {
    val d = sf("sf0.01")
    val rows = Aggregates.aggMode(spark, d).collect()
    val direct = Tables.orders(spark, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val grp = direct(r.getString(0))
      val maxC = grp.map(_.getLong(2)).max
      r.getAs[Long]("mode_count") shouldBe maxC
      // tie-break: smallest value among max-count candidates
      val want = grp.filter(_.getLong(2) == maxC).map(_.getString(1)).min
      r.getAs[String]("mode_priority") shouldBe want
    }
  }

  test("url parse: components reassemble the url and the tracking flag tracks the query") {
    val rows = Scalars.fnUrlParse(spark, sf("sf0.001")).collect()
    rows.foreach { r =>
      val url = r.getAs[String]("url")
      val host = r.getAs[String]("host")
      val path = r.getAs[String]("path")
      val q = r.getAs[String]("query_str")
      val frag = r.getAs[String]("fragment")
      val reassembled = "https://" + host + path +
        (if (q.nonEmpty) "?" + q else "") +
        (if (frag.nonEmpty) "#" + frag else "")
      reassembled shouldBe url
      r.getAs[String]("host_core") shouldBe host.stripPrefix("www.")
      r.getAs[Int]("path_depth") shouldBe 2
      r.getAs[Int]("is_tracked") shouldBe (if (q.startsWith("utm_")) 1 else 0)
    }
  }

  test("trig surface satisfies sin^2 + cos^2 = 1 and rad/deg invert") {
    val rows = Scalars.fnTrig(spark, sf("sf0.001")).limit(500).collect()
    rows.foreach { r =>
      val s = r.getAs[Double]("sin_v"); val c = r.getAs[Double]("cos_v")
      (s * s + c * c) shouldBe 1.0 +- 1e-9
      // both invert back to the same original value
      val rad = r.getAs[Double]("rad_v"); val deg = r.getAs[Double]("deg_v")
      rad * 180.0 / math.Pi shouldBe deg * math.Pi / 180.0 +- 1e-9
    }
  }

  test("recursive CTE reaches every event type from signup in 1 hop on a dense graph") {
    val d = sf("sf0.01")
    graft.ops.SqlSurface.registerAll(spark, d)
    val rows = graft.ops.SqlSurface.queries("sql_recursive_cte")(spark, d).collect()
    // the transition graph at this SF is dense: every type follows signup
    // somewhere, so min_hops is 0 for signup and 1 for everything else
    val hops = rows.map(r => r.getString(0) -> r.getInt(1)).toMap
    hops("signup") shouldBe 0
    (hops - "signup").values.foreach(_ shouldBe 1)
    rows.foreach(_.getAs[Long]("n_walks") should be > 0L)
  }

  test("ntile decomposition: bucketed rank + exact NTILE arithmetic equals " +
       "the engine builtin, remainder tiles included") {
    // full-corpus equality against the builtin (divisible-n path)...
    for (sfd <- Seq(sf("sf0.001"))) {
      val ours = graft.ops.Windows.winNtile(spark, sfd).collect()
      val builtin = graft.Tables.orders(spark, sfd)
        .select(col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("o_totalprice"), col("o_orderkey"))).as("quartile"))
        .orderBy(col("o_orderkey")).collect()
      ours.map(_.toString).toSeq shouldBe builtin.map(_.toString).toSeq
    }
    // remainder case n=7 (q=1, r=3: tile sizes 2,2,2,1) on a micro frame
    import spark.implicits._
    val dir = SparkSpec.scratch("ntile7")
    Seq.tabulate(7)(i => (i.toLong, 0L, "O", (700 - i * 93).toDouble,
        new java.sql.Timestamp(0L), "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val micro = graft.ops.Windows.winNtile(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // ascending price = keys 6,5,4,3,2,1,0 -> tiles 1,1,2,2,3,3,4
    micro shouldBe Map(6L -> 1, 5L -> 1, 4L -> 2, 3L -> 2,
                       2L -> 3, 1L -> 3, 0L -> 4)
  }

  test("rolling z-score: window never exceeds 7 rows and flags match |z| > 2") {
    val rows = graft.ops.Windows.winRollingZscore(spark, sf("sf0.01")).collect()
    rows.foreach { r =>
      r.getAs[Long]("n_window") should be <= 7L
      if (!r.isNullAt(r.fieldIndex("z6"))) {
        val z = r.getAs[Double]("z6")
        r.getAs[Boolean]("is_outlier") shouldBe (math.abs(z) > 2.0)
      }
    }
    // first row of each series has a 1-row window -> null z
    rows.filter(_.getAs[Long]("n_window") == 1L)
      .foreach(r => r.isNullAt(r.fieldIndex("z6")) shouldBe true)
  }

  test("exp/log surface: ln and log2/log10 are consistent") {
    val rows = graft.ops.Scalars.fnExpLog(spark, sf("sf0.001")).limit(500).collect()
    rows.foreach { r =>
      val ln = r.getAs[Double]("ln_v")
      r.getAs[Double]("log10_v") shouldBe ln / math.log(10.0) +- 1e-6
      r.getAs[Double]("log2_v") shouldBe ln / math.log(2.0) +- 1e-6
    }
  }

  test("malformed CSV rows: PERMISSIVE preserves count with nulls, DROPMALFORMED drops") {
    import org.apache.spark.sql.types._
    val dir = SparkSpec.scratch("malformed_csv")
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part.csv"),
      "id,qty\n1,10\n2,not_a_number\n3,30\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", IntegerType)))
    val permissive = spark.read.schema(schema).option("header", "true")
      .option("mode", "PERMISSIVE").csv(dir)
    permissive.count() shouldBe 3
    permissive.filter(col("qty").isNull).count() shouldBe 1
    val dropped = spark.read.schema(schema).option("header", "true")
      .option("mode", "DROPMALFORMED").csv(dir)
    // NB: count() alone would report 3 — CSV column pruning means the
    // malformed qty field is never parsed, so nothing is detected as
    // malformed. Materializing the columns triggers the drop. The same
    // pruning applies at 100 TB: malformed-row filtering only happens
    // for fields the query actually reads.
    dropped.select(col("id"), col("qty")).collect().length shouldBe 2
  }

  test("hash split: deterministic, complete, and near the 80/10/10 design") {
    val d = sf("sf0.01")
    val a = graft.ops.Sampling.extHashSplit(spark, d).collect()
    val b = graft.ops.Sampling.extHashSplit(spark, d).collect()
    a.map(_.toString) shouldBe b.map(_.toString) // replayable
    val bySplit = a.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val total = bySplit.values.sum
    total shouldBe Tables.documents(spark, d).count()
    bySplit("train").toDouble / total shouldBe 0.8 +- 0.06
    bySplit("val").toDouble / total shouldBe 0.1 +- 0.05
    bySplit("test").toDouble / total shouldBe 0.1 +- 0.05
  }

  test("weighted mean sits between min and max unit price and differs from plain mean") {
    val d = sf("sf0.01")
    val rows = graft.ops.Aggregates.aggWeighted(spark, d).collect()
    val bounds = Tables.lineitem(spark, d).groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      val w = r.getAs[Double]("wavg_price")
      w should (be >= lo and be <= hi)
    }
  }

  test("pct change: first month null, reconstruction matches totals") {
    val rows = graft.ops.Windows.winPctChange(spark, sf("sf0.01")).collect()
    val bySeries = rows.groupBy(_.getString(0))
    bySeries.values.foreach { series =>
      val s = series.sortBy(_.getDate(1).getTime)
      s.head.isNullAt(s.head.fieldIndex("pct_change")) shouldBe true
      s.sliding(2).foreach {
        case Array(prev, cur) if !cur.isNullAt(cur.fieldIndex("pct_change")) =>
          val rebuilt = prev.getAs[Double]("total") *
            (1.0 + cur.getAs[Double]("pct_change"))
          rebuilt shouldBe cur.getAs[Double]("total") +- 1e-6
        case _ =>
      }
    }
  }

  test("chunk dedup: distinct bounded by total, fraction consistent") {
    val rows = graft.ops.Sampling.extChunkDedup(spark, sf("sf0.01")).collect()
    rows.length shouldBe 20
    rows.foreach { r =>
      val n = r.getAs[Long]("n_chunks"); val u = r.getAs[Long]("n_distinct")
      u should be <= n
      r.getAs[Double]("dup_fraction") shouldBe (n - u).toDouble / n
    }
  }

  test("data build: split assignments agree with ext_hash_split's namespace, quality gate holds") {
    val d = sf("sf0.01")
    val rows = graft.ops.Quality.extDataBuild(spark, d).collect()
    rows.foreach { r =>
      Set("train", "val", "test") should contain(r.getString(1))
      r.getAs[Double]("mean_quality") should be >= 0.6
      r.getAs[Long]("token_mass") should be >= r.getAs[Long]("n_docs") // >=1 token/doc
    }
    // the build keeps a substantial corpus (dedup+quality drop some)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val corpus = Tables.documents(spark, d).count()
    total should be < corpus
    total.toDouble should be > corpus * 0.3
  }

  test("seasonality: day-weighted mean of indices is 1 per type") {
    val rows = graft.ops.Aggregates.aggSeasonality(spark, sf("sf0.01")).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, grp) =>
      // Σ(idx · days_dow · overall_mean) = Σ n_dow → day-weighted mean of
      // the index is exactly 1; verify via the raw counts identity
      val nAll = grp.map(_.getAs[Long]("n_dow")).sum.toDouble
      val dAll = grp.map(_.getAs[Long]("days_dow")).sum.toDouble
      val weighted = grp.map { r =>
        r.getAs[Double]("seasonality_idx") * r.getAs[Long]("days_dow")
      }.sum
      weighted / dAll shouldBe 1.0 +- 1e-4 // rounding on idx only
      nAll should be > 0.0
    }
  }

  test("winsorized mean sits between p05 and p95, tighter to the plain mean") {
    val d = sf("sf0.01")
    val rows = graft.ops.Aggregates.aggWinsorizedMean(spark, d).collect()
    val bounds = Tables.orders(spark, d).groupBy(col("o_orderpriority"))
      .agg((expr("percentile(o_totalprice, 0.05)")).as("lo"),
           (expr("percentile(o_totalprice, 0.95)")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      val w = r.getAs[Double]("winsorized_mean")
      // clamped values live in [p05, p95], so their mean must too
      // (cent-floor shifts cutoffs < 1 cent)
      w should (be >= lo - 0.011 and be <= hi + 0.011)
    }
  }

  test("gini: zero on constant values, in [0,1) on the fixture") {
    import spark.implicits._
    // constant values -> perfect equality -> G = 0
    val const = (1 to 100).map(i => ("P", i.toLong, 50.0)).toDF("g", "k", "x")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("z"), col("k"))
    val g0 = const.select(col("g"), col("k"),
        floor(col("x") * 100).cast("long").as("z"))
      .withColumn("i", row_number().over(w))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast("double").as("n"),
           sum(col("z").cast("decimal(38,0)")).cast("double").as("sx"),
           sum(col("z").cast("decimal(38,0)") * col("i")).cast("double").as("six"))
      .select((lit(2.0) * col("six") / (col("n") * col("sx")) -
               (col("n") + 1.0) / col("n")).as("gini"))
      .first().getDouble(0)
    g0 shouldBe 0.0 +- 1e-12
    graft.ops.Aggregates.aggGini(spark, sf("sf0.01")).collect().foreach { r =>
      r.getAs[Double]("gini") should (be >= 0.0 and be < 1.0)
    }
  }

  test("split bias: TVD in [0,1], large split drifts least") {
    val rows = graft.ops.Sampling.extSplitBias(spark, sf("sf0.01")).collect()
    rows.length shouldBe 3
    val tvd = rows.map(r => r.getString(0) -> r.getAs[Double]("tvd_lang")).toMap
    tvd.values.foreach(v => v should (be >= 0.0 and be <= 1.0))
    // the 80% split is a much larger sample of the corpus than the 10%
    // splits, so its language mix drifts least
    tvd("train") should be < tvd("val")
    tvd("train") should be < tvd("test")
  }

  test("key skew audit: 5 rows, descending, hottest key at least mean load") {
    val rows = graft.ops.Quality.extKeySkew(spark, sf("sf0.01")).collect()
    rows.length shouldBe 5
    rows.map(_.getAs[Long]("n")).sliding(2).foreach {
      case Array(a, b) => b should be <= a
    }
    rows.head.getAs[Double]("skew_ratio") should be >= 1.0 // max >= mean
    rows.map(_.getAs[Double]("share")).sum should be <= 1.0
  }

  test("ann recall audit: ground truth complete, overlap bounded, recall in range") {
    val rows = graft.ops.Similarity.extAnnRecall(spark, sf("sf0.01")).collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      r.getAs[Long]("n_bf") shouldBe 5L // brute force always fills k
      r.getAs[Long]("n_ann") should be <= 5L
      val ov = r.getAs[Long]("n_overlap")
      ov should be <= math.min(r.getAs[Long]("n_bf"), r.getAs[Long]("n_ann"))
      r.getAs[Double]("recall_at_5") shouldBe ov / 5.0
    }
  }

  test("multiprobe recall dominates single-probe recall per query") {
    val d = sf("sf0.01")
    val single = graft.ops.Similarity.extAnnRecall(spark, d).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Double]("recall_at_5")).toMap
    val multi = graft.ops.Similarity.extAnnMultiprobe(spark, d).collect()
    multi.length shouldBe 10
    // Hamming-1 probing is a strict superset of the single bucket, so
    // per-query recall can only stay equal or improve
    multi.foreach { r =>
      r.getAs[Double]("recall_at_5") should be >= single(r.getAs[Long]("qid"))
    }
  }

  test("ivf recall audit: consistent counts, recall beats single-probe LSH here") {
    val d = sf("sf0.01")
    val rows = graft.ops.Similarity.extIvfRecall(spark, d).collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      r.getAs[Long]("n_bf") shouldBe 5L
      r.getAs[Long]("n_overlap") should be <=
        math.min(r.getAs[Long]("n_bf"), r.getAs[Long]("n_ann"))
    }
    // data-adaptive buckets beat the fixed hyperplanes on this geometry
    val ivfMean = rows.map(_.getAs[Double]("recall_at_5")).sum / 10
    val lshMean = graft.ops.Similarity.extAnnRecall(spark, d).collect()
      .map(_.getAs[Double]("recall_at_5")).sum / 10
    ivfMean should be > lshMean
  }

  test("neardup eval: confusion counts are internally consistent") {
    val r = graft.ops.Dedup.extNeardupEval(spark, sf("sf0.01")).first()
    val (truth, cand, tp) = (r.getAs[Long]("n_truth"),
      r.getAs[Long]("n_cand"), r.getAs[Long]("tp"))
    tp should be <= math.min(truth, cand)
    r.getAs[Long]("fp") shouldBe cand - tp
    r.getAs[Long]("fn") shouldBe truth - tp
    if (cand > 0) r.getAs[Double]("precision") should (be >= 0.0 and be <= 1.0)
    if (truth > 0) r.getAs[Double]("recall") should (be >= 0.0 and be <= 1.0)
    // the fixture contains crafted near-dups, so the sampled audit
    // should find a non-empty ground truth
    truth should be > 0L
  }

  test("vocab encode: id 1 is the most frequent token, sequence length matches") {
    val d = sf("sf0.01")
    val out = Curation.extVocabEncode(spark, d).collect()
    out.foreach { r =>
      val n = r.getAs[Long]("n_toks")
      n should be <= 16L
      r.getAs[String]("ids_str").split(",").length.toLong shouldBe n
    }
    // the corpus-wide most frequent token should appear as id 1 in at
    // least one document head (it is frequent, after all)
    out.exists(_.getAs[String]("ids_str").split(",").contains("1")) shouldBe true
  }

  test("line dedup: segment totals reconcile with doc lengths, ratios consistent") {
    val d = sf("sf0.001")
    val out = Curation.extLineDedup(spark, d).collect()
    out.foreach { r =>
      val nSeg = r.getAs[Long]("n_seg"); val nKept = r.getAs[Long]("n_kept")
      nKept should be <= nSeg
      r.getAs[Double]("keep_ratio") shouldBe nKept.toDouble / nSeg
    }
    // Σ n_seg over docs = Σ ceil(words/8) computed directly
    val want = Tables.documents(spark, d)
      .select(((expr("size(split(text, ' '))") + 7) / 8).cast("long"))
      .collect().map(_.getLong(0)).sum
    assert(out.map(_.getAs[Long]("n_seg")).sum == want)
    // the corpus has exact-duplicate families ≥3, so some segment must
    // be flagged as boilerplate somewhere
    out.exists(r => r.getAs[Long]("n_kept") < r.getAs[Long]("n_seg")) shouldBe true
  }

  test("token budget: greedy fill never exceeds budget and is maximal") {
    val out = graft.ops.Sampling.extTokenBudget(spark, sf("sf0.001")).collect()
    out.length shouldBe 20
    out.foreach { r =>
      r.getAs[Long]("tokens_kept") should be <= 800L
      r.getAs[Long]("n_kept") should be <= r.getAs[Long]("n_docs")
      r.getAs[Long]("n_kept") should be >= 1L
      r.getAs[Double]("budget_util") shouldBe
        r.getAs[Long]("tokens_kept").toDouble / 800.0
    }
  }

  test("ewma: first row equals its daily total, later rows stay in the trailing envelope") {
    val d = sf("sf0.001")
    val rows = graft.ops.Windows.winEwma(spark, d).collect()
      .groupBy(_.getAs[String]("event_type"))
    rows.values.foreach { series =>
      val s = series.sortBy(_.getAs[java.sql.Date]("day").toString)
      s.head.getAs[Double]("ewma") shouldBe s.head.getAs[Double]("daily_total")
      s.zipWithIndex.foreach { case (r, i) =>
        val window = s.slice(math.max(0, i - 6), i + 1)
          .map(_.getAs[Double]("daily_total"))
        val e = r.getAs[Double]("ewma")
        e should be >= window.min - 1e-9
        e should be <= window.max + 1e-9
      }
    }
  }

  test("cumulative distinct users: monotone, ends at the exact distinct count") {
    val d = sf("sf0.001")
    val out = graft.ops.Windows.winCumeDistinct(spark, d).collect()
      .groupBy(_.getAs[String]("event_type"))
    val want = Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (tpe, series) =>
      val s = series.sortBy(_.getAs[java.sql.Date]("day").toString)
        .map(_.getAs[Long]("cum_users"))
      s.zip(s.tail).foreach { case (a, b) => b should be >= a }
      s.last shouldBe want(tpe)
    }
  }

  test("unpivot: melt inverts to the wide aggregate") {
    val d = sf("sf0.001")
    val out = graft.ops.Extras.fnUnpivot(spark, d).collect()
    out.groupBy(_.getString(0)).values.foreach(_.length shouldBe 3)
    val byKey = out.map(r =>
      (r.getString(0), r.getString(1)) -> r.getAs[Double]("value")).toMap
    val direct = Tables.lineitem(spark, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    direct.foreach { case (flag, n) =>
      byKey((flag, "n")) shouldBe n.toDouble
    }
  }

  test("bitmap distinct: per-type and or-merged totals equal exact COUNT(DISTINCT)") {
    val d = sf("sf0.001")
    val out = graft.ops.Advanced.aggBitmapDistinct(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_users")).toMap
    val want = Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    want.foreach { case (tpe, n) => out(tpe) shouldBe n }
    out("__all__") shouldBe
      Tables.events(spark, d).select(col("user_id")).distinct().count()
    // the or-merge can only deduplicate across types, never inflate
    out("__all__") should be <= want.values.sum
  }

  test("moving median: equals a direct trailing-7 median of the daily totals") {
    val d = sf("sf0.001")
    val series = graft.ops.Windows.winMovingMedian(spark, d).collect()
      .groupBy(_.getAs[String]("event_type"))
    series.values.foreach { rows =>
      val s = rows.sortBy(_.getAs[java.sql.Date]("day").toString)
      // replay in the exact cent domain the operator computes in — a
      // double replay of (a+b)/2 on the /100 values is the lossy path
      val cents = s.map(r => math.round(r.getAs[Double]("daily_total") * 100))
      s.zipWithIndex.foreach { case (r, i) =>
        val frame = cents.slice(math.max(0, i - 6), i + 1).sorted
        val n = frame.length
        val want = (if (n % 2 == 1) frame(n / 2).toDouble
                    else (frame(n / 2 - 1) + frame(n / 2)) / 2.0) / 100.0
        r.getAs[Double]("med7") shouldBe want
      }
    }
  }

  test("geo grid join: identical pair set to an all-pairs cross join") {
    val d = sf("sf0.001")
    val out = graft.ops.Joins.joinGeoGrid(spark, d).collect()
      .map(r => (r.getAs[Long]("key_a"), r.getAs[Long]("key_b"),
                 r.getAs[Long]("dist2"))).toSet
    out.foreach { case (a, b, d2) =>
      a should be < b
      d2 should be <= 100000000L
    }
    // brute force on the same derived points (fine at 150 customers)
    val pts = Tables.customer(spark, d)
      .select(col("c_custkey").as("key"),
        pmod(graft.ops.Dedup.hash60(
          concat(lit("gx|"), col("c_custkey").cast("string"))), lit(1000000L)).as("x"),
        pmod(graft.ops.Dedup.hash60(
          concat(lit("gy|"), col("c_custkey").cast("string"))), lit(1000000L)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (k1, x1, y1) <- pts; (k2, x2, y2) <- pts if k1 < k2
      d2 = (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) if d2 <= 100000000L
    } yield (k1, k2, d2)).toSet
    out shouldBe brute
  }

  test("shard assign: partition of the corpus, 64-bounded ids, deterministic") {
    val d = sf("sf0.001")
    val a = graft.ops.Sampling.extShardAssign(spark, d).collect()
    val b = graft.ops.Sampling.extShardAssign(spark, d).collect()
    a.map(_.toString) shouldBe b.map(_.toString)
    a.foreach { r =>
      r.getAs[Long]("shard_id") should be >= 0L
      r.getAs[Long]("shard_id") should be < 64L
    }
    a.map(_.getAs[Long]("n_docs")).sum shouldBe
      Tables.documents(spark, d).count()
  }

  test("temperature sample: per-source quota is max(1, floor(sqrt(n))) and is met") {
    val out = graft.ops.Sampling.extTemperatureSample(spark, sf("sf0.001")).collect()
    out.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val quota = r.getAs[Long]("quota")
      quota shouldBe math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
      r.getAs[Long]("n_kept") shouldBe math.min(quota, n)
      // flattening: quota grows sublinearly
      quota should be <= n
    }
  }

  test("mixture interleave: dense slots, WFQ virtual times, per-source order preserved") {
    val out = graft.ops.Sampling.extMixtureInterleave(spark, sf("sf0.001")).collect()
    out.map(_.getAs[Int]("slot")).toSeq shouldBe (1 to out.length)
    val pos = out.map(_.getAs[Long]("pos"))
    pos.zip(pos.tail).foreach { case (a, b) => b should be >= a }
    out.foreach { r =>
      r.getAs[Long]("pos") shouldBe
        (r.getAs[Long]("rk") * 840L) / r.getAs[Long]("wt")
    }
    // within a source, docs appear in rank order
    out.groupBy(_.getAs[String]("source")).values.foreach { rows =>
      val rks = rows.sortBy(_.getAs[Int]("slot")).map(_.getAs[Long]("rk"))
      rks.toSeq shouldBe rks.sorted.toSeq
    }
  }

  test("interval merge: event totals reconcile and coverage is bounded by island structure") {
    val d = sf("sf0.001")
    val out = graft.ops.Behavior.winIntervalMerge(spark, d).collect()
    out.map(_.getAs[Long]("n_events")).sum shouldBe
      Tables.events(spark, d).count()
    out.foreach { r =>
      val (nIsl, cov, nEv) = (r.getAs[Long]("n_islands"),
        r.getAs[Long]("covered_sec"), r.getAs[Long]("n_events"))
      nIsl should be >= 1L
      nIsl should be <= nEv
      cov should be >= nIsl * 300L        // each island spans >= one interval
      cov should be <= nEv * 300L         // merging can only shrink coverage
    }
    // replay one user's islands directly
    val uid = out.head.getAs[Long]("user_id")
    val starts = Tables.events(spark, d)
      .where(col("user_id") === uid)
      .select(unix_timestamp(col("ts"))).collect().map(_.getLong(0)).sorted
    var islands = 0L; var covered = 0L
    var curSt = Long.MinValue; var curEn = Long.MinValue
    starts.foreach { st =>
      if (st > curEn) {
        if (islands > 0) covered += curEn - curSt
        islands += 1; curSt = st; curEn = st + 300
      } else curEn = math.max(curEn, st + 300)
    }
    if (islands > 0) covered += curEn - curSt
    out.head.getAs[Long]("n_islands") shouldBe islands
    out.head.getAs[Long]("covered_sec") shouldBe covered
  }

  test("fuzzy blocked join: pairs share the blocking noun and respect the distance cap") {
    val out = graft.ops.Joins.joinFuzzyBlocked(spark, sf("sf0.001")).collect()
    out.length should be > 0
    out.foreach { r =>
      val (a, b) = (r.getAs[String]("name_a"), r.getAs[String]("name_b"))
      a should be < b
      a.split(" ")(1) shouldBe b.split(" ")(1) // same blocking key
      val dist = r.getAs[Int]("dist")
      dist should be > 0
      dist should be <= 4
    }
    // no duplicate unordered pairs
    val pairs = out.map(r => (r.getString(0), r.getString(1)))
    pairs.distinct.length shouldBe pairs.length
  }

  test("quality ablation: unique-fail bounded by fail, constant corpus counters") {
    val d = sf("sf0.001")
    val out = graft.ops.Quality.extQualityAblation(spark, d).collect()
    out.length shouldBe 4
    val nDocs = Tables.documents(spark, d).count()
    out.foreach { r =>
      r.getAs[Long]("n_docs") shouldBe nDocs
      r.getAs[Long]("n_unique_fail") should be <= r.getAs[Long]("n_fail")
    }
    out.map(_.getAs[Long]("n_pass_all")).distinct.length shouldBe 1
    // replay the length filter directly
    val lenFail = Tables.documents(spark, d)
      .where(!(col("n_chars") >= 150 && col("n_chars") <= 450)).count()
    out.find(_.getString(0) == "len").get.getAs[Long]("n_fail") shouldBe lenFail
  }

  test("dataset diff: status counts reconcile with both release sizes") {
    val d = sf("sf0.001")
    val out = graft.ops.Curation.extDatasetDiff(spark, d).collect()
    val byStatus = out.groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    def relSize(ns: String) = Tables.documents(spark, d)
      .where(pmod(graft.ops.Dedup.hash60(
        concat(lit(ns), col("doc_id").cast("string"))), lit(20L)) =!= 0L)
      .count()
    val (v1, v2) = (relSize("rel1|"), relSize("rel2|"))
    byStatus("removed") + byStatus("changed") + byStatus("unchanged") shouldBe v1
    byStatus("added") + byStatus("changed") + byStatus("unchanged") shouldBe v2
  }

  test("drawdown: non-negative, bounded by peak, running max is monotone") {
    val out = graft.ops.Windows.winDrawdown(spark, sf("sf0.001")).collect()
      .groupBy(_.getAs[String]("event_type"))
    out.values.foreach { rows =>
      val s = rows.sortBy(_.getAs[java.sql.Date]("day").toString)
      // replay in exact cents — the operator subtracts BEFORE the /100
      var peak = Long.MinValue; var maxDd = 0L
      s.foreach { r =>
        val c = math.round(r.getAs[Double]("daily_total") * 100)
        peak = math.max(peak, c)
        r.getAs[Double]("peak") shouldBe peak / 100.0
        val dd = peak - c
        r.getAs[Double]("drawdown") shouldBe dd / 100.0
        maxDd = math.max(maxDd, dd)
        r.getAs[Double]("max_drawdown") shouldBe maxDd / 100.0
      }
    }
  }

  test("span corruption: mask accounting consistent and near the 15% gate") {
    val d = sf("sf0.001")
    val out = graft.ops.Curation.extSpanCorruption(spark, d).collect()
    out.length shouldBe Tables.documents(spark, d).count()
    out.foreach { r =>
      val (nTok, nMasked, nSpans) = (r.getAs[Long]("n_tok"),
        r.getAs[Long]("n_masked"), r.getAs[Long]("n_spans"))
      nMasked should be <= nTok
      nSpans should be <= (nMasked + 2) / 3    // each span covers <= 3 tokens
      if (nMasked > 0) nSpans should be >= 1L
      r.getAs[Long]("mask_pm") shouldBe nMasked * 1000 / nTok
    }
    // corpus-level rate converges near 150 permille (hash gate 3/20)
    val pm = out.map(_.getAs[Long]("n_masked")).sum * 1000 /
      out.map(_.getAs[Long]("n_tok")).sum
    pm should be >= 120L
    pm should be <= 180L
  }

  test("cooccur lift: ppm matches the df arithmetic and respects min support") {
    val out = graft.ops.TextAnalysis.extCooccurLift(spark, sf("sf0.001")).collect()
    out.length should be > 0
    out.length should be <= 50
    val n = Tables.documents(spark, sf("sf0.001")).count()
    out.foreach { r =>
      val (dfxy, dfa, dfb) = (r.getAs[Long]("df_xy"),
        r.getAs[Long]("df_a"), r.getAs[Long]("df_b"))
      dfxy should be >= 5L
      dfxy should be <= math.min(dfa, dfb)
      r.getAs[Long]("lift_ppm") shouldBe dfxy * n * 1000000L / (dfa * dfb)
      r.getAs[String]("tok_a") should be < r.getAs[String]("tok_b")
    }
    // descending by lift
    val lifts = out.map(_.getAs[Long]("lift_ppm"))
    lifts.zip(lifts.tail).foreach { case (a, b) => a should be >= b }
  }

  test("percentile disc: results are observed values at the exact integer ranks") {
    val d = sf("sf0.001")
    val out = graft.ops.Aggregates.aggPercentileDisc(spark, d).collect()
    val cents = Tables.orders(spark, d)
      .select(col("o_orderpriority"),
              floor(col("o_totalprice") * 100).cast("long")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    out.foreach { r =>
      val vs = cents(r.getString(0))
      r.getAs[Long]("n_orders") shouldBe vs.length
      val i50 = (vs.length + 1) / 2
      val i90 = (9 * vs.length + 9) / 10
      r.getAs[Double]("p50_price") shouldBe vs(i50 - 1) / 100.0
      r.getAs[Double]("p90_price") shouldBe vs(i90 - 1) / 100.0
    }
  }

  test("epoch plan: shard partition of corpus, packing identities hold") {
    val d = sf("sf0.001")
    val out = graft.ops.Sampling.extEpochPlan(spark, d).collect()
    out.map(_.getAs[Long]("n_docs")).sum shouldBe
      Tables.documents(spark, d).count()
    out.foreach { r =>
      val (nTok, nSeqs) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_seqs"))
      nSeqs shouldBe (nTok - 1) / 512 + 1
      r.getAs[Long]("util_pm") shouldBe nTok * 1000 / (nSeqs * 512)
      // at most one doc straddles each sequence boundary
      r.getAs[Long]("n_straddlers") should be <= nSeqs
    }
  }

  test("triangle count: intersection spelling matches a brute-force replay") {
    val d = sf("sf0.001")
    val out = graft.ops.Clustering.extTriangleCount(spark, d).collect().head
    // brute force on the same edge derivation
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val edges = li.values.flatMap { pks =>
      for (i <- pks.indices; j <- (i + 1) until pks.length)
        yield (pks(i), pks(j))
    }.toSet
    val undirected = edges ++ edges.map { case (a, b) => (b, a) }
    val nbrs = undirected.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap.withDefaultValue(Set.empty[Long])
    val tri = edges.toSeq.map { case (a, b) =>
      (nbrs(a) intersect nbrs(b)).count(c => c > b) // a < b < c once each
    }.sum
    out.getAs[Long]("n_edges") shouldBe edges.size
    out.getAs[Long]("n_triangles") shouldBe tri
  }

  test("linear interp: gap values lie on the segment between bracketing observations") {
    val out = graft.ops.Windows.winLinearInterp(spark, sf("sf0.001")).collect()
      .groupBy(_.getAs[String]("event_type"))
    out.values.foreach { rows =>
      val s = rows.sortBy(_.getAs[java.sql.Date]("day").toString)
      s.head.getAs[Boolean]("observed") shouldBe true  // endpoints observed
      s.last.getAs[Boolean]("observed") shouldBe true
      var i = 0
      while (i < s.length) {
        if (!s(i).getAs[Boolean]("observed")) {
          val lo = (i - 1 to 0 by -1).find(s(_).getAs[Boolean]("observed")).get
          val hi = (i + 1 until s.length).find(s(_).getAs[Boolean]("observed")).get
          val (vl, vh) = (s(lo).getAs[Double]("value"), s(hi).getAs[Double]("value"))
          val v = s(i).getAs[Double]("value")
          v should be >= math.min(vl, vh) - 1e-9
          v should be <= math.max(vl, vh) + 1e-9
          // exact linear form
          val expect = vl + (vh - vl) * (i - lo).toDouble / (hi - lo).toDouble
          v shouldBe expect +- 1e-6
        }
        i += 1
      }
    }
  }

  test("dedup sweep: monotone dial response, matches bounded by candidates") {
    val out = graft.ops.Dedup.extDedupSweep(spark, sf("sf0.001")).collect()
    out.length shouldBe 5
    val nCand = out.map(_.getAs[Long]("n_candidates")).distinct
    nCand.length shouldBe 1 // candidate set is threshold-independent
    val byT = out.sortBy(_.getAs[Long]("threshold_pct"))
      .map(_.getAs[Long]("n_pairs_ge"))
    byT.zip(byT.tail).foreach { case (a, b) => b should be <= a } // monotone
    byT.foreach(_ should be <= nCand.head)
  }

  test("interval overlap join: counts match a brute-force predicate scan") {
    val d = sf("sf0.001")
    val out = graft.ops.Joins.joinIntervalOverlap(spark, d).collect()
    out.length should be > 0
    val events = Tables.events(spark, d)
      .select(unix_timestamp(col("ts"))).collect().map(_.getLong(0))
    out.take(20).foreach { r =>  // spot-check a prefix against brute force
      val day = r.getAs[java.sql.Date]("day")
      val wSt = day.toLocalDate.toEpochDay * 86400L +
        r.getAs[Int]("hour") * 3600L + 600L
      val brute = events.count(st => st < wSt + 900 && st + 300 > wSt)
      r.getAs[Long]("n_overlap") shouldBe brute
    }
  }

  test("rolling MAD: yardstick stays put under a spike, flags are exact comparisons") {
    val out = graft.ops.Windows.winRollingMad(spark, sf("sf0.001")).collect()
    out.foreach { r =>
      val (total, med, mad) = (r.getAs[Double]("daily_total"),
        r.getAs[Double]("med7"), r.getAs[Double]("mad7"))
      mad should be >= 0.0
      val dev = math.abs(total - med)
      // flag direction, with slack for the /100 presentation divide
      if (r.getAs[Boolean]("is_anomaly")) dev should be >= 3 * mad - 1e-6
      else dev should be <= 3 * mad + 1e-6
    }
    // some anomalies exist and they are a minority
    val n = out.count(_.getAs[Boolean]("is_anomaly"))
    n should be > 0
    n should be < out.length / 2
  }

  test("hapax rate: token totals reconcile, permille matches the integer divide") {
    val d = sf("sf0.001")
    val out = graft.ops.TextAnalysis.extHapaxRate(spark, d).collect()
    out.map(_.getAs[Long]("n_tokens")).sum shouldBe
      Tables.documents(spark, d)
        .select(org.apache.spark.sql.functions.size(split(col("text"), " "))).collect().map(_.getInt(0).toLong).sum
    out.foreach { r =>
      r.getAs[Long]("n_hapax") should be <= r.getAs[Long]("n_tokens")
      r.getAs[Long]("hapax_pm") shouldBe
        r.getAs[Long]("n_hapax") * 1000 / r.getAs[Long]("n_tokens")
    }
  }

  test("vocab growth: cumulative curves are monotone and end at corpus totals") {
    val d = sf("sf0.001")
    val out = graft.ops.TextAnalysis.extVocabGrowth(spark, d).collect()
      .sortBy(_.getAs[Long]("bucket"))
    val toks = out.map(_.getAs[Long]("cum_tokens"))
    val vocab = out.map(_.getAs[Long]("cum_vocab"))
    toks.zip(toks.tail).foreach { case (a, b) => b should be > a }
    vocab.zip(vocab.tail).foreach { case (a, b) => b should be >= a }
    val docs = Tables.documents(spark, d)
    toks.last shouldBe docs
      .select(org.apache.spark.sql.functions.size(split(col("text"), " "))).collect().map(_.getInt(0).toLong).sum
    vocab.last shouldBe docs
      .select(explode(split(col("text"), " "))).distinct().count()
    // sublinear growth: vocabulary grows slower than token mass
    vocab.last.toDouble / vocab.head should be <
      toks.last.toDouble / toks.head
  }

  test("HHI: bounded by [1/n_users, 1] in ppm and exact on a direct replay") {
    val d = sf("sf0.001")
    val out = graft.ops.Aggregates.aggHhi(spark, d).collect()
    val counts = Tables.events(spark, d)
      .groupBy(col("event_type"), col("user_id")).count().collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val tpe = r.getString(0)
      val cs = counts(tpe).map(_.getLong(2))
      val n = cs.sum
      val hhi = cs.map(c => c * c).sum * 1000000L / (n * n)
      r.getAs[Long]("hhi_ppm") shouldBe hhi
      r.getAs[Long]("hhi_ppm") should be >= 1000000L / r.getAs[Long]("n_users")
      r.getAs[Long]("hhi_ppm") should be <= 1000000L
    }
  }

  test("asof tolerance: subset of true as-of, stale matches nulled, verdict consistent") {
    val d = sf("sf0.001")
    import java.time.LocalDateTime
    val tol = graft.ops.Joins.joinAsofTolerance(spark, d).collect()
    val full = graft.ops.Joins.joinAsofTrue(spark, d).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[LocalDateTime]("obs_ts"))).toMap
    var stale = 0
    tol.foreach { r =>
      val eid = r.getAs[Long]("event_id")
      val fresh = r.getAs[Boolean]("within_tolerance")
      val obsTs = Option(r.getAs[LocalDateTime]("obs_ts"))
      if (fresh) {
        obsTs shouldBe full(eid) // fresh matches agree with the true as-of
        val age = java.time.Duration.between(
          obsTs.get, r.getAs[LocalDateTime]("ts")).getSeconds
        age should be <= 3600L
      } else {
        obsTs shouldBe None
        if (full(eid).isDefined) stale += 1 // true-asof matched, too old here
      }
    }
    stale should be > 0 // the tolerance actually rejects something
  }

  test("value-range frame: band members verified by a direct scan") {
    val d = sf("sf0.001")
    val out = graft.ops.Windows.winValueRange(spark, d).collect()
    val byPrio = out.groupBy(_.getAs[String]("o_orderpriority"))
    byPrio.values.foreach { rows =>
      val prices = rows.map(r => math.round(r.getAs[Double]("price") * 100))
      rows.take(10).foreach { r =>
        val c = math.round(r.getAs[Double]("price") * 100)
        val band = prices.filter(p => p >= c - 500000 && p <= c + 500000)
        r.getAs[Long]("n_band") shouldBe band.length
        math.round(r.getAs[Double]("band_total") * 100) shouldBe band.sum
      }
    }
  }

  test("pivot multi: wide cells reconcile with the long-form aggregate") {
    val d = sf("sf0.001")
    val out = graft.ops.Extras.aggPivotMulti(spark, d).collect()
    val long = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    out.foreach { r =>
      val f = r.getString(0)
      r.getAs[Long]("f_n") shouldBe long.getOrElse((f, "F"), 0L)
      r.getAs[Long]("o_n") shouldBe long.getOrElse((f, "O"), 0L)
    }
  }

  test("token fertility: ratio matches the integer divide, langs differ") {
    val out = graft.ops.TextAnalysis.extTokenFertility(spark, sf("sf0.001")).collect()
    out.length should be >= 2
    out.foreach { r =>
      r.getAs[Long]("chars_per_token_c") shouldBe
        r.getAs[Long]("n_chars") * 100 / r.getAs[Long]("n_bpe_tokens")
      r.getAs[Long]("chars_per_token_c") should be >= 100L // >= 1 char/token
    }
  }

  test("try_cast: non-numerics and overflow null, digits and valid dates parse") {
    val out = graft.ops.Scalars.fnTryCast(spark, sf("sf0.001")).collect()
    out.foreach { r =>
      r.isNullAt(r.fieldIndex("name_as_int")) shouldBe true    // has letters
      r.isNullAt(r.fieldIndex("digits_as_int")) shouldBe false // pure digits
      r.isNullAt(r.fieldIndex("overflow_as_int")) shouldBe true // > 2^31
      val month = r.getAs[Long]("c_custkey") % 13 + 1
      r.isNullAt(r.fieldIndex("maybe_date")) shouldBe (month == 13)
    }
  }

  test("multi-distinct: plan uses Expand, results match independent distincts") {
    val d = sf("sf0.001")
    val df = graft.ops.Aggregates.aggMultiDistinct(spark, d)
    val out = df.collect()
    df.queryExecution.executedPlan.toString should include("Expand")
    val ev = Tables.events(spark, d)
    out.foreach { r =>
      val tpe = r.getString(0)
      r.getAs[Long]("n_users") shouldBe
        ev.where(col("event_type") === tpe).select("user_id").distinct().count()
      r.getAs[Long]("n_user_days") should be >= r.getAs[Long]("n_days")
      r.getAs[Long]("n_user_days") should be <=
        r.getAs[Long]("n_users") * r.getAs[Long]("n_days")
    }
  }

  test("cusum: statistic returns to zero at series end, peak flag marks the max") {
    val rows = graft.ops.Windows.winCusum(spark, sf("sf0.001")).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      // C'_n = n*T - n*T = 0 by construction — a failed zero means the
      // integer identity broke somewhere
      rs.last.getAs[Long]("cusum_scaled") shouldBe 0L
      val peak = rs.map(r => math.abs(r.getAs[Long]("cusum_scaled"))).max
      rs.filter(_.getAs[Boolean]("is_peak"))
        .map(r => math.abs(r.getAs[Long]("cusum_scaled"))).toSet shouldBe Set(peak)
    }
  }

  test("bpe pairs: top-50 adjacent letter pairs, counts non-increasing") {
    val rows = graft.ops.TextAnalysis.extBpePairs(spark, sf("sf0.001")).collect()
    rows.length shouldBe 50
    rows.foreach(_.getString(0) should fullyMatch regex "[a-z]{2}")
    rows.map(_.getString(0)).distinct.length shouldBe 50
    val counts = rows.map(_.getAs[Long]("n"))
    counts.zip(counts.tail).foreach { case (a, b) => a should be >= b }
    // independent recount of the #1 pair straight off the text
    val top = rows.head
    val occ = graft.Tables.documents(spark, sf("sf0.001"))
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .select(sum(
        when(org.apache.spark.sql.functions.length(col("w")) >= 2,
          org.apache.spark.sql.functions.size(
            expr(s"filter(sequence(1, length(w) - 1), " +
              s"i -> substring(w, i, 2) = '${top.getString(0)}')"))
        ).otherwise(0)).cast("long"))
      .first().getLong(0)
    // text words are space-separated alphanumerics; the regex-word count
    // can only exceed the space-split count (punctuation splits words)
    occ should be <= top.getAs[Long]("n")
  }

  test("pq recall: full candidate coverage, recall in [0,1] per query") {
    val rows = graft.ops.Similarity.extPqRecall(spark, sf("sf0.001")).collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      // PQ scores every candidate — both lists are always full top-5
      r.getAs[Long]("n_bf") shouldBe 5L
      r.getAs[Long]("n_ann") shouldBe 5L
      val rec = r.getAs[Double]("recall_at_5")
      rec should (be >= 0.0 and be <= 1.0)
      rec shouldBe r.getAs[Long]("n_overlap").toDouble / 5.0
    }
  }

  test("hybrid rank: RRF points are exact integer micropoints of the two ranks") {
    val rows = graft.ops.Similarity.extHybridRank(spark, sf("sf0.001")).collect()
    rows.length should be <= 10
    rows.foreach { r =>
      def pts(i: Int): Long =
        if (r.isNullAt(i)) 0L else 1000000L / (60L + r.getInt(i))
      r.getAs[Long]("rrf_points") shouldBe
        pts(r.fieldIndex("sparse_rank")) + pts(r.fieldIndex("dense_rank"))
    }
    // doc 0 is the dense query itself -> cosine 1 -> dense rank 1 -> on top
    val top = rows.head
    top.getAs[Long]("doc_id") shouldBe 0L
    top.getInt(top.fieldIndex("dense_rank")) shouldBe 1
  }

  test("winnowing: shared counts bounded by totals, permille formula holds") {
    val rows = graft.ops.Dedup.extWinnowing(spark, sf("sf0.001")).collect()
    rows.length shouldBe 500
    rows.foreach { r =>
      val (nFp, nShared) = (r.getAs[Long]("n_fp"), r.getAs[Long]("n_shared"))
      nFp should be > 0L
      nShared should be <= nFp
      r.getAs[Long]("shared_pm") shouldBe nShared * 1000 / nFp
    }
  }

  test("set ops all: intersect-all row count equals sum of min multiplicities") {
    val d = sf("sf0.001")
    val out = graft.ops.Extras.setOpsAll(spark, d).collect()
    val o = Tables.orders(spark, d)
    val hi = o.filter(col("o_totalprice") > 150000d)
      .groupBy("o_custkey", "o_orderpriority").count().withColumnRenamed("count", "m")
    val early = o.filter(year(col("o_orderdate")) <= 1997)
      .groupBy("o_custkey", "o_orderpriority").count().withColumnRenamed("count", "n")
    val expected = hi.join(early, Seq("o_custkey", "o_orderpriority"))
      .select(least(col("m"), col("n")).as("k"))
      .agg(sum("k")).first().getLong(0)
    out.filter(_.getString(0) == "intersect_all").map(_.getAs[Long]("n_rows")).sum shouldBe expected
  }

  test("sliding window: every event lands in exactly two 2h/1h windows") {
    val d = sf("sf0.001")
    val out = graft.ops.Streaming.queries("stream_sliding_agg")(spark, d).collect()
    val total = Tables.events(spark, d).count()
    out.map(_.getAs[Long]("n_events")).sum shouldBe total * 2
  }

  test("bloom dedup: zero false negatives, flag decomposition holds") {
    val r = graft.ops.Dedup.extBloomDedup(spark, sf("sf0.001")).first()
    r.getAs[Long]("n_missed") shouldBe 0L // the Bloom contract
    r.getAs[Long]("n_flagged") shouldBe
      r.getAs[Long]("n_true_dup") + r.getAs[Long]("n_false_pos")
    r.getAs[Long]("n_new") shouldBe 100L
  }

  test("decile stats: 10 deciles per priority covering every order, sizes within 1") {
    val d = sf("sf0.001")
    val rows = graft.ops.Aggregates.aggDecileStats(spark, d).collect()
    val total = Tables.orders(spark, d).count()
    rows.map(_.getAs[Long]("n_orders")).sum shouldBe total
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      rs.map(_.getInt(1)).sorted.toSeq shouldBe (1 to 10)
      val sizes = rs.map(_.getAs[Long]("n_orders"))
      (sizes.max - sizes.min) should be <= 1L
      // deciles are value-ordered: max of decile k <= min of decile k+1
      val byDecile = rs.sortBy(_.getInt(1))
      byDecile.zip(byDecile.tail).foreach { case (a, b) =>
        a.getAs[Double]("max_price") should be <= b.getAs[Double]("min_price")
      }
    }
  }

  test("stream left-outer interval join: inner pairs preserved, nulls only past watermark") {
    val d = sf("sf0.001")
    val out = graft.ops.Streaming.queries("stream_interval_left_join")(spark, d)
      .collect()
    val ev = Tables.events(spark, d)
    val inner = ev.filter(col("event_type") === "click").alias("c")
      .join(ev.filter(col("event_type") === "purchase").alias("p"),
        col("c.user_id") === col("p.user_id") &&
        col("p.ts") >= col("c.ts") &&
        col("p.ts") <= col("c.ts") + expr("INTERVAL 30 MINUTES"))
      .count()
    out.count(!_.isNullAt(2)) shouldBe inner
    // null-extended rows exist and carry no purchase timestamp either
    val nulls = out.filter(_.isNullAt(2))
    nulls.foreach(_.isNullAt(4) shouldBe true)
  }

  test("asof forward: next_ts is never before the event, matches >= semantics") {
    val d = sf("sf0.001")
    val rows = graft.ops.Joins.joinAsofForward(spark, d).collect()
    rows.length shouldBe Tables.events(spark, d).count()
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val ts = r.getAs[java.time.LocalDateTime]("ts")
      val nx = r.getAs[java.time.LocalDateTime]("next_ts")
      nx.isBefore(ts) shouldBe false
    }
  }

  test("sweep concurrency: peak bounded by interval count, positive at every type") {
    val d = sf("sf0.001")
    val rows = graft.ops.Windows.winSweepConcurrency(spark, d).collect()
    val byType = Tables.events(spark, d).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val t = r.getString(0)
      r.getAs[Long]("n_intervals") shouldBe byType(t)
      r.getAs[Long]("max_concurrent") should be >= 1L
      r.getAs[Long]("max_concurrent") should be <= byType(t)
    }
  }

  test("array HOFs: fold/zip/sort agree with a driver-side replay") {
    val rows = graft.ops.JsonArray.fnArrayOps2(spark, sf("sf0.001"))
      .limit(50).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("event_id")
      val arr = (1 to 10).map(i => (id * i) % 7)
      r.getAs[Int]("n_even") shouldBe arr.count(_ % 2 == 0)
      r.getAs[Boolean]("has_five") shouldBe arr.contains(5)
      r.getAs[Boolean]("all_lt7") shouldBe true // mod 7 is always < 7
      r.getAs[Long]("folded") shouldBe arr.foldLeft(0L)((a, x) => a * 2 + x)
      r.getAs[String]("sorted_desc") shouldBe
        arr.sorted.reverse.mkString(",")
      r.getAs[Long]("zip_sum") shouldBe
        arr.zip(arr.reverse).map { case (x, y) => x + y }.sum
    }
  }

  test("welch t-test: symmetric under group swap, df between min and sum of dfs") {
    val r = graft.ops.Aggregates.aggTtest(spark, sf("sf0.001")).first()
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    n1 should be > 1L; n2 should be > 1L
    val df = r.getAs[Double]("welch_df")
    df should be >= math.min(n1 - 1, n2 - 1).toDouble
    df should be <= (n1 + n2 - 2).toDouble
  }

  test("mv merge: incremental path equals direct recompute") {
    val d = sf("sf0.001")
    val merged = graft.ops.Curation.extMvMerge(spark, d).collect()
    val direct = Tables.documents(spark, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars").cast("long")).as("n_chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    merged.foreach { r =>
      val (nd, nc) = direct(r.getString(0))
      r.getAs[Long]("n_docs") shouldBe nd
      r.getAs[Long]("n_chars") shouldBe nc
    }
  }

  test("embed audit: uniform dims, no degenerate vectors in the fixture") {
    val r = graft.ops.Similarity.extEmbedAudit(spark, sf("sf0.001")).first()
    r.getAs[Long]("n_dims") shouldBe 1L
    r.getAs[Int]("dim_min") shouldBe 64
    r.getAs[Long]("n_degenerate") shouldBe 0L
    r.getAs[Double]("min_sq_norm") should be > 0.0
    r.getAs[Double]("avg_sq_norm") should be >= r.getAs[Double]("min_sq_norm")
    r.getAs[Double]("avg_sq_norm") should be <= r.getAs[Double]("max_sq_norm")
  }

  test("benford: nine digits, ppm shares sum near 1e6, pinned expectations") {
    val rows = graft.ops.Aggregates.aggBenford(spark, sf("sf0.001")).collect()
    rows.map(_.getInt(0)).sorted.toSeq shouldBe (1 to 9)
    val obsSum = rows.map(_.getAs[Long]("obs_ppm")).sum
    obsSum should (be >= 999990L and be <= 1000000L) // floor-div slack
    rows.map(_.getAs[Long]("benford_ppm")).sum shouldBe 999995L
  }

  test("fuzz regressions: regex extract tolerates a no-match document; " +
       "benford drops sub-1 and negative prices instead of throwing") {
    import spark.implicits._
    // fuzz seed 42: a corpus whose words are all < 5 chars left
    // regexp_extract_all empty and ANSI element_at threw — try_element_at
    // must fall through to '' (the oracle's NULL-coalesce semantics)
    val dir = SparkSpec.scratch("fuzzreg")
    Seq((0L, "the fast key", "en", "s", 12L),
        (1L, "substantial vocabulary here", "en", "s", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rx = graft.ops.Scalars.fnRegexExtract(spark, dir).collect()
    rx.map(r => r.getLong(0) -> r.getAs[String]("first_long")).toMap shouldBe
      Map(0L -> "", 1L -> "substantial")
    // benford: digit 0 (price < 1) and '-' (negative) must be DROPPED —
    // the oracle inner-joins digits 1..9 — not crash the ANSI map lookup
    Seq((0L, 0L, "O", 0.42, new java.sql.Timestamp(0L), "1-URGENT"),
        (1L, 0L, "O", -815.0, new java.sql.Timestamp(0L), "5-LOW"),
        (2L, 0L, "O", 7310.0, new java.sql.Timestamp(0L), "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val bf = graft.ops.Aggregates.aggBenford(spark, dir).collect()
    bf.map(_.getInt(0)).toSeq shouldBe Seq(7)
    bf.head.getAs[Long]("n") shouldBe 1L
    // the ppm denominator must also be post-filter (1 surviving order →
    // 1000000 ppm); a total over the dropped digit-0/NULL groups would
    // read 333333 — the oracle now applies the same WHERE before t
    bf.head.getAs[Long]("obs_ppm") shouldBe 1000000L
    // outlier z-score: a SINGLE-order priority group has undefined sample
    // stddev — must report NULL (stddev_samp contract, = the oracle's
    // CASE/DuckDB NULL), not throw ANSI DIVIDE_BY_ZERO (fuzz seed 101)
    val oz = graft.ops.Aggregates.aggOutlierZscore(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    oz("1-URGENT").getAs[Long]("n_orders") shouldBe 1L
    oz("1-URGENT").isNullAt(
      oz("1-URGENT").fieldIndex("stddev_price")) shouldBe true
    oz("1-URGENT").getAs[Long]("n_outliers") shouldBe 0L
    // triangle count: a wedge-free graph (each order touches ≤ 2 parts,
    // all pairs distinct) must report 0, not a NULL bare-sum (seed 101)
    Seq((0L, 10L, 0L, 1, 5.0, 100.0, 0.0, 0.0, "N", "O",
         new java.sql.Timestamp(0L)),
        (0L, 11L, 0L, 2, 5.0, 100.0, 0.0, 0.0, "N", "O",
         new java.sql.Timestamp(0L)),
        (1L, 12L, 0L, 1, 5.0, 100.0, 0.0, 0.0, "R", "O",
         new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val tc = graft.ops.Clustering.extTriangleCount(spark, dir).first()
    tc.getAs[Long]("n_edges") shouldBe 1L
    tc.getAs[Long]("n_triangles") shouldBe 0L
    // stddev: the single-row "R" group must report NULL sample stddev
    // (stddev_samp contract), not throw on /(n-1)=0 (fuzz seed 209)
    val sd = graft.ops.Aggregates.aggStddev(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    sd("R").isNullAt(sd("R").fieldIndex("sd_qty")) shouldBe true
    sd("N").getAs[Double]("sd_qty") shouldBe 0.0
    // corr/skewness: a single-event group and a constant-value group
    // have zero variance — both must report NULL (DuckDB's /0 NULL),
    // not throw ANSI DIVIDE_BY_ZERO (fuzz seed 200, 20-event corpus)
    def ev(id: Long, h: Int, et: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"),
       0L, et, v, """{"k": 1}""")
    Seq(ev(0, 1, "signup", 42.0),                       // n=1 group
        ev(1, 2, "click", 5.0), ev(2, 7, "click", 5.0), // constant value
        ev(3, 3, "view", 1.0), ev(4, 9, "view", 8.0),   // varying group
        ev(5, 17, "view", 4.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val cr = graft.ops.Aggregates.aggCorr(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    cr("signup").isNullAt(cr("signup").fieldIndex("corr_value_hour")) shouldBe true
    cr("click").isNullAt(cr("click").fieldIndex("corr_value_hour")) shouldBe true
    cr("view").isNullAt(cr("view").fieldIndex("corr_value_hour")) shouldBe false
    val sk = graft.ops.Aggregates.aggSkewness(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    sk("signup").isNullAt(sk("signup").fieldIndex("skewness")) shouldBe true
    sk("click").isNullAt(sk("click").fieldIndex("skewness")) shouldBe true
    sk("view").isNullAt(sk("view").fieldIndex("skewness")) shouldBe false
    // Welch t-test: the click side above is 2 tied values (zero
    // variance) and there are NO purchase events (n=0, NULL moments) —
    // the undefined statistics must surface as NULL t/df/mean2, not an
    // ANSI throw on /(n·(n−1))=0 or /0 denominators (fuzz seed 303)
    val tt = graft.ops.Aggregates.aggTtest(spark, dir).first()
    tt.getAs[Long]("n1") shouldBe 2L
    tt.getAs[Long]("n2") shouldBe 0L
    tt.getAs[Double]("mean1") shouldBe 5.0
    tt.isNullAt(tt.fieldIndex("mean2")) shouldBe true
    tt.isNullAt(tt.fieldIndex("t_stat")) shouldBe true
    tt.isNullAt(tt.fieldIndex("welch_df")) shouldBe true
    // KS test on the same zero-purchase corpus: n1·n2 = 0 must NULL
    // the statistic (DuckDB // semantics), not throw (fuzz seed 451)
    val ks = graft.ops.Aggregates.aggKsTest(spark, dir).first()
    ks.getAs[Long]("n1") shouldBe 2L
    ks.getAs[Long]("n2") shouldBe 0L
    ks.isNullAt(ks.fieldIndex("ks_ppm")) shouldBe true
  }

  test("fuzz regression (seed 700): constant non-dyadic values cancel to " +
       "-eps variance under the double cast — stddev/zscore must clamp, " +
       "not throw or NaN") {
    import spark.implicits._
    val dir = SparkSpec.scratch("fuzzreg_eps")
    // 999.99^2 = 999980.0001 is not double-exact: with TWO equal prices,
    // sxx_double - sx_double^2/n = -2.3e-10 — mathematically zero.
    // Pre-fix: DuckDB's sqrt(-eps) THREW (Out of Range) and Spark's was
    // NaN; post-fix both clamp to exactly 0.0.
    def li(o: Long, ln: Int) =
      (o, 0L, 0L, ln, 5.0, 999.99, 0.0, 0.0, "N", "O",
       java.sql.Timestamp.valueOf("1995-06-04 00:00:00"))
    Seq(li(0, 1), li(1, 1))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val sd = graft.ops.Aggregates.aggStddev(spark, dir).first()
    sd.getAs[Double]("sd_price") shouldBe 0.0
    sd.getAs[Double]("sd_qty") shouldBe 0.0
    // the same class in win_rolling_zscore's 7-row window: days of
    // identical 999.99 daily totals. The cancellation can land on
    // EITHER side of zero per window size: -eps is clamped to 0 (std=0,
    // guard false, z6 NULL — pre-fix DuckDB threw here); +eps gives a
    // ~1e-5 std whose numerator is a 0-or-ulp difference, so z6 rounds
    // to 0.0 — IDENTICAL doubles on both engines either way. Assert: no
    // throw, and every non-NULL z6 is exactly 0.0 (a constant series
    // must never read as an outlier).
    def ev(id: Long, day: Int) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 01:00:00"),
       0L, "click", 999.99, """{"k": 1}""")
    Seq(ev(0, 1), ev(1, 2), ev(2, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val z = graft.ops.Windows.winRollingZscore(spark, dir).collect()
    z.length shouldBe 3
    z.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("z6")))
        math.abs(r.getAs[Double]("z6")) shouldBe 0.0
      (r.isNullAt(r.fieldIndex("is_outlier")) ||
        !r.getAs[Boolean]("is_outlier")) shouldBe true
    }
  }

  test("fuzz regression (seed 702, empty-table axis): an EMPTY events " +
       "table yields empty/zero results, not schema-inference throws " +
       "or NULL-vs-0 divergence") {
    import spark.implicits._
    val dir = SparkSpec.scratch("fuzzreg_empty")
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // bitmap distinct: the GLOBAL __all__ row must read 0 (the oracle's
    // COUNT(DISTINCT) of nothing), not SUM-over-no-buckets NULL
    val bd = graft.ops.Advanced.aggBitmapDistinct(spark, dir).collect()
    bd.map(r => r.getString(0) -> r.isNullAt(1)).toMap shouldBe
      Map("__all__" -> false)
    bd.head.getAs[Long]("n_users") shouldBe 0L
    // partition-prune join: writing an empty frame day-partitioned
    // leaves no footers — the read-back must use the staged schema, not
    // throw UNABLE_TO_INFER_SCHEMA
    graft.ops.Joins.joinPartitionPrune(spark, dir).count() shouldBe 0L
    // streaming incremental daily: an empty source drains zero batches
    // and writes nothing — same inference hazard on the sink read-back
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SparkSpec.scratch()), "inc_empty")
    graft.streaming.EventsStream.incrementalDaily(
      spark, dir, s"$base/ckpt", s"$base/out").count() shouldBe 0L
  }

  test("fuzz regressions: negative event values and credit-line prices " +
       "(seed 400) — log/sqrt domains go NULL, modulo stays non-negative") {
    import spark.implicits._
    val dir = SparkSpec.scratch("fuzzreg_neg")
    def ev(id: Long, v: Double) =
      (id, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 0L, "click",
       v, """{"k": 1}""")
    Seq(ev(0, -15.0), ev(1, 0.0), ev(2, -0.18), ev(3, 42.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // fn_exp_log: ln/log10/log2 of a non-positive argument and sqrt-pow of
    // a negative are NULL on both engines (DuckDB would raise, Spark would
    // emit NULL/NaN — the entry pins the portable NULL)
    val el = graft.ops.Scalars.fnExpLog(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    Seq("ln_v", "log10_v", "log2_v", "pow_half").foreach { c =>
      el(0L).isNullAt(el(0L).fieldIndex(c)) shouldBe true
      el(3L).isNullAt(el(3L).fieldIndex(c)) shouldBe false
    }
    el(1L).getAs[Double]("ln_v") shouldBe 0.0
    // fn_map_ops / ext_zorder_audit: floor(value·100) is NEGATIVE here;
    // the bucket must be the non-negative pmod on both engines (DuckDB's
    // native % keeps the dividend's sign — the oracle spells ((x%m)+m)%m)
    def bucket(v: Double, m: Long): Long =
      ((math.floor(v * 100).toLong % m) + m) % m
    val mo = graft.ops.JsonArray.fnMapOps(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    mo(2L).getAs[Long]("c_doubled") shouldBe bucket(-0.18, 10L) * 2
    mo(0L).getAs[Long]("c_doubled") shouldBe bucket(-15.0, 10L) * 2
    val za = graft.ops.Advanced.extZorderAudit(spark, dir).collect()
    za.length should be > 0
    za.foreach { r =>
      r.getAs[Long]("y_min") should be >= 0L
      r.getAs[Long]("y_max") should be <= 255L
    }
    // fn_math: a negative extendedprice (credit line) must yield NULL
    // sqrt_price, not Spark-NaN-vs-DuckDB-error
    Seq((0L, 0L, 0L, 1, 5.0, -815.33, 0.0, 0.0, "N", "O",
         new java.sql.Timestamp(0L)),
        (0L, 1L, 0L, 2, 5.0, 101.0, 0.0, 0.0, "N", "O",
         new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val fm = graft.ops.Scalars.fnMath(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    fm((0L, 1)).isNullAt(fm((0L, 1)).fieldIndex("sqrt_price")) shouldBe true
    fm((0L, 2)).getAs[Double]("sqrt_price") shouldBe
      BigDecimal(math.sqrt(101.0)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("chi-square: full 5x7 grid, chi2 equals sum of rounded contributions") {
    val r = graft.ops.Aggregates.aggChisq(spark, sf("sf0.001")).first()
    r.getAs[Long]("n_types") shouldBe 5L
    r.getAs[Long]("n_dows") shouldBe 7L
    r.getAs[Long]("df") shouldBe 24L
    r.getAs[Double]("chi2") should be >= r.getAs[Double]("max_contrib")
  }

  test("zorder audit: blocks are small boxes, single-dim sort would not be") {
    val rows = graft.ops.Advanced.extZorderAudit(spark, sf("sf0.001")).collect()
    // 64 blocks over a 256x256 space -> each box is at most 32x32
    rows.foreach { r =>
      r.getAs[Long]("x_span") should be <= 31L
      r.getAs[Long]("y_span") should be <= 31L
    }
    // locality claim: total box area is a small fraction of the space
    val area = rows.map(r => (r.getAs[Long]("x_span") + 1) *
                             (r.getAs[Long]("y_span") + 1)).sum
    area should be <= 64L * 32 * 32
  }

  test("map ops: probe/filter/transform agree with a driver-side replay") {
    val rows = graft.ops.JsonArray.fnMapOps(spark, sf("sf0.001"))
      .limit(50).collect()
    rows.foreach { r =>
      r.getAs[Int]("n_keys") shouldBe 3
      r.getAs[String]("keys_csv") shouldBe "a,b,c"
      r.getAs[Long]("val_sum") should be >= r.getAs[Long]("val_b")
      r.getAs[Long]("c_doubled") % 2 shouldBe 0L
    }
  }

  test("time bucket: batch window() buckets partition all events, 15-min aligned") {
    val d = sf("sf0.001")
    val rows = graft.ops.Scalars.fnTimeBucket(spark, d).collect()
    rows.map(_.getAs[Long]("n_events")).sum shouldBe Tables.events(spark, d).count()
    rows.foreach { r =>
      val t = r.getAs[java.time.LocalDateTime]("bucket_start")
      t.getMinute % 15 shouldBe 0
      t.getSecond shouldBe 0
    }
  }

  test("autocorrelation: r in [-1, 1], pair count is days minus one per type") {
    val d = sf("sf0.001")
    val rows = graft.ops.Aggregates.aggAutocorr(spark, d).collect()
    val days = Tables.events(spark, d)
      .select(col("event_type"), to_date(col("ts")).as("day")).distinct()
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      r.getAs[Long]("n_pairs") shouldBe days(r.getString(0)) - 1
      if (!r.isNullAt(2)) {
        val v = r.getAs[Double]("lag1_autocorr")
        v should (be >= -1.0 and be <= 1.0)
      }
    }
  }

  test("rag pack: budget respected, ranks contiguous, scores non-increasing") {
    val rows = graft.ops.Sampling.extRagPack(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.last.getAs[Long]("cum_tok") should be <= 512L
    rows.map(_.getInt(0)).toSeq shouldBe (1 to rows.length)
    val scores = rows.map(_.getAs[Long]("score"))
    scores.zip(scores.tail).foreach { case (a, b) => a should be >= b }
    rows.foreach(_.getAs[Long]("score") should be > 0L)
  }

  test("arg extremes: top user really owns the per-type maximum value") {
    val d = sf("sf0.001")
    val rows = graft.ops.Aggregates.aggArgExtremes(spark, d).collect()
    val ev = Tables.events(spark, d)
    rows.foreach { r =>
      val t = r.getString(0)
      val maxCents = ev.filter(col("event_type") === t)
        .agg(max(floor(col("value") * 100).cast("long"))).first().getLong(0)
      r.getAs[Long]("max_cents") shouldBe maxCents
      // the elected user has at least one event at that exact amount
      ev.filter(col("event_type") === t &&
          col("user_id") === r.getAs[Long]("top_user") &&
          floor(col("value") * 100).cast("long") === maxCents)
        .count() should be >= 1L
    }
  }

  test("ks test: D in [0, 1e6] ppm, zero only if distributions identical") {
    val r = graft.ops.Aggregates.aggKsTest(spark, sf("sf0.001")).first()
    val ks = r.getAs[Long]("ks_ppm")
    ks should (be >= 0L and be <= 1000000L)
    r.getAs[Long]("n1") should be > 0L
    r.getAs[Long]("n2") should be > 0L
  }

  test("chained streaming aggs: daily maxima match batch, last open day held back") {
    val d = sf("sf0.001")
    val out = graft.ops.Streaming.queries("stream_chained_agg")(spark, d).collect()
    out.length should be > 0
    val batch = Tables.events(spark, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(to_date(col("h")).as("day"), col("event_type"))
      .agg(max(col("n")).as("mx"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        r.getAs[Long]("mx")).toMap
    out.foreach { r =>
      r.getAs[Long]("max_hourly") shouldBe
        batch((r.getDate(0).toString, r.getString(1)))
    }
  }

  test("image-frame match: every doc's image appears in its own video (frame 0)") {
    val rows = graft.ops.Multimodal.extImageFrameMatch(spark, sf("sf0.001"))
      .collect()
    rows.length shouldBe 500
    rows.foreach { r =>
      r.getAs[Long]("n_frame_matches") should be >= 1L
      r.getAs[Long]("n_video_matches") should be >= 1L
      r.getAs[Long]("n_frame_matches") should be >=
        r.getAs[Long]("n_video_matches")
    }
  }

  test("range bucket join: buckets partition the events exactly") {
    val d = sf("sf0.001")
    val out = graft.ops.Joins.joinRangeBucket(spark, d).collect()
    out.map(_.getAs[Long]("n_events")).sum shouldBe
      Tables.events(spark, d).count()
    // bands are disjoint and ordered: [lo, hi) with no overlap
    val bands = out.map(r => (r.getAs[Double]("lo"), r.getAs[Double]("hi")))
      .sortBy(_._1)
    bands.zip(bands.tail).foreach { case ((_, hi), (lo2, _)) =>
      lo2 shouldBe hi
    }
  }

  test("asof nearest: chosen |Δt| is minimal over the user's purchase obs") {
    val d = sf("sf0.001")
    val rows = graft.ops.Joins.joinAsofNearest(spark, d).collect()
    rows.length shouldBe Tables.events(spark, d).count().toInt
    // driver-side replay of the candidate set: per (user, ts) purchase obs
    val obs = Tables.events(spark, d)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), col("ts")).distinct().collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime]("ts")))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2) }
    def epoch(t: java.time.LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC)
    rows.foreach { r =>
      if (r.isNullAt(r.fieldIndex("user_id")) ||
          !obs.contains(r.getAs[Long]("user_id"))) {
        r.isNullAt(r.fieldIndex("obs_ts")) shouldBe true
      } else {
        val ts = epoch(r.getAs[java.time.LocalDateTime]("ts"))
        val cands = obs(r.getAs[Long]("user_id")).map(epoch)
        val d0 = r.getAs[Long]("delta_sec")
        d0 should be >= 0L
        d0 shouldBe cands.map(c => math.abs(c - ts)).min
        val ot = epoch(r.getAs[java.time.LocalDateTime]("obs_ts"))
        r.getAs[String]("direction") match {
          case "backward" => ot should be <= ts
          case "forward"  => ot should be > ts
        }
      }
    }
  }

  test("soft dedup: effective count matches a driver replay of Σ 1/k") {
    val d = sf("sf0.001")
    val rows = graft.ops.Dedup.queries("ext_soft_dedup")(spark, d).collect()
    val docs = Tables.documents(spark, d)
      .select(col("source"), sha2(col("text"), 256).as("fp")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val k = docs.groupBy(_._2).map { case (fp, xs) => fp -> xs.length }
    val bySrc = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val grp = bySrc(src)
      r.getAs[Long]("n_docs") shouldBe grp.length.toLong
      r.getAs[Long]("n_singletons") shouldBe
        grp.count { case (_, fp) => k(fp) == 1 }.toLong
      val eff = grp.map { case (_, fp) =>
        BigDecimal(1.0 / k(fp)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      r.getAs[Double]("effective_docs") shouldBe eff.toDouble +- 1e-6
      r.getAs[Double]("dedup_inflation") should be >= 1.0
    }
  }

  test("boilerplate lines: counts are internally consistent per source") {
    val rows = graft.ops.Curation.queries("ext_boilerplate_lines")(
      spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val nSeg = r.getAs[Long]("n_segments")
      val nBoil = r.getAs[Long]("n_boiler_segs")
      val tot = r.getAs[Long]("total_occ")
      val boil = r.getAs[Long]("boiler_occ")
      nBoil should be <= nSeg
      boil should be <= tot
      // a boilerplate segment recurs in ≥3 distinct docs → ≥3 occurrences
      boil should be >= nBoil * 3
      r.getAs[Double]("boiler_frac") shouldBe
        boil.toDouble / tot.toDouble +- 1e-12
    }
  }

  test("hard negatives: labels always differ, cos non-increasing per query") {
    val rows = graft.ops.Similarity.queries("ext_hard_negatives")(
      spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.foreach { r =>
      r.getAs[Int]("qlabel") should !==(r.getAs[Int]("clabel"))
      r.getAs[Int]("rn") should be <= 3
    }
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { grp =>
      val ordered = grp.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cos"))
      ordered.zip(ordered.tail).foreach { case (a, b) => a should be >= b }
    }
  }

  test("nucleus: covers >=90%, and dropping the last member would not") {
    val d = sf("sf0.001")
    val out = graft.ops.TopK.queries("topk_nucleus")(spark, d).collect()
    // driver replay of the per-user cents aggregate
    val byType = Tables.events(spark, d).filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("uc")).collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val t = r.getString(0)
      r.getAs[Long]("nucleus_share_ppm") should be >= 900000L
      val sorted = byType(t)
        .map(x => (x.getAs[Long]("uc"), x.getAs[Long]("user_id")))
        .sortBy { case (c, u) => (-c, u) }
      val totC = sorted.map(_._1).sum
      val k = r.getAs[Long]("n_nucleus").toInt
      k should be <= sorted.length
      // minimality: the k-prefix covers >=90% but the (k-1)-prefix doesn't
      (sorted.take(k).map(_._1).sum * 10) should be >= totC * 9
      if (k > 1) (sorted.take(k - 1).map(_._1).sum * 10) should be < totC * 9
    }
  }

  test("domain reweight: shares sum to ~1e6, weights invert the shares") {
    val rows = graft.ops.Sampling.queries("ext_domain_reweight")(
      spark, sf("sf0.001")).collect()
    val nsrc = rows.length
    val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
    shareSum should be <= 1000000L
    shareSum should be >= (1000000L - nsrc)
    rows.foreach { r =>
      val share = r.getAs[Long]("share_ppm"); val w = r.getAs[Long]("weight_ppm")
      // weight ≈ 1e6/(nsrc·share/1e6): the product share·w·nsrc ≈ 1e12
      (share * w * nsrc).toDouble shouldBe 1e12 +- 2e10
      r.getAs[Long]("epochs_x100") shouldBe w * 100 / 1000000 +- 1
    }
  }

  test("quality-dup profile: planted dups land in the replayed grades with " +
       "exact incidence") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog while " +
      "seventeen other animals watch from a nearby hill in the warm " +
      "afternoon sunshine of a quiet rural summer day outside town"
    val junk = (1 to 40).map(_ => "0000").mkString(" ")
    val texts = Seq(good, good, good, junk, junk,
      "one short unique line", good + " with a unique tail marker")
    val dir = SparkSpec.scratch("quality_dup")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Scala replay of the four predicates -> expected per-grade profile
    def grade(t: String): Long = {
      val nChars = t.length.toLong
      val tk = t.split(" ", -1); val nTok = tk.length.toLong
      val nDtok = tk.distinct.length.toLong
      val letters = t.count(_.isLetter).toLong
      Seq(nChars >= 150 && nChars <= 450,
          letters * 10 >= nChars * 6,
          nDtok * 10 >= nTok * 3,
          nChars - nTok + 1 <= nTok * 12).count(identity).toLong
    }
    val copies = texts.groupBy(identity).view.mapValues(_.size).toMap
    val expected = texts.map(t => (grade(t), t)).groupBy(_._1).map {
      case (g, docs) =>
        val nTokOf = (t: String) => t.split(" ", -1).length.toLong
        val nDocs = docs.size.toLong
        val dups = docs.count { case (_, t) => copies(t) > 1 }.toLong
        val toks = docs.map { case (_, t) => nTokOf(t) }.sum
        val dupToks = docs.collect {
          case (_, t) if copies(t) > 1 => nTokOf(t) }.sum
        g -> ((nDocs, dups, dups * 1000000L / nDocs, toks,
               dupToks * 1000000L / math.max(toks, 1L)))
    }
    val got = graft.ops.Quality.extQualityDupProfile(spark, dir).collect()
      .map(r => r.getAs[Long]("grade") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("dup_ppm"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("dup_tok_ppm")))).toMap
    got shouldBe expected
    // the planted corpus genuinely exercises the dup path
    got.values.map(_._2).sum should be >= 5L
  }

  test("merkle shards: editing one doc flips exactly its shard root and the dataset root") {
    import spark.implicits._
    def corpus(edit: Boolean) = (0L until 24L).map { id =>
      val t = if (edit && id == 7L) "tampered payload" else s"document body number $id"
      (id, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def tree(edit: Boolean): Map[Long, (Long, String, String)] = {
      val dir = SparkSpec.scratch(s"merkle_${if (edit) "b" else "a"}")
      corpus(edit).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      graft.ops.Quality.extMerkleShards(spark, dir).collect()
        .map(r => r.getAs[Long]("shard") ->
          ((r.getAs[Long]("n_docs"), r.getAs[String]("shard_root"),
            r.getAs[String]("dataset_root")))).toMap
    }
    val a = tree(edit = false); val b = tree(edit = true)
    a.keySet shouldBe b.keySet // same shard layout (shard keyed by doc_id)
    a.values.map(_._1).sum shouldBe 24L
    val changed = a.keySet.filter(k => a(k)._2 != b(k)._2)
    changed.size shouldBe 1 // tamper evidence localizes to one shard
    // the dataset root changes, and is identical across rows within a run
    a.values.map(_._3).toSet.size shouldBe 1
    b.values.map(_._3).toSet.size shouldBe 1
    (a.values.head._3 == b.values.head._3) shouldBe false
  }

  test("regex extract: counts and first match agree with a Scala replay") {
    val rows = graft.ops.Scalars.queries("fn_regex_extract")(
      spark, sf("sf0.001")).limit(100).collect()
    val texts = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val long5 = "[a-z]{5,}".r; val vp = "[aeiou][aeiou]".r
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val m = long5.findAllIn(t).toSeq
      r.getAs[Int]("n_long_words") shouldBe m.length
      r.getAs[String]("first_long") shouldBe m.headOption.getOrElse("")
      r.getAs[Int]("n_vowel_pairs") shouldBe vp.findAllIn(t).length
      r.getAs[String]("masked40") shouldBe
        t.take(40).replaceAll("[aeiou]", "*")
    }
  }

  test("topk nucleus: zero total mass yields NULL share, net-refund type " +
       "yields 0 (fuzz seed 525)") {
    import spark.implicits._
    // zero-mass type (tc = 0): ANSI div would throw; contract is NULL
    // (DuckDB's // 0). Net-refund type (tc < 0): the strict-before keep
    // rule admits nobody, so the share is exactly 0, through the
    // fully-signed divide.
    val dir = SparkSpec.scratch("nucleus525")
    Seq((0L, new java.sql.Timestamp(0L), 1L, "click", 0.0, "{}"),
        (1L, new java.sql.Timestamp(1000L), 1L, "purchase", 1.0, "{}"),
        (2L, new java.sql.Timestamp(2000L), 2L, "purchase", -3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.ops.TopK.topkNucleus(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    rows("click").isNullAt(
      rows("click").fieldIndex("nucleus_share_ppm")) shouldBe true
    rows("purchase").getAs[Long]("nucleus_share_ppm") shouldBe 0L
    rows("purchase").getAs[Double]("total_spend") shouldBe -2.0
  }

  test("weighted mean with NEGATIVE weight mass: fully-signed floor-divide " +
       "matches the exact hand computation") {
    import spark.implicits._
    // round-9 advice item: with b < 0 the old single-signed spelling let
    // Spark's div (truncate toward zero) and DuckDB's // (floor) differ
    // by one micro-unit whenever |a4|*1e4 mod |b| != 0. This corpus pins
    // it: a4 = -533333 cent², b = -433 cents, 5333330000 mod 433 = 153,
    // true wavg = 5333330000/433/1e6-ish -> floor 12317159 -> 12.317159.
    val dir = SparkSpec.scratch("wavgneg")
    Seq((0L, 0L, 0L, 1, -3.33, 10.01, 0.0, 0.0, "N", "O",
         new java.sql.Timestamp(0L)),
        (0L, 0L, 0L, 2, -1.00, 20.00, 0.0, 0.0, "N", "O",
         new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = graft.ops.Aggregates.aggWeighted(spark, dir).collect()
    r.length shouldBe 1
    r.head.getAs[Double]("wavg_price") shouldBe 12.317159
    // zero weight mass stays NULL (existing contract, re-pinned)
    Seq((1L, 0L, 0L, 1, 0.0, 50.0, 0.0, 0.0, "R", "O",
         new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val z = graft.ops.Aggregates.aggWeighted(spark, dir).collect()
    z.head.isNullAt(z.head.fieldIndex("wavg_price")) shouldBe true
  }
}
