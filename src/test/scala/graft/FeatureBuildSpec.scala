package graft

import graft.etl.{AnalysisQueries, FeatureBuild, GtfsEtl}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Feature matrix + split + encode/scale + the analysis queries, run over
  * the GTFS fixture warehouse (SURVEY.md §3.2: everything up to the
  * feature matrix is engine surface). */
class FeatureBuildSpec extends SparkSpec {

  private lazy val op = GtfsEtl.operational(
    GtfsEtl.staging(spark, getClass.getResource("/gtfs").getPath))

  private lazy val delayEvents = {
    import spark.implicits._
    Seq(
      ("T1", "S1", "2024-01-06 08:03:00", 3, "clear", true),
      ("T1", "S2", "2024-01-06 08:22:00", 7, "clear", true),
      ("T1", "S3", "2024-01-08 08:47:00", 17, "rainy", false),
      ("T2", "S3", "2024-01-08 17:10:00", 5, "rainy", false),
      ("T2", "S1", "2024-01-09 17:55:00", 34, "snow", false),
      ("T3", "S1", "2024-01-09 23:52:00", 2, "clear", false),
      ("T3", "S4", "2024-01-10 00:20:00", 5, "clear", false),
      ("T5", "S1", "2024-01-13 12:35:00", 1, "fog", false)
    ).toDF("trip_id", "stop_id", "arrival_str", "delay_minutes",
           "weather_condition", "is_holiday")
      .withColumn("actual_arrival", col("arrival_str").cast("timestamp"))
      .drop("arrival_str")
  }

  private lazy val wh = GtfsEtl.warehouse(spark, op, delayEvents)
  private lazy val emptyWeather = {
    import spark.implicits._
    Seq.empty[(java.sql.Timestamp, Double, Double, Double)]
      .toDF("recorded_at", "temperature", "precipitation", "wind_speed")
  }
  private lazy val feats = FeatureBuild.features(
    op, wh.dimStop, delayEvents, emptyWeather,
    java.sql.Date.valueOf("2024-01-14"))

  test("feature matrix: one row per event, 40 columns, reference defaults applied") {
    feats.count() shouldBe 8
    feats.columns.length should be >= 40
    val r = feats.filter(col("trip_id") === "T2" && col("delay_minutes") === 34).first()
    r.getAs[String]("delay_category") shouldBe "Extreme"   // ML <= bins (34 > 30)
    r.getAs[Boolean]("is_rush_hour") shouldBe true         // 17:55
    r.getAs[Double]("temperature") shouldBe 15.0           // empty weather -> default
    r.getAs[Double]("precipitation") shouldBe 3.0          // snow fallback
    r.getAs[Int]("weather_severity") shouldBe 3            // snow -> 3
    r.getAs[Int]("weather_rush_hour_interaction") shouldBe 3
    r.getAs[Double]("rush_hour_delay_multiplier") shouldBe 1.5
  }

  test("historical 7d windows respect the pinned asOf date") {
    // asOf 2024-01-14: events on Jan 6 (both) are outside the 7d window
    val jan6 = feats.filter(col("trip_id") === "T1" && col("stop_id") === "S1").first()
    jan6.getAs[Long]("delay_count_same_route_stop_7d") shouldBe 0L
    val jan9 = feats.filter(col("trip_id") === "T2" && col("stop_id") === "S1").first()
    jan9.getAs[Long]("delay_count_same_route_stop_7d") shouldBe 1L
    jan9.getAs[Double]("avg_delay_same_route_stop_7d") shouldBe 34.0
  }

  test("7d figures are conditional aggregates of the 30d pass: old-only " +
       "keys get 7d zeros, null delays count as rows but not in averages") {
    import spark.implicits._
    // asOf 2024-01-14: 7d cut 2024-01-07, 30d cut 2023-12-15
    val ev = Seq[(String, String, String, Option[Int])](
      ("T1", "S1", "2024-01-01 08:00:00", Some(10)),  // 13 days back
      ("T1", "S1", "2023-12-20 08:00:00", Some(20)),  // 25 days back
      ("T1", "S2", "2024-01-10 08:15:00", Some(4)),
      ("T1", "S2", "2024-01-11 08:15:00", None),      // null delay, in 7d
      ("T2", "S3", "2024-01-12 17:05:00", Some(8)),
      ("T2", "S1", "2023-12-01 17:20:00", Some(100))  // outside both
    ).toDF("trip_id", "stop_id", "arrival_str", "delay_minutes")
      .withColumn("actual_arrival", col("arrival_str").cast("timestamp"))
      .withColumn("weather_condition", lit("clear"))
      .withColumn("is_holiday", lit(false))
      .drop("arrival_str")
    val f = FeatureBuild.features(op, wh.dimStop, ev, emptyWeather,
      java.sql.Date.valueOf("2024-01-14"))
    f.count() shouldBe 6
    def at(trip: String, stop: String) =
      f.filter(col("trip_id") === trip && col("stop_id") === stop).first()
    // (T1, S1) only 8-30 days back: zero 7d features, 30d avg of 10 and 20
    val old = at("T1", "S1")
    old.getAs[Double]("avg_delay_same_route_stop_7d") shouldBe 0.0
    old.getAs[Long]("delay_count_same_route_stop_7d") shouldBe 0L
    old.getAs[Int]("max_delay_same_route_stop_7d") shouldBe 0
    old.getAs[Double]("avg_delay_same_route_stop_30d") shouldBe 15.0
    old.getAs[Double]("avg_delay_stop_7d") shouldBe 0.0
    old.getAs[Double]("avg_delay_stop_30d") shouldBe 15.0
    old.getAs[Double]("delay_trend_7d") shouldBe -15.0
    // (T1, S2): the null-delay event is a row in the count, not in an avg
    val nul = f.filter(col("trip_id") === "T1" && col("stop_id") === "S2" &&
      col("delay_minutes").isNull).first()
    nul.getAs[Long]("delay_count_same_route_stop_7d") shouldBe 2L
    nul.getAs[Double]("avg_delay_same_route_stop_7d") shouldBe 4.0
    nul.getAs[Int]("max_delay_same_route_stop_7d") shouldBe 4
    nul.getAs[Double]("avg_delay_same_route_stop_30d") shouldBe 4.0
    // route R1 (T1, T2): 30d delays 10, 20, 4, 8; 7d delays 4, 8
    val r1 = at("T2", "S3")
    r1.getAs[Double]("avg_delay_route_30d") shouldBe 10.5
    r1.getAs[Double]("avg_delay_route_7d") shouldBe 6.0
    r1.getAs[Double]("stddev_delay_route_7d") shouldBe math.sqrt(8.0) +- 1e-12
  }

  test("historical lookups equal the per-grain groupBy + left-join " +
       "formulation, nulls, unknown trips and old-only keys included") {
    import spark.implicits._
    // asOf 2024-01-14: 7d cut 2024-01-07, 30d cut 2023-12-15
    val asOf = java.sql.Date.valueOf("2024-01-14")
    val ev = Seq[(String, String, String, Option[Int], String)](
      ("T1", "S1", "2024-01-10 08:02:00", Some(3), "clear"),
      ("T1", "S2", "2024-01-10 08:17:00", None, "clear"),      // null delay
      ("T2", "S3", "2024-01-11 17:07:00", Some(9), "rainy"),
      ("T2", null, "2024-01-11 17:30:00", Some(4), "rainy"),   // null stop
      ("T3", "S1", "2024-01-12 23:55:00", Some(6), null),      // null weather
      ("T6", "S1", "2024-01-12 07:05:00", Some(30), "clear"),  // unknown trip
      ("T1", "S1", "2024-01-13 08:05:00", Some(5), "clear"),
      // keys seen only 8-30 days back: route R3, stop S4, hours 0 and 12,
      // Tuesday, fog, snow and cloudy
      ("T5", "S1", "2024-01-02 12:31:00", Some(7), "fog"),
      ("T3", "S4", "2023-12-20 00:20:00", Some(11), "snow"),
      ("T4", "S2", "2023-12-28 09:01:00", None, "cloudy"),
      // older than 30 days
      ("T1", "S3", "2023-12-01 08:32:00", Some(50), "clear"),
      ("T7", "S1", "2023-11-20 09:00:00", Some(12), "windy")
    ).toDF("trip_id", "stop_id", "arrival_str", "delay_minutes",
           "weather_condition")
      .withColumn("actual_arrival", col("arrival_str").cast("timestamp"))
      .withColumn("is_holiday", lit(false))
      .drop("arrival_str")
    val in7 = col("actual_arrival") >= date_sub(lit(asOf), 7)
    val delay = col("delay_minutes")
    val d7 = when(in7, delay)
    val de30 = ev.filter(col("actual_arrival") >= date_sub(lit(asOf), 30))
    val de7 = ev.filter(in7)
    val trips = op.trips.select("trip_id", "route_id")
    val dw = dayofweek(col("actual_arrival")) - 1
    val expected = ev.join(trips, Seq("trip_id"))
      .withColumn("h", hour(col("actual_arrival")))
      .withColumn("dw", dw)
      .join(de30.groupBy("trip_id", "stop_id").agg(avg(d7).as("rs7"),
              count(when(in7, 1)).as("rsn7"), max(d7).as("rsmax7"),
              avg(delay).as("rs30")),
            Seq("trip_id", "stop_id"), "left")
      .join(de30.join(trips, Seq("trip_id")).groupBy("route_id")
              .agg(avg(d7).as("route7"), stddev_samp(d7).as("routesd7"),
                   avg(delay).as("route30")),
            Seq("route_id"), "left")
      .join(de30.groupBy("stop_id")
              .agg(avg(d7).as("stop7"), avg(delay).as("stop30")),
            Seq("stop_id"), "left")
      .join(de30.groupBy(hour(col("actual_arrival")).as("h"))
              .agg(avg(d7).as("hour7"), avg(delay).as("hour30")),
            Seq("h"), "left")
      .join(de7.groupBy(dw.as("dw")).agg(avg(delay).as("dow7")),
            Seq("dw"), "left")
      .join(de7.groupBy("weather_condition").agg(avg(delay).as("weather7")),
            Seq("weather_condition"), "left")
      .select(col("trip_id"), col("stop_id"),
        to_date(col("actual_arrival")).as("date"), col("h").as("hour_of_day"),
        minute(col("actual_arrival")).as("minute_of_hour"),
        coalesce(col("rs7"), lit(0.0)).as("avg_delay_same_route_stop_7d"),
        coalesce(col("rsn7"), lit(0L)).as("delay_count_same_route_stop_7d"),
        coalesce(col("rsmax7"), lit(0)).as("max_delay_same_route_stop_7d"),
        coalesce(col("route7"), lit(0.0)).as("avg_delay_route_7d"),
        coalesce(col("routesd7"), lit(0.0)).as("stddev_delay_route_7d"),
        coalesce(col("stop7"), lit(0.0)).as("avg_delay_stop_7d"),
        coalesce(col("hour7"), lit(0.0)).as("avg_delay_same_hour_7d"),
        coalesce(col("dow7"), lit(0.0)).as("avg_delay_same_dow_7d"),
        coalesce(col("weather7"), lit(0.0)).as("avg_delay_same_weather_7d"),
        coalesce(col("rs30"), lit(0.0)).as("avg_delay_same_route_stop_30d"),
        coalesce(col("route30"), lit(0.0)).as("avg_delay_route_30d"),
        coalesce(col("stop30"), lit(0.0)).as("avg_delay_stop_30d"),
        coalesce(col("hour30"), lit(0.0)).as("avg_delay_same_hour_30d"))
    val f = FeatureBuild.features(op, wh.dimStop, ev, emptyWeather, asOf)
    val actual = f.select(expected.columns.map(col).toSeq: _*)
    actual.count() shouldBe 11 // every event of a known trip
    actual.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(actual).count() shouldBe 0
    // the fixture reaches each case: the unknown trip's event counts at
    // the stop grain, the null-stop and null-weather rows get zeros, and
    // old-only keys have 30-day figures but zero 7-day ones
    val s1 = f.filter(col("stop_id") === "S1" && col("day_of_month") === 13)
      .first()
    s1.getAs[Double]("avg_delay_stop_7d") shouldBe 11.0 // (3+6+30+5)/4
    val noStop = f.filter(col("stop_id").isNull).first()
    noStop.getAs[Double]("avg_delay_stop_30d") shouldBe 0.0
    val noWeather = f.filter(col("weather_condition").isNull).first()
    noWeather.getAs[Double]("avg_delay_same_weather_7d") shouldBe 0.0
    val r3 = f.filter(col("trip_id") === "T5").first()
    r3.getAs[Double]("avg_delay_route_7d") shouldBe 0.0
    r3.getAs[Double]("avg_delay_route_30d") shouldBe 7.0
    r3.getAs[Double]("avg_delay_same_hour_30d") shouldBe 7.0
    r3.getAs[Double]("avg_delay_same_dow_7d") shouldBe 0.0
    r3.getAs[Double]("avg_delay_same_weather_7d") shouldBe 0.0
  }

  test("prev-stop cascade feature uses the 1-PRECEDING frame") {
    val t1s2 = feats.filter(col("trip_id") === "T1" && col("stop_id") === "S2").first()
    t1s2.getAs[Double]("prev_stop_delay") shouldBe 3.0 // T1 S1 (seq 1) delay
  }

  test("multiple delay events per (trip,stop) keep one feature row per event; " +
       "prev-stop chains stay within the service day") {
    import spark.implicits._
    // (T1,S1) and (T1,S2) each appear on TWO days — the normal multi-day
    // case that a (trip_id, stop_id)-only join-back would fan out n×n
    val multi = Seq(
      ("T1", "S1", "2024-01-08 08:02:00", 2, "clear", false),
      // exact-duplicate event identity with a conflicting delay report:
      // must not multiply feature rows; the chain uses min(delay)
      ("T1", "S1", "2024-01-08 08:02:00", 8, "clear", false),
      ("T1", "S2", "2024-01-08 08:20:00", 6, "clear", false),
      ("T1", "S1", "2024-01-09 08:04:00", 4, "rainy", false),
      ("T1", "S2", "2024-01-09 08:25:00", 9, "rainy", false),
      ("T1", "S3", "2024-01-09 08:40:00", 12, "rainy", false)
    ).toDF("trip_id", "stop_id", "arrival_str", "delay_minutes",
           "weather_condition", "is_holiday")
      .withColumn("actual_arrival", col("arrival_str").cast("timestamp"))
      .drop("arrival_str")
    val f = FeatureBuild.features(op, wh.dimStop, multi, emptyWeather,
      java.sql.Date.valueOf("2024-01-14"))
    f.count() shouldBe 6 // one row per input event row, no fan-out
    def at(stop: String, dom: Int) =
      f.filter(col("stop_id") === stop && col("day_of_month") === dom).first()
    at("S2", 8).getAs[Double]("prev_stop_delay") shouldBe 2.0 // min of 2,8
    at("S2", 9).getAs[Double]("prev_stop_delay") shouldBe 4.0 // Jan-9 chain
    at("S3", 9).getAs[Double]("prev_stop_delay") shouldBe 9.0
    // first stop of a day never inherits the previous day's tail
    at("S1", 9).getAs[Double]("prev_stop_delay") shouldBe 0.0
  }

  test("80/20 split is deterministic, disjoint, and exhaustive") {
    val (train, test) = FeatureBuild.split(feats)
    train.count() shouldBe 6 // floor semantics: rn <= 8*0.8=6.4
    test.count() shouldBe 2
    val keys = (df: org.apache.spark.sql.DataFrame) =>
      df.select("trip_id", "stop_id", "date").collect().toSet
    keys(train).intersect(keys(test)) shouldBe Set.empty
  }

  test("label encoder: fit on train, unseen value encodes to -1") {
    import spark.implicits._
    val train = Seq("clear", "rainy", "snow").toDF("weather_condition")
    val vocab = FeatureBuild.fitLabelEncoder(train, "weather_condition")
    val applied = FeatureBuild.applyLabelEncoder(
      Seq("clear", "fog", "snow").toDF("weather_condition"),
      vocab, "weather_condition")
    applied.orderBy("weather_condition").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq shouldBe
      Seq(("clear", 0), ("fog", -1), ("snow", 2))
  }

  test("standard scaler: (x-mean)/std on train stats; zero-variance guarded") {
    import spark.implicits._
    val train = Seq(1.0, 2.0, 3.0).toDF("x").withColumn("c", lit(5.0))
    val params = FeatureBuild.fitScaler(train, Seq("x", "c"))
    params("x")._1 shouldBe 2.0
    params("c")._2 shouldBe 0.0
    val applied = FeatureBuild.applyScaler(train, params)
    applied.select("x_scaled").collect().map(_.getDouble(0)).sum shouldBe 0.0 +- 1e-12
    applied.select("c_scaled").collect().map(_.getDouble(0)).toSeq shouldBe Seq(0.0, 0.0, 0.0)
  }

  test("dashboard queries run over the fixture warehouse with sane KPIs") {
    import graft.etl.DashboardQueries
    val k = DashboardQueries.kpis(wh).first()
    k.getAs[Long]("total_delays") shouldBe 8
    k.getAs[Long]("severe_delays") shouldBe 1 // the 34-min delay
    DashboardQueries.dailyTrend(wh).count() should be > 0L
    DashboardQueries.topRoutes(wh).count() should be > 0L
    DashboardQueries.hourlyPattern(wh).count() should be > 0L
    DashboardQueries.weatherImpact(delayEvents).count() shouldBe 4
    import spark.implicits._
    val preds = Seq(("T1", 3.0, 22.0), ("T2", 5.0, 4.0))
      .toDF("trip_id", "actual", "predicted")
    val recent = DashboardQueries.recentPredictions(preds).collect()
    recent.head.getAs[String]("risk_level") shouldBe "Severe"
  }

  test("all 8 analysis queries run over the fixture warehouse and return rows") {
    AnalysisQueries.routePerformanceRanking(wh).count() should be > 0L
    AnalysisQueries.rushHourAnalysis(wh).count() should be > 0L
    val factWeather = delayEvents // carries weather_condition + actual_arrival
    AnalysisQueries.weatherImpactTrend(wh, factWeather).count() should be > 0L
    AnalysisQueries.stopCumulativeAnalysis(wh).count() should be > 0L
    AnalysisQueries.dayOfWeekPatterns(wh).count() should be > 0L
    AnalysisQueries.monthlyTrend(wh).count() should be > 0L
    AnalysisQueries.hotspotMatrix(wh).count() should be > 0L
    val factWithSeq = delayEvents.join(
      op.stopTimes.select("trip_id", "stop_id", "stop_sequence"),
      Seq("trip_id", "stop_id"))
    val cascade = AnalysisQueries.delayCascade(factWithSeq)
    cascade.count() should be > 0L
    // T1: S1(3) -> S2(7): delta +4
    cascade.filter(col("trip_id") === "T1" && col("stop_id") === "S2")
      .select("cascade_delta").first().getInt(0) shouldBe 4
  }
}
