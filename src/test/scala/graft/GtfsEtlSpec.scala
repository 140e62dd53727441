package graft

import graft.etl.GtfsEtl
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** End-to-end ETL over the GTFS-shaped fixtures (FIXTURES.md §B),
  * reproducing the reference's own inline data-quality assertions
  * (SURVEY.md §5: load_gtfs_data.sql:86-114 checks). */
class GtfsEtlSpec extends SparkSpec {

  private lazy val fixturesDir =
    getClass.getResource("/gtfs").getPath
  private lazy val st = GtfsEtl.staging(spark, fixturesDir)
  private lazy val op = GtfsEtl.operational(st)

  test("staging reads all five files with nulls for empty strings") {
    st.stops.count() shouldBe 7
    st.routes.count() shouldBe 4
    st.trips.count() shouldBe 7
    st.stopTimes.count() shouldBe 15
    st.calendar.count() shouldBe 3
    // empty string became NULL
    st.stops.filter(col("stop_id") === "S2")
      .select("wheelchair_boarding").first().isNullAt(0) shouldBe true
  }

  test("data-quality report finds exactly the seeded defects") {
    val dq = GtfsEtl.dataQuality(st).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    dq("null_coord_stops") shouldBe 1   // S5
    dq("orphan_trips") shouldBe 1       // T6 -> RX
    dq("invalid_stop_times") shouldBe 1 // T4 empty arrival
    dq("orphan_stop_times") shouldBe 0
  }

  test("data-quality report keeps all four checks when every count is 0") {
    val trips = st.trips.join(st.routes.select("route_id"), Seq("route_id"),
      "left_semi")
    val clean = GtfsEtl.StagingTables(
      st.stops.filter(col("stop_lat").isNotNull && col("stop_lon").isNotNull),
      st.routes, trips,
      st.stopTimes.filter(col("arrival_time").isNotNull)
        .join(trips.select("trip_id"), Seq("trip_id"), "left_semi"),
      st.calendar)
    GtfsEtl.dataQuality(clean).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq shouldBe Seq(
        "null_coord_stops" -> 0L, "orphan_trips" -> 0L,
        "invalid_stop_times" -> 0L, "orphan_stop_times" -> 0L)
  }

  test("operational load: null-filter, defaults, FK filter, PK dedup") {
    // S5 dropped (null coords), S1 dup collapsed
    op.stops.count() shouldBe 5
    op.stops.filter(col("stop_id") === "S2")
      .select("wheelchair_boarding").first().getInt(0) shouldBe 0 // default
    // route defaults
    op.routes.filter(col("route_id") === "R2")
      .select("route_color").first().getString(0) shouldBe "FFFFFF"
    // orphan trip T6 dropped by FK inner join; direction default applied
    op.trips.count() shouldBe 6
    op.trips.filter(col("trip_id") === "T6").count() shouldBe 0
    op.trips.filter(col("trip_id") === "T4")
      .select("direction_id").first().getInt(0) shouldBe 0
    // stop_times: 15 input − empty arrival − orphan-trip (T6) − orphan-stop
    // (S5 had null coords) − duplicate (T1, seq 2) = 11
    val stCount = op.stopTimes.count()
    stCount shouldBe 11
    // past-midnight times parsed as seconds > 24h
    val t3 = op.stopTimes.filter(col("trip_id") === "T3" && col("stop_sequence") === 3)
      .select("arrival_seconds").first().getLong(0)
    t3 shouldBe 25 * 3600L + 60 + 30
    // malformed arrival_time "bad:time" is NOT dropped by the null filter
    // (only literal NULLs are), but parses to null seconds — exactly the
    // reference's EXCEPTION->NULL
    op.stopTimes.filter(col("trip_id") === "T4" && col("stop_sequence") === 2)
      .select("arrival_seconds").first().isNullAt(0) shouldBe true
    // calendar ints became booleans
    op.calendar.filter(col("service_id") === "WK")
      .select("saturday").first().getBoolean(0) shouldBe false
  }

  private lazy val delayEvents = {
    import spark.implicits._
    Seq(
      ("T1", "S1", "2024-01-06 08:03:00", 3, "Clear", true),
      ("T1", "S2", "2024-01-06 08:22:00", 7, "Clear", true),
      ("T1", "S3", "2024-01-08 08:47:00", 17, "Rain", false),
      ("T2", "S3", "2024-01-08 17:10:00", 5, "Rain", false),
      ("T2", "S1", "2024-01-09 17:55:00", 34, "Snow", false),
      ("T3", "S1", "2024-01-09 23:52:00", 2, "Clear", false),
      ("T3", "S4", "2024-01-10 00:20:00", 5, "Clear", false),
      ("T5", "S1", "2024-01-13 12:35:00", 1, "Fog", false)
    ).toDF("trip_id", "stop_id", "arrival_str", "delay_minutes",
           "weather_condition", "is_holiday")
      .withColumn("actual_arrival", col("arrival_str").cast("timestamp"))
      .drop("arrival_str")
  }

  private lazy val wh = GtfsEtl.warehouse(spark, op, delayEvents)

  test("warehouse dims: deterministic surrogate keys, derived attributes") {
    // dim_date spans event range (Jan 6 .. Jan 13 = 8 days)
    wh.dimDate.count() shouldBe 8
    wh.dimDate.filter(col("full_date") === "2024-01-06")
      .select("is_weekend", "is_holiday", "season").first() match {
      case r => (r.getBoolean(0), r.getBoolean(1), r.getString(2)) shouldBe
        ((true, true, "Winter"))
    }
    wh.dimTime.count() shouldBe 96
    wh.dimTime.filter(col("time_key") === 745)
      .select("time_of_day", "is_rush_hour").first() match {
      case r => (r.getString(0), r.getBoolean(1)) shouldBe (("Morning", true))
    }
    // surrogate keys are 1..n over natural-key order
    wh.dimStop.select("stop_key").collect().map(_.getInt(0)).sorted shouldBe
      Array(1, 2, 3, 4, 5)
    wh.dimRoute.filter(col("route_id") === "R4")
      .select("route_type_desc").first().getString(0) shouldBe "Other"
    // stop area: S2 north of avg lat, S3 south
    wh.dimStop.filter(col("stop_id") === "S2")
      .select("stop_area").first().getString(0) shouldBe "North"
    wh.dimStop.filter(col("stop_id") === "S3")
      .select("stop_area").first().getString(0) shouldBe "South"
  }

  test("fact: star join resolves keys; categories and time keys match reference semantics") {
    wh.factDelayEvents.count() shouldBe 8
    val r = wh.factDelayEvents
      .filter(col("trip_id") === "T2" && col("delay_minutes") === 34)
      .select("delay_category", "is_severe_delay", "time_key", "date_key").first()
    r.getString(0) shouldBe "Extreme"
    r.getBoolean(1) shouldBe true
    r.getInt(2) shouldBe 1745 // 17:55 -> 17*100 + 45
    r.getInt(3) shouldBe 20240109
  }

  test("aggregate facts reconcile with the fact table") {
    val daily = wh.dailyRoutePerf
    daily.agg(sum("total_delays")).first().getLong(0) shouldBe 8
    // R1 on 2024-01-06: trips T1 only, 2 delays (3, 7 mins)
    val r1key = wh.dimRoute.filter(col("route_id") === "R1")
      .select("route_key").first().getInt(0)
    val row = daily.filter(col("date_key") === 20240106 && col("route_key") === r1key).first()
    row.getAs[Long]("total_trips") shouldBe 1
    row.getAs[Long]("total_delays") shouldBe 2
    row.getAs[java.math.BigDecimal]("avg_delay_minutes").doubleValue() shouldBe 5.0
    wh.hourlyStopPerf.agg(sum("total_arrivals")).first().getLong(0) shouldBe 8
  }
}
