package graft.etl

import graft.functions.GtfsFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Re-expression of the reference's five-layer GTFS ETL as Spark stage
  * functions (SURVEY.md §3.1: each psql script becomes a
  * `(SparkSession, inputs) → outputs` function; temp tables become
  * DataFrames; per-statement sequencing becomes dataflow dependency).
  *
  * Stages:
  *  - [[staging]]     ≙ `/root/reference/sql/load_gtfs_data.sql:2-84`
  *    (CSV ingest, header, empty-string-as-NULL, explicit schemas)
  *  - [[operational]] ≙ `load_gtfs_data.sql:119-239` (typed load:
  *    null-filters, COALESCE defaults, FK inner-join filtering, PK dedup
  *    standing in for ON CONFLICT DO NOTHING, GTFS time parse)
  *  - [[warehouse]]   ≙ `sql/fact_dim_tables.sql` (star schema: dims with
  *    row_number surrogate keys over natural-key order — deterministic,
  *    unlike SERIAL insertion order — fact via 5-way star join, two
  *    aggregate facts)
  *
  * Scale notes: dims are small by construction → broadcast joins in the
  * fact build; the fact table carries integer surrogate keys so 100 TB
  * fact scans group/join on ints; aggregate facts are persisted groupBys
  * (the reference's materialized pre-aggregation, SURVEY §4). Correlated
  * scalar subqueries in the reference's dim builds (routes-per-stop hub
  * flag, avg trip duration, stops-per-trip) are decorrelated into
  * aggregate-then-broadcast-join, which is what collapses the reference's
  * 200-line manual-decorrelation machinery (SURVEY §4).
  */
object GtfsEtl {

  // ---- staging schemas (create_schema.sql:8-70) -------------------------

  val stopsSchema: StructType = StructType(Seq(
    StructField("stop_id", StringType), StructField("stop_code", StringType),
    StructField("stop_name", StringType),
    StructField("stop_lat", DecimalType(10, 8)),
    StructField("stop_lon", DecimalType(11, 8)),
    StructField("wheelchair_boarding", IntegerType),
    StructField("platform_code", StringType),
    StructField("stop_url", StringType)))

  val routesSchema: StructType = StructType(Seq(
    StructField("route_id", StringType), StructField("agency_id", StringType),
    StructField("route_short_name", StringType),
    StructField("route_long_name", StringType),
    StructField("route_url", StringType), StructField("route_desc", StringType),
    StructField("route_type", IntegerType),
    StructField("route_color", StringType),
    StructField("route_text_color", StringType),
    StructField("route_sort_order", IntegerType)))

  val tripsSchema: StructType = StructType(Seq(
    StructField("route_id", StringType), StructField("service_id", StringType),
    StructField("trip_id", StringType),
    StructField("trip_headsign", StringType),
    StructField("direction_id", IntegerType),
    StructField("block_id", StringType), StructField("shape_id", StringType),
    StructField("wheelchair_accessible", IntegerType),
    StructField("bikes_allowed", IntegerType)))

  val stopTimesSchema: StructType = StructType(Seq(
    StructField("trip_id", StringType),
    StructField("arrival_time", StringType),
    StructField("departure_time", StringType),
    StructField("stop_id", StringType),
    StructField("stop_sequence", IntegerType),
    StructField("stop_headsign", StringType),
    StructField("shape_dist_traveled", DecimalType(10, 2)),
    StructField("timepoint", IntegerType)))

  val calendarSchema: StructType = StructType(Seq(
    StructField("service_id", StringType)) ++
    Seq("monday", "tuesday", "wednesday", "thursday", "friday", "saturday",
        "sunday").map(d => StructField(d, IntegerType)) ++ Seq(
    StructField("start_date", DateType), StructField("end_date", DateType)))

  case class StagingTables(stops: DataFrame, routes: DataFrame,
                           trips: DataFrame, stopTimes: DataFrame,
                           calendar: DataFrame)

  /** S1 — CSV staging ingest (header, empty string = NULL, explicit
    * schemas; `load_gtfs_data.sql:2-84`). */
  def staging(spark: SparkSession, dir: String): StagingTables = {
    def read(name: String, schema: StructType) =
      spark.read.schema(schema)
        .option("header", "true").option("nullValue", "")
        .csv(s"$dir/$name.txt")
    StagingTables(
      read("stops", stopsSchema), read("routes", routesSchema),
      read("trips", tripsSchema), read("stop_times", stopTimesSchema),
      read("calendar", calendarSchema))
  }

  case class OperationalTables(stops: DataFrame, routes: DataFrame,
                               trips: DataFrame, stopTimes: DataFrame,
                               calendar: DataFrame)

  /** S2/J1/J4-shape — staging→operational typed load
    * (`load_gtfs_data.sql:119-239`). */
  def operational(st: StagingTables): OperationalTables = {
    val stops = st.stops
      .filter(col("stop_lat").isNotNull && col("stop_lon").isNotNull)
      .withColumn("wheelchair_boarding",
        coalesce(col("wheelchair_boarding"), lit(0)))
      .drop("stop_url")
      .dropDuplicates("stop_id")

    val routes = st.routes
      .withColumn("route_color", coalesce(col("route_color"), lit("FFFFFF")))
      .withColumn("route_text_color",
        coalesce(col("route_text_color"), lit("000000")))
      .drop("route_url", "route_desc")
      .dropDuplicates("route_id")

    // FK filter = inner join on the parent (anti-orphan semantics,
    // load_gtfs_data.sql:185) — broadcast: parent key sets are small
    val trips = st.trips
      .join(broadcast(routes.select("route_id")), Seq("route_id"))
      .withColumn("direction_id", coalesce(col("direction_id"), lit(0)))
      .withColumn("wheelchair_accessible",
        coalesce(col("wheelchair_accessible"), lit(0)))
      .drop("bikes_allowed")
      .dropDuplicates("trip_id")

    val stopTimes = st.stopTimes
      .filter(col("arrival_time").isNotNull)
      .join(broadcast(trips.select("trip_id")), Seq("trip_id"))
      .join(broadcast(stops.select("stop_id")), Seq("stop_id"))
      .withColumn("arrival_seconds", gtfsTimeToSeconds(col("arrival_time")))
      .withColumn("departure_seconds", gtfsTimeToSeconds(col("departure_time")))
      .withColumn("timepoint", coalesce(col("timepoint"), lit(1)))
      .drop("arrival_time", "departure_time")
      .dropDuplicates("trip_id", "stop_sequence")

    val calendar = st.calendar
      .select(col("service_id") +:
        Seq("monday", "tuesday", "wednesday", "thursday", "friday",
            "saturday", "sunday").map(d => (col(d) === 1).as(d)) :+
        col("start_date") :+ col("end_date"): _*)
      .dropDuplicates("service_id")

    OperationalTables(stops, routes, trips, stopTimes, calendar)
  }

  case class WarehouseTables(dimDate: DataFrame, dimTime: DataFrame,
                             dimStop: DataFrame, dimRoute: DataFrame,
                             dimTrip: DataFrame, factDelayEvents: DataFrame,
                             dailyRoutePerf: DataFrame, hourlyStopPerf: DataFrame)

  /** Warehouse star-schema build (`fact_dim_tables.sql`); `delayEvents`
    * carries (trip_id, stop_id, actual_arrival ts, delay_minutes int,
    * weather_condition, is_holiday) like operational.delay_events. */
  def warehouse(spark: SparkSession, op: OperationalTables,
                delayEvents: DataFrame): WarehouseTables = {
    import org.apache.spark.sql.expressions.Window

    // dim_date: calendar spine over the event date range (:155-183)
    val range = delayEvents.agg(
      min(to_date(col("actual_arrival"))).as("d0"),
      max(to_date(col("actual_arrival"))).as("d1")).first()
    require(!range.isNullAt(0),
      "GtfsEtl.warehouse: delayEvents is empty — no date range to build dim_date from")
    // stop_area splits at the global avg lat; stops carry non-null lats, so
    // the avg is null exactly when there are no stops
    val lat = op.stops.agg(avg(col("stop_lat")).cast("double")).first()
    require(!lat.isNullAt(0),
      "GtfsEtl.warehouse: operational.stops is empty — cannot derive stop_area")
    val (d0, d1) = (range.getDate(0), range.getDate(1))
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(
      d0.toLocalDate, d1.toLocalDate).toInt + 1
    val holidays = delayEvents.filter(col("is_holiday") === true)
      .select(to_date(col("actual_arrival")).as("full_date")).distinct()
    val dimDate = spark.range(nDays.toLong)
      .select(date_add(lit(d0), col("id").cast("int")).as("full_date"))
      .join(holidays.withColumn("is_holiday", lit(true)), Seq("full_date"), "left")
      .na.fill(Map("is_holiday" -> false))
      .select(
        date_format(col("full_date"), "yyyyMMdd").cast("int").as("date_key"),
        col("full_date"),
        year(col("full_date")).as("year"),
        quarter(col("full_date")).as("quarter"),
        month(col("full_date")).as("month"),
        date_format(col("full_date"), "MMMM").as("month_name"),
        weekofyear(col("full_date")).as("week_of_year"),
        dayofmonth(col("full_date")).as("day_of_month"),
        dowPg(col("full_date")).as("day_of_week"),
        date_format(col("full_date"), "EEEE").as("day_name"),
        dowPg(col("full_date")).isin(0, 6).as("is_weekend"),
        col("is_holiday"),
        season(month(col("full_date"))).as("season"))

    // dim_time: 24h × quarter-hours cross series (:193-217)
    val dimTime = spark.range(24).select(col("id").cast("int").as("hour"))
      .crossJoin(spark.range(4).select((col("id") * 15).cast("int").as("minute")))
      .select(
        (col("hour") * 100 + col("minute")).as("time_key"),
        col("hour"), col("minute"),
        timeOfDay(col("hour")).as("time_of_day"),
        isRushHour(col("hour")).as("is_rush_hour"),
        rushHourPeriod(col("hour")).as("rush_hour_period"))

    // dim_stop (:220-244): stop_area via global avg lat; hub = >=5 distinct
    // routes through the stop (decorrelated: aggregate once, broadcast;
    // the size of a set is one aggregation pass, where countDistinct
    // would shuffle twice)
    val avgLat = lat.getDouble(0)
    val routesPerStop = op.stopTimes.select("stop_id", "trip_id")
      .join(broadcast(op.trips.select("trip_id", "route_id")), Seq("trip_id"))
      .groupBy(col("stop_id"))
      .agg(size(collect_set(col("route_id"))).as("n_routes"))
    val wStop = Window.orderBy(col("stop_id"))
    val dimStop = op.stops
      .join(broadcast(routesPerStop), Seq("stop_id"), "left")
      .select(
        col("stop_id"), col("stop_name"), col("stop_lat"), col("stop_lon"),
        col("platform_code"), lit(0).as("location_type"),
        when(col("stop_lat") > avgLat, "North")
          .when(col("stop_lat") < avgLat, "South")
          .otherwise("Central").as("stop_area"),
        (coalesce(col("n_routes"), lit(0)) >= 5).as("is_major_hub"))
      .withColumn("stop_key", row_number().over(wStop))

    // dim_route (:247-283): avg trip duration decorrelated
    val tripDur = op.stopTimes
      .filter(col("arrival_seconds").isNotNull)
      .groupBy(col("trip_id"))
      .agg((max(col("arrival_seconds")) - min(col("arrival_seconds")))
        .as("duration_seconds"))
      .filter(col("duration_seconds") > 0)
      .join(broadcast(op.trips.select("trip_id", "route_id")), Seq("trip_id"))
      .groupBy(col("route_id"))
      .agg((avg(col("duration_seconds")).cast("int") / 60).cast("int")
        .as("avg_trip_duration"))
    val wRoute = Window.orderBy(col("route_id"))
    val dimRoute = op.routes
      .join(broadcast(tripDur), Seq("route_id"), "left")
      .select(
        col("route_id"), col("route_short_name"), col("route_long_name"),
        col("route_type"), routeTypeDesc(col("route_type")).as("route_type_desc"),
        col("route_color"), col("route_sort_order"),
        coalesce(col("avg_trip_duration"), lit(0)).as("avg_trip_duration"))
      .withColumn("route_key", row_number().over(wRoute))

    // dim_trip (:286-297): stops-per-trip decorrelated
    val stopsPerTrip = op.stopTimes.groupBy(col("trip_id"))
      .agg(count(lit(1)).as("total_stops"))
    val wTrip = Window.orderBy(col("trip_id"))
    val dimTrip = op.trips
      .join(broadcast(dimRoute.select("route_id", "route_key")), Seq("route_id"))
      .join(broadcast(stopsPerTrip), Seq("trip_id"), "left")
      .select(col("trip_id"), col("route_key"), col("service_id"),
              col("direction_id"), col("trip_headsign"),
              coalesce(col("total_stops"), lit(0L)).as("total_stops"))
      .withColumn("trip_key", row_number().over(wTrip))

    // fact (:300-345): 5-way star join, dims broadcast
    val factDelayEvents = delayEvents
      .join(broadcast(dimStop.select("stop_id", "stop_key")), Seq("stop_id"))
      .join(broadcast(dimTrip.select("trip_id", "trip_key", "route_key")),
            Seq("trip_id"))
      .select(
        date_format(to_date(col("actual_arrival")), "yyyyMMdd").cast("int")
          .as("date_key"),
        (hour(col("actual_arrival")) * 100 +
         (floor(minute(col("actual_arrival")) / 15) * 15).cast("int"))
          .as("time_key"),
        col("stop_key"), col("trip_key"), col("route_key"),
        col("trip_id"), col("stop_id"),
        col("delay_minutes"),
        col("actual_arrival"),
        (col("delay_minutes") > 10).as("is_significant_delay"),
        (col("delay_minutes") > 30).as("is_severe_delay"),
        delayCategoryWarehouse(col("delay_minutes")).as("delay_category"))

    // aggregate facts (:347-380)
    val dailyRoutePerf = factDelayEvents
      .groupBy(col("date_key"), col("route_key"))
      .agg(
        countDistinct(col("trip_id")).as("total_trips"),
        count(lit(1)).as("total_delays"),
        sum(col("delay_minutes")).as("total_delay_minutes"),
        avg(col("delay_minutes")).cast("decimal(10,2)").as("avg_delay_minutes"),
        max(col("delay_minutes")).as("max_delay_minutes"),
        least(lit(100.0), greatest(lit(0.0),
          lit(100.0) - (count(lit(1)).cast("double") /
            greatest(countDistinct(col("trip_id")), lit(1L)) * 100)))
          .cast("decimal(6,2)").as("on_time_percentage"),
        sum(when(col("delay_category") === "Minor", 1).otherwise(0)).as("minor_delays"),
        sum(when(col("delay_category") === "Moderate", 1).otherwise(0)).as("moderate_delays"),
        sum(when(col("delay_category") === "Severe", 1).otherwise(0)).as("severe_delays"),
        sum(when(col("delay_category") === "Extreme", 1).otherwise(0)).as("extreme_delays"))

    val hourlyStopPerf = factDelayEvents
      .groupBy(col("date_key"), col("time_key"), col("stop_key"))
      .agg(count(lit(1)).as("total_arrivals"),
           count(lit(1)).as("total_delays"),
           avg(col("delay_minutes")).cast("decimal(10,2)").as("avg_delay_minutes"),
           lit(100.0).cast("decimal(5,2)").as("delay_rate"))

    WarehouseTables(dimDate, dimTime, dimStop, dimRoute, dimTrip,
                    factDelayEvents, dailyRoutePerf, hourlyStopPerf)
  }

  /** Data-quality checks the reference runs inline after load
    * (`load_gtfs_data.sql:86-114`): returns (check_name, n_bad) rows, one
    * per check in a fixed order, zero counts included; all-zero = clean.
    * One aggregate over the union of the tagged bad rows counts all four,
    * so the checks share one shuffle instead of one global count each. */
  def dataQuality(st: StagingTables): DataFrame = {
    val checks = Seq(
      "null_coord_stops" ->
        st.stops.filter(col("stop_lat").isNull || col("stop_lon").isNull),
      "orphan_trips" ->
        st.trips.join(st.routes.select("route_id"), Seq("route_id"), "left_anti"),
      "invalid_stop_times" ->
        st.stopTimes.filter(col("arrival_time").isNull),
      "orphan_stop_times" ->
        st.stopTimes.join(st.trips.select("trip_id"), Seq("trip_id"), "left_anti"))
    checks.map { case (name, bad) => bad.select(lit(name).as("check_name")) }
      .reduce(_ union _)
      .agg(array(checks.map { case (name, _) =>
        struct(lit(name).as("check_name"),
               count(when(col("check_name") === name, 1)).as("n_bad"))
      }: _*).as("checks"))
      .select(inline(col("checks")))
  }
}
