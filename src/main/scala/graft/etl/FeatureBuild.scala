package graft.etl

import graft.functions.GtfsFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature engineering re-expressed as one DataFrame pipeline
  * (`/root/reference/sql/ml_feature_engineering.sql` — the 40+-column
  * feature table, its 9 historical temp tables + join-UPDATEs, and the
  * 80/20 split views; plus the Python-side label-encode / standard-scale
  * from `train_delay_model.py:243-261`).
  *
  * Where the reference builds temp tables + indexes + 11 UPDATE ... FROM
  * statements (manual decorrelation, SURVEY §4), this is groupBy
  * aggregates joined back in one immutable plan — Catalyst sees the whole
  * dataflow, so the 200-line temp-table machinery collapses into two
  * broadcasts: the (trip, stop) aggregate, and one row of per-key maps
  * that a single grouping-sets pass builds for the route, stop, hour,
  * weekday and weather grains.
  *
  * Determinism: the reference's `CURRENT_DATE - INTERVAL '7 days'`
  * windows take an explicit `asOf` date parameter (SURVEY §5 discipline);
  * its unordered `LIMIT 1` weather lookup becomes an hour-keyed
  * aggregate join (J7 shape).
  *
  * Scale notes: per-key historical aggregates are tiny relative to the
  * event table (keys × window), so they broadcast. A map lookup scans
  * its grain's keys, which suits the small grains; the (trip, stop)
  * grain, about one key per timetable stop visit, keeps its hash join.
  * The only wide operation over the full event table is the prev-stop
  * window, which shuffles once on (trip_id, service date). The
  * reference's 100k-row training cap exists only because pandas
  * materializes on one machine — here the feature matrix never leaves
  * the cluster (SURVEY §3.2).
  */
object FeatureBuild {

  private val rainy = Seq("rainy", "heavy_rain")

  /** The base + historical feature matrix.
    *
    * @param delayEvents operational.delay_events shape: trip_id, stop_id,
    *   actual_arrival, delay_minutes, weather_condition, is_holiday
    * @param weather     hourly weather: recorded_at, temperature,
    *   precipitation, wind_speed (may be empty → COALESCE defaults)
    * @param asOf        pinned "today" for the 7d/30d windows
    */
  def features(op: GtfsEtl.OperationalTables, dimStop: DataFrame,
               delayEvents: DataFrame, weather: DataFrame,
               asOf: java.sql.Date): DataFrame = {
    val de = delayEvents
    val hourKey = date_trunc("hour", col("actual_arrival"))

    // hour-keyed weather (reference: correlated LIMIT-1 subqueries,
    // ml_feature_engineering.sql:192-213 → J7 dedup-join shape).
    // min_by on recorded_at, not first(): multiple readings per hour must
    // resolve deterministically (earliest wins)
    val weatherHourly = weather
      .groupBy(date_trunc("hour", col("recorded_at")).as("wh"))
      .agg(min_by(col("temperature"), col("recorded_at")).as("w_temp"),
           min_by(col("precipitation"), col("recorded_at")).as("w_precip"),
           min_by(col("wind_speed"), col("recorded_at")).as("w_wind"))

    // historical aggregates, decorrelated (ml_feature_engineering.sql:
    // 253-345), over the 30-day cut, their 7-day figures aggregates of
    // the same pass, conditional on the 7-day cut (both cut-offs are
    // lower bounds, so the 7-day rows are a subset of the 30-day rows; a
    // key seen only 8-30 days back gets null 7-day figures, as an absent
    // key does)
    val in7 = col("actual_arrival") >= date_sub(lit(asOf), 7)
    val delay = col("delay_minutes")
    val d7 = when(in7, delay)
    val de30 = de.filter(col("actual_arrival") >= date_sub(lit(asOf), 30))
    // (trip, stop) has about as many keys as the timetable has stop
    // visits: its own aggregate, broadcast-joined
    val histRS = de30.groupBy(col("trip_id"), col("stop_id"))
      .agg(avg(d7).as("avg_rs7"),
           count(when(in7, 1)).as("cnt_rs7"), // rows, null delays included
           max(d7).as("max_rs7"),
           avg(delay).as("avg_rs30"))
    // the five small grains: ONE grouping-sets pass (the Data Cube's
    // GROUPING SETS, Gray et al., ICDE 1996) folded into one row of
    // per-grain maps, so one shuffle and one broadcast serve them all.
    // The trip join is a left join, so events of unknown trips still count
    // at the other grains. Grains are told apart by grouping_id (bit 1 =
    // not grouped by), never by null keys; a null key is dropped, as it
    // never matched an equi-join and map_from_entries rejects it.
    val grains = Seq("route_id", "stop_id", "h", "dw", "weather_condition")
    val cube = de30
      .join(op.trips.select("trip_id", "route_id"), Seq("trip_id"), "left")
      .withColumn("h", hour(col("actual_arrival")))
      .withColumn("dw", dowPg(col("actual_arrival")))
      .groupingSets(grains.map(g => Seq(col(g))), grains.map(col): _*)
      .agg(grouping_id().as("gid"), avg(d7).as("a7"),
           stddev_samp(d7).as("sd7"), avg(delay).as("a30"))
    val maps = grains.zipWithIndex.map { case (g, i) =>
      val gid = (1 << grains.size) - 1 - (1 << (grains.size - 1 - i))
      map_from_entries(collect_list(
        when(col("gid") === gid && col(g).isNotNull,
             struct(col(g), struct(col("a7"), col("sd7"), col("a30"))))))
        .as(s"m_$g")
    }
    val hist = cube.agg(maps.head, maps.tail: _*)
    def at(grain: String, stat: String): Column =
      element_at(col(s"m_$grain"), col(grain)).getField(stat)

    // per-trip stop counts (reference's correlated COUNT/MAX subqueries)
    val tripStops = op.stopTimes.groupBy(col("trip_id"))
      .agg(count(lit(1)).as("route_total_stops"),
           max(col("stop_sequence")).as("max_seq"))

    // stop_times resolved to ONE row per (trip_id, stop_id): loop routes
    // legally visit a stop twice (unique key is (trip_id, stop_sequence)),
    // and joining the raw table on (trip_id, stop_id) would fan each delay
    // event out into duplicate feature rows (the reference's UPDATE..FROM
    // silently picks an arbitrary match instead; min stop_sequence is the
    // deterministic version of that)
    val stopSeq = op.stopTimes.groupBy(col("trip_id"), col("stop_id"))
      .agg(min(col("stop_sequence")).as("stop_sequence"))

    // prev-stop delay via the 1-PRECEDING frame (W9;
    // ml_feature_engineering.sql:370-383). The reference windows by
    // trip_id alone across all days (events from different days tie) and
    // its UPDATE..FROM on (trip_id, stop_sequence) picks an arbitrary
    // match when several events share the key. Here the chain is built
    // over ONE row per event identity (trip_id, stop_id, actual_arrival)
    // — duplicate reports collapse via min(delay) first, so the window
    // ordering is total and the join-back is many-to-one: deterministic,
    // never row-multiplying, even on duplicate-bearing feeds. The window
    // partitions by (trip_id, service date) so a day's first stop never
    // inherits the previous day's tail.
    val wPrev = Window
      .partitionBy(col("trip_id"), to_date(col("actual_arrival")))
      .orderBy(col("stop_sequence"), col("actual_arrival"), col("stop_id"))
    val prevStop = de
      .groupBy(col("trip_id"), col("stop_id"), col("actual_arrival"))
      .agg(min(col("delay_minutes")).as("delay_minutes"))
      .join(stopSeq, Seq("trip_id", "stop_id"))
      .withColumn("prev_stop_delay",
        avg(col("delay_minutes")).over(wPrev.rowsBetween(-1, -1)))
      .select(col("trip_id"), col("stop_id"), col("actual_arrival"),
              col("prev_stop_delay"))

    val hr = hour(col("actual_arrival"))
    val isRush = isRushHour(hr)

    de
      .join(op.trips.select("trip_id", "route_id"), Seq("trip_id"))
      .join(broadcast(op.routes.select("route_id", "route_type")), Seq("route_id"))
      .join(stopSeq, Seq("trip_id", "stop_id"), "left")
      .join(broadcast(dimStop.select("stop_id", "is_major_hub", "stop_area")),
            Seq("stop_id"), "left")
      .join(broadcast(tripStops), Seq("trip_id"), "left")
      .withColumn("wh", hourKey)
      .join(broadcast(weatherHourly), Seq("wh"), "left")
      .join(broadcast(histRS), Seq("trip_id", "stop_id"), "left")
      .withColumn("h", hr)
      .withColumn("dw", dowPg(col("actual_arrival")))
      .join(prevStop, Seq("trip_id", "stop_id", "actual_arrival"), "left")
      // last, so the maps are read in the final projection, never shuffled
      .crossJoin(broadcast(hist))
      .select(
        // identifiers + target (:150-161)
        col("trip_id"), col("stop_id"), col("route_id"),
        col("delay_minutes"),
        delayCategoryMl(col("delay_minutes")).as("delay_category"),
        // temporal (:163-183)
        to_date(col("actual_arrival")).as("date"),
        col("dw").as("day_of_week"),
        dayofmonth(col("actual_arrival")).as("day_of_month"),
        col("h").as("hour_of_day"),
        minute(col("actual_arrival")).as("minute_of_hour"),
        weekofyear(col("actual_arrival")).as("week_of_year"),
        col("dw").isin(0, 6).as("is_weekend"),
        col("is_holiday"),
        isRush.as("is_rush_hour"),
        month(col("actual_arrival")).as("month"),
        season(month(col("actual_arrival"))).as("season"),
        // route/stop (:186-189, :221-223)
        col("route_type"),
        coalesce(col("route_total_stops"), lit(0L)).as("route_total_stops"),
        coalesce(col("stop_sequence"), lit(0)).as("stop_sequence"),
        greatest(lit(0),
          coalesce(col("max_seq"), lit(0)) - coalesce(col("stop_sequence"), lit(0)))
          .as("stops_remaining"),
        // weather w/ reference defaults (:192-213)
        coalesce(col("w_temp"), lit(15.0)).as("temperature"),
        coalesce(col("w_precip"),
          when(col("weather_condition").isin(rainy: _*), 5.0)
            .when(col("weather_condition") === "snow", 3.0)
            .otherwise(0.0)).as("precipitation"),
        coalesce(col("w_wind"), lit(5.0)).as("wind_speed"),
        col("weather_condition"),
        when(col("weather_condition").isin("clear", "partly_cloudy", "cloudy"), 1)
          .when(col("weather_condition").isin("rainy", "fog", "windy"), 2)
          .otherwise(3).as("weather_severity"),
        coalesce(col("is_major_hub"), lit(false)).as("is_major_hub"),
        coalesce(col("stop_area"), lit("Unknown")).as("stop_area"),
        // interactions (:225-243)
        when(isRush, 1.5).otherwise(1.0).as("rush_hour_delay_multiplier"),
        when(isRush && col("weather_condition").isin("rainy", "heavy_rain", "snow"), 3)
          .when(isRush, 1).otherwise(0).as("weather_rush_hour_interaction"),
        when(col("dw").isin(0, 6) &&
             col("weather_condition").isin("rainy", "heavy_rain", "snow"), 2)
          .otherwise(0).as("weekend_weather_interaction"),
        // historical (join-UPDATE block :387-453, COALESCE 0 defaults)
        coalesce(col("avg_rs7"), lit(0.0)).as("avg_delay_same_route_stop_7d"),
        coalesce(col("cnt_rs7"), lit(0L)).as("delay_count_same_route_stop_7d"),
        coalesce(col("max_rs7"), lit(0)).as("max_delay_same_route_stop_7d"),
        coalesce(at("route_id", "a7"), lit(0.0)).as("avg_delay_route_7d"),
        coalesce(at("route_id", "sd7"), lit(0.0)).as("stddev_delay_route_7d"),
        coalesce(at("stop_id", "a7"), lit(0.0)).as("avg_delay_stop_7d"),
        coalesce(at("h", "a7"), lit(0.0)).as("avg_delay_same_hour_7d"),
        coalesce(at("dw", "a7"), lit(0.0)).as("avg_delay_same_dow_7d"),
        coalesce(at("weather_condition", "a7"), lit(0.0)).as("avg_delay_same_weather_7d"),
        coalesce(col("avg_rs30"), lit(0.0)).as("avg_delay_same_route_stop_30d"),
        coalesce(at("route_id", "a30"), lit(0.0)).as("avg_delay_route_30d"),
        coalesce(at("stop_id", "a30"), lit(0.0)).as("avg_delay_stop_30d"),
        coalesce(at("h", "a30"), lit(0.0)).as("avg_delay_same_hour_30d"),
        (coalesce(col("avg_rs7"), lit(0.0)) -
         coalesce(col("avg_rs30"), lit(0.0))).as("delay_trend_7d"),
        coalesce(at("route_id", "sd7"), lit(0.0)).as("delay_volatility_7d"),
        coalesce(col("prev_stop_delay"), lit(0.0)).as("prev_stop_delay"))
  }

  /** 80/20 split by row_number over (date, natural key) —
    * `ml_feature_engineering.sql:468-519` (W2 + W8 shapes). The global
    * rank is decomposed scale-safely: per-DAY row_number (parallel
    * partitions) plus a date-grain running offset (bounded rows,
    * broadcast back) reproduces the exact global (date, trip, stop)
    * ordering without collapsing the feature table into one task; the
    * global count is a 1-row broadcast aggregate, not an
    * empty-partition window. */
  def split(features: DataFrame): (DataFrame, DataFrame) = {
    val cols = features.columns.map(col(_)).toSeq
    val wDay = Window.partitionBy(col("date"))
      .orderBy(col("trip_id"), col("stop_id"))
    val dayOffsets = features.groupBy(col("date"))
      .agg(count(lit(1)).as("day_c"))
      .withColumn("cum_before",
        coalesce(sum(col("day_c")).over(
          Window.orderBy(col("date"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("date"), col("cum_before"))
    val tot = features.agg(count(lit(1)).as("total_rows"))
    val numbered = features
      .join(broadcast(dayOffsets), Seq("date"))
      .crossJoin(broadcast(tot))
      .withColumn("rn", col("cum_before") + row_number().over(wDay))
    (numbered.filter(col("rn") <= col("total_rows") * 0.8).select(cols: _*),
     numbered.filter(col("rn") > col("total_rows") * 0.8).select(cols: _*))
  }

  /** Label encoding as a vocabulary join (train_delay_model.py:243-255:
    * fit on train, apply anywhere, unseen → -1). */
  def fitLabelEncoder(train: DataFrame, column: String): DataFrame = {
    val w = Window.orderBy(col(column))
    train.select(col(column)).distinct()
      .filter(col(column).isNotNull)
      .withColumn(s"${column}_encoded", row_number().over(w) - 1)
  }

  def applyLabelEncoder(df: DataFrame, vocab: DataFrame, column: String): DataFrame =
    df.join(broadcast(vocab), Seq(column), "left")
      .withColumn(s"${column}_encoded",
        coalesce(col(s"${column}_encoded"), lit(-1)))

  /** Standard scaling: fit (mean, stddev) on train, apply (x−μ)/σ
    * (train_delay_model.py:256-261); σ=0 → 0 like sklearn's guard. */
  def fitScaler(train: DataFrame, columns: Seq[String]): Map[String, (Double, Double)] = {
    // single aggregation pass for all columns — one scan, not |columns| jobs
    val aggs = columns.flatMap(c => Seq(
      avg(col(c)).cast("double"),
      coalesce(stddev_samp(col(c)), lit(0.0)).cast("double")))
    val r = train.agg(aggs.head, aggs.tail: _*).first()
    columns.zipWithIndex.map { case (c, i) =>
      c -> ((r.getDouble(2 * i), r.getDouble(2 * i + 1)))
    }.toMap
  }

  def applyScaler(df: DataFrame, params: Map[String, (Double, Double)]): DataFrame =
    params.foldLeft(df) { case (acc, (c, (mu, sigma))) =>
      acc.withColumn(s"${c}_scaled",
        if (sigma == 0.0) lit(0.0) else (col(c) - mu) / sigma)
    }
}
