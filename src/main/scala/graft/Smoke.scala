package graft

import org.apache.spark.sql.SparkSession

/** Local smoke runner mirroring the driver's t1 check: `SparkEntry.entry`
  * on sf0.001 must return rows. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")

    // drive the GTFS ETL + feature pipeline end-to-end on the bundled
    // fixtures (the reference's five-layer flow, SURVEY §3.1-3.2)
    import org.apache.spark.sql.functions._
    val fixtures = sys.env.getOrElse("GRAFT_GTFS_DIR",
      "src/test/resources/gtfs")
    val op = etl.GtfsEtl.operational(etl.GtfsEtl.staging(spark, fixtures))
    import spark.implicits._
    val delays = Seq(
      ("T1", "S1", "2024-01-06 08:03:00", 3, "clear", true),
      ("T1", "S2", "2024-01-06 08:22:00", 7, "clear", true),
      ("T2", "S1", "2024-01-09 17:55:00", 34, "snow", false))
      .toDF("trip_id", "stop_id", "a", "delay_minutes", "weather_condition", "is_holiday")
      .withColumn("actual_arrival", col("a").cast("timestamp")).drop("a")
    val wh = etl.GtfsEtl.warehouse(spark, op, delays)
    val feats = etl.FeatureBuild.features(op, wh.dimStop, delays,
      Seq.empty[(java.sql.Timestamp, Double, Double, Double)]
        .toDF("recorded_at", "temperature", "precipitation", "wind_speed"),
      java.sql.Date.valueOf("2024-01-14"))
    val (train, test) = etl.FeatureBuild.split(feats)
    println(s"ETL_FACT_ROWS=${wh.factDelayEvents.count()}" +
      s" FEATURES=${feats.columns.length}x${feats.count()}" +
      s" SPLIT=${train.count()}/${test.count()}" +
      s" ANALYSIS_Q1=${etl.AnalysisQueries.routePerformanceRanking(wh).count()}")
    spark.stop()
  }
}
