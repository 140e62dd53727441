package graft

import graft.etl.Pipeline
import org.apache.spark.GraftProbeShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** The DAG-as-code runner: stage ordering, output capture,
  * upstream-failure skip semantics, and its Spark job budget. */
class PipelineSpec extends SparkSpec {

  private def delays = {
    import spark.implicits._
    Seq(("T1", "S1", "2024-01-06 08:03:00", 3, "clear", true),
        ("T1", "S2", "2024-01-06 08:22:00", 7, "clear", true),
        ("T2", "S1", "2024-01-09 17:55:00", 34, "snow", false))
      .toDF("trip_id", "stop_id", "a", "delay_minutes",
            "weather_condition", "is_holiday")
      .withColumn("actual_arrival", col("a").cast("timestamp")).drop("a")
  }

  private def noWeather = {
    import spark.implicits._
    Seq.empty[(java.sql.Timestamp, Double, Double, Double)]
      .toDF("recorded_at", "temperature", "precipitation", "wind_speed")
  }

  test("daily pipeline runs all stages and captures outputs") {
    val out = collection.mutable.Map.empty[String, DataFrame]
    val report = Pipeline.runDaily(spark,
      getClass.getResource("/gtfs").getPath, delays, noWeather,
      java.sql.Date.valueOf("2024-01-14"), out)
    val rows = report.collect().map(r => r.getString(0) -> r.getString(1))
    rows.map(_._1).toSeq shouldBe Seq(
      "staging_load", "check_data_quality", "operational_load",
      "warehouse_build", "feature_build", "predict", "evaluate",
      "monitoring_gate")
    rows.foreach { case (_, status) => status shouldBe "success" }
    out("features").count() shouldBe 3
    out("metrics").first().getAs[Long]("n") shouldBe 3
    out.contains("gate_passed") shouldBe true
  }

  test("a failing stage marks downstream stages skipped") {
    val out = collection.mutable.Map.empty[String, DataFrame]
    val report = Pipeline.runDaily(spark, "/nonexistent/gtfs", delays,
      noWeather, java.sql.Date.valueOf("2024-01-14"), out)
    val byStage = report.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the CSV readers resolve their paths eagerly, so the missing path
    // fails in the staging stage itself and the rest skip
    byStage("staging_load") shouldBe "failed"
    val statuses = report.collect().map(_.getString(1))
    statuses.count(_ == "skipped") shouldBe 7
    byStage("monitoring_gate") shouldBe "skipped"
  }

  test("runDaily leaves only the handed-back fact and features cached, " +
       "also when a stage fails") {
    val caches = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val asOf = java.sql.Date.valueOf("2024-01-14")
    val gtfs = getClass.getResource("/gtfs").getPath
    spark.catalog.clearCache()
    val out = collection.mutable.Map.empty[String, DataFrame]
    Pipeline.runDaily(spark, gtfs, delays, noWeather, asOf, out)
    out("fact").storageLevel.useMemory shouldBe true
    out("features").storageLevel.useMemory shouldBe true
    out("fact").unpersist()
    out("features").unpersist()
    caches.isEmpty shouldBe true
    // fails in staging, before any cache
    Pipeline.runDaily(spark, "/nonexistent/gtfs", delays, noWeather, asOf)
    caches.isEmpty shouldBe true
    // fails in the warehouse (no events), after the operational caches
    val failed = Pipeline.runDaily(spark, gtfs, delays.limit(0), noWeather,
      asOf).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    failed("operational_load") shouldBe "success"
    failed("warehouse_build") shouldBe "failed"
    caches.isEmpty shouldBe true
  }

  test("a daily job over the fixture runs at most 52 Spark jobs") {
    // With AQE every shuffle, broadcast and action is a Spark job, and at
    // small inputs the daily job's time follows its job count. The jobs
    // are counted by their own job group, so other suites' jobs are not.
    // Collecting the evaluation reports is part of the job: the metrics
    // row is collected once inside runDaily, so reading it again is free.
    val sc = spark.sparkContext
    val group = "pipeline-spec-job-budget"
    val out = collection.mutable.Map.empty[String, DataFrame]
    sc.setJobGroup(group, "one daily job over the /gtfs fixture")
    try {
      Pipeline.runDaily(spark, getClass.getResource("/gtfs").getPath, delays,
        noWeather, java.sql.Date.valueOf("2024-01-14"), out)
      out("metrics").collect()
      out("risk").collect()
    } finally sc.clearJobGroup()
    GraftProbeShim.drainListeners(sc)
    out("fact").unpersist()
    out("features").unpersist()
    sc.statusTracker.getJobIdsForGroup(group).length should be <= 52
  }
}
