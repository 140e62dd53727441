package graft.etl

import graft.functions.GtfsFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Prediction-evaluation surface of the reference's ML drivers
  * (`/root/reference/train_delay_model.py:358-416` metrics,
  * `predict_delays.py:140-186` test-mode evaluation + best/worst lists,
  * `airflow/dags/ml_pipeline_dag.py:363-394` monitoring gate). The model
  * fit itself is out-of-engine (SURVEY §3.2); every relational step
  * around it is here.
  *
  * Scale notes: all metrics are single-pass aggregates (no driver
  * materialization — the reference pulls predictions into pandas);
  * best/worst lists are TakeOrderedAndProject top-ks. The daily job
  * collects the one metrics row once ([[collectMetrics]]): the monitoring
  * gate reads its accuracy instead of aggregating the predictions again.
  */
object Evaluation {

  /** The reference's monitoring floor (`ml_pipeline_dag.py:386-388`). */
  val accuracyFloor = 0.75

  /** Share of predictions within `minutes` of the actual delay: the
    * accuracies of [[metrics]] and the figure the monitoring gate reads. */
  private def accuracyWithin(minutes: Int) =
    count(when(abs(col("predicted") - col("actual")) <= minutes, 1))
      .cast("double") / count(lit(1))

  /** [[metrics]] plus its unrounded within-10-minute accuracy, `acc10_raw`,
    * as the last column. */
  private def metricsRaw(preds: DataFrame): DataFrame = {
    val err = col("predicted") - col("actual")
    // R² from sufficient statistics (SST = Σy² − (Σy)²/n) so everything
    // is ONE aggregation pass — no second scan for the mean
    preds.agg(
      count(lit(1)).as("n"),
      avg(abs(err)).as("mae_raw"),
      sqrt(avg(err * err)).as("rmse_raw"),
      accuracyWithin(5).as("acc5_raw"),
      accuracyWithin(10).as("acc10_raw"),
      sum(err * err).as("sse"),
      sum(col("actual")).as("sy"),
      sum(col("actual") * col("actual")).as("syy"))
    .select(
      col("n"),
      round(col("mae_raw"), 4).as("mae"),
      round(col("rmse_raw"), 4).as("rmse"),
      round(col("acc5_raw"), 4).as("accuracy_within_5min"),
      round(col("acc10_raw"), 4).as("accuracy_within_10min"),
      round(lit(1.0) - col("sse") /
        (col("syy") - col("sy") * col("sy") / col("n")), 4).as("r2"),
      col("acc10_raw"))
  }

  /** MAE / RMSE / within-tolerance accuracies + R², one aggregation pass.
    * Input needs `actual` and `predicted` double columns. */
  def metrics(preds: DataFrame): DataFrame =
    metricsRaw(preds).drop("acc10_raw")

  /** [[metrics]] run once: its row as a local frame, which reading again
    * runs no Spark job, and the unrounded within-10-minute accuracy for
    * the monitoring gate. */
  def collectMetrics(preds: DataFrame): (DataFrame, Double) = {
    val raw = metricsRaw(preds)
    val row = raw.collect().head
    (preds.sparkSession.createDataFrame(
       java.util.List.of(Row.fromSeq(row.toSeq.init)),
       raw.drop("acc10_raw").schema),
     row.getAs[Double]("acc10_raw"))
  }

  /** Best/worst predictions by absolute error (T4 shape,
    * `predict_delays.py:176-183`). */
  def bestWorst(preds: DataFrame, k: Int = 10): (DataFrame, DataFrame) = {
    val withErr = preds.withColumn("abs_error",
      round(abs(col("predicted") - col("actual")), 2))
    (withErr.orderBy(col("abs_error").asc, col("trip_id")).limit(k),
     withErr.orderBy(col("abs_error").desc, col("trip_id")).limit(k))
  }

  /** Risk bucketing + the reference's alert rule (>10 trips predicted
    * >20 min late, `ml_pipeline_dag.py:406-407`). At most five rows, so
    * they are sorted in one partition: a global sort would sample and
    * shuffle them first. */
  def riskReport(preds: DataFrame): DataFrame =
    preds
      .withColumn("risk_level", GtfsFunctions.riskLevel(col("predicted")))
      .groupBy(col("risk_level"))
      .agg(count(lit(1)).as("n_trips"),
           round(avg(col("predicted")), 2).as("avg_predicted_delay"))
      .withColumn("alert",
        col("risk_level").isin("High", "Severe") && col("n_trips") > 10)
      .coalesce(1)
      .sortWithinPartitions(col("risk_level"))

  /** The monitoring gate: trailing-window accuracy with the reference's
    * 75% floor (`ml_pipeline_dag.py:386-388`) and the 85% training
    * success threshold (`train_delay_model.py:583-587`). */
  def monitoringGate(preds: DataFrame, floor: Double = accuracyFloor): Boolean =
    preds.agg(accuracyWithin(10)).first().getDouble(0) >= floor
}
