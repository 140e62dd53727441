package graft

import graft.etl.BucketedLayout
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Bucketed co-located join: matching bucket specs ⇒ the join inputs
  * carry no ShuffleExchange (the shuffle was paid once at write time). */
class LayoutSpec extends SparkSpec {

  test("materialized views: materialize, query via temp view, refresh picks up new build") {
    import graft.etl.MaterializedViews
    val base = SparkSpec.scratch("mv")
    var threshold = 100000.0
    def build() = Tables.orders(spark, sf("sf0.001"))
      .filter(col("o_totalprice") > threshold)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val first = MaterializedViews.refreshAll(spark, base,
      Map("mv_big_orders" -> (() => build())))("mv_big_orders")
    val viaView = spark.table("mv_big_orders")
    viaView.count() shouldBe first.count()
    // refresh with a changed definition writes a NEW snapshot; the view
    // re-points, while the pre-refresh handle keeps its old snapshot
    // (snapshot isolation — overwrite-in-place would throw
    // FAILED_READ_FILE on the stale handle)
    threshold = 300000.0
    MaterializedViews.refreshAll(spark, base,
      Map("mv_big_orders" -> (() => build())))
    val refreshed = spark.table("mv_big_orders")
    refreshed.agg(sum("n")).first().getLong(0) should be <
      viaView.agg(sum("n")).first().getLong(0)
    spark.catalog.dropTempView("mv_big_orders")
  }

  test("bucketed lineitem join orders plans without an input shuffle and matches unbucketed results") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    // force a sort-merge join so the exchange question is meaningful
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedLayout.bucketFacts(spark, sf("sf0.001"))
      val j = BucketedLayout.colocatedJoin(spark)
      j.collect() // materialize through AQE
      val shuffles = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // the only allowed exchanges are AFTER the join (groupBy/orderBy on
      // other keys); the join inputs themselves must be shuffle-free —
      // equivalently, at most the 2 post-join exchanges exist, vs 4 when
      // unbucketed (2 join inputs + groupBy + sort)
      shuffles.length should be <= 2
      // and results equal the plain unbucketed join
      val plain = Tables.lineitem(spark, sf("sf0.001"))
        .join(Tables.orders(spark, sf("sf0.001")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
               .as("revenue"))
        .orderBy(col("o_orderpriority"))
      j.collect().toSeq shouldBe plain.collect().toSeq
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    }
  }
}
