package graft.ops

import graft.Tables
import org.apache.spark.sql.SparkSession

/** SQL entry surface — the reference is SQL-shaped (every layer is a psql
  * script), so "a user of the reference could switch" includes writing
  * plain SQL against this engine. `registerAll` exposes the tables as
  * temp views; the query entries run textual SQL through `spark.sql`,
  * traversing the exact same Catalyst pipeline as the DataFrame API
  * (SURVEY §3.1) — and are therefore held to the same DuckDB oracle.
  */
object SqlSurface {

  /** Register every testdata table as a temp view (idempotent). */
  def registerAll(s: SparkSession, sfDir: String): Unit =
    Tables.allNames.foreach {
      case "events" => // view with the normalized NTZ timestamp
        Tables.events(s, sfDir).createOrReplaceTempView("events")
      case n =>
        Tables.table(s, sfDir, n).createOrReplaceTempView(n)
    }

  /** Run entry `name`'s own oracle text through `spark.sql`, registering
    * only the views it references — registerAll's 10 eager schema reads
    * per invocation are waste when the query touches one table. One
    * text serves both engines: where the oracle pins a DuckDB dtype with
    * `CAST(count(*) AS BIGINT)`, Spark's count is already BIGINT and
    * SimplifyCasts drops the cast. */
  private def q(name: String, tables: String*): Q = (s, d) => {
    tables.foreach {
      case "events" => Tables.events(s, d).createOrReplaceTempView("events")
      case n => Tables.table(s, d, n).createOrReplaceTempView(n)
    }
    s.sql(oracles(name))
  }

  /** Pricing-summary flagship, expressed as textual SQL. */
  val sqlPricingSummary: Q = q("sql_pricing_summary", "lineitem")

  /** Correlated scalar subquery in SQL — Catalyst decorrelates it into
    * the same aggregate-join the DataFrame form (J6) builds by hand. */
  val sqlCorrelatedSubquery: Q = q("sql_correlated_subquery", "orders")

  /** Explicit GROUPING SETS (the general form ROLLUP/CUBE specialize —
    * both already entries via `agg_rollup`/`agg_cube`): per-(status,
    * priority), per-status, and grand-total in ONE scan with partial
    * aggregation before the expand — not three queries unioned.
    * `GROUPING()` disambiguates a genuine NULL group key from a
    * summarized one, exactly as the rollup/cube entries do. */
  val sqlGroupingSets: Q = q("sql_grouping_sets", "orders")

  /** EXISTS / NOT EXISTS correlated predicates — Catalyst's
    * RewritePredicateSubquery turns them into the semi/anti joins the
    * DataFrame entries (J4/J5) build by hand; this entry checks the SQL
    * path end-to-end: customers holding at least one >150k order but no
    * order below 5k. */
  val sqlExists: Q = q("sql_exists_not_exists", "customer", "orders")

  /** LATERAL correlated subquery — per-customer top-2 orders by price,
    * the classic top-N-per-group as its SQL-standard LATERAL spelling
    * (Catalyst decorrelates into the same WindowGroupLimit-able shape
    * the DataFrame rank entries use). */
  val sqlLateral: Q = q("sql_lateral_topn", "customer", "orders")

  /** WITH RECURSIVE (supported since Spark 4.0) — iterative reachability
    * over the event-type transition graph derived from the stream: all
    * ≤4-hop walks from 'signup', reporting per reachable type the
    * minimum hop count and walk multiplicity. The recursion operates on
    * the |types|² edge list (cardinality-bounded), not on events — the
    * pattern for hierarchy/graph expansion where each iteration is a
    * join against a bounded frame; unbounded-frontier graph work at
    * 100 TB belongs to the dedicated CC operator
    * ([[graft.ops.Clustering]]), which checkpoints between rounds. */
  val sqlRecursive: Q = (s, d) => {
    // Materialize the type-transition edge list ONCE before recursing:
    // inlined as a plain CTE, Spark re-derives it (a full lag-window
    // over events) on EVERY recursion round — 4 extra corpus scans for
    // an edge list that is event-type-graph-grain (tens of rows). At
    // 100 TB that materialize-then-iterate split is the only viable
    // shape for any iterative query whose seed frame is corpus-derived.
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql(
      """SELECT DISTINCT prev_type AS src, event_type AS dst
        |FROM (SELECT event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NOT NULL""".stripMargin)
      .localCheckpoint()
      .createOrReplaceTempView("rec_edges")
    s.sql(
      """WITH RECURSIVE hops(node, lvl) AS (
        |  SELECT 'signup', 0
        |  UNION ALL
        |  SELECT e.dst, h.lvl + 1
        |  FROM hops h JOIN rec_edges e ON e.src = h.node
        |  WHERE h.lvl < 4)
        |SELECT node, CAST(min(lvl) AS INTEGER) AS min_hops,
        |       CAST(count(*) AS BIGINT) AS n_walks
        |FROM hops GROUP BY node ORDER BY node""".stripMargin)
  }

  val queries: Map[String, Q] = Map(
    "sql_pricing_summary" -> sqlPricingSummary,
    "sql_correlated_subquery" -> sqlCorrelatedSubquery,
    "sql_grouping_sets" -> sqlGroupingSets,
    "sql_exists_not_exists" -> sqlExists,
    "sql_recursive_cte" -> sqlRecursive,
    "sql_lateral_topn" -> sqlLateral)

  val oracles: Map[String, String] = Map(
    "sql_recursive_cte" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT prev_type AS src, event_type AS dst
        |  FROM (SELECT event_type,
        |          lag(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS prev_type
        |        FROM events)
        |  WHERE prev_type IS NOT NULL),
        |hops(node, lvl) AS (
        |  SELECT 'signup', 0
        |  UNION ALL
        |  SELECT e.dst, h.lvl + 1
        |  FROM hops h JOIN edges e ON e.src = h.node
        |  WHERE h.lvl < 4)
        |SELECT node, CAST(min(lvl) AS INTEGER) AS min_hops,
        |       CAST(count(*) AS BIGINT) AS n_walks
        |FROM hops GROUP BY node ORDER BY node""".stripMargin,
    "sql_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_quantity > 5
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sql_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 2.0 * (
        |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) /
        |         count(*)
        |  FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "sql_exists_not_exists" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice < 5000)
        |ORDER BY c_custkey""".stripMargin,
    "sql_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "sql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority"""
        .stripMargin)
}
