package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.3, J1–J9).
  *
  * Re-expresses every join shape the reference uses: inner equi-joins
  * (`/root/reference/sql/load_gtfs_data.sql:185,209-210`), the 5-way star
  * join building the fact table (`sql/fact_dim_tables.sql:341-345`), LEFT
  * joins (`sql/ml_feature_engineering.sql:248-249`), the
  * LEFT-JOIN-WHERE-NULL anti pattern (`sql/load_gtfs_data.sql:95-101`),
  * `= ANY(...)` semi joins (`generate_synthetic_data.py:106-118`),
  * correlated scalar subqueries decorrelated by hand
  * (`sql/fact_dim_tables.sql:268-280`), the hour-quantized weather as-of
  * join (`sql/ml_feature_engineering.sql:192-213`), CROSS JOIN of generated
  * series (`sql/fact_dim_tables.sql:215-217`) and `UPDATE ... FROM`
  * join-update (`sql/ml_feature_engineering.sql:387-453`).
  *
  * Scale notes: the fact-side tables (lineitem/orders/events) shuffle on
  * the join key — at 100 TB that's a sort-merge join whose exchanges AQE
  * resizes. Explicit `broadcast()` hints are reserved for PROVABLY
  * bounded sides (region 5 rows, nation 25, the per-hour as-of
  * aggregate); part and customer scale linearly with the fact data
  * (200k/150k × SF), so they are left UNHINTED like the per-key
  * aggregates in J6/J9 — AQE broadcasts them while they measure small
  * and degrades to sort-merge instead of a driver OOM past the
  * threshold (ScaleBehaviorSpec pins the broadcast at bench scale).
  */
object Joins {

  /** J1 — 2-way inner equi-join; part grows with SF so the broadcast is
    * AQE's runtime call, not a hint. */
  val joinInnerEqui: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))

  /** J2 — 5-way star join (fact ⨝ four dims): bounded dims (nation,
    * region) hinted; customer scales with SF → unhinted, AQE decides. */
  val joinStar5way: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J3 — LEFT OUTER join preserving unmatched left rows. */
  val joinLeft: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           dsum(col("o_totalprice")).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** J4 — anti join (reference's LEFT JOIN ... WHERE key IS NULL orphans). */
  val joinAntiOrphans: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** J5 — semi join (reference's `service_id = ANY(...)`). */
  val joinSemiServices: Q = (s, d) => {
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000d)
    Tables.customer(s, d)
      .join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** J6 — correlated scalar subquery, decorrelated: aggregate per key, then
    * join the aggregate back and filter. NO broadcast hint: the aggregate
    * has one row per customer — a cardinality that grows linearly with the
    * fact data (billions of rows at 100 TB), where a forced hint would be a
    * driver OOM/broadcast timeout. AQE sizes the built side at runtime and
    * still picks BroadcastHashJoin while it is genuinely small (plan-
    * asserted in ScaleBehaviorSpec), degrading gracefully to sort-merge
    * when it is not. Hints stay only on provably bounded sides (dims,
    * per-hour aggregates). */
  val joinScalarSubquery: Q = (s, d) => {
    val o = Tables.orders(s, d)
    // exact decimal sum + count instead of avg(): the `price > avg` filter
    // is evaluated as `price * n > sum` — pure decimal arithmetic, immune
    // to double-summation order (a boundary row must not flip engines)
    val custAgg = o.groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("cust_sum"),
           count(lit(1)).as("cust_n"))
    o.join(custAgg, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice").cast("decimal(18,2)") * col("cust_n") >
              col("cust_sum"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              (col("cust_sum").cast("double") / col("cust_n"))
                .as("cust_avg_price"))
      .orderBy(col("o_orderkey"))
  }

  /** J7 — as-of join quantized to the hour (delay event ↔ hourly weather):
    * events join a per-hour aggregate on the truncated-hour key. The hourly
    * side is one row per hour — tiny — so it broadcasts; the fact side never
    * shuffles. */
  val joinAsofHour: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(ravg(col("value")).as("hourly_avg"),
           count(lit(1)).as("hourly_n"))
    ev.withColumn("h", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
      .join(broadcast(hourly), Seq("h"), "left")
      .select(col("event_id"), col("h"), col("hourly_avg"), col("hourly_n"))
      .orderBy(col("event_id"))
  }

  /** The union-and-carry frame shared by the as-of joins J7b–J7e:
    * purchase observations pre-aggregated to unique (user_id, ts), their
    * payload packed in `obspack`, tagged `obsSide`; every event tagged
    * the other side with a NULL pack; side-0 rows unioned first. The
    * carries run over [[asofOrder]], where side 0 sorts first at equal
    * ts: `obsSide` 0 gives <= matches (backward, nearest), 1 gives >=
    * matches (forward). */
  private def asofUnion(ev: DataFrame, obsSide: Int): DataFrame = {
    val obs = ev
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("obs_value"))
    val build = obs.select(col("user_id"), col("ts"), lit(obsSide).as("side"),
      lit(null).cast("bigint").as("event_id"),
      struct(col("ts").as("obs_ts"), col("obs_value")).as("obspack"))
    val probe = ev.select(col("user_id"), col("ts"), lit(1 - obsSide).as("side"),
      col("event_id"),
      lit(null).cast("struct<obs_ts:timestamp_ntz,obs_value:double>")
        .as("obspack"))
    if (obsSide == 0) build.unionByName(probe) else probe.unionByName(build)
  }

  /** One per-user (ts, side) sort; the backward and forward carries are
    * two frames over it. */
  private val asofOrder =
    Window.partitionBy(col("user_id")).orderBy(col("ts"), col("side"))
  private val carryBack = asofOrder.rowsBetween(Window.unboundedPreceding, 0)
  private val carryNext = asofOrder.rowsBetween(0, Window.unboundedFollowing)

  /** J7b — TRUE as-of join (last preceding observation), the principled
    * variant of the reference's LIMIT-1-per-match weather join
    * (`sql/ml_feature_engineering.sql:192-213`) that [[joinAsofHour]]
    * hour-quantizes: every event is joined to the LATEST purchase
    * observation of the same user with obs.ts <= event.ts.
    *
    * Implemented as the union-and-carry shape — the canonical distributed
    * as-of: tag observation rows 0 and probe rows 1, union, then one
    * window per user ordered by (ts, side) carrying
    * `last(obs, ignoreNulls)` over ROWS UNBOUNDED PRECEDING; side 0
    * sorts before side 1 at equal ts, giving inclusive <= semantics.
    * Both sides shuffle ONCE on user_id (no range join, no per-row
    * subquery); per-partition state is a single running struct, so the
    * operator is linear in rows at any scale, with key skew handled by
    * AQE. The observation payload rides in a struct so a NULL
    * observation VALUE is still a match (exactly DuckDB ASOF semantics —
    * `last(value, ignoreNulls)` alone would skip past it). Observations
    * are pre-aggregated to unique (user_id, ts) so the match is
    * deterministic; NULL-user observations are dropped to mirror the
    * equi-join's NULL-never-matches rule while NULL-user probe rows
    * survive with a NULL match. Oracle: DuckDB's native ASOF LEFT JOIN. */
  val joinAsofTrue: Q = (s, d) =>
    asofUnion(Tables.events(s, d), obsSide = 0)
      .withColumn("m", last(col("obspack"), ignoreNulls = true).over(carryBack))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
              col("m.obs_ts").as("obs_ts"), col("m.obs_value").as("obs_value"))
      .orderBy(col("event_id"), col("user_id"), col("ts"), col("obs_ts"),
               col("obs_value"))

  /** J7c — as-of join WITH a staleness tolerance (pandas
    * `merge_asof(tolerance=...)` semantics): the last preceding
    * observation counts only if it is at most 1 h old — the contract
    * real feature pipelines want ("join the latest weather, but a
    * reading from last Tuesday is worse than none": the reference's
    * hour-quantized weather join silently accepts arbitrarily stale
    * rows on sparse days). Same union-window machinery as
    * [[joinAsofTrue]] — one user-partitioned sort window, no join
    * explosion — plus one integer epoch-second staleness test that
    * nulls out stale matches and reports the tolerance verdict
    * per row. DuckDB oracle: native ASOF LEFT JOIN wrapped in the same
    * CASE. */
  val joinAsofTolerance: Q = (s, d) => {
    val tolSec = 3600L
    asofUnion(Tables.events(s, d), obsSide = 0)
      .withColumn("m", last(col("obspack"), ignoreNulls = true).over(carryBack))
      .filter(col("side") === 1)
      .withColumn("fresh", col("m").isNotNull &&
        unix_timestamp(col("ts")) - unix_timestamp(col("m.obs_ts")) <= tolSec)
      .select(col("event_id"), col("user_id"), col("ts"),
              when(col("fresh"), col("m.obs_ts")).as("obs_ts"),
              when(col("fresh"), col("m.obs_value")).as("obs_value"),
              coalesce(col("fresh"), lit(false)).as("within_tolerance"))
      .orderBy(col("event_id"), col("user_id"), col("ts"), col("obs_ts"),
               col("obs_value"))
  }

  /** J8 — CROSS JOIN of two generated series (hours × quarter-hours →
    * dim_time shape, `fact_dim_tables.sql:215-217`). */
  val joinCrossSeries: Q = (s, _) => {
    val hours = s.range(0, 24).select(col("id").cast("int").as("h"))
    val minutes = s.range(0, 4).select((col("id") * 15).cast("int").as("m"))
    hours.crossJoin(minutes)
      .select(col("h"), col("m"), (col("h") * 100 + col("m")).as("time_key"))
      .orderBy(col("time_key"))
  }

  /** J9 — `UPDATE ... FROM` join-update, re-expressed as an immutable
    * rebuild: left-join the per-key aggregate and select-replace columns.
    * Like J6, the per-customer aggregate is unbounded at scale, so no
    * broadcast hint — AQE broadcasts while small, sort-merges when not. */
  val joinUpdateFrom: Q = (s, d) => {
    val spent = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("spent"), count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(spent, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("spent"), lit(0.0)).as("total_spent"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  /** J10 — SCD2 (slowly-changing-dimension type 2) merge: the immutable
    * re-expression of the reference's `ON CONFLICT DO UPDATE` dimension
    * upserts (`sql/load_gtfs_data.sql` upsert blocks) with history kept.
    * An update batch (deterministic stand-in: every 7th customer moves
    * segment and gains 100.0 balance) closes the prior version
    * (`is_current = false`) and appends version 2; untouched keys keep
    * their open version-1 row.
    *
    * Plan shape: one semi- and one anti-join of the dimension against
    * the update keys plus a union — all on the same key, and the update
    * batch is the small side, so AQE broadcasts it and the dimension is
    * scanned twice without shuffling (at 100 TB: two broadcast probes of
    * a daily change set over a partitioned dim, then a partition
    * overwrite — no MERGE engine required, same result). */
  val joinScd2Merge: Q = (s, d) => {
    val cur = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val updates = cur.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
              (col("c_acctbal") + 100.0).as("c_acctbal"),
              lit("MIGRATED").as("c_mktsegment"))
    scd2Merge(cur, updates, "c_custkey")
      .orderBy(col("c_custkey"), col("version"))
  }

  /** Core of [[joinScd2Merge]], injectable for specs: `cur` is the open
    * version-1 dimension, `updates` the change batch (same schema);
    * changed keys get their v1 row closed and a v2 row appended. */
  def scd2Merge(cur: org.apache.spark.sql.DataFrame,
                updates: org.apache.spark.sql.DataFrame,
                key: String): org.apache.spark.sql.DataFrame = {
    val keys = updates.select(col(key))
    val payload = cur.columns.filterNot(_ == key)
    def shaped(df: org.apache.spark.sql.DataFrame, version: Int,
               isCurrent: org.apache.spark.sql.Column) =
      df.select(col(key) +: lit(version).as("version") +:
        payload.map(col) :+ isCurrent.as("is_current"): _*)
    shaped(cur.join(keys, Seq(key), "left_semi"), 1, lit(false))
      .unionByName(shaped(cur.join(keys, Seq(key), "left_anti"), 1, lit(true)))
      .unionByName(shaped(updates, 2, lit(true)))
  }

  /** J11 — range (band) join: events classified into uneven value bands
    * via `lo <= value < hi` — the non-equi join class behind bucketing
    * by thresholds, SLA tiers, and histogram-with-irregular-bins (the
    * regular-bin variant is [[Aggregates.aggHistogram]]'s floor-divide;
    * a genuine range table can't be floor-divided). The band table is
    * definitionally bounded, so the explicit `broadcast` is safe at any
    * SF (5 rows — unlike the customer-cardinality hints removed in
    * round 3) and the plan is BroadcastNestedLoopJoin: a map-side scan
    * of events against 5 in-memory rows, no shuffle of the fact side at
    * all. At 1000 bands+, the production variant interval-indexes the
    * broadcast side; the operator contract stays identical. */
  val joinRangeBucket: Q = (s, d) => {
    import s.implicits._
    val dim = Seq(
      ("tiny", 0.0, 1.0), ("small", 1.0, 5.0), ("mid", 5.0, 20.0),
      ("large", 20.0, 100.0), ("huge", 100.0, 1000.0))
      .toDF("bucket", "lo", "hi")
    Tables.events(s, d)
      .join(broadcast(dim),
            col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("bucket"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("bucket"))
  }

  /** J12 — grid-bucketed spatial self-join: all point pairs within radius
    * R, found via cell bucketing instead of all-pairs. The reference keeps
    * `DECIMAL(10,8)` stop coordinates (`/root/reference/sql/create_schema
    * .sql:12-13`) but only avg-compares them; a transit network at scale
    * needs the real thing — "which stops are within 500 m of each other"
    * — without an O(N²) cross join. Coordinates here are deterministic
    * integer micro-units derived from [[Dedup.hash60]] (the testdata has
    * no coordinate columns), so both engines derive identical points and
    * the whole query is integer-exact: squared distance in BIGINT, no
    * trig, no doubles anywhere.
    *
    * Scale shape: each point lands in a `cellW`-wide grid cell
    * (`cellW >= R`, so a pair within R spans at most adjacent cells);
    * the probe side explodes to its 3×3 cell neighborhood (×9 rows) and
    * equi-joins the build side's HOME cell — a plain shuffle-hash/SMJ on
    * the cell key, with work proportional to Σ per-cell density², the
    * spatial analogue of the LSH band join in [[Dedup]]. Each unordered
    * pair is emitted exactly once: the probe row visits the build point's
    * single home cell, and `a.key < b.key` kills the mirrored visit. At
    * 100 TB the cell key shuffles uniformly (hash-derived coordinates
    * here; real city data skews → AQE skew split or a finer grid +
    * multi-cell union, same contract). DuckDB's oracle brute-forces the
    * O(N²) predicate join — identical pair set at test scale. */
  val joinGeoGrid: Q = (s, d) => {
    val cellW = 10000L // micro-units; = R, so 3×3 neighborhood is complete
    val r2 = 100000000L // R = 10 000 → R² = 1e8, all in BIGINT
    def coord(ns: String) =
      pmod(Dedup.hash60(concat(lit(ns), col("c_custkey").cast("string"))),
           lit(1000000L))
    val pts = Tables.customer(s, d)
      .select(col("c_custkey").as("key"),
              coord("gx|").as("x"), coord("gy|").as("y"))
      .withColumn("cx", expr(s"x div $cellW"))
      .withColumn("cy", expr(s"y div $cellW"))
    val build = pts.select(col("key").as("b_key"), col("x").as("bx"),
                           col("y").as("by"), col("cx").as("bcx"),
                           col("cy").as("bcy"))
    val offsets = array((for (i <- -1 to 1; j <- -1 to 1)
      yield struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj"))): _*)
    val probe = pts
      .select(col("key"), col("x"), col("y"), col("cx"), col("cy"),
              explode(offsets).as("o"))
      .select(col("key"), col("x"), col("y"),
              (col("cx") + col("o.di")).as("pcx"),
              (col("cy") + col("o.dj")).as("pcy"))
    probe.join(build,
        col("pcx") === col("bcx") && col("pcy") === col("bcy") &&
        col("key") < col("b_key"))
      .withColumn("dist2",
        (col("x") - col("bx")) * (col("x") - col("bx")) +
        (col("y") - col("by")) * (col("y") - col("by")))
      .where(col("dist2") <= r2)
      .select(col("key").as("key_a"), col("b_key").as("key_b"), col("dist2"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** J13 — blocked fuzzy (edit-distance) self-join at dictionary grain:
    * the entity-resolution primitive — "which names are within k edits of
    * each other" — made scale-safe twice over. First, match at the
    * DISTINCT-value grain: part names are a bounded vocabulary (64
    * adjective×noun combos at any SF), so the quadratic runs on the
    * dictionary while per-row counts join back — exactly how name/address
    * resolution handles a 100 TB fact table (distinct-shuffle the values,
    * match once, broadcast the match map back). Second, block before
    * comparing: candidates must share a blocking key (the noun token
    * here), bounding pair generation to Σ block² instead of N² — the same
    * candidate-bounding contract as the LSH band join and [[joinGeoGrid]]'s
    * cells; production stacks a second blocking pass (e.g. same-length or
    * phonetic key) and unions, trading compute for recall. Levenshtein is
    * integer unit-cost on both engines ([[graft.ops.Extras]]'
    * `fn_edit_distance` proves bit-portability). */
  val joinFuzzyBlocked: Q = (s, d) => {
    val names = Tables.part(s, d)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", split(col("p_name"), " ").getItem(1))
    val a = names.select(col("noun"), col("p_name").as("name_a"),
                         col("n_parts").as("n_parts_a"))
    val b = names.select(col("noun"), col("p_name").as("name_b"),
                         col("n_parts").as("n_parts_b"))
    a.join(b, Seq("noun"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= 4)
      .select(col("name_a"), col("name_b"), col("dist"),
              col("n_parts_a"), col("n_parts_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** J14 — bucketed interval-overlap join (the batch cousin of
    * [[graft.streaming.Streaming]]'s stream-stream interval join): which
    * events overlap which maintenance windows, joined WITHOUT a
    * cross-product — both sides are keyed by the hour bucket they touch
    * (an event's [t, t+300) span explodes to its ≤2 covering hours; a
    * window sits inside one), so the non-equi overlap predicate runs
    * only within hour-key groups: work Σ per-hour density², never
    * N×M. This is the standard time-bucketing rewrite for interval
    * joins at scale — the bucket width is tuned to the interval spans
    * (≥ max span keeps the explode factor ≤2). Windows are derived
    * deterministically (hash-gated 1-in-6 hours, minutes 10–25), so
    * both engines see identical windows and the whole query is integer
    * epoch-second exact; the DuckDB oracle brute-forces the predicate
    * join. Zero-overlap windows are kept via the final left join — the
    * dashboard wants the quiet windows too. */
  val joinIntervalOverlap: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(unix_timestamp(col("ts")).as("st"))
      .withColumn("en", col("st") + 300L)
      .select(col("st"), col("en"),
        explode(array_distinct(array(expr("st div 3600"),
                                     expr("(en - 1) div 3600")))).as("hk"))
    val win = Tables.events(s, d)
      .select(to_date(col("ts")).as("day")).distinct()
      .select(col("day"), explode(sequence(lit(0), lit(23))).as("hour"))
      .where(pmod(Dedup.hash60(concat(lit("mw|"), col("day").cast("string"),
               lit("|"), col("hour").cast("string"))), lit(6L)) === 0L)
      .select(col("day"), col("hour"),
        (unix_timestamp(col("day").cast("timestamp")) +
          col("hour") * 3600L + 600L).as("w_st"))
      .withColumn("w_en", col("w_st") + 900L)
      .withColumn("hk", expr("w_st div 3600"))
    val matched = win.join(ev, Seq("hk"))
      .where(col("st") < col("w_en") && col("en") > col("w_st"))
      .groupBy(col("day"), col("hour"))
      .agg(count(lit(1)).as("n_overlap"))
    win.select(col("day"), col("hour"))
      .join(matched, Seq("day", "hour"), "left")
      .select(col("day"), col("hour"),
              coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .orderBy(col("day"), col("hour"))
  }

  /** J15 — dynamic partition pruning (DPP) over a date-partitioned
    * layout: the star-schema access path that makes a 100 TB fact scan
    * read only the partitions a filtered dimension selects AT RUNTIME.
    * The fact (events) is laid out `partitionBy(day)` — the §4 layout
    * rule: partition layout replaces the reference's btree indexes
    * (`/root/reference/sql/create_schema.sql:181-196`) — and joined to
    * a day-dimension filtered on an attribute (month-start days) the
    * optimizer cannot statically push through the join key. Catalyst
    * injects a `dynamicpruning` subquery into the fact scan's
    * PartitionFilters, reusing the dim's broadcast: at 1000 executors
    * this is the difference between scanning 5/30 of the corpus and
    * all of it. ScaleBehaviorSpec pins the injected filter in the
    * plan; the oracle replays the join over the flat table. */
  val joinPartitionPrune: Q = (s, d) => {
    val scratch = Ingest.scratchDir("dpp_events")
    val staged = Tables.events(s, d)
      .withColumn("day", to_date(col("ts")))
    staged.write.mode("overwrite").partitionBy("day").parquet(scratch)
    // explicit schema: an EMPTY events table writes only _SUCCESS (no
    // day= dirs, no footers) and schema inference would throw
    // UNABLE_TO_INFER_SCHEMA (fuzz seed 702, empty-table axis)
    val fact = s.read.schema(staged.schema).parquet(scratch)
    val dim = Tables.events(s, d)
      .select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) <= 5)
    fact.join(dim, Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy(col("day"))
  }

  /** J7d — FORWARD as-of join (pandas `merge_asof(direction='forward')`):
    * each event matched to the NEXT observation at or after its
    * timestamp — the "what happened next" join behind
    * label-at-horizon feature builds (backward as-of answers "latest
    * known state", forward answers "next outcome"). Same
    * union-and-carry machinery as [[joinAsofTrue]] mirrored in time:
    * probe rows sort BEFORE build rows at equal ts (side 0 < 1) and the
    * window runs current-row → unbounded FOLLOWING taking the first
    * non-null pack, so an observation at the exact event time matches
    * (>= semantics), preserving one user-partitioned sort and no join
    * explosion. DuckDB has no forward ASOF JOIN — the oracle replays
    * the identical window program with IGNORE NULLS first_value. */
  val joinAsofForward: Q = (s, d) =>
    asofUnion(Tables.events(s, d), obsSide = 1)
      .withColumn("m", first(col("obspack"), ignoreNulls = true).over(carryNext))
      .filter(col("side") === 0)
      .select(col("event_id"), col("user_id"), col("ts"),
              col("m.obs_ts").as("next_ts"), col("m.obs_value").as("next_value"))
      .orderBy(col("event_id"), col("user_id"), col("ts"), col("next_ts"),
               col("next_value"))

  /** J7e — NEAREST as-of join (pandas `merge_asof(direction='nearest')`):
    * each event matched to the closest purchase observation of the same
    * user in EITHER time direction, ties going to the earlier
    * observation — the sensor-alignment join ("attach the closest
    * reading, past or future") that completes the as-of family
    * (backward [[joinAsofTrue]], forward [[joinAsofForward]],
    * tolerance [[joinAsofTolerance]]).
    *
    * Still ONE shuffle and ONE sort: both candidate directions come
    * from the same union frame under the same (user_id) partitioning
    * and (ts, side) order — a backward carry (`last` ignoreNulls over
    * UNBOUNDED PRECEDING..0) and a forward carry (`first` ignoreNulls
    * over 0..UNBOUNDED FOLLOWING) are two frames over one Window sort,
    * so Spark plans a single exchange + sort with both running states.
    * Build rows sort before probe rows at equal ts, so an observation
    * at exactly the event time lands in the BACKWARD carry with
    * Δt = 0 — which wins the nearest comparison unconditionally, and
    * the forward frame's strict-after semantics at equal ts is
    * therefore harmless. The |Δt| comparison is integer epoch seconds
    * on both engines — no float boundary. */
  val joinAsofNearest: Q = (s, d) => {
    val db = unix_timestamp(col("ts")) - unix_timestamp(col("p.obs_ts"))
    val dfw = unix_timestamp(col("n.obs_ts")) - unix_timestamp(col("ts"))
    val takePrev = col("p").isNotNull && (col("n").isNull || db <= dfw)
    asofUnion(Tables.events(s, d), obsSide = 0)
      .withColumn("p", last(col("obspack"), ignoreNulls = true).over(carryBack))
      .withColumn("n", first(col("obspack"), ignoreNulls = true).over(carryNext))
      .filter(col("side") === 1)
      .withColumn("m", when(takePrev, col("p")).otherwise(col("n")))
      .select(col("event_id"), col("user_id"), col("ts"),
              col("m.obs_ts").as("obs_ts"), col("m.obs_value").as("obs_value"),
              when(col("m").isNull, lit(null).cast("string"))
                .when(takePrev, lit("backward")).otherwise(lit("forward"))
                .as("direction"),
              when(takePrev, db).otherwise(dfw).as("delta_sec"))
      .orderBy(col("event_id"), col("user_id"), col("ts"), col("obs_ts"),
               col("obs_value"))
  }

  val queries: Map[String, Q] = Map(
    "join_asof_nearest" -> joinAsofNearest,
    "join_asof_forward" -> joinAsofForward,
    "join_partition_prune" -> joinPartitionPrune,
    "join_asof_tolerance" -> joinAsofTolerance,
    "join_interval_overlap" -> joinIntervalOverlap,
    "join_fuzzy_blocked" -> joinFuzzyBlocked,
    "join_geo_grid" -> joinGeoGrid,
    "join_range_bucket" -> joinRangeBucket,
    "join_scd2_merge" -> joinScd2Merge,
    "join_inner_equi" -> joinInnerEqui,
    "join_star_5way" -> joinStar5way,
    "join_left" -> joinLeft,
    "join_anti_orphans" -> joinAntiOrphans,
    "join_semi_services" -> joinSemiServices,
    "join_scalar_subquery" -> joinScalarSubquery,
    "join_asof_hour" -> joinAsofHour,
    "join_asof_true" -> joinAsofTrue,
    "join_cross_series" -> joinCrossSeries,
    "join_update_from" -> joinUpdateFrom)

  /** `obs(user_id, ts, obs_value)`: the [[asofUnion]] observations,
    * shared by the four as-of oracles. */
  private val asofObsSql: String =
    """obs AS (
      |  SELECT user_id, ts, max(value) AS obs_value
      |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      |  GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    // nearest = the winner of the backward and forward carries over the
    // SAME union-window program, |Δt| in integer epoch seconds
    "join_asof_nearest" ->
      s"""WITH $asofObsSql,
         |u AS (
         |  SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
         |    ts AS o_ts, obs_value AS o_val
         |  FROM obs
         |  UNION ALL
         |  SELECT user_id, ts, 1, event_id,
         |    CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
         |  FROM events),
         |m AS (
         |  SELECT user_id, ts, side, event_id,
         |    last_value(o_ts IGNORE NULLS) OVER wp AS p_ts,
         |    last_value(o_val IGNORE NULLS) OVER wp AS p_val,
         |    first_value(o_ts IGNORE NULLS) OVER wn AS n_ts,
         |    first_value(o_val IGNORE NULLS) OVER wn AS n_val
         |  FROM u
         |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, side
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY user_id ORDER BY ts, side
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |p AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(floor(EXTRACT(EPOCH FROM ts))
         |      - floor(EXTRACT(EPOCH FROM p_ts)) AS BIGINT) AS db,
         |    CAST(floor(EXTRACT(EPOCH FROM n_ts))
         |      - floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS df,
         |    p_ts, p_val, n_ts, n_val,
         |    (p_ts IS NOT NULL AND (n_ts IS NULL OR
         |       floor(EXTRACT(EPOCH FROM ts)) - floor(EXTRACT(EPOCH FROM p_ts))
         |       <= floor(EXTRACT(EPOCH FROM n_ts)) - floor(EXTRACT(EPOCH FROM ts))))
         |      AS take_prev
         |  FROM m WHERE side = 1)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN take_prev THEN p_ts ELSE n_ts END AS obs_ts,
         |  CASE WHEN take_prev THEN p_val ELSE n_val END AS obs_value,
         |  CASE WHEN p_ts IS NULL AND n_ts IS NULL THEN CAST(NULL AS VARCHAR)
         |       WHEN take_prev THEN 'backward' ELSE 'forward' END AS direction,
         |  CASE WHEN take_prev THEN db ELSE df END AS delta_sec
         |FROM p ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // no forward ASOF in DuckDB — identical union-and-carry window
    // program, IGNORE NULLS first_value over the following frame
    "join_asof_forward" ->
      s"""WITH $asofObsSql,
         |u AS (
         |  SELECT user_id, ts, 0 AS side, event_id,
         |    CAST(NULL AS TIMESTAMP) AS o_ts, CAST(NULL AS DOUBLE) AS o_val
         |  FROM events
         |  UNION ALL
         |  SELECT user_id, ts, 1, CAST(NULL AS BIGINT), ts, obs_value
         |  FROM obs),
         |m AS (
         |  SELECT user_id, ts, side, event_id,
         |    first_value(o_ts IGNORE NULLS) OVER w AS next_ts,
         |    first_value(o_val IGNORE NULLS) OVER w AS next_value
         |  FROM u
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_id, user_id, ts, next_ts, next_value
         |FROM m WHERE side = 0
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    // the DPP layout/join collapses to a flat filtered aggregate
    "join_partition_prune" ->
      s"""SELECT CAST(ts AS DATE) AS day,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  ${dsumSql("value")} AS total_value
         |FROM events
         |WHERE EXTRACT(day FROM CAST(ts AS DATE)) <= 5
         |GROUP BY 1 ORDER BY day""".stripMargin,
    "join_interval_overlap" ->
      s"""WITH ev AS (
         |  SELECT CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS st,
         |    CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) + 300 AS en
         |  FROM events),
         |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
         |hrs AS (
         |  SELECT day, CAST(unnest(range(0, 24)) AS INTEGER) AS hour
         |  FROM days),
         |win AS (
         |  SELECT day, hour,
         |    CAST(floor(EXTRACT(EPOCH FROM CAST(day AS TIMESTAMP)))
         |      AS BIGINT) + hour * 3600 + 600 AS w_st
         |  FROM hrs
         |  WHERE ${Dedup.hash60Sql("'mw|' || strftime(day, '%Y-%m-%d') || '|' || hour")}
         |    % 6 = 0),
         |m AS (
         |  SELECT w.day, w.hour, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM win w JOIN ev
         |    ON ev.st < w.w_st + 900 AND ev.en > w.w_st
         |  GROUP BY 1, 2)
         |SELECT w.day, w.hour,
         |  CAST(coalesce(m.n_overlap, 0) AS BIGINT) AS n_overlap
         |FROM win w LEFT JOIN m ON w.day = m.day AND w.hour = m.hour
         |ORDER BY w.day, w.hour""".stripMargin,
    "join_fuzzy_blocked" ->
      """WITH names AS (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
        |    string_split(p_name, ' ')[2] AS noun
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        |FROM names a JOIN names b
        |  ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY name_a, name_b""".stripMargin,
    "join_geo_grid" ->
      s"""WITH pts AS (
         |  SELECT c_custkey AS key,
         |    ${Dedup.hash60Sql("'gx|' || CAST(c_custkey AS VARCHAR)")} % 1000000 AS x,
         |    ${Dedup.hash60Sql("'gy|' || CAST(c_custkey AS VARCHAR)")} % 1000000 AS y
         |  FROM customer)
         |SELECT a.key AS key_a, b.key AS key_b,
         |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |FROM pts a JOIN pts b ON a.key < b.key
         |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |        <= 100000000
         |ORDER BY key_a, key_b""".stripMargin,
    "join_range_bucket" ->
      """WITH dim(bucket, lo, hi) AS (VALUES
        |  ('tiny', CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
        |  ('small', CAST(1.0 AS DOUBLE), CAST(5.0 AS DOUBLE)),
        |  ('mid', CAST(5.0 AS DOUBLE), CAST(20.0 AS DOUBLE)),
        |  ('large', CAST(20.0 AS DOUBLE), CAST(100.0 AS DOUBLE)),
        |  ('huge', CAST(100.0 AS DOUBLE), CAST(1000.0 AS DOUBLE)))
        |SELECT bucket, lo, hi, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim ON e.value >= dim.lo AND e.value < dim.hi
        |GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin,
    "join_scd2_merge" ->
      """WITH cur AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
        |    'MIGRATED' AS c_mktsegment
        |  FROM cur WHERE c_custkey % 7 = 0)
        |SELECT c_custkey, CAST(1 AS INTEGER) AS version, c_acctbal,
        |  c_mktsegment,
        |  c_custkey NOT IN (SELECT c_custkey FROM upd) AS is_current
        |FROM cur
        |UNION ALL
        |SELECT c_custkey, CAST(2 AS INTEGER) AS version, c_acctbal,
        |  c_mktsegment, TRUE AS is_current
        |FROM upd
        |ORDER BY c_custkey, version""".stripMargin,
    "join_inner_equi" ->
      s"""SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_star_5way" ->
      s"""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
         |  ${dsumProdSql("l_extendedprice", "1.0 - l_discount")} AS revenue
         |FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "join_left" ->
      s"""SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_spent
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_anti_orphans" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_semi_services" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderstatus = 'F' AND o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin,
    "join_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(cust_sum AS DOUBLE) / cust_n AS cust_avg_price
        |FROM orders JOIN (
        |  SELECT o_custkey AS ck, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS cust_sum,
        |    count(*) AS cust_n
        |  FROM orders GROUP BY 1) ON o_custkey = ck
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * cust_n > cust_sum
        |ORDER BY o_orderkey""".stripMargin,
    "join_asof_hour" ->
      """SELECT e.event_id, date_trunc('hour', e.ts) AS h, w.hourly_avg, w.hourly_n
        |FROM events e LEFT JOIN (
        |  SELECT date_trunc('hour', ts) AS h,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS hourly_avg,
        |    CAST(count(*) AS BIGINT) AS hourly_n
        |  FROM events GROUP BY 1) w ON date_trunc('hour', e.ts) = w.h
        |ORDER BY e.event_id""".stripMargin,
    "join_asof_tolerance" ->
      s"""WITH $asofObsSql,
         |j AS (
         |  SELECT e.event_id, e.user_id, e.ts, o.ts AS raw_ts,
         |    o.obs_value AS raw_value
         |  FROM events e ASOF LEFT JOIN obs o
         |    ON e.user_id = o.user_id AND e.ts >= o.ts),
         |f AS (
         |  SELECT *, raw_ts IS NOT NULL AND
         |    CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) -
         |    CAST(floor(EXTRACT(EPOCH FROM raw_ts)) AS BIGINT) <= 3600
         |    AS fresh
         |  FROM j)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN fresh THEN raw_ts END AS obs_ts,
         |  CASE WHEN fresh THEN raw_value END AS obs_value,
         |  coalesce(fresh, false) AS within_tolerance
         |FROM f ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    "join_asof_true" ->
      s"""WITH $asofObsSql
         |SELECT e.event_id, e.user_id, e.ts, o.ts AS obs_ts, o.obs_value
         |FROM events e ASOF LEFT JOIN obs o
         |  ON e.user_id = o.user_id AND e.ts >= o.ts
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    "join_cross_series" ->
      """SELECT CAST(h.i AS INTEGER) AS h, CAST(m.i * 15 AS INTEGER) AS m,
        |  CAST(h.i * 100 + m.i * 15 AS INTEGER) AS time_key
        |FROM range(24) h(i) CROSS JOIN range(4) m(i)
        |ORDER BY time_key""".stripMargin,
    "join_update_from" ->
      s"""SELECT c_custkey, c_name,
         |  coalesce(agg.spent, 0.0) AS total_spent,
         |  CAST(coalesce(agg.n_orders, 0) AS BIGINT) AS n_orders
         |FROM customer LEFT JOIN (
         |  SELECT o_custkey, ${dsumSql("o_totalprice")} AS spent,
         |    count(*) AS n_orders
         |  FROM orders GROUP BY 1) agg ON c_custkey = agg.o_custkey
         |ORDER BY c_custkey""".stripMargin)
}
