package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (SURVEY.md §2.5, W1–W9).
  *
  * Mirrors the reference's window surface: LAG cascades
  * (`/root/reference/sql/analysis_queries.sql:26-29,252-259`), ROW_NUMBER
  * ranking + the 80/20 split (`analysis_queries.sql:30-33`,
  * `sql/ml_feature_engineering.sql:472`), DENSE_RANK
  * (`analysis_queries.sql:220-225`), NTILE quartiles
  * (`analysis_queries.sql:189`), PERCENT_RANK (`analysis_queries.sql:127`),
  * moving-average frames (`analysis_queries.sql:90-97,184-187`), cumulative
  * totals with the PostgreSQL RANGE default frame
  * (`analysis_queries.sql:124-126`), whole-partition aggregates
  * (`analysis_queries.sql:154`) and the 1-PRECEDING-to-1-PRECEDING frame
  * (`sql/ml_feature_engineering.sql:370-383`).
  *
  * Scale notes: a window partitioned by a key shuffles once on that key and
  * sorts within partitions — at 100 TB the key choice is the whole game:
  * per-customer/per-type partitions stay small and parallel. The
  * deliberately-global windows (ntile/percent_rank over everything,
  * `Window.partitionBy()` empty) collapse to a single partition — correct
  * but serial; they are applied here only AFTER aggregation has shrunk the
  * data (daily grain), which is the pattern that survives scale-up.
  * Orderings always carry a unique tiebreak so ties can't reorder between
  * engines.
  */
object Windows {

  private val perCust =
    Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))

  /** W1 — LAG over per-customer order sequence. */
  val winLag: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(perCust).as("prev_price"),
        lag(col("o_orderdate"), 1).over(perCust).as("prev_date"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))

  /** W2 — ROW_NUMBER ranking per partition (and the split-view shape). */
  val winRowNumber: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
              row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** W3 — DENSE_RANK with real ties (few distinct statuses per priority). */
  val winDenseRank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderstatus"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
              dense_rank().over(w).as("status_rank"))
      .orderBy(col("o_orderkey"))
  }

  /** W4 — NTILE(4) quartiles over a unique total order. Spelled
    * scale-safely: `ntile` over an unpartitioned window collapses the
    * table into ONE task, so the global rank is decomposed into
    * per-bucket row_number (buckets = floor(price/10⁴), monotonic in
    * the sort key, so bucket-asc + within-bucket order ≡ the global
    * order) plus bucket-grain running offsets broadcast back, and the
    * quartile comes from the exact NTILE arithmetic (first n mod 4
    * tiles get ⌈n/4⌉ rows) — bit-identical to the engine builtin,
    * which the DuckDB oracle still uses. */
  val winNtile: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bkt", floor(col("o_totalprice") / 10000d).cast("long"))
    val offs = base.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("cum_before",
        coalesce(sum(col("c")).over(
          Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("cum_before"))
    val tot = base.agg(count(lit(1)).as("n"))
    val wB = Window.partitionBy(col("bkt"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    base.join(broadcast(offs), Seq("bkt"))
      .crossJoin(broadcast(tot))
      .withColumn("rn", col("cum_before") + row_number().over(wB))
      .withColumn("quartile", expr(
        // NTILE(4): q=n div 4, r=n mod 4; tiles 1..r hold q+1 rows
        "case when rn <= (n % 4) * (n div 4 + 1)" +
        " then (rn - 1) div (n div 4 + 1) + 1" +
        " else (n % 4) + (rn - (n % 4) * (n div 4 + 1) - 1) div (n div 4)" +
        " + 1 end").cast("int"))
      .select(col("o_orderkey"), col("o_totalprice"), col("quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** W5 — PERCENT_RANK (value-based, tie-stable). */
  val winPercentRank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
              round(percent_rank().over(w), 6).as("pr"))
      .orderBy(col("o_orderkey"))
  }

  /** W6 — 7-row moving average over daily event counts (aggregate to daily
    * grain FIRST — the window then runs over ~days rows, not ~events). */
  val winMovingAvg: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .select(col("event_type"), col("day"), col("n_events"),
              avg(col("n_events")).over(w.rowsBetween(-6, 0)).as("ma7"),
              avg(col("n_events")).over(w.rowsBetween(-2, 0)).as("ma3"))
      .orderBy(col("event_type"), col("day"))
  }

  /** W7 — cumulative total + share; default RANGE frame semantics (ties
    * share the running total) exactly as PostgreSQL/DuckDB default. */
  val winCumulative: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("day_total"))
    val wc = Window.orderBy(col("day"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy()
    daily
      .select(
        col("day"),
        col("day_total").cast("double").as("day_total"),
        sum(col("day_total")).over(wc).cast("double").as("running_total"),
        round(sum(col("day_total")).over(wc).cast("double") /
              sum(col("day_total")).over(wall).cast("double"), 6).as("cum_share"))
      .orderBy(col("day"))
  }

  /** W8 — unframed whole-partition aggregates (`AVG(x) OVER ()`). The
    * `COUNT(*) OVER ()` term is spelled as a 1-row global aggregate
    * broadcast-joined back, NOT an empty-partition window: a raw-grain
    * global window collapses the whole table into ONE task (the only
    * raw-grain single-partition smell this file had), while the
    * aggregate spelling keeps partial counts parallel and ships 8
    * bytes. Same value, same dtype, scale-safe plan. */
  val winWholePartition: Q = (s, d) => {
    val wc = Window.partitionBy(col("o_custkey"))
    val tot = Tables.orders(s, d).agg(count(lit(1)).as("n_total"))
    Tables.orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        // decimal-sum/count instead of avg() over the window: the double
        // accumulation order inside a partition is engine-dependent; no
        // round() — halfway quotients round differently across engines
        (sum(col("o_totalprice").cast("decimal(18,2)")).over(wc)
          .cast("double") / count(lit(1)).over(wc)).as("cust_avg"))
      .crossJoin(broadcast(tot))
      .orderBy(col("o_orderkey"))
  }

  /** W9 — ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING (≡ lag, kept in frame
    * form as the reference writes it). */
  val winSingleOffsetFrame: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
              avg(col("value")).over(w.rowsBetween(-1, -1)).as("prev_value"))
      .orderBy(col("event_id"))
  }

  /** W10 — batch gap-sessionization at session grain: the window-function
    * twin of the streaming `session_window` entry (stream_sessionize
    * checks the per-user rollup; this one pins each session's boundaries).
    * New session iff the gap since the previous event is >= 30 min —
    * compared as a timestamp difference against an interval literal, NOT
    * truncated seconds, so both engines cut sessions at identical
    * microsecond gaps. Scale shape: one shuffle on user_id, then two
    * stacked windows over the same partitioning (Catalyst plans a single
    * sort) and a hash aggregate — no second shuffle. */
  val winSessionizeGap: Q = (s, d) =>
    sessionizeByGap(Tables.events(s, d).select("user_id", "ts", "event_id"))

  /** Core of [[winSessionizeGap]], injectable for boundary specs: input
    * needs (user_id, ts, event_id). New session iff gap >= `gap`. */
  def sessionizeByGap(events: org.apache.spark.sql.DataFrame,
                      gap: String = "INTERVAL 30 MINUTES")
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull ||
             col("ts") - lag(col("ts"), 1).over(w) >= expr(gap), 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("sid"))
  }

  /** W11 — CUME_DIST (completes the rank-family surface alongside
    * row_number/dense_rank/ntile/percent_rank): fraction of partition
    * rows ordered at-or-before the current row. Tie-STABLE by definition
    * (ties share a value), so it is oracle-safe even on the tied `value`
    * column — unlike arg_max/max_by, which are deliberately absent as
    * entries because engine tie-breaks differ. */
  val winCumeDist: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"),
              round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("event_id"))
  }

  /** W12 — time-based RANGE frame: trailing-hour event count per type
    * (`RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`) — the
    * event-time sliding aggregate the row-count frames (W6/W9) cannot
    * express when rows are irregularly spaced. RANGE frames are
    * peer-inclusive, so equal timestamps share a value and the result
    * is deterministic without a tie-break column. (SQL-expr form:
    * the DataFrame `rangeBetween` API takes numeric offsets only.) */
  val winTimeRange: Q = (s, d) =>
    Tables.events(s, d)
      .selectExpr("event_id", "event_type",
        """count(*) OVER (PARTITION BY event_type ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |  AS n_last_hour""".stripMargin)
      .orderBy(col("event_id"))

  /** W13 — rolling z-score anomaly screen over the per-(type, day)
    * total series: 7-row trailing mean/stddev, then the day's deviation
    * in σ units — the windowed twin of
    * [[graft.ops.Aggregates.aggOutlierZscore]] and the standard
    * distribution-drift monitor for a training-data feed. Exactness
    * discipline: the daily totals AND their rolling sums/sum-of-squares
    * accumulate as decimals (order-free; the frame walk is sequential
    * anyway), the mean/std/z formula is one fixed double shape, and z
    * is rounded to 6 so a boundary row can't flip the outlier flag
    * cross-engine. The window partitions by type over the DAILY frame —
    * day-cardinality rows, not events. */
  val winRollingZscore: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"))
      .withColumn("sq", col("sv") * col("sv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("rn", count(lit(1)).over(w))
      .withColumn("rs", sum(col("sv")).over(w))
      .withColumn("rss", sum(col("sq")).over(w))
      .select(col("event_type"), col("day"),
              col("sv").cast("double").as("daily_total"),
              col("rn").as("n_window"), {
        val n = col("rn").cast("double")
        val rs = col("rs").cast("double"); val rss = col("rss").cast("double")
        val mean = rs / n
        // greatest(…, 0) — fuzz seed 700 class: the exact sums are cast
        // to DOUBLE before n·rss − rs², so a constant window of values
        // whose squares aren't double-exact (999.99² = 999980.0001)
        // cancels to −ε; DuckDB's sqrt(−ε) THROWS (even inside the CASE
        // guard, which evaluates it), Spark's returns NaN. Clamped in
        // BOTH engines' formulas.
        val std = sqrt(greatest(n * rss - rs * rs, lit(0d)) /
          (n * (n - lit(1.0))))
        when(col("rn") >= 2 && std > 0,
             round((col("sv").cast("double") - mean) / std, 6))
          .as("z6")
      })
      .withColumn("is_outlier", abs(col("z6")) > 2.0)
      .orderBy(col("event_type"), col("day"))
  }

  /** W14 — period-over-period percentage change (the delta column on
    * every trend dashboard, incl. the reference's weekly delay trends —
    * `/root/reference/sql/analysis_queries.sql:158-191`): monthly value
    * total per type, each month's relative change vs the previous one.
    * Totals are exact decimals; the change is one fixed double division
    * (unrounded — identical operands both engines); first month is NULL
    * by lag semantics. Window runs over the month-cardinality frame. */
  val winPctChange: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("month"))
    Tables.events(s, d)
      .groupBy(col("event_type"),
               date_trunc("month", col("ts")).cast("date").as("month"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("sv"))
      .withColumn("prev", lag(col("sv"), 1).over(w))
      .select(col("event_type"), col("month"),
              col("sv").cast("double").as("total"),
              // zero-denominator guard: Spark (non-ANSI) yields NULL for
              // x/0 but DuckDB's IEEE default yields inf/NaN — a month
              // with an exactly-zero total must be NULL on both engines
              when(col("prev") =!= 0,
                   (col("sv") - col("prev")).cast("double") /
                     col("prev").cast("double")).as("pct_change"))
      .orderBy(col("event_type"), col("month"))
  }

  /** Daily totals per event type as exact cent integers: `(event_type,
    * day, svc)` with svc = Σ floor(value·100) — the exact-integer base
    * of the daily-series entries ([[winEwma]], [[winMovingMedian]],
    * [[winDrawdown]], [[winLinearInterp]], [[winRollingMad]]); each
    * divides by 100 once, at output. */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("svc"))

  /** Trailing 7-day frame over [[dailyCents]]. */
  private val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
    .rowsBetween(-6, 0)

  /** W15 — exponential moving average (α = 1/2) of the daily value
    * total per event type over the trailing 7 observations — the
    * smoothed-trend line on every ops dashboard, and the one smoothing
    * spelling that is bit-exact cross-engine: the recursive EWMA
    * accumulates float error engine-dependently, but a 7-term window
    * EWMA with α = 1/2 is Σ xₖ·2⁻ᵏ / Σ 2⁻ᵏ where daily totals are
    * exact cent integers and 2⁻ᵏ is exactly representable — every
    * product has ≤ 6 fractional bits, every sum stays far below 2⁵³,
    * so numerator and denominator are EXACT doubles and the single
    * final division is IEEE-identical on both engines. No round()
    * needed anywhere. The window partitions by event type (bounded
    * state per key); the 7-lag expression is fixed-size codegen. */
  val winEwma: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = dailyCents(s, d)
    val lags = (0 to 6).map(k =>
      (lag(col("svc"), k).over(w).cast("double"), lit(math.pow(0.5, k))))
    val num = lags.map { case (x, wt) => coalesce(x * wt, lit(0.0)) }
      .reduce(_ + _)
    val den = lags.map { case (x, wt) =>
      when(x.isNotNull, wt).otherwise(lit(0.0)) }.reduce(_ + _)
    daily
      .select(col("event_type"), col("day"),
              (col("svc").cast("double") / 100.0).as("daily_total"),
              (num / den / 100.0).as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  /** W17 — trailing-7-row moving MEDIAN of daily totals per event type:
    * the robust-statistics twin of [[winMovingAvg]] — a single spiked day
    * drags a moving mean for a week but leaves the moving median almost
    * untouched, which is why ops dashboards trend medians. Spark has no
    * dedicated windowed-median; the exact `percentile(x, 0.5)` aggregate
    * runs as a window function over the ROWS frame, which at ≤7-element
    * frames is a per-frame sort of 7 values — constant work per row, and
    * the window partitions by event type so the frame state never crosses
    * executors. Exactness: daily totals are exact cent integers
    * ([[winEwma]]'s discipline), and the 0.5-quantile of ≤7 integers is
    * either an integer or the midpoint of two (both engines interpolate
    * `lo + 0.5*(hi-lo)`), so every result is an exact dyadic double —
    * bit-identical cross-engine with no rounding. At 100 TB the shape is
    * unchanged: day × type cardinality in, day × type out; for frames of
    * thousands of rows the per-frame re-sort would motivate a sliding
    * order-statistic tree, but the operator contract stays this. */
  val winMovingMedian: Q = (s, d) =>
    dailyCents(s, d)
      .select(col("event_type"), col("day"),
              (col("svc").cast("double") / 100.0).as("daily_total"),
              (percentile(col("svc"), lit(0.5)).over(w7) / 100.0)
                .as("med7"))
      .orderBy(col("event_type"), col("day"))

  /** W19 — running-max drawdown: per event type, how far each day's
    * total sits below the best day seen so far, plus the worst such gap
    * to date — the standard "how bad did it get" series for revenue,
    * throughput, or SLO monitoring (finance calls it max drawdown).
    * Two stacked running windows over the day axis (running max of the
    * total, then running max of the gap) — both O(1) state per row, both
    * partitioned by type, so the shape is day-cardinality at any SF.
    * Exact cent integers throughout ([[winEwma]]'s discipline); the /100
    * presentation divide is the only float op and is IEEE-identical on
    * both engines. */
  val winDrawdown: Q = (s, d) => {
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dailyCents(s, d)
      .withColumn("run_max", max(col("svc")).over(wRun))
      .withColumn("dd", col("run_max") - col("svc"))
      .withColumn("max_dd", max(col("dd")).over(wRun))
      .select(col("event_type"), col("day"),
              (col("svc").cast("double") / 100.0).as("daily_total"),
              (col("run_max").cast("double") / 100.0).as("peak"),
              (col("dd").cast("double") / 100.0).as("drawdown"),
              (col("max_dd").cast("double") / 100.0).as("max_drawdown"))
      .orderBy(col("event_type"), col("day"))
  }

  /** W20 — linear interpolation over daily gaps: build the full day
    * spine per event type (min..max date), left-join the observed daily
    * totals, and fill each missing day on the straight line between its
    * nearest observed neighbors — the principled gap fill for rates and
    * totals where [[graft.ops.Scalars]]' forward fill (`fn_resample_
    * ffill`) would flat-line a trend. Four frame-bounded windows (last/
    * first with ignoreNulls, both directions) find the bracketing
    * observations; the interpolation arithmetic is exact-integer cents
    * and day offsets with ONE double division, written with identical
    * associativity on both engines (`prev + (next−prev)·pos/len`), so
    * results are IEEE-identical with no rounding. Day×type cardinality
    * end to end; the spine explode is per-group and bounded by the date
    * range, not the data volume. */
  val winLinearInterp: Q = (s, d) => {
    // deterministic dropout (every 3rd day-of-month) so the gap-fill
    // branch is exercised at every SF — the testdata's daily series is
    // dense, and an interpolator no gap ever reaches is untested code
    val daily = dailyCents(s, d)
      .where(dayofmonth(col("day")) % 3 =!= 0)
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
              explode(sequence(col("d0"), col("d1"))).as("day"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(0, Window.unboundedFollowing)
    val j = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("pv", last(col("svc"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("svc").isNotNull, col("day")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("svc"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("svc").isNotNull, col("day")),
        ignoreNulls = true).over(wNext))
    j.select(col("event_type"), col("day"),
        col("svc").isNotNull.as("observed"),
        (when(col("svc").isNotNull, col("svc").cast("double"))
          .otherwise(col("pv").cast("double") +
            (col("nv").cast("double") - col("pv").cast("double")) *
            datediff(col("day"), col("pd")).cast("double") /
            datediff(col("nd"), col("pd")).cast("double"))
          / 100.0).as("value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** W21 — rolling MAD anomaly screen: flag days whose total sits more
    * than 3 robust deviations from the trailing-7 median — the
    * outlier test that, unlike the z-score ([[winRollingZscore]]),
    * does not let the outlier inflate its own yardstick (one spiked
    * day shifts a 7-day stddev by ~40%, the MAD by at most one rank).
    * Two stacked trailing windows: median of the totals, then median
    * of the trailing absolute deviations — each day's deviation is
    * measured against ITS OWN trailing median (the streaming-MAD
    * variant stacked windows can express; the textbook per-frame MAD
    * re-evaluates all deviations against the frame-end median, which
    * no composable window can do — same robustness class, one rank of
    * difference in practice). Exactness: cent integers →
    * the first median is half-integer dyadic, deviations are dyadic,
    * the second median quarters — still exact doubles — and the
    * `dev > 3·mad` comparison is exact-vs-exact, so the flag cannot
    * straddle an engine rounding difference. Day×type grain, O(frame)
    * state per row. */
  val winRollingMad: Q = (s, d) =>
    dailyCents(s, d)
      .withColumn("med7", percentile(col("svc"), lit(0.5)).over(w7))
      .withColumn("dev", abs(col("svc").cast("double") - col("med7")))
      .withColumn("mad7", percentile(col("dev"), lit(0.5)).over(w7))
      .select(col("event_type"), col("day"),
              (col("svc").cast("double") / 100.0).as("daily_total"),
              (col("med7") / 100.0).as("med7"),
              (col("mad7") / 100.0).as("mad7"),
              (col("dev") > col("mad7") * 3.0).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))

  /** W22 — VALUE-range window frame (`RANGE BETWEEN n PRECEDING AND n
    * FOLLOWING` over a numeric ordering — not time): for every order,
    * how many same-priority orders sit within ±$5 000 of its price, and
    * their total — the "how crowded is my price neighborhood" frame
    * behind local-density scoring and price-banding features.
    * Completes the frame-type matrix: ROWS ([[winMovingAvg]]), time
    * RANGE ([[winTimeRange]]), and numeric RANGE (this). Peers at equal
    * price are included identically on both engines (RANGE semantics),
    * so ties cannot diverge; cent-integer ordering key and sums, /100
    * last. At scale this is one partition-sorted window, O(frame) work
    * amortized by the sliding endpoints. */
  val winValueRange: Q = (s, d) => {
    val band = 500000L // ±$5 000 in cents
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents"))
      .rangeBetween(-band, band)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
              floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("n_band", count(lit(1)).over(w))
      .withColumn("band_cents", sum(col("cents")).over(w))
      .select(col("o_orderkey"), col("o_orderpriority"),
              (col("cents").cast("double") / 100.0).as("price"),
              col("n_band"),
              (col("band_cents").cast("double") / 100.0).as("band_total"))
      .orderBy(col("o_orderkey"))
  }

  /** W16 — cumulative distinct users per event type by day: windows
    * cannot COUNT(DISTINCT), so the scalable spelling is the first-seen
    * trick — one row per (type, user) at their first day, count new
    * users per day, running-sum over the day axis. Two bounded
    * aggregates + a day-cardinality window instead of holding a
    * distinct-set per window frame (which no engine can do without
    * materializing the set). The left join backfills days with no new
    * users with 0. This is the "cumulative unique visitors" line on
    * every growth dashboard, and its shape survives any scale: state is
    * user-cardinality only at the first aggregate, day-cardinality
    * after. */
  val winCumeDistinct: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    val days = ev.select(col("event_type"), col("day")).distinct()
    val firsts = ev.groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    days.join(firsts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
              coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy(col("event_type"), col("day"))
  }

  /** W23 — CUSUM changepoint screen per event type: the cumulative sum
    * of deviations from the series mean, whose peak marks the most
    * likely level-shift day (Page's classic statistic; the batch
    * pre-check before alerting thresholds are trusted). A drifting
    * series shows a V/Λ-shaped CUSUM; a stable one oscillates near 0.
    * Exactness: with daily totals as cent integers and the mean μ = T/n
    * a ratio of integers, the scaled statistic
    *   C'_k = n·Σ_{i≤k} x_i − k·T  ( = n·Σ(x_i − μ) )
    * is pure BIGINT arithmetic — no division ever happens, so the
    * argmax flag compares integers and cannot straddle engine rounding.
    * Envelope: n = #days is calendar-bounded (not SF-scaling), T ≤
    * corpus cents ~1e15 at 100 TB → |C'| ≲ n·T ~ 1e18 < 2⁶³. One
    * day-grain pre-aggregate, then three windows over the
    * day-cardinality frame (running sum, whole-partition totals,
    * whole-partition max) that share one sort. */
  val winCusum: Q = (s, d) => {
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("xc"))
      .withColumn("rs", sum(col("xc")).over(wRun))
      .withColumn("k", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("xc")).over(wAll))
      .withColumn("cusum", col("n") * col("rs") - col("k") * col("tot"))
      .withColumn("peak", max(abs(col("cusum"))).over(wAll))
      .select(col("event_type"), col("day"),
              (col("xc").cast("double") / 100.0).as("daily_total"),
              col("cusum").as("cusum_scaled"),
              (abs(col("cusum")) === col("peak")).as("is_peak"))
      .orderBy(col("event_type"), col("day"))
  }

  /** W24 — sweep-line maximum concurrency per event type: treat every
    * event as a [ts, ts+300 s) interval and find the peak number of
    * simultaneously-open intervals plus the first instant it is
    * reached — the capacity-planning primitive (max concurrent
    * sessions / connections / jobs) that interval_merge's island
    * machinery cannot answer. Classic sweep: ±1 deltas at start/end,
    * one time-ordered running sum per type. Half-open semantics pinned
    * by the sort key (t, delta): an interval ending at t closes BEFORE
    * one starting at t opens (−1 sorts first), so touching intervals
    * never double-count. Integer epoch seconds and counts end to end;
    * the peak instant is min t where the running sum hits the max —
    * deterministic. The window is type-partitioned; state is O(1). */
  val winSweepConcurrency: Q = (s, d) => {
    val pts = Tables.events(s, d)
      .select(col("event_type"), unix_timestamp(col("ts")).as("st"))
      .select(col("event_type"),
        explode(array(
          struct(col("st").as("t"), lit(1).as("delta")),
          struct((col("st") + 300L).as("t"), lit(-1).as("delta"))))
          .as("p"))
      .select(col("event_type"), col("p.t").as("t"), col("p.delta").as("delta"))
      .groupBy(col("event_type"), col("t"), col("delta"))
      .agg(sum(col("delta")).as("d"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pts
      .withColumn("open", sum(col("d")).over(w))
      .withColumn("mx",
        max(col("open")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("open")).as("max_concurrent"),
           min(when(col("open") === col("mx"), col("t"))).as("peak_t"),
           sum(when(col("d") > 0, col("d")).otherwise(0L)).as("n_intervals"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "win_sweep_concurrency" -> winSweepConcurrency,
    "win_cusum" -> winCusum,
    "win_value_range" -> winValueRange,
    "win_rolling_mad" -> winRollingMad,
    "win_linear_interp" -> winLinearInterp,
    "win_drawdown" -> winDrawdown,
    "win_moving_median" -> winMovingMedian,
    "win_ewma" -> winEwma,
    "win_cume_distinct" -> winCumeDistinct,
    "win_pct_change" -> winPctChange,
    "win_rolling_zscore" -> winRollingZscore,
    "win_time_range" -> winTimeRange,
    "win_cume_dist" -> winCumeDist,
    "win_sessionize_gap" -> winSessionizeGap,
    "win_lag" -> winLag,
    "win_row_number" -> winRowNumber,
    "win_dense_rank" -> winDenseRank,
    "win_ntile" -> winNtile,
    "win_percent_rank" -> winPercentRank,
    "win_moving_avg" -> winMovingAvg,
    "win_cumulative" -> winCumulative,
    "win_whole_partition" -> winWholePartition,
    "win_single_offset_frame" -> winSingleOffsetFrame)

  /** `daily(event_type, day, svc)`: the [[dailyCents]] replay. */
  private val dailyCentsSql: String =
    """daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    SUM(CAST(floor(value * 100) AS BIGINT)) AS svc
      |  FROM events GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    // half-open sweep: at equal t the close (-1) sorts before the open
    // (+1); all integers
    "win_sweep_concurrency" ->
      """WITH pts AS (
        |  SELECT event_type, t, delta FROM (
        |    SELECT event_type,
        |      CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS t,
        |      1 AS delta
        |    FROM events
        |    UNION ALL
        |    SELECT event_type,
        |      CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) + 300, -1
        |    FROM events)),
        |g AS (
        |  SELECT event_type, t, delta, CAST(SUM(delta) AS BIGINT) AS d
        |  FROM pts GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT event_type, t, d,
        |    SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM g),
        |mx AS (
        |  SELECT event_type, t, d, open,
        |    MAX(open) OVER (PARTITION BY event_type) AS mxo
        |  FROM r)
        |SELECT event_type,
        |  CAST(max(open) AS BIGINT) AS max_concurrent,
        |  min(CASE WHEN open = mxo THEN t END) AS peak_t,
        |  CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT)
        |    AS n_intervals
        |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin,
    // pure-BIGINT statistic: n*running_sum - k*total, no division;
    // the peak flag compares integers so it cannot rounding-diverge
    "win_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(floor(value * 100) AS BIGINT)) AS xc
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day, xc,
        |    SUM(xc) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS k,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    SUM(xc) OVER (PARTITION BY event_type) AS tot
        |  FROM daily),
        |s AS (
        |  SELECT event_type, day, xc, n * rs - k * tot AS cusum,
        |    MAX(abs(n * rs - k * tot)) OVER (PARTITION BY event_type) AS peak
        |  FROM c)
        |SELECT event_type, day,
        |  CAST(xc AS DOUBLE) / 100.0 AS daily_total,
        |  CAST(cusum AS BIGINT) AS cusum_scaled,
        |  abs(cusum) = peak AS is_peak
        |FROM s ORDER BY event_type, day""".stripMargin,
    // RANGE peers included identically both engines; integer cents
    "win_value_range" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  CAST(cents AS DOUBLE) / 100.0 AS price,
        |  CAST(count(*) OVER w AS BIGINT) AS n_band,
        |  CAST(SUM(cents) OVER w AS DOUBLE) / 100.0 AS band_total
        |FROM b
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents
        |  RANGE BETWEEN 500000 PRECEDING AND 500000 FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    // dyadic-exact throughout: cent ints → half-integer med7 → dyadic
    // deviations → quarter-dyadic mad7; flag compares exact doubles
    "win_rolling_mad" ->
      s"""WITH $dailyCentsSql,
         |m AS (
         |  SELECT event_type, day, svc,
         |    median(svc) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
         |  FROM daily),
         |v AS (
         |  SELECT event_type, day, svc, med7,
         |    abs(CAST(svc AS DOUBLE) - med7) AS dev
         |  FROM m),
         |w AS (
         |  SELECT event_type, day, svc, med7, dev,
         |    median(dev) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mad7
         |  FROM v)
         |SELECT event_type, day,
         |  CAST(svc AS DOUBLE) / 100.0 AS daily_total,
         |  med7 / 100.0 AS med7, mad7 / 100.0 AS mad7,
         |  dev > mad7 * 3.0 AS is_anomaly
         |FROM w ORDER BY event_type, day""".stripMargin,
    // identical associativity both engines: prev + (next-prev)*pos/len,
    // all operands exact ints cast to double, one rounded division
    "win_linear_interp" ->
      """WITH daily AS (
        |  SELECT * FROM (
        |    SELECT event_type, CAST(ts AS DATE) AS day,
        |      SUM(CAST(floor(value * 100) AS BIGINT)) AS svc
        |    FROM events GROUP BY 1, 2)
        |  WHERE EXTRACT(DAY FROM day) % 3 <> 0),
        |g AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    d0 + CAST(unnest(range(0, d1 - d0 + 1)) AS INTEGER) AS day
        |  FROM g),
        |j AS (
        |  SELECT s.event_type, s.day, daily.svc,
        |    last_value(svc IGNORE NULLS) OVER
        |      (PARTITION BY s.event_type ORDER BY s.day
        |       ROWS UNBOUNDED PRECEDING) AS pv,
        |    last_value(CASE WHEN svc IS NOT NULL THEN s.day END IGNORE NULLS)
        |      OVER (PARTITION BY s.event_type ORDER BY s.day
        |       ROWS UNBOUNDED PRECEDING) AS pd,
        |    first_value(svc IGNORE NULLS) OVER
        |      (PARTITION BY s.event_type ORDER BY s.day
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN svc IS NOT NULL THEN s.day END IGNORE NULLS)
        |      OVER (PARTITION BY s.event_type ORDER BY s.day
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM spine s LEFT JOIN daily
        |    ON s.event_type = daily.event_type AND s.day = daily.day)
        |SELECT event_type, day, svc IS NOT NULL AS observed,
        |  (CASE WHEN svc IS NOT NULL THEN CAST(svc AS DOUBLE)
        |        ELSE CAST(pv AS DOUBLE) +
        |          (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
        |          CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)
        |   END) / 100.0 AS value
        |FROM j ORDER BY event_type, day""".stripMargin,
    // integer-exact: both running maxima in the cent domain, /100 last
    "win_drawdown" ->
      s"""WITH $dailyCentsSql,
         |r AS (
         |  SELECT event_type, day, svc,
         |    max(svc) OVER w AS run_max,
         |    max(svc) OVER w - svc AS dd
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS UNBOUNDED PRECEDING))
         |SELECT event_type, day,
         |  CAST(svc AS DOUBLE) / 100.0 AS daily_total,
         |  CAST(run_max AS DOUBLE) / 100.0 AS peak,
         |  CAST(dd AS DOUBLE) / 100.0 AS drawdown,
         |  CAST(max(dd) OVER (PARTITION BY event_type ORDER BY day
         |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 AS max_drawdown
         |FROM r ORDER BY event_type, day""".stripMargin,
    // exact windowed median: cent integers, both engines interpolate
    // lo + 0.5*(hi-lo) → dyadic doubles, no rounding needed
    "win_moving_median" ->
      s"""WITH $dailyCentsSql
         |SELECT event_type, day,
         |  CAST(svc AS DOUBLE) / 100.0 AS daily_total,
         |  median(svc) OVER (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0 AS med7
         |FROM daily ORDER BY event_type, day""".stripMargin,
    // exact dyadic EWMA replay: identical 7-lag expression, exact cent
    // integers × exactly-representable 2^-k weights, one IEEE division
    "win_ewma" ->
      s"""WITH $dailyCentsSql,
         |l AS (
         |  SELECT event_type, day, svc,
         |    CAST(lag(svc, 0) OVER w AS DOUBLE) AS x0,
         |    CAST(lag(svc, 1) OVER w AS DOUBLE) AS x1,
         |    CAST(lag(svc, 2) OVER w AS DOUBLE) AS x2,
         |    CAST(lag(svc, 3) OVER w AS DOUBLE) AS x3,
         |    CAST(lag(svc, 4) OVER w AS DOUBLE) AS x4,
         |    CAST(lag(svc, 5) OVER w AS DOUBLE) AS x5,
         |    CAST(lag(svc, 6) OVER w AS DOUBLE) AS x6
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, day,
         |  CAST(svc AS DOUBLE) / 100.0 AS daily_total,
         |  ((coalesce(x0 * 1.0, 0.0) + coalesce(x1 * 0.5, 0.0)
         |    + coalesce(x2 * 0.25, 0.0) + coalesce(x3 * 0.125, 0.0)
         |    + coalesce(x4 * 0.0625, 0.0) + coalesce(x5 * 0.03125, 0.0)
         |    + coalesce(x6 * 0.015625, 0.0))
         |   / (CASE WHEN x0 IS NOT NULL THEN 1.0 ELSE 0.0 END
         |      + CASE WHEN x1 IS NOT NULL THEN 0.5 ELSE 0.0 END
         |      + CASE WHEN x2 IS NOT NULL THEN 0.25 ELSE 0.0 END
         |      + CASE WHEN x3 IS NOT NULL THEN 0.125 ELSE 0.0 END
         |      + CASE WHEN x4 IS NOT NULL THEN 0.0625 ELSE 0.0 END
         |      + CASE WHEN x5 IS NOT NULL THEN 0.03125 ELSE 0.0 END
         |      + CASE WHEN x6 IS NOT NULL THEN 0.015625 ELSE 0.0 END))
         |  / 100.0 AS ewma
         |FROM l ORDER BY event_type, day""".stripMargin,
    "win_cume_distinct" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT event_type, day FROM ev),
        |firsts AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM (SELECT event_type, user_id, min(day) AS day
        |        FROM ev GROUP BY 1, 2)
        |  GROUP BY 1, 2)
        |SELECT d.event_type, d.day,
        |  CAST(coalesce(f.n_new, 0) AS BIGINT) AS n_new,
        |  CAST(SUM(coalesce(f.n_new, 0)) OVER (
        |    PARTITION BY d.event_type ORDER BY d.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM days d LEFT JOIN firsts f USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin,
    "win_pct_change" ->
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(date_trunc('month', ts) AS DATE) AS month,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, month,
        |  CAST(sv AS DOUBLE) AS total,
        |  CASE WHEN lag(sv) OVER w <> 0 THEN
        |    CAST(sv - lag(sv) OVER w AS DOUBLE)
        |      / CAST(lag(sv) OVER w AS DOUBLE)
        |  END AS pct_change
        |FROM m
        |WINDOW w AS (PARTITION BY event_type ORDER BY month)
        |ORDER BY event_type, month""".stripMargin,
    "win_rolling_zscore" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, day, sv,
        |    count(*) OVER w AS rn,
        |    SUM(sv) OVER w AS rs,
        |    SUM(sv * sv) OVER w AS rss
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  CAST(sv AS DOUBLE) AS daily_total,
        |  CAST(rn AS BIGINT) AS n_window,
        |  CASE WHEN rn >= 2 AND
        |    sqrt(greatest(CAST(rn AS DOUBLE) * CAST(rss AS DOUBLE)
        |          - CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE), 0.0)
        |         / (CAST(rn AS DOUBLE) * (CAST(rn AS DOUBLE) - 1.0))) > 0
        |  THEN round((CAST(sv AS DOUBLE)
        |              - CAST(rs AS DOUBLE) / CAST(rn AS DOUBLE))
        |             / sqrt(greatest(CAST(rn AS DOUBLE) * CAST(rss AS DOUBLE)
        |                     - CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE), 0.0)
        |                    / (CAST(rn AS DOUBLE)
        |                       * (CAST(rn AS DOUBLE) - 1.0))), 6)
        |  END AS z6,
        |  abs(CASE WHEN rn >= 2 AND
        |    sqrt(greatest(CAST(rn AS DOUBLE) * CAST(rss AS DOUBLE)
        |          - CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE), 0.0)
        |         / (CAST(rn AS DOUBLE) * (CAST(rn AS DOUBLE) - 1.0))) > 0
        |  THEN round((CAST(sv AS DOUBLE)
        |              - CAST(rs AS DOUBLE) / CAST(rn AS DOUBLE))
        |             / sqrt(greatest(CAST(rn AS DOUBLE) * CAST(rss AS DOUBLE)
        |                     - CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE), 0.0)
        |                    / (CAST(rn AS DOUBLE)
        |                       * (CAST(rn AS DOUBLE) - 1.0))), 6)
        |  END) > 2.0 AS is_outlier
        |FROM r ORDER BY event_type, day""".stripMargin,
    "win_time_range" ->
      """SELECT event_id, event_type,
        |  CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_last_hour
        |FROM events ORDER BY event_id""".stripMargin,
    "win_cume_dist" ->
      """SELECT event_id, event_type, value,
        |  round(cume_dist() OVER (PARTITION BY event_type ORDER BY value),
        |        6) AS cd
        |FROM events ORDER BY event_id""".stripMargin,
    "win_sessionize_gap" ->
      """WITH flags AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flags)
        |SELECT user_id, sid, min(ts) AS session_start,
        |  max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "win_lag" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lag(o_orderdate, 1) OVER w AS prev_date
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "win_row_number" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "win_dense_rank" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus,
        |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderstatus) AS INTEGER) AS status_rank
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_ntile" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_percent_rank" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  round(percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC), 6) AS pr
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_moving_avg" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n_events,
        |  avg(n_events) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
        |  avg(n_events) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
        |FROM daily ORDER BY event_type, day""".stripMargin,
    "win_cumulative" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(day_total AS DOUBLE) AS day_total,
        |  CAST(SUM(day_total) OVER (ORDER BY day
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |  round(CAST(SUM(day_total) OVER (ORDER BY day
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    CAST(SUM(day_total) OVER () AS DOUBLE), 6) AS cum_share
        |FROM daily ORDER BY day""".stripMargin,
    "win_whole_partition" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY o_custkey) AS DOUBLE) /
        |    count(*) OVER (PARTITION BY o_custkey) AS cust_avg,
        |  count(*) OVER () AS n_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "win_single_offset_frame" ->
      """SELECT event_id, event_type, value,
        |  avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 1 PRECEDING AND 1 PRECEDING) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin)
}
