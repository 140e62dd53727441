package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared conventions for the oracle-differential query surface.
  *
  * Determinism discipline (SURVEY.md §5): the driver hash-compares our
  * parquet dump against DuckDB running `SparkEntry.oracleSql` on the same
  * tables, so every query must be bit-reproducible across the two engines:
  *
  *  - Money/quantity SUMs go through `DecimalType` (exact, order-independent
  *    — a parallel double sum is not associative and its low bits depend on
  *    partition merge order) and are cast back to double at the end so the
  *    output schema matches DuckDB's.
  *  - AVG / STDDEV stay floating but are rounded to a fixed scale.
  *  - Every result carries a total ORDER BY with a unique tiebreak column.
  *  - No `current_date`/`rand` — pinned literals only.
  */
package object ops {
  type Q = (SparkSession, String) => DataFrame

  /** Column-level `let`: evaluate `c` ONCE and pass it to `f` as a bound
    * lambda variable. A plain `val t = c` Scala binding is NOT a let —
    * every reference to `t` inlines (re-evaluates) the whole expression
    * tree, which profiled at 3 regex splits per trigram in `shingles3`
    * and ×60 md5 in `simhash60` before this idiom. Use whenever a
    * non-cheap Column feeds multiple sub-expressions of ONE projection
    * (across separate projections, alias it instead: CollapseProject
    * declines to merge non-cheap expressions referenced more than once —
    * verified on Spark 4.1). */
  def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** The whole-frame window: one partition, every row's frame the whole
    * frame — for frame-wide totals over small (post-aggregate) frames. */
  val wholeFrame =
    Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** Pin parallelism for a CPU-dense per-row projection (per-doc gram
    * hashing and the like) whose input is byte-small: the parquet split
    * count tracks bytes, and an UNNUMBERED repartition gets coalesced
    * back to ~one partition by AQE's byte-based sizing — neither can see
    * the ~1k md5/substr calls behind each row. A numbered repartition
    * (REPARTITION_BY_NUM) disables AQE coalescing; the count is the
    * cluster's default parallelism, so the same code spreads over 1000
    * executors at corpus scale. Measured on ext_winnowing 4.9→1.3 s,
    * ext_lm_score 3.3→1.3 s, ext_ngram_profile 2.8→1.1 s at sf0.1.
    * LIMIT: only for frames that REDUCE into small aggregates — on
    * frames that feed self-joins or iterative propagation the
    * never-coalesce contract propagates the pinned partition count
    * through every downstream exchange and measured 1.5–2.3× WORSE
    * (full A/B table in PLANS.md round-5 session 2). */
  def fanout(df: DataFrame, by: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, by)

  /** Exact order-independent sum of a 2-decimal money/qty column → double. */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Oracle-side equivalent of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"

  /** Exact sum of a product of two 2-decimal columns (e.g. revenue
    * `l_extendedprice * (1 - l_discount)`): operands are cast to decimal
    * BEFORE multiplying so the arithmetic is exact in both engines.
    */
  def dsumProd(a: Column, b: Column): Column =
    sum(a.cast("decimal(18,2)") * b.cast("decimal(18,2)")).cast("double")

  def dsumProdSql(a: String, b: String): String =
    s"CAST(SUM(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)"

  /** Deterministic average: exact decimal SUM (order-independent) cast to
    * double, then ONE IEEE division — bit-identical across engines, unlike
    * `avg()` whose double sum depends on partition merge order. Deliberately
    * NOT rounded: quotients of 2-decimal sums land on decimal halfway points
    * (e.g. x.795) where Spark's and DuckDB's round() disagree; the raw
    * division is exact in both. */
  def ravg(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1))

  /** Oracle-side equivalent of [[ravg]]. */
  def ravgSql(expr: String): String =
    s"${dsumSql(expr)} / count(*)"

  /** Deterministic rounded sample stddev via the textbook
    * sqrt((Σx² − (Σx)²/n)/(n−1)) with exact decimal sums: both engines
    * compute the identical doubles, unlike native STDDEV whose
    * accumulation order varies. Numerically fine at these magnitudes. */
  def rstddev(c: Column, scale: Int = 2): Column = {
    val sx = sum(c.cast("decimal(18,2)")).cast("double")
    val sxx = sum(c.cast("decimal(18,2)") * c.cast("decimal(18,2)")).cast("double")
    val n = count(lit(1)).cast("double")
    // n=1 guard (fuzz seed 209): sample stddev is UNDEFINED for a
    // single-row group — ANSI /(n−1)=0 throws where DuckDB's /0 is
    // NULL; the explicit branch makes the stddev_samp contract match.
    // greatest(…, 0) (fuzz seed 700): the exact decimal sums are cast
    // to DOUBLE before the subtraction, so a (near-)constant column can
    // cancel to −ε — mathematically variance ≥ 0, but DuckDB's sqrt(−ε)
    // THROWS where Spark's returns NaN. The clamp is applied in BOTH
    // engines' formulas, changing nothing except that class.
    when(n > 1d, round(sqrt(
      greatest(sxx - sx * sx / n, lit(0d)) / (n - lit(1.0))), scale))
  }

  def rstddevSql(e: String, scale: Int = 2): String = {
    val sx = dsumSql(e)
    val sxx = s"CAST(SUM(CAST($e AS DECIMAL(18,2)) * CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
    s"round(sqrt(greatest($sxx - $sx * $sx / count(*), 0.0) " +
      s"/ (count(*) - 1.0)), $scale)"
  }
}
