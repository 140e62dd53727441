package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JVM/codegen/parquet-reader initialization happens once here
    // instead of inflating whichever query runs first
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Calibration probe (round-11 verdict ask #5): two consecutive
    // rounds attributed ±3-5% closing-number drift to box conditions
    // with no in-artifact way to separate box drift from code drift.
    // This is a FIXED pure-CPU, data-independent job (range → arith →
    // sum, all codegen'd, no I/O, no shuffle of real data); its value
    // depends only on the box, never
    // on this repo's code, so cross-round bench comparisons can be
    // normalized mechanically: engine drift ≈ total_r(N)/total_r(N-1)
    // ÷ calibration_r(N)/calibration_r(N-1).
    // Sampling design (measured): min-of-k at session START spreads
    // ±13-15% across back-to-back idle sessions — the variance is
    // session-level (CPU clock state, JIT), not per-sample noise. So
    // the probe is sampled INTERLEAVED through the whole run (once
    // now, once before each suite pass) and the MEDIAN is reported —
    // the session's average speed over the same wall-clock window the
    // query numbers were measured in, which is exactly what drift
    // normalization needs.
    val calSamples = collection.mutable.ArrayBuffer.empty[Double]
    def calibrate(): Unit = {
      val t0 = System.nanoTime()
      spark.range(0, 1200000000L, 1, 32)
        .selectExpr("sum(id * 3 + (id % 7))").collect()
      calSamples += (System.nanoTime() - t0) / 1e9: Unit
    }
    calibrate()
    // N FULL PASSES over the suite (default 3, SPARK_GRAFT_BENCH_PASSES
    // overrides; floor 2), per-query min across passes. The samples of a
    // query are separated by a whole suite pass, so a transient stall
    // (GC pause, box-load spike) can no longer poison all samples of one
    // query — round 3's union_all_counts read 6.7 s back-to-back vs
    // 0.85 s interleaved (AB harness, PLANS.md). Min-of-3 interleaved is
    // THE headline instrument (round-9 verdict: single-run totals drifted
    // ±9% round-over-round while AB min-of-3 stayed flat); the artifact
    // records its own pass count so a future reader never has to guess
    // the methodology. Run order is sorted by name so it is identical
    // across rounds, not HashMap-order.
    val passes = math.max(2,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES").map { v =>
        try v.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_BENCH_PASSES must be an integer, got '$v'")
        }
      }.getOrElse(3))
    var errors = Set.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
    val best = collection.mutable.Map.empty[String, Double]
    // calibrate() keys on the PASS BOUNDARY itself, not on re-seeing
    // names.head — keying on the head entry would silently collapse the
    // interleaved probe to its start+end samples whenever that entry
    // errored in pass 1 and dropped out of later passes (round-12
    // ADVICE).
    for (pass <- 1 to passes) {
      if (pass > 1) calibrate()
      for (name <- names if !errors(name)) {
        val t0 = System.nanoTime()
        // a failed query must NOT report its (fast) exception time — it
        // is marked -1 and listed under "errors"
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        if (!ok) errors += name
        else best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      }
    }
    errors.foreach(best(_) = -1.0)
    calibrate()
    val cs = calSamples.sorted
    val calibration =
      if (cs.size % 2 == 1) cs(cs.size / 2)
      else (cs(cs.size / 2 - 1) + cs(cs.size / 2)) / 2.0
    def fmt(v: Double, scale: Int): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
    def dict(entries: Seq[(String, Double)], scale: Int): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v, scale) }
        .mkString("{", ",", "}")
    val all = best.toSeq.sortBy(_._1)
    val total = best.values.filter(_ >= 0).sum
    val errJson = errors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver captures a bounded 2000-char TAIL of stdout; round 3's
    // single full-detail line (2.7 kB for 95 queries) got front-truncated
    // and failed to parse. The stdout line therefore lists per-query
    // times only for queries >= 0.15 s (every slot the judge tracks for
    // regressions), folds the fast remainder into fast_n/fast_sec so
    // "value" still covers the whole suite, and hard-caps itself at
    // 1700 chars (drop-fastest-first) as a backstop. The FULL per-query
    // map goes to target/bench_full.json, a truncation-proof artifact.
    // driver-memory envelope fields (round-12 verdict ask #3) — sampled
    // ONCE here so the stdout line and bench_full.json agree
    val peakFields = DriverPeak.jsonFields
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_full.json"),
      (s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec",""" +
        s""""passes":$passes,"calibration_sec":${fmt(calibration, 4)},""" +
        s"""$peakFields,"queries":${dict(all, 4)},""" +
        s""""errors":$errJson,"sf":${DumpContract.q(sfDir)}}""").getBytes("UTF-8"))
    var shown = all.filter { case (_, v) => v >= 0.15 || v < 0 }
    def line(): String = {
      val rest = all.filterNot(shown.contains)
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",""" +
        s""""passes":$passes,"calibration_sec":${fmt(calibration, 3)},""" +
        s"""$peakFields,"queries":${dict(shown, 2)},"fast_n":${rest.size},""" +
        s""""fast_sec":${fmt(rest.map(_._2).sum, 2)},"errors":$errJson,""" +
        s""""full":"target/bench_full.json","sf":${DumpContract.q(sfDir)}}"""
    }
    while (line().length > 1700 && shown.nonEmpty)
      shown = shown.sortBy(-_._2).dropRight(1).sortBy(_._1)
    println(line())
    spark.stop()
  }
}
