package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict the dump to these query names
    // (driver passes none; dev runs use it to re-check changed entries)
    val only = args.drop(2).toSet
    // micros (not INT96) so the dumped parquet timestamps compare cleanly
    // against DuckDB's timestamp[us] results
    val spark = Mains.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    // Spill-path witness (round-10 verdict ask #2): local[32]/128 GiB
    // never spills, so the ExternalSorter / ExternalAppendOnlyMap /
    // UnsafeExternalSorter paths that dominate a real cluster's behavior
    // would otherwise go unexecuted under this contract. With
    // SPARK_GRAFT_ASSERT_SPILL=1 (paired with force-spill thresholds via
    // SPARK_GRAFT_EXTRA_CONF — see tools/config_matrix.py's spill cell),
    // a listener accumulates task spill metrics and the run FAILS unless
    // something actually spilled — proving the hashes that check_local
    // then verifies were produced through the spill machinery, not past
    // it. (Same assert-the-instrument discipline as the late-drop
    // observer: a rehearsal that can silently not-exercise its target
    // path proves nothing.)
    val spillAssert = sys.env.get("SPARK_GRAFT_ASSERT_SPILL").contains("1")
    val spillMem = new java.util.concurrent.atomic.LongAdder
    val spillDisk = new java.util.concurrent.atomic.LongAdder
    if (spillAssert)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              spillMem.add(m.memoryBytesSpilled)
              spillDisk.add(m.diskBytesSpilled)
            }
          }
        })
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    DumpContract.write(outDir)
    // Driver-memory envelope (round-12 verdict ask #3): one line per
    // run; tools/driver_memory.py diffs it across scales to assert the
    // driver's retained state is cardinality-bounded, not
    // corpus-proportional.
    println(s"""[verify] DRIVER_PEAK {${DriverPeak.jsonFields}}""")
    if (spillAssert) {
      // the listener bus is async; a run-total across hundreds of
      // queries is stable long before stop, but trailing task-end
      // events can straggle on a loaded box — poll until a spill is
      // visible (or a generous deadline) instead of one fixed sleep,
      // so the assert can't spuriously fail on bus latency alone
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spillMem.sum + spillDisk.sum == 0 && System.nanoTime() < deadline)
        Thread.sleep(250)
      println(s"[verify] SPILL mem=${spillMem.sum} disk=${spillDisk.sum}")
      if (spillMem.sum + spillDisk.sum == 0) {
        System.err.println("[verify] SPILL-ASSERT FAILED: no task " +
          "spilled — the rehearsal did not exercise the spill path")
        spark.stop()
        sys.exit(3)
      }
    }
    spark.stop()
  }
}

/** Contract dump shared by [[Verify]] and the pre-commit lint path:
  * writes `oracle_sql.json` (the doc/discipline lints' truth source)
  * from the pure [[SparkEntry.oracleSql]] map — no SparkSession, so
  * `tools/pre_commit.sh` can refresh the lints' input in milliseconds
  * instead of requiring a full Verify sweep per commit. */
object DumpContract {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `oracle_sql.json`'s text: every entry's oracle SQL, one JSON
    * object. ContractPinSpec pins its md5. */
  def json: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def write(outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }

  /** Default output dir: `target/verify_out` under the working
    * directory, so a dump from any checkout stays inside it. */
  def main(args: Array[String]): Unit =
    write(args.headOption.getOrElse("target/verify_out"))
}

/** Session and timing helpers shared by the mains. */
private[graft] object Mains {
  /** The session of [[Verify]] and [[AB]]: master `SPARK_GRAFT_MASTER`
    * (default `local[cpus]`; a `local-cluster[n,cores,mem]` master runs
    * real executor JVMs, so broadcast serialization, remote shuffle
    * fetch and executor-side classloading of the custom expressions
    * cross a process boundary), `cpus` shuffle partitions, UTC, AQE on,
    * UI off, then `conf`, then the `SPARK_GRAFT_EXTRA_CONF` `k=v;k=v`
    * pairs LAST so they override everything above — the
    * config-robustness hook (codegen off, AQE off, shuffle-partition
    * extremes) under which the contract must still hold; the jar and
    * executor JVM flags of a multi-JVM master ride in there too. */
  def session(cpus: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { s =>
      s.split(';').iterator.map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k.trim, v.trim)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_EXTRA_CONF entry must be key=value, got '$kv'")
        }
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Midpoint median (mean of the middle two for even counts). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Box-speed calibration probe of [[Bench]] and [[AB]]: a FIXED
    * pure-CPU, data- and repo-independent job (range → arith → sum, all
    * codegen'd, no I/O, no real shuffle), so cross-round comparisons can
    * separate box drift from code drift: engine drift ≈
    * total_rN/total_rN-1 ÷ calibration_rN/calibration_rN-1. Sampled
    * INTERLEAVED through a run and reported as the [[median]]: a
    * min-of-k at session start spreads ±13-15% across back-to-back idle
    * sessions (session-level clock and JIT state, measured), while the
    * median over the run's own window is the session's speed over the
    * same wall-clock window the query numbers were measured in. */
  final class Calibration(spark: SparkSession) {
    private val samples = collection.mutable.ArrayBuffer.empty[Double]
    def sample(): Unit = {
      val t0 = System.nanoTime()
      spark.range(0, 1200000000L, 1, 32)
        .selectExpr("sum(id * 3 + (id % 7))").collect()
      samples += (System.nanoTime() - t0) / 1e9: Unit
    }
    def count: Int = samples.size
    def median: Double = Mains.median(samples.toSeq)
  }
}
