package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload run in one JVM: session start, table registration and an
  * untimed warm-up pass (together `setup_s`; inputs the library generates
  * itself in this JVM are left out of it), then the timed phase. With
  * `--trace 1` the timed phase alternates untraced and traced units; the
  * traced ones record spans and Spark counters, and the difference of the
  * two median unit times is the tracing overhead.
  *
  * Writes the raw measurements to `--out` (JSON) and the first output of
  * every checked call to `--outputs` (JSON lines); `run.py` turns them
  * into the metrics and compares the outputs with DuckDB. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val tracer = new Tracer(trace,
      s"${opt("workload")}-${opt("seed")}-${ProcessHandle.current().pid()}")

    val spark = tracer.span("spark.session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobCounters
    val streams = new StreamCounters
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }

    val w: Workload = opt("workload") match {
      case "analyst_queries" | "curation_batch" =>
        new EntryLoop(spark, tracer, opt("data"),
          opt("entries").split(",").toSeq, opt("seed").toLong,
          shuffle = opt("workload") == "analyst_queries",
          roundsPerUnit = if (opt("workload") == "analyst_queries") 2 else 1)
      case "transit_daily" =>
        new TransitDaily(spark, tracer, TransitInputs.parse(opt("inputs")),
          work)
      case "event_ingest" =>
        new EventIngest(spark, tracer, opt("files"), opt("period-ms").toLong,
          opt("files-per-unit").toInt, opt("events-per-file").toInt, work)
    }
    val g0 = System.nanoTime()
    tracer.on = false
    w.generate()
    val generateS = (System.nanoTime() - g0) / 1e9
    tracer.on = trace
    tracer.span("spark.session")(w.register())
    tracer.on = false
    w.warmup()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3 - generateS

    val seconds = opt("seconds").toDouble
    val r = new Results
    w.alternate = trace
    w.timed(seconds, r)
    tracer.on = false
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        def med(on: Boolean) = median(r.units.zip(r.traced).collect {
          case (u, `on`) => u }.toSeq)
        drainListeners(spark)
        LayerReport.build(LayerReport.layersFor(opt("workload")),
          tracer.spans, jobs, streams, r.traced.count(identity),
          w.stateMb, med(true) - med(false))
      }

    // what the program still holds once the timed phase is over: caches,
    // relation memos, streaming state. Each collection lets Spark's
    // cleaner release broadcast and shuffle blocks whose handles died,
    // so the least heap in use over a few rounds counts what is left.
    val retainedMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val outLines = r.outputs.values.mkString("", "\n", "\n")
    Files.write(Paths.get(opt("outputs")), outLines.getBytes("UTF-8"))
    val json = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "timed_s" -> Json.num(r.timedS),
      "peak_rss_mb" -> Json.num(rssMb),
      "heap_retained_mb" -> Json.num(retainedMb),
      "units" -> Json.arr(r.units.map(Json.num)),
      "requests" -> Json.arr(r.requests.map { case (n, s) =>
        Json.arr(Seq(Json.str(n), Json.num(s))) }),
      "rows" -> r.rows.toString,
      "attempted" -> r.attempted.toString,
      "failures" -> Json.arr(r.failures.map(Json.str)),
      "info" -> Json.obj(r.info.map { case (k, v) => k -> Json.str(v) }),
      "oracles" -> Json.obj(w.oracles.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(tracer.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> Json.str(s.runId),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))))))
    Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** Listener events arrive asynchronously: wait until the counters stop
    * changing before folding them. */
  private def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}
