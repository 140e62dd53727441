package graft
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerExecutorRemoved, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Executor-LOSS / stage-replay determinism probe (round-11 verdict
  * ask #2) — the stronger sibling of [[RetryProbe]]: task retry reruns
  * one task in a live stage; stage replay recomputes a map stage whose
  * shuffle output was LOST, feeding recomputed output into reducers
  * that may already hold partial state. That is where order-sensitive
  * aggregations actually diverge on a real cluster (executor
  * preemption, spot reclaim, OOM kill — routine at 1000 executors).
  *
  * Mechanics: a `local-cluster[2,1,mem]` session (two REAL executor
  * JVMs forked by a standalone Worker). Per entry: (1) clean run →
  * baseline rows; (2) rerun with the final collect wrapped in a
  * mapPartitions whose first task to atomically create a marker file
  * halts its whole executor JVM (`Runtime.halt` — a cold kill, no
  * shutdown hooks, exactly an executor loss). The dead executor held
  * part of every parent shuffle-map stage's output, so the resubmitted
  * result task hits FetchFailed → DAGScheduler marks those map outputs
  * missing → resubmits the map stage → recomputes on the surviving /
  * replacement executor → reruns the reduce. Listener-asserted
  * instruments (assert-the-instrument discipline, same as the spill
  * witness): an ExecutorRemoved event, a FetchFailed task-end, and a
  * stage attempt > 0 must ALL be observed, and the rerun's rows must
  * equal the baseline exactly. Whether the halting task lands on an
  * executor holding map output is scheduler-timing dependent, so each
  * entry retries the kill (fresh marker) until the FetchFailed
  * instrument fires, up to 5 attempts — equality is asserted on EVERY
  * attempt regardless.
  *
  * Needs the packaged jar (executors classload it) and the SPARK_HOME
  * shim (tools/spark_home_shim.sh; the Worker writes $SPARK_HOME/work).
  * StageRetrySpec shells out to this in a fresh JVM. Usage:
  *   graft.StageRetryProbe [sfDir] [entry ...]
  */
object StageRetryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("agg_multikey", "win_lag", "ext_exact_dedup")
    val jar = sys.env.getOrElse("GRAFT_JAR", ProbeEnv.target(
      "scala-2.13/transitdatapipelinespark_2.13-0.1.0.jar").toString)
    require(new java.io.File(jar).isFile, s"package the jar first: $jar")
    val spark = SparkSession.builder()
      .master("local-cluster[2,1,2048]")
      .config("spark.jars", jar)
      .config("spark.executor.extraClassPath", jar)
      .config("spark.executor.memory", "1500m")
      .config("spark.executor.extraJavaOptions", ProbeEnv.addOpens.mkString(" "))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val execRemoved = new AtomicInteger
    val fetchFailed = new AtomicInteger
    val stageReplay = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(
          e: SparkListenerExecutorRemoved): Unit =
        execRemoved.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.reason match {
          case _: org.apache.spark.FetchFailed =>
            fetchFailed.incrementAndGet()
          case _ => ()
        }
      override def onStageSubmitted(
          e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.attemptNumber() > 0) stageReplay.incrementAndGet()
    })

    val markerDir = ProbeEnv.target("stage_retry_markers").toFile
    markerDir.mkdirs()
    markerDir.listFiles().foreach(_.delete())

    def rows(name: String, marker: Option[String]): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      marker match {
        case None => df.collect().map(_.toString).sorted.toSeq
        case Some(m) =>
          // the mapPartitions body runs eagerly at task start, BEFORE
          // any row flows — File.createNewFile is atomic across the
          // executor JVMs (same box), so exactly one task halts its
          // executor cold, taking that executor's shuffle-map files
          // with it
          df.rdd.mapPartitions { it =>
            val tc = org.apache.spark.TaskContext.get()
            if (tc != null && tc.attemptNumber == 0 &&
                new java.io.File(m).createNewFile()) {
              Runtime.getRuntime.halt(137)
            }
            it
          }.collect().map(_.toString).sorted.toSeq
      }
    }

    var bad = 0
    val results = names.map { name =>
      val clean = rows(name, None)
      var attempt = 0
      var fired = false
      var equal = true
      while (attempt < 5 && !fired) {
        attempt += 1
        val f0 = fetchFailed.get
        val killed = rows(name,
          Some(s"$markerDir/m_${name}_$attempt"))
        equal = equal && killed == clean
        fired = fetchFailed.get > f0
      }
      if (!fired || !equal) bad += 1
      s""""$name":{"rows":${clean.size},"attempts":$attempt,""" +
        s""""fetch_failed":$fired,"equal":$equal}"""
    }
    val summary =
      s""","executors_removed":${execRemoved.get}""" +
      s""","stage_replays":${stageReplay.get}}"""
    // a kill that never cost an executor or never replayed a stage
    // proves nothing — the instruments themselves are asserted
    if (execRemoved.get == 0 || stageReplay.get == 0) bad += 1
    println(results.mkString("{\"stage_retry_probe\":{", ",", "}") +
      summary)
    spark.stop()
    if (bad > 0) sys.exit(4)
  }
}
