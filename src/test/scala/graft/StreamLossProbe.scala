package graft
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerExecutorAdded, SparkListenerExecutorRemoved,
  SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executor LOSS during a STREAMING drain (round 12, the streaming
  * sibling of [[StageRetryProbe]]): a checkpointed multi-micro-batch
  * entry runs on local-cluster[2,1] (two real executor JVMs) and the
  * driver kills one executor after the first micro-batch commits —
  * mid-drain, while state-store commits and sink writes are in
  * flight. Spark must retry the lost tasks on the surviving /
  * replacement executor, reloading state from the checkpoint, and the
  * completed drain must equal a clean run exactly. Instruments
  * asserted (same discipline as every rehearsal here): the executor
  * was REMOVED while the query was still active, tasks RAN after the
  * removal (the drain genuinely continued degraded), and rows match.
  * Timing-dependent, so each entry retries with a fresh checkpoint
  * until the mid-drain condition holds (≤5 attempts).
  *
  * Needs the packaged jar + SPARK_HOME shim (see StageRetryProbe).
  * Usage: graft.StreamLossProbe [srcSfDir]
  */
object StreamLossProbe {
  def main(args: Array[String]): Unit = {
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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.props("graft.stream.maxFiles") = "1"

    val live = ConcurrentHashMap.newKeySet[String]()
    val removedMidRun = new AtomicInteger
    val tasksAfterRemoval = new AtomicInteger
    @volatile var removalSeen = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
        { live.add(e.executorId): Unit }
      override def onExecutorRemoved(
          e: SparkListenerExecutorRemoved): Unit = {
        live.remove(e.executorId)
        removalSeen = true
        if (spark.streams.active.nonEmpty) removedMidRun.incrementAndGet()
        (): Unit
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (removalSeen) tasksAfterRemoval.incrementAndGet(): Unit
    })

    // 8-part time-ordered multi-file source (strictly increasing
    // mtimes) so maxFilesPerTrigger=1 yields 8 genuine micro-batches
    val srcBase = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = ProbeEnv.target("stream_loss_probe").toString
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    val typed = Tables.events(spark, srcBase)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"),
              col("props"))
    val srcSf = s"$work/sf"
    val evDir = new java.io.File(s"$srcSf/events.parquet")
    evDir.mkdirs()
    val rows = typed.orderBy(col("ts"), col("event_id")).collect()
    val slice = (rows.length + 7) / 8
    rows.grouped(slice).zipWithIndex.foreach { case (rs, i) =>
      val stage = s"$work/stage$i"
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), typed.schema)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = evDir.toPath.resolve(f"part-$i%05d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime
          .fromMillis(1600000000000L + i * 60000L)): Unit
    }

    def run(tag: String, kill: Boolean): Seq[String] = {
      val base = s"$work/run_$tag"
      val killer = if (!kill) None else Some(new Thread(() => {
        // wait for the first micro-batch to commit, then kill one
        // LIVE executor while the drain continues
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var killed = false
        while (!killed && System.nanoTime() < deadline) {
          val progressed = spark.streams.active.exists(q =>
            q.recentProgress.nonEmpty)
          val ids = live.iterator()
          if (progressed && ids.hasNext) {
            // killAndReplaceExecutor, NOT killExecutors: the latter
            // lowers the app's desired executor total, so repeated
            // kill attempts starve the cluster to zero executors and
            // the drain hangs forever in awaitTermination (observed);
            // kill-and-replace keeps the target and the Master spawns
            // a replacement — the real "executor died" shape
            org.apache.spark.GraftProbeShim.killAndReplace(
              spark.sparkContext, ids.next())
            killed = true
          } else Thread.sleep(10)
        }
      }))
      killer.foreach(_.start())
      val out = graft.streaming.EventsStream.incrementalDaily(
        spark, srcSf, s"$base/ckpt", s"$base/out")
        .collect().map(_.toString).sorted.toSeq
      killer.foreach(_.join())
      out
    }

    val clean = run("clean", kill = false)
    var attempt = 0
    var fired = false
    var equal = true
    while (attempt < 5 && !fired) {
      attempt += 1
      removedMidRun.set(0)
      tasksAfterRemoval.set(0)
      removalSeen = false
      val killed = run(s"kill$attempt", kill = true)
      equal = equal && killed == clean
      fired = removedMidRun.get > 0 && tasksAfterRemoval.get > 0
      // give the replacement executor a beat to register before the
      // next attempt needs a victim
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (live.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
    }
    println(s"""{"stream_loss_probe":{"rows":${clean.size},""" +
      s""""attempts":$attempt,"removed_mid_run":$fired,""" +
      s""""tasks_after_removal":${tasksAfterRemoval.get},""" +
      s""""equal":$equal}}""")
    spark.stop()
    if (!fired || !equal) sys.exit(4)
  }
}
