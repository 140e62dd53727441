package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer, as seen from the benchmark. Times are epoch
  * milliseconds with sub-millisecond digits, so Spark's listener events
  * (which carry epoch milliseconds) can be attributed by timestamp. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1e3
}

/** In-memory span recorder. Spans nest on the one client thread that
  * calls into the library; the ingest generator thread records none.
  * While `on` is false (untraced runs, warm-up, the untraced half of a
  * traced run) `span` is a plain call. */
final class Tracer(var on: Boolean, val runId: String) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Double)]
  private var nextId = 1

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      stack.push((id, name, nowMs))
      try body
      finally {
        val (_, _, start) = stack.pop()
        done += Span(id, name, currentId, runId, start, nowMs)
      }
    }

  private def currentId: Int = if (stack.isEmpty) 0 else stack.top._1

  /** A span for an interval measured elsewhere (the pipeline's own stage
    * report), recorded under the innermost open span. */
  def record(name: String, start: Double, end: Double): Unit =
    if (on) {
      done += Span(nextId, name, currentId, runId, start, end)
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq
}

/** Spark counters per job, attributed to spans afterwards by the job's
  * submission time: executor CPU and shuffle bytes come from task ends,
  * grouped by the stage's first owning job. */
final class JobCounters extends SparkListener {
  final class Job(val startMs: Long) {
    @volatile var cpuNs = 0L
    @volatile var shuffleBytes = 0L
  }
  val jobs = TrieMap.empty[Int, Job]
  private val stageOwner = TrieMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, j))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (m <- Option(e.taskMetrics); j <- stageOwner.get(e.stageId))
      j.synchronized {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
}

final case class Batch(endMs: Double, addBatchMs: Long, commitMs: Long)

/** Micro-batch phases of every streaming query: addBatch, and the two
  * checkpoint commits (offset WAL write + commit log write). */
final class StreamCounters extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    batches.add(Batch(System.currentTimeMillis().toDouble,
      d.getOrElse("addBatch", 0L),
      d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)))
  }
}

/** Folds spans and counters into the `<layer>.<metric>` table. */
object LayerReport {
  val base = Seq("self_s", "jobs", "cpu_s", "shuffle_mb")
  val streamExtra = Seq("batches", "add_batch_s", "commit_s", "state_mb")

  /** The layers every run reports. The curation modules are reported
    * only by `curation_batch`, the one workload that calls them. */
  val layers: Seq[String] = Seq(
    "spark.session",
    "etl.GtfsEtl.staging", "etl.GtfsEtl.operational", "etl.GtfsEtl.warehouse",
    "etl.FeatureBuild", "etl.Evaluation") ++
    Workloads.analystModules.map("ops." + _) ++
    Seq("streaming.EventsStream.upsertMergeFrom")

  def layersFor(workload: String): Seq[String] =
    if (workload == "curation_batch")
      layers ++ Workloads.curationModules.map("ops." + _)
    else layers

  val streamLayers: Set[String] = Set("streaming.EventsStream.upsertMergeFrom")

  /** Every per-layer metric name of `layers`, in report order. */
  def names(layers: Seq[String]): Seq[String] =
    layers.flatMap(l => (base ++ (if (streamLayers(l)) streamExtra else Nil))
      .map(m => s"$l.$m")) ++ Seq("trace.unattributed_s", "trace.overhead_s")

  /** Per-unit layer metrics over the spans of the timed phase.
    * `units` is how many jobs/rounds/passes/ticks the phase completed;
    * `spark.session` is a one-off and is not divided. Self time of spans
    * that are not layers (the per-unit root spans, `runDaily` itself)
    * is the unattributed remainder. */
  def build(layers: Seq[String], spans: Seq[Span], jobs: JobCounters,
            stream: StreamCounters, units: Int, stateMb: Double,
            overheadS: Double): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def selfS(s: Span): Double =
      s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum
    // innermost span containing a timestamp: the one that started last
    def owner(ms: Double): Option[Span] =
      spans.filter(s => s.start <= ms && ms <= s.end).maxByOption(_.start)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (s <- spans) {
      val l = if (layers.contains(s.name)) s.name else "trace.unattributed"
      acc(s"$l.self_s") += selfS(s)
    }
    for (j <- jobs.jobs.values; s <- owner(j.startMs.toDouble)) {
      acc(s"${s.name}.jobs") += 1
      acc(s"${s.name}.cpu_s") += j.cpuNs / 1e9
      acc(s"${s.name}.shuffle_mb") += j.shuffleBytes / 1e6
    }
    for (b <- stream.batches.asScala; s <- owner(b.endMs)) {
      acc(s"${s.name}.batches") += 1
      acc(s"${s.name}.add_batch_s") += b.addBatchMs / 1e3
      acc(s"${s.name}.commit_s") += b.commitMs / 1e3
    }
    acc("trace.unattributed_s") = acc("trace.unattributed.self_s")
    acc("streaming.EventsStream.upsertMergeFrom.state_mb") = stateMb * units
    acc("trace.overhead_s") = overheadS * units
    val n = math.max(units, 1).toDouble
    names(layers).map { k =>
      k -> (if (k.startsWith("spark.session.")) acc(k) else acc(k) / n)
    }.toMap
  }
}
