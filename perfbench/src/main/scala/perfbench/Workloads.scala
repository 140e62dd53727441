package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.etl._
import graft.streaming.EventsStream

/** What one timed phase measured. A unit is one job (transit), one round
  * of the query mix (analyst), one chain pass (curation) or one ingest
  * tick; a request is one call whose latency is reported. */
final class Results {
  val units = mutable.ArrayBuffer.empty[Double]
  /** Whether each unit ran traced (traced runs alternate). */
  val traced = mutable.ArrayBuffer.empty[Boolean]
  val requests = mutable.ArrayBuffer.empty[(String, Double)]
  var rows = 0L
  var timedS = 0.0
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** First canonical output per checked name; later outputs must hash
    * the same. */
  val outputs = mutable.LinkedHashMap.empty[String, String]
  private val digests = mutable.Map.empty[String, String]
  val info = mutable.LinkedHashMap.empty[String, String]

  def fail(what: String): Unit = failures += what

  /** Keeps the first output of `name` and fails on any later output that
    * differs from it. */
  def output(name: String, json: String): Unit = {
    val d = Results.md5(json)
    digests.get(name) match {
      case None => digests(name) = d; outputs(name) = json
      case Some(prev) if prev != d => fail(s"$name: output changed between calls")
      case _ =>
    }
  }
}

object Results {
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** One benchmark workload, driven by [[Main]]: `register` and `warmup`
  * run before timing; `timed` runs whole units until `seconds` have
  * passed (the unit in progress finishes). */
abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
  /** Writes inputs the library itself generates; not part of `setup_s`. */
  def generate(): Unit = ()
  def register(): Unit = ()
  def warmup(): Unit
  def timed(seconds: Double, r: Results): Unit
  /** State size the last phase left behind, in MB. */
  def stateMb: Double = 0.0
  /** SQL of every oracle-checked output, by name. */
  def oracles: Map[String, String] = Map.empty

  /** In a traced run units alternate between untraced and traced, so
    * that both halves see the same warm-up drift. */
  var alternate = false

  protected def now: Double = System.nanoTime() / 1e9

  /** Times one unit (traced or not, as `alternate` says) and records it. */
  protected def unit[A](r: Results, i: Int)(body: => A): A = {
    if (alternate) tracer.on = i % 2 == 1
    val u0 = now
    try tracer.span("unit")(body)
    finally {
      r.units += now - u0
      r.traced += tracer.on
      if (alternate) tracer.on = false
    }
  }

  /** Runs whole units until `seconds` have passed since the first, and
    * at least one (two in a traced run, so that one of them is traced). A
    * unit returns its output checks, which run after its time is taken. */
  protected def loop(seconds: Double, r: Results)(body: Int => (() => Unit)): Unit = {
    val t0 = now
    var checks = 0.0
    var i = 0
    val least = if (alternate) 2 else 1
    while (i < least || now - t0 - checks < seconds) {
      val check = unit(r, i)(body(i))
      val u1 = now
      check()
      checks += now - u1
      i += 1
    }
    r.timedS += now - t0 - checks
  }

  /** One call into `layer` that materializes every column of its full
    * result on the driver. Its latency is recorded as a request and its
    * canonical output kept for checking. */
  protected def call(r: Results, name: String, layer: String)
                    (df: => DataFrame): Unit =
    materialize(r, name, layer)(df).foreach(s => r.requests += name -> s)

  /** `call` without recording a request; returns the call's latency, or
    * None when it failed. */
  protected def materialize(r: Results, name: String, layer: String)
                           (df: => DataFrame): Option[Double] = {
    r.attempted += 1
    val t0 = now
    try {
      val (schema, rows) = tracer.span(layer) {
        val d = df
        (d.schema, d.collect())
      }
      val s = now - t0
      r.output(name, Json.result(name, schema, rows))
      Some(s)
    } catch {
      case e: Exception =>
        r.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300))
        None
    }
  }
}

object Workloads {
  /** The ops modules of the analyst mix and of the curation chain. */
  val analystModules: Seq[String] = Seq(
    "Advanced", "Aggregates", "Behavior", "Extras", "Filters", "Ingest",
    "Joins", "JsonArray", "Quality", "Scalars", "SqlSurface", "TopK",
    "Windows")
  val curationModules: Seq[String] = Seq(
    "Dedup", "Similarity", "TextAnalysis", "Curation")

  /** ops module of every `SparkEntry` entry. */
  lazy val moduleOf: Map[String, String] = {
    import graft.ops._
    Seq("Advanced" -> Advanced.queries, "Aggregates" -> Aggregates.queries,
        "Behavior" -> Behavior.queries, "Extras" -> Extras.queries,
        "Filters" -> Filters.queries, "Ingest" -> Ingest.queries,
        "Joins" -> Joins.queries, "JsonArray" -> JsonArray.queries,
        "Quality" -> Quality.queries, "Scalars" -> Scalars.queries,
        "SqlSurface" -> SqlSurface.queries, "TopK" -> TopK.queries,
        "Windows" -> Windows.queries, "Dedup" -> Dedup.queries,
        "Similarity" -> Similarity.queries,
        "TextAnalysis" -> TextAnalysis.queries,
        "Curation" -> Curation.queries)
      .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap
  }
}

/** Closed-loop `SparkEntry` requests over one table directory: the
  * analyst mix (a unit is two rounds, each in a seeded order) and the
  * curation chain (a unit is one pass in a fixed order) differ only in
  * their entry lists and unit shapes. */
final class EntryLoop(spark: SparkSession, tracer: Tracer, dir: String,
                      entries: Seq[String], seed: Long, shuffle: Boolean,
                      roundsPerUnit: Int)
    extends Workload(spark, tracer) {
  private val queries = SparkEntry.queries
  private val rng = new scala.util.Random(seed)

  override def oracles: Map[String, String] = {
    val all = SparkEntry.oracleSql
    entries.distinct.flatMap(e => all.get(e).map(e -> _)).toMap
  }

  override def register(): Unit =
    Tables.allNames.foreach(t => Tables.table(spark, dir, t))

  private def round(r: Results): Unit = {
    val order = if (shuffle) rng.shuffle(entries) else entries
    for (e <- order)
      call(r, e, s"ops.${Workloads.moduleOf(e)}")(queries(e)(spark, dir))
  }

  def warmup(): Unit = round(new Results)

  def timed(seconds: Double, r: Results): Unit =
    loop(seconds, r) { _ => for (_ <- 1 to roundsPerUnit) round(r); () => () }
}

/** Inputs of one daily job: the feed dir, the as-of date, and how
  * `etl.SyntheticGen` sizes the delay events and weather (trips, days,
  * first day, seed). */
final case class TransitInputs(gtfs: String, asOf: java.sql.Date, trips: Int,
                               days: Int, start: String, seed: Long)

object TransitInputs {
  def parse(csv: String): TransitInputs = {
    val Array(g, d, t, n, s, seed) = csv.split(",")
    TransitInputs(g, java.sql.Date.valueOf(d), t.toInt, n.toInt, s, seed.toLong)
  }
}

/** The reference's daily batch, `Pipeline.runDaily` over a GTFS feed:
  * data-quality gate, operational load, star-schema warehouse, feature
  * build, baseline predictions and the evaluation reports, which are
  * collected so the job's every output is produced. One job is one
  * request. */
final class TransitDaily(spark: SparkSession, tracer: Tracer,
                         in: TransitInputs, work: String)
    extends Workload(spark, tracer) {
  private val stageLayer = Map(
    "staging_load" -> "etl.GtfsEtl.staging",
    "check_data_quality" -> "etl.GtfsEtl.staging",
    "operational_load" -> "etl.GtfsEtl.operational",
    "warehouse_build" -> "etl.GtfsEtl.warehouse",
    "feature_build" -> "etl.FeatureBuild",
    "predict" -> "etl.FeatureBuild",
    "evaluate" -> "etl.Evaluation",
    "monitoring_gate" -> "etl.Evaluation")

  private val events = s"$work/transit/delay_events.parquet"
  private val weather = s"$work/transit/weather.parquet"

  /** Delay events and weather from the library's own generator. They are
    * written afresh in every run, in this JVM, so that every run starts
    * its warm-up equally warm; the time is left out of `setup_s`. */
  override def generate(): Unit = {
    import in._
    SyntheticGen.delayEvents(spark, trips, days, start, seed)
      .write.mode("overwrite").parquet(events)
    SyntheticGen.weather(spark, days, start, seed)
      .write.mode("overwrite").parquet(weather)
  }

  /** One complete job; returns its output checks. */
  private def job(r: Results, checkSplit: Boolean): () => Unit = {
    import in._
    val out = mutable.Map.empty[String, DataFrame]
    val de = spark.read.parquet(events)
    val wx = spark.read.parquet(weather)
    r.attempted += 1
    val t0 = now
    val report = tracer.span("etl.Pipeline.runDaily") {
      val start = tracer.nowMs
      val rep = Pipeline.runDaily(spark, gtfs, de, wx, asOf, out).collect()
      // the runner times its stages back to back: lay them out as spans
      var t = start
      for (row <- rep) {
        val ms = row.getAs[Double]("seconds") * 1e3
        tracer.record(stageLayer.getOrElse(row.getString(0), "etl.Pipeline"),
                      t, t + ms)
        t += ms
      }
      rep
    }
    val failed = report.filter(_.getString(1) != "success")
    failed.foreach(row => r.fail(s"runDaily stage ${row.getString(0)}: " +
      s"${row.getString(1)} ${row.getString(3)}"))
    if (failed.isEmpty) {
      materialize(r, "metrics", "etl.Evaluation")(out("metrics"))
      materialize(r, "riskReport", "etl.Evaluation")(out("risk"))
    }
    // the scheduler waits for the whole job: that is the request
    r.requests += "dailyJob" -> (now - t0)

    () => {
      if (failed.isEmpty) {
        val fact = out("fact").count()
        val feats = out("features").count()
        r.info.get("fact_rows").filter(_ != fact.toString).foreach(f =>
          r.fail(s"fact rows $fact differ from an earlier job's $f"))
        r.info("fact_rows") = fact.toString
        if (feats != fact) r.fail(s"feature rows $feats != fact rows $fact")
        if (checkSplit) {
          val (train, test) = FeatureBuild.split(out("features"))
          val (a, b) = (train.count(), test.count())
          if (a + b != feats || !train.intersect(test).isEmpty)
            r.fail(s"train/test split ($a + $b) does not partition $feats rows")
        }
      }
      spark.catalog.clearCache()
    }
  }

  def warmup(): Unit = job(new Results, checkSplit = false)()

  def timed(seconds: Double, r: Results): Unit = {
    loop(seconds, r)(i => job(r, checkSplit = i == 0))
    r.info("job_digest") = Results.md5(r.outputs.values.mkString)
    r.info("transit_dir") = s"$work/transit"
  }
}

/** Open-loop ingest. A unit is one landing schedule: a generator thread
  * lands `perUnit` pre-generated event files into the source directory,
  * one every `periodMs` whatever the ingest does, while the client calls
  * `EventsStream.upsertMergeFrom` on whatever has landed; the unit ends
  * when every file of the schedule is ingested. Freshness of a file runs
  * from its scheduled landing time to the end of the tick that took it
  * in; the unit's time runs from its first scheduled landing to the end
  * of its last tick, so a slower tick shows in every ingest metric. */
final class EventIngest(spark: SparkSession, tracer: Tracer, files: String,
                        periodMs: Long, perUnit: Int, eventsPerFile: Int,
                        work: String)
    extends Workload(spark, tracer) {
  private var lastBase = ""

  private def list(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
    finally s.close()
  }

  private def sorted(dir: String): Seq[java.nio.file.Path] =
    list(Paths.get(dir)).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)

  /** One drain of everything landed, materializing the merged snapshot. */
  private def tick(src: String, base: String): Unit =
    tracer.span("streaming.EventsStream.upsertMergeFrom") {
      EventsStream.upsertMergeFrom(spark, src, base)
        .write.format("noop").mode("overwrite").save()
    }

  /** Two ticks, the second merging into the snapshot of the first. */
  def warmup(): Unit = {
    val src = Files.createDirectories(Paths.get(s"$work/ingest_warm/src"))
    for (batch <- sorted(files).take(6).grouped(3)) {
      batch.foreach(p => Files.copy(p, src.resolve(p.getFileName)))
      tick(src.toString, s"$work/ingest_warm/base")
    }
  }

  def timed(seconds: Double, r: Results): Unit = {
    val dir = s"$work/ingest"
    val staging = Files.createDirectories(Paths.get(s"$dir/staging"))
    val src = Files.createDirectories(Paths.get(s"$dir/src"))
    lastBase = s"$dir/base"
    val all = sorted(files)
    val least = if (alternate) 2 else 1
    val t0 = now
    var u = 0
    while ((u < least || now - t0 < seconds) && (u + 1) * perUnit <= all.size) {
      schedule(all.slice(u * perUnit, (u + 1) * perUnit), u, staging, src, r)
      u += 1
    }
    r.info("schedules") = u.toString
    r.info("source_dir") = src.toString
    r.info("state_dir") = s"$lastBase/state"
  }

  private def schedule(todo: Seq[java.nio.file.Path], u: Int,
                       staging: java.nio.file.Path, src: java.nio.file.Path,
                       r: Results): Unit = {
    val n = todo.size
    todo.foreach(p => Files.copy(p, staging.resolve(p.getFileName)))
    val landed = new AtomicInteger(0)
    val lateMs = new Array[Double](n)
    val t0 = now
    val tLast = t0 + (n - 1) * periodMs / 1e3
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        val due = t0 + i * periodMs / 1e3
        val wait = due - now
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        Files.move(staging.resolve(todo(i).getFileName),
                   src.resolve(todo(i).getFileName),
                   StandardCopyOption.ATOMIC_MOVE)
        lateMs(i) = (now - due) * 1e3
        landed.set(i + 1)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    var drained = 0
    var beforeLast = 0  // files ingested by ticks that ended before the last landing
    while (drained < n) {
      val seen = landed.get
      if (seen == drained) Thread.sleep(2)
      else {
        r.attempted += 1
        try unit(r, r.units.size)(tick(src.toString, lastBase))
        catch { case e: Exception =>
          r.fail(s"upsertMergeFrom: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        val end = now
        for (i <- drained until seen)
          r.requests += s"file${u * n + i}" -> (end - (t0 + i * periodMs / 1e3))
        if (end < tLast) beforeLast = seen
        drained = seen
      }
    }
    r.timedS += now - t0
    gen.join()
    r.rows += n.toLong * eventsPerFile
    r.info(s"backlog_files_u$u") = (n - beforeLast).toString
    r.info(s"generator_late_ms_max_u$u") = f"${lateMs.max}%.1f"
  }

  override def stateMb: Double = {
    val state = Paths.get(s"$lastBase/state")
    if (!Files.isDirectory(state)) 0.0
    else list(state).filter(_.getFileName.toString.matches("v\\d+"))
      .maxByOption(_.getFileName.toString.drop(1).toLong)
      .map { v =>
        val s = Files.walk(v)
        try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }.getOrElse(0L) / 1e6
  }
}
