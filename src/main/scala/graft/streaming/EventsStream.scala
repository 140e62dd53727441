package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Structured Streaming re-expression of the reference's batch-incremental
  * patterns (SURVEY.md §2.10).
  *
  * The reference approximates streaming with high-water-mark batch inserts
  * (`/root/reference/airflow/dags/ml_pipeline_dag.py:104-283`, ST1), hourly
  * time-bucket aggregation (`generate_synthetic_data.py:136-188`, ST2) and
  * recomputed sliding windows (`sql/ml_feature_engineering.sql:253-383`,
  * ST3); its only dedup is `ON CONFLICT DO NOTHING`
  * (`sql/load_gtfs_data.sql:139`, ST5). Here those become one
  * source → watermark → window/dedup → sink pipeline run with
  * `Trigger.AvailableNow` (checkpointed incremental batch — exactly the
  * reference's cadence, with exactly-once bookkeeping instead of
  * hand-rolled high-water marks).
  *
  * Every entry differs only in its query; the plumbing is shared:
  *  - one events source ([[eventsSource]]): explicit raw schema from the
  *    [[graft.Tables.withTsLayout]] probe, optional `maxFilesPerTrigger`,
  *    `ts` as micros TimestampType;
  *  - one scratch scoper ([[scopedBase]]): single-writer checkpoint/sink
  *    dirs under [[scratchRoot]] with live-owner-safe GC;
  *  - three sink shapes: memory ([[drainToMemory]]), parquet file
  *    ([[drainToFiles]]) and `foreachBatch` ([[upsertMergeFrom]],
  *    [[embeddingDriftStream]]). Each starts with AvailableNow, waits
  *    through [[drain]], and the append/watermark entries then certify
  *    zero late drops ([[assertNoWatermarkDrops]]).
  *
  * Scale notes: the file source lists and checkpoints offsets per file —
  * at 100 TB the same program runs against a directory that keeps growing,
  * with `maxFilesPerTrigger` bounding each micro-batch. The watermark
  * bounds window/dedup state: hourly windows + a 1-hour watermark means
  * state holds ~2 hours of keys per event_type, independent of total
  * history. Aggregations are partial-aggregated before the state-store
  * shuffle, so per-batch shuffle volume is (types × hours), not rows.
  */
object EventsStream {

  /** Explicit schema — streaming sources never infer. `ts` is raw Long
    * nanos or native micros, per the layout probe of the actual files. */
  private def eventsRawSchema(tsLong: Boolean) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsLong) LongType else TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Root of every streaming scratch dir: `target/scratch` under the JVM
    * working directory, so each checkout writes inside itself. */
  private[graft] val scratchRoot: Path =
    Paths.get("target/scratch").toAbsolutePath.normalize()

  /** Collision-resistant key for a dataset path: md5 hex prefix. A 32-bit
    * String.hashCode key would let two colliding paths share a scratch/
    * checkpoint namespace and GC each other's dirs mid-stream. */
  private[graft] def pathKey(p: String): String = {
    // keyed on the ABSOLUTE normalized path: a relative and an absolute
    // spelling of the same dataset dir must share one scratch/checkpoint
    // namespace, or the single-writer GC sees them as two owners
    val abs = Paths.get(p).toAbsolutePath.normalize().toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString
  }

  /** Scratch directory exposing `sfDir/events.parquet` through symlinks:
    * the file-stream source requires a directory; the testdata table is a
    * single parquet file (this is also the natural 100 TB layout: a
    * directory that new files land in, each micro-batch picking up the
    * unseen ones). The dir is keyed on a hash of the FULL source path — a
    * basename key would silently reuse a stale link when two different
    * roots share a directory name — and an existing link pointing
    * elsewhere is replaced. */
  private[graft] def eventsSourceDir(sfDir: String): String = {
    // absolute+normalized: a RELATIVE sfDir would otherwise make
    // createSymbolicLink resolve the target against the scratch dir —
    // a silently broken link whose only symptom is a path-shaped
    // exception message (hit by the round-7 scale rehearsal)
    val target = Paths.get(s"$sfDir/events.parquet").toAbsolutePath.normalize()
    val dir = scratchRoot.resolve(
      s"stream_src_${new java.io.File(sfDir).getName}_${pathKey(sfDir)}")
    Files.createDirectories(dir)
    // The file-stream source lists PLAIN FILES in its directory; it does
    // not descend into a directory symlink — a dir-shaped
    // events.parquet (the multi-part layout every real deployment has)
    // would silently drain ZERO rows through a single dir link (caught
    // by the round-7 scale rehearsal: ScaleUp writes part-file dirs).
    // Link the data files individually in both layouts.
    val sources: Seq[Path] =
      if (Files.isDirectory(target)) {
        val s = Files.list(target)
        try s.iterator().asScala.toSeq
          .filter { p =>
            val n = p.getFileName.toString
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }.sortBy(_.getFileName.toString)
        finally s.close()
      } else Seq(target)
    def linkName(i: Int) =
      if (sources.size == 1) "events.parquet" else f"events_part$i%05d.parquet"
    // drop stale links: anything not in the CURRENT expected name set
    // (a broken-target check alone misses the single-file → multi-part
    // flip, where the old 'events.parquet' link resolves to the now-
    // directory target and would sit beside the new per-part links)
    val expected = sources.indices.map(linkName).toSet
    val existing = Files.list(dir)
    try existing.iterator().asScala.toSeq.foreach { l =>
      if (Files.isSymbolicLink(l) &&
          (!expected.contains(l.getFileName.toString) || !Files.exists(l)))
        Files.delete(l)
    } finally existing.close()
    sources.zipWithIndex.foreach { case (src, i) =>
      val link = dir.resolve(linkName(i))
      if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != src)
        Files.delete(link)
      if (!Files.exists(link)) Files.createSymbolicLink(link, src)
    }
    dir.toString
  }

  /** The multi-batch rehearsal knob, parsed ONCE with a clear error: a
    * malformed value fails identically at every use site. The system
    * property is the in-process override (specs can't set env vars); env
    * wins. */
  private[streaming] def streamMaxFiles: Option[Int] =
    sys.env.get("GRAFT_STREAM_MAX_FILES")
      .orElse(sys.props.get("graft.stream.maxFiles")).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"GRAFT_STREAM_MAX_FILES must be an integer, got '$v'")
      }
    }

  /** Await a drain, honoring the crash-rehearsal stop hook: with
    * `graft.stream.stopAfterBatches=n` set (test-only sys prop, spec
    * use), the query is stopped as soon as ~n micro-batches have
    * committed instead of draining to completion — the graceful half
    * of the round-12 kill-and-restart rehearsal (the hard half is
    * [[graft.StreamKillProbe]]'s JVM halt and the deleted-commit-file
    * replay). A restart over the same checkpoint must then complete
    * the drain to the exact batch answer. Without the prop this is
    * `awaitTermination()` verbatim. */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    sys.props.get("graft.stream.stopAfterBatches").map(_.trim.toInt) match {
      case None => q.awaitTermination()
      case Some(n) =>
        while (q.isActive && q.recentProgress.length < n)
          Thread.sleep(20)
        if (q.isActive) q.stop()
        q.awaitTermination()
    }

  /** The one events source over a directory of parquet files: the layout
    * probe picks the raw schema, `maxFiles` caps each micro-batch
    * (AvailableNow then drains in ⌈files / maxFiles⌉ batches, exercising
    * watermark advancement and state eviction ACROSS batches; results
    * must be batch-identical at any split), and `ts` becomes a TZ (not
    * NTZ) micros timestamp — watermarks require TimestampType; session TZ
    * is UTC so instants match, and outputs cast to NTZ at the edge. */
  private def eventsSource(s: SparkSession, dir: String,
                           maxFiles: Option[Int]): DataFrame = {
    val tsLong =
      try graft.Tables.withTsLayout(s)(s.read.parquet(dir))._2
      catch {
        // an empty source directory has no footer to probe — the
        // legitimate "stream started before the first file landed"
        // state — and reads as native micros so it still drains cleanly
        case _: org.apache.spark.sql.AnalysisException => false
      }
    val reader = s.readStream.schema(eventsRawSchema(tsLong))
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(dir).withColumn("ts", graft.Tables.tsMicros(tsLong))
  }

  /** The events table of `sfDir` as a stream, with the drop observer
    * registered before any query that must be watched can start. */
  private def readEvents(s: SparkSession, sfDir: String): DataFrame = {
    DropTracker.ensureRegistered(s)
    eventsSource(s, eventsSourceDir(sfDir), streamMaxFiles)
  }

  /** Run `f` with `spark.sql.shuffle.partitions` (which also sets a NEW
    * streaming query's state-store partition count) temporarily lowered.
    * State here is tiny — event types × ~2 h of windows / open sessions —
    * so 32 state stores would be almost pure per-partition setup+commit
    * overhead per micro-batch. 8 keeps parallelism ≥ state cardinality at
    * bench scale; a 100 TB deployment sizes this to its key space (the
    * count is baked into the checkpoint at first start, so it is a
    * per-pipeline launch decision, not a hot-tune).
    *
    * The set/restore is serialized on the session: shuffle.partitions is
    * session-global mutable state, so two entries racing through here on
    * one SparkSession could otherwise leak the temporary value (or bake 8
    * into the wrong query's checkpoint). The lock makes the streaming
    * entries single-threaded per session — the intended use. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(f: => T): T =
    s.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, n.toString)
      try f finally s.conf.set(key, prev)
    }

  private lazy val pid: Long = ProcessHandle.current().pid()

  /** Null-tolerant recursive delete (a concurrent GC may empty a dir
    * between the isDirectory check and listFiles). */
  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** True iff the `_p<pid>` embedded in a scratch dir name belongs to this
    * process or to one that is no longer alive — the only dirs safe to
    * GC. A LIVE other process may be mid-stream in its dir; deleting its
    * checkpoint out from under a running query corrupts that query. */
  private def ownerDeadOrMe(name: String): Boolean = {
    val re = ".*_p([0-9]+)(_m[0-9]+)?$".r
    name match {
      case re(p, _) =>
        val owner = p.toLong
        owner == pid || {
          val h = ProcessHandle.of(owner)
          !(h.isPresent && h.get().isAlive)
        }
      case _ => false
    }
  }

  /** Single-writer scratch dir under [[scratchRoot]] — streaming
    * checkpoints must never be shared by concurrent driver processes.
    *
    * Without a `source`, `stream_<name>_p<pid>`: a fresh checkpoint per
    * call (this process's prior dir is wiped) — what a memory sink needs,
    * since it cannot resume from a checkpoint.
    *
    * With `source = Some(sfDir)`, `stream_<name>_<pathKey>_p<pid>_m<mtime>`
    * keyed on `sfDir` and the mtime of `sfDir/<table>.parquet`: within one
    * process over unchanged data a re-run is the exactly-once no-op the
    * checkpoint guarantees (the second Bench iteration exercises exactly
    * that); regenerated data (new mtime) or a new process starts a fresh
    * pipeline instead of inheriting a stale or contended high-water mark.
    *
    * Either way the GC removes only sibling dirs whose owner is dead or is
    * this process — never a live sibling's, whose checkpoint may be
    * mid-write. */
  private[graft] def scopedBase(name: String, source: Option[String] = None,
                                table: String = "events"): String = {
    Files.createDirectories(scratchRoot)
    val (prefix, suffix) = source match {
      case None => (s"stream_${name}_p", "")
      case Some(sfDir) =>
        val mtime = Files.getLastModifiedTime(
          Paths.get(s"$sfDir/$table.parquet")).toMillis
        (s"stream_${name}_${pathKey(sfDir)}_p", s"_m$mtime")
    }
    val mine = s"$prefix$pid$suffix"
    val files = scratchRoot.toFile.listFiles()
    if (files != null) files.foreach { f =>
      if (f.getName.startsWith(prefix) &&
          (source.isEmpty || f.getName != mine) && ownerDeadOrMe(f.getName))
        deleteRecursively(f)
    }
    scratchRoot.resolve(mine).toString
  }

  /** Memory sink: drain `df` into the in-memory table `table` and return
    * it. `guard` names the entry whose zero-drop contract is certified
    * after the drain (append/watermark queries only). */
  private def drainToMemory(df: DataFrame, table: String, mode: String,
                            ckpt: String,
                            guard: Option[String] = None): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(table)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q)
    guard.foreach(assertNoWatermarkDrops(q, _))
    df.sparkSession.table(table)
  }

  /** Append-mode parquet file sink: drain `df` into `out` and read the
    * sink back. The file sink's per-batch manifest is the fault-tolerant
    * half of exactly-once — a restart over the same checkpoint recovers
    * the full result, which a memory sink cannot. The read-back carries
    * `df`'s own schema: an EMPTY source drains zero batches and the sink
    * holds no footers — inference would throw UNABLE_TO_INFER_SCHEMA
    * (fuzz seed 702, empty-table axis). */
  private def drainToFiles(df: DataFrame, out: String, ckpt: String,
                           guard: Option[String] = None,
                           partitionBy: Seq[String] = Nil): DataFrame = {
    val q = df.writeStream
      .format("parquet")
      .option("path", out)
      .partitionBy(partitionBy: _*)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q)
    guard.foreach(assertNoWatermarkDrops(q, _))
    df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** Cross-batch drop accumulator backing [[assertNoWatermarkDrops]].
    * `q.recentProgress` is a RING BUFFER capped at
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100): a
    * drain with more micro-batches than the cap — exactly the
    * maxFilesPerTrigger=1 scaled-ingest rehearsal the observer is
    * motivated by — would silently forget early-batch drop counts, so
    * the observer must not read the buffer. Instead this listener
    * (registered once per session, at [[readEvents]] time — i.e.
    * strictly before any query it must watch starts) accumulates
    * `numRowsDroppedByWatermark` per query RUN as each progress event
    * is posted. The listener bus is ASYNCHRONOUS — events can trail
    * `awaitTermination()` — but per-query delivery is ordered, so once
    * the terminated event for a run has arrived every progress event
    * of that run has too; [[totalDrops]] therefore waits (bounded) for
    * the terminated marker before reading the counter. Per-run state
    * is dropped on read; a run never read retains one map entry
    * (bounded by queries per process, not by batches). */
  private object DropTracker
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import java.util.concurrent.ConcurrentHashMap
    private val drops = new ConcurrentHashMap[java.util.UUID, java.lang.Long]
    private val terminated =
      ConcurrentHashMap.newKeySet[java.util.UUID]()
    // identity set: one registration per SparkSession instance
    private val sessions = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkSession, java.lang.Boolean]))
    def ensureRegistered(s: SparkSession): Unit =
      if (sessions.add(s)) s.streams.addListener(this)
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      drops.put(e.runId, 0L): Unit
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val d = e.progress.stateOperators.iterator
        .map(_.numRowsDroppedByWatermark).sum
      drops.merge(e.progress.runId, d, (a, b) => a + b): Unit
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      terminated.add(e.runId): Unit
    }
    /** Total watermark drops across EVERY micro-batch of the run, or
      * None when the run was never observed (query started before the
      * listener registered — a caller bug the assert reports). */
    def totalDrops(runId: java.util.UUID, waitMs: Long = 30000L)
        : Option[Long] = {
      // wait for the TERMINATED marker first: event delivery is ordered
      // per run, so its arrival proves the started + every progress
      // event arrived too (checking `drops` before waiting would race
      // a trailing started event into a spurious never-observed)
      val deadline = System.nanoTime() + waitMs * 1000000L
      while (!terminated.contains(runId) && System.nanoTime() < deadline)
        Thread.sleep(5)
      if (!terminated.contains(runId)) {
        // never-terminated AND never-started = the query predates the
        // listener (caller bug, reported as None); started-but-hung is
        // a certification failure
        if (!drops.containsKey(runId)) return None
        throw new IllegalStateException(
          s"DropTracker: terminated event for run $runId not delivered " +
          s"within $waitMs ms — cannot certify the zero-drop contract")
      }
      terminated.remove(runId)
      Option(drops.remove(runId)).map(_.longValue)
    }
  }

  /** Late-drop observer (round-9 verdict ask #3): the multi-batch
    * rehearsal proved append-mode entries SILENTLY lose ~40% of rows
    * when source files arrive out of time order — every later file is
    * late vs the already-advanced watermark; correct Structured
    * Streaming semantics, but at 100 TB "silently" is an incident. The
    * engine enforces the time-ordered ingest contract: after the drain,
    * the summed `numRowsDroppedByWatermark` across every stateful
    * operator and micro-batch must be ZERO, else the entry fails loudly
    * with the drop count instead of returning short counts under green
    * plumbing. Drop totals come from [[DropTracker]] (every micro-batch),
    * not `recentProgress` (ring buffer, cap 100 — a >100-batch drain
    * would under-count there). Complete-mode aggregations are immune
    * (watermark GCs nothing there) and carry no assertion. */
  private def assertNoWatermarkDrops(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      entry: String): Unit = {
    val drops = DropTracker.totalDrops(q.runId).getOrElse {
      throw new IllegalStateException(
        s"[graft.stream] $entry started before DropTracker registered — " +
        "the zero-drop contract cannot be certified; route the source " +
        "through readEvents (which registers the listener) before start()")
    }
    if (drops > 0)
      throw new IllegalStateException(
        s"[graft.stream] $entry dropped $drops late row(s) at " +
        "the watermark: source files violated the time-ordered ingest " +
        "contract (feed files in event-time order, or widen the " +
        "watermark to the disorder span).")
  }

  /** ST2 — tumbling 1-hour windowed aggregation per event_type, drained
    * into a memory sink. The returned frame is deterministic and equals
    * the batch `groupBy(date_trunc)` — which is exactly the oracle SQL
    * used to check it. */
  def hourlyAgg(s: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(s, 8) {
      val agg = readEvents(s, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast("decimal(18,2)")).as("sum_value"))
        .select(col("w.start").cast("timestamp_ntz").as("hour_start"),
                col("event_type"), col("n_events"),
                col("sum_value").cast("double").as("sum_value"))
      drainToMemory(agg, "graft_stream_hourly", "complete",
                    scopedBase("hourly_ckpt"))
        .orderBy(col("hour_start"), col("event_type"))
    }

  /** ST2b — SLIDING 2-hour window (1-hour slide) per event_type: the
    * overlapping-window shape tumbling windows can't express — every
    * event contributes to exactly TWO windows (duration/slide = 2), so
    * the trailing-2h trend is refreshed hourly instead of aging up to
    * 2 h. State per micro-batch is (open windows × types) — the slide
    * multiplies state by duration/slide, the watermark still GCs closed
    * windows, so state stays bounded at any corpus rate. The batch
    * oracle materializes each event's two covering window-starts
    * (trunc(ts) and trunc(ts)−1h) and aggregates — bit-identical to the
    * streaming result. */
  def slidingAgg(s: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(s, 8) {
      val agg = readEvents(s, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast("decimal(18,2)")).as("sum_value"))
        .select(col("w.start").cast("timestamp_ntz").as("win_start"),
                col("event_type"), col("n_events"),
                col("sum_value").cast("double").as("sum_value"))
      drainToMemory(agg, "graft_stream_sliding", "complete",
                    scopedBase("sliding_ckpt"))
        .orderBy(col("win_start"), col("event_type"))
    }

  /** ST2c — CHAINED streaming aggregations (Spark 3.4+ capability:
    * multiple stateful operators in one query, append mode): hourly
    * counts per type (first window agg) feed a daily MAX-of-hourly
    * (second window agg over `window_time`) — the "peak hourly load
    * per day" metric, end to end inside one streaming query instead of
    * two jobs with an intermediate topic. Append mode is what makes
    * chaining sound (each stage emits only finalized windows), so the
    * last partially-watermarked day stays in state at drain — the
    * batch oracle excludes exactly the days whose end lies past the
    * terminal watermark (max ts − 1 h), the same deterministic
    * boundary as [[intervalLeftJoin]]. File sink, so a kill-and-restart
    * over the same checkpoint recovers the full result. */
  def chainedAgg(s: SparkSession, sfDir: String): DataFrame = {
    val base = scopedBase("chained", Some(sfDir))
    withStatePartitions(s, 8) {
      val hourly = readEvents(s, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val daily = hourly
        .groupBy(window(window_time(col("w")), "1 day").as("day_w"),
                 col("event_type"))
        .agg(max(col("n_events")).as("max_hourly"),
             count(lit(1)).as("n_hours"))
        .select(col("day_w.start").cast("timestamp_ntz").cast("date").as("day"),
                col("event_type"), col("max_hourly"), col("n_hours"))
      drainToFiles(daily, s"$base/out", s"$base/ckpt",
                   guard = Some("stream_chained_agg"))
        .orderBy(col("day"), col("event_type"))
    }
  }

  /** ST5 — watermarked streaming dedup on the natural key (the principled
    * `ON CONFLICT DO NOTHING`). The deduped stream lands in an APPEND-MODE
    * FILE SINK — distributed, exactly-once via the checkpoint, projected
    * to the two columns the reduction needs — never in driver memory. The
    * per-type exact counts fall out of a distributed batch aggregate over
    * the sink directory, so the only driver-resident data is the per-type
    * result. Streaming state = in-watermark dedup keys (bounded: the
    * watermark GCs keys older than 1 h); sink growth = deduped rows on
    * disk, the standard bronze→silver shape at 100 TB. */
  def dedupCounts(s: SparkSession, sfDir: String): DataFrame = {
    val base = scopedBase("dedup", Some(sfDir))
    val deduped = withStatePartitions(s, 8) {
      val q = readEvents(s, sfDir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id", "ts")
        .select(col("event_type"), col("user_id"))
      drainToFiles(q, s"$base/out", s"$base/ckpt",
                   guard = Some("stream_dedup_counts"))
    }
    // count_distinct(user_id) ignores NULL user_ids (events with no user
    // still count in n_events but are not users) — batch semantics
    deduped
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** ST3 — session windows: 30-min-gap sessionization per user via the
    * native `session_window` aggregate (state = open sessions, merged on
    * overlap; the watermark closes them). Complete mode drains
    * everything, so the result equals batch gap-sessionization — which
    * is exactly the oracle SQL. */
  def sessionStats(s: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(s, 8) {
      val sessions = readEvents(s, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("n"))
      drainToMemory(sessions, "graft_stream_sessions", "complete",
                    scopedBase("sessions_ckpt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             max(col("n")).as("max_session_events"),
             sum(col("n")).as("total_events"))
        .orderBy(col("user_id"))
    }

  /** ST6 — stream-static enrich join: the streaming fact joined mid-stream
    * to a STATIC dimension (customer→nation, the reference's
    * trips→routes enrichment shape, `sql/analysis_queries.sql` joins),
    * then aggregated per nation. The customer side scales with the fact
    * data, so it carries NO broadcast hint (the same de-hinting rule as
    * the batch joins): the planner broadcasts it from its measured size
    * while small — every micro-batch then probes an executor-resident
    * hash map with no stream-side shuffle — and falls back to a per-
    * batch shuffle join past the threshold instead of a driver OOM.
    * The genuinely bounded nation dim (25 rows) keeps its hint. Spark
    * re-plans the static side per batch, picking up dim updates between
    * batches (the streaming analogue of a dimension cache refresh).
    * Complete mode drains to the batch equivalent — the oracle SQL. */
  def enrichJoin(s: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(s, 8) {
      val cust = s.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = s.read.parquet(s"$sfDir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      val dim =
        cust.join(broadcast(nation),
                  cust("c_nationkey") === nation("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
      val agg = readEvents(s, sfDir)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast("decimal(18,2)")).as("sum_value"))
        .select(col("n_name"), col("n_events"),
                col("sum_value").cast("double").as("sum_value"))
      drainToMemory(agg, "graft_stream_enrich", "complete",
                    scopedBase("enrich_ckpt"))
        .orderBy(col("n_name"))
    }

  /** Clicks joined to the same user's purchases within
    * [click_ts, click_ts + 30 min], both sides watermarked 1 h — the
    * attribution-window shape shared by [[intervalJoin]] and
    * [[intervalLeftJoin]]. Match grain output (one row per pair). */
  private def clickPurchases(s: SparkSession, sfDir: String,
                             joinType: String): DataFrame = {
    val clicks = readEvents(s, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = readEvents(s, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts").cast("timestamp_ntz").as("click_ts"),
              col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
  }

  /** ST7 — stream-stream interval join ([[clickPurchases]], inner). The
    * join condition bounds event time BOTH ways, so each side's buffered
    * state is GC'd once the other side's watermark passes the window:
    * state is ~1.5 h of events per side at any scale, not history.
    * Append mode (the only mode stream-stream joins support) drained
    * equals the batch interval self-join — the oracle SQL. Total-ordered
    * on all three ids. */
  def intervalJoin(s: SparkSession, sfDir: String): DataFrame =
    // 4, not 8: a stream-stream join keeps four state stores per
    // partition (left/right × keyed/keyWithIndex). A/B 8 vs 4 at sf0.1:
    // 2.56 → 2.51 s — the dominant cost is the two file-stream sources +
    // per-batch planning, not store commits; 4 kept as the right-sized
    // setting for the (user_id) key space at bench scale.
    withStatePartitions(s, 4) {
      drainToMemory(clickPurchases(s, sfDir, "inner"), "graft_stream_attrib",
                    "append", scopedBase("attrib_ckpt"),
                    guard = Some("stream_interval_join"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }

  /** ST7b — stream-stream LEFT OUTER interval join: the attribution
    * query that must also emit the clicks that never converted — the
    * hard half of stream joins, because a null-extended left row can
    * only be emitted once the watermark PROVES no matching purchase can
    * still arrive (inner joins never wait; outer joins are
    * watermark-gated). With AvailableNow + no-data final batch, the
    * terminal watermark is min(max click_ts, max purchase_ts) − 1 h, so
    * exactly the clicks whose 30-min match window closed before that
    * mark emit null-extended — a deterministic boundary the batch
    * oracle replays with the same cutoff expression. Clicks inside the
    * terminal grace window stay in state (correct streaming semantics:
    * their matches could still arrive); the oracle excludes them
    * identically. State: same four per-partition stores as
    * [[intervalJoin]], watermark-GC'd. */
  def intervalLeftJoin(s: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(s, 4) {
      drainToMemory(clickPurchases(s, sfDir, "leftOuter"),
                    "graft_stream_attrib_left", "append",
                    scopedBase("attrib_left_ckpt"),
                    guard = Some("stream_interval_left_join"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }

  /** ST8 — `foreachBatch` keyed-merge sink: the production "MERGE INTO
    * snapshot" pattern no built-in sink provides. Each micro-batch is
    * first reduced to per-user partials (count + latest-event struct —
    * map-side work, one small shuffle per batch), merged with the
    * previous snapshot, and written as a NEW versioned snapshot dir —
    * the write-new-version-then-switch discipline of
    * [[graft.etl.MaterializedViews]], never overwriting the files being
    * read. "Latest" is `max(struct(ts, event_id, value))`: lexicographic
    * struct ordering = latest ts with event_id as the deterministic
    * tie-break. Exactly-once comes from the checkpoint: a replayed batch
    * rewrites the same version dir idempotently. Snapshot size is
    * |users|, not |events| — the merge cost per batch is batch + state,
    * the at-scale shape of every delta-merge ingest. Drained result ==
    * batch last-event-per-user (the oracle). */
  def upsertMergeFrom(s: SparkSession, srcDir: String, base: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val stateRoot = Paths.get(s"$base/state")
    Files.createDirectories(stateRoot)
    // Version ordering parses the NUMERIC suffix, never the name:
    // f"v$id%05d" zero-pads to 5 digits, so at batch id >= 100000 the
    // 6-digit name sorts lexicographically BEFORE v99999 and a
    // string-compare prev-selection would merge from a wrong snapshot.
    def versionId(name: String): Long = name.drop(1).toLong
    def versions: Seq[Path] = {
      val fs = stateRoot.toFile.listFiles()
      (if (fs == null) Array.empty[java.io.File] else fs)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .sortBy(f => versionId(f.getName)).map(_.toPath).toSeq
    }
    def reduceBatch(df: DataFrame) =
      df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             max(struct(col("ts"), col("event_id"), col("value")))
               .as("latest"))
    val q = eventsSource(s, srcDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val agg = reduceBatch(batch)
        // REPLAY-SAFE prev selection (round-12 kill-and-restart
        // rehearsal finding): foreachBatch is at-least-once — after a
        // crash between the v<id> snapshot write and the offset commit,
        // batch <id> is REPLAYED, and `versions.last` would then be the
        // batch's OWN half-committed snapshot (already containing this
        // batch) → the merge double-counts every user in it. The prev
        // snapshot must be the latest version STRICTLY BEFORE this
        // batch id, which makes the overwrite idempotent under replay.
        val merged = versions.filter(p =>
            versionId(p.getFileName.toString) < id).lastOption match {
          case Some(prev) =>
            batch.sparkSession.read.parquet(prev.toString)
              .unionByName(agg)
              .groupBy(col("user_id"))
              .agg(sum(col("n_events")).as("n_events"),
                   max(col("latest")).as("latest"))
          case None => agg
        }
        merged.write.mode("overwrite")
          .parquet(stateRoot.resolve(f"v$id%05d").toString): Unit
      }
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    drain(q)
    // an empty source directory drains zero batches and writes no
    // snapshot; surface that as an empty result, not a missing-path read
    versions.lastOption match {
      case None =>
        import s.implicits._
        Seq.empty[(Long, Long, java.sql.Timestamp, Double)]
          .toDF("user_id", "n_events", "last_ts", "last_value")
          .withColumn("last_ts", col("last_ts").cast("timestamp_ntz"))
      case Some(last) =>
        s.read.parquet(last.toString)
          .select(col("user_id"), col("n_events"),
                  col("latest.ts").cast("timestamp_ntz").as("last_ts"),
                  col("latest.value").as("last_value"))
          .orderBy(col("user_id"))
    }
  }

  /** [[upsertMergeFrom]] as an oracle-checked entry over the events
    * table, scoped by [[scopedBase]]. */
  def upsertMerge(s: SparkSession, sfDir: String): DataFrame =
    upsertMergeFrom(s, eventsSourceDir(sfDir),
                    scopedBase("upsert", Some(sfDir)), streamMaxFiles)

  /** Arbitrary stateful processing (SURVEY §2.10 ST3 custom-state path):
    * per-event_type running maximum of `value` across micro-batches via
    * `flatMapGroupsWithState` — emits (event_type, batch_max, running_max)
    * per batch so the spec can observe state carried between batches
    * (`maxFilesPerTrigger=1` over a multi-file source directory). */
  def runningMaxPerType(s: SparkSession, srcDir: String, ckptDir: String,
                        outName: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    val typed = eventsSource(s, srcDir, Some(1))
      // NULL values are skipped like the aggregate max they feed (and the
      // (String, Double) encoder is null-intolerant — a NULL would fail
      // the task, not the comparison)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull).as[(String, Double)]
    def update(key: String, values: Iterator[(String, Double)],
               state: GroupState[Double]): Iterator[(String, Double, Double)] = {
      val batchMax = values.map(_._2).foldLeft(Double.MinValue)(math.max)
      if (batchMax == Double.MinValue) Iterator.empty
      else {
        val runningMax = math.max(state.getOption.getOrElse(Double.MinValue), batchMax)
        state.update(runningMax)
        Iterator.single((key, batchMax, runningMax))
      }
    }
    val maxima = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
      .toDF("event_type", "batch_max", "running_max")
    drainToMemory(maxima, outName, "append", ckptDir)
  }

  /** [[runningMaxPerType]] as an oracle-checked entry: drain the events
    * source through the flatMapGroupsWithState query and reduce the
    * per-batch emissions to the final per-type running maximum — which
    * equals the batch `max(value)` per event_type, the oracle SQL. */
  def runningMaxQuery(s: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(s, 8) {
      runningMaxPerType(s, eventsSourceDir(sfDir),
                        scopedBase("runmax_ckpt"), "graft_stream_runmax")
        .groupBy(col("event_type"))
        .agg(max(col("running_max")).as("running_max"))
        .orderBy(col("event_type"))
    }

  /** [[incrementalDaily]] as an oracle-checked entry, scoped by
    * [[scopedBase]] per (source path, process, source mtime). */
  def incrementalDailyQuery(s: SparkSession, sfDir: String): DataFrame = {
    val base = scopedBase("inc", Some(sfDir))
    incrementalDaily(s, sfDir, s"$base/ckpt", s"$base/out")
  }

  /** ST9 — streaming EMBEDDING-DRIFT monitor: arriving vector
    * micro-batches are quantized against the STATIC 16-seed IVF
    * codebook (cached and materialized ONCE before the stream starts —
    * the production shape: a pinned, versioned codebook while streams
    * flow; an uncached frame in the foreachBatch closure would re-scan
    * the embeddings source every trigger) and each batch's per-cell
    * occupancy lands in a BATCH-KEYED sink subdir via foreachBatch;
    * reading the sink back and summing per cell gives the running
    * drift histogram — drained, it equals the batch assignment's cell
    * histogram, which IS the oracle (`ext_embedding_drift`'s batch
    * sibling, continuous form). The source is a deterministic 4-file
    * range split of the embeddings table with maxFilesPerTrigger=1, so
    * AvailableNow genuinely pushes FOUR micro-batches through the merge
    * path rather than one degenerate batch. The source dir is keyed on
    * the split count (`src4`), so changing the layout invalidates any
    * previously-written split instead of silently reusing it via the
    * `_SUCCESS` guard.
    *
    * Idempotence: foreachBatch is at-least-once — a replayed batch id
    * OVERWRITES its own `batch=<id>` subdir instead of appending, so a
    * crash between sink write and offset commit cannot double-count
    * (the file-sink manifest gives incrementalDaily this for free;
    * foreachBatch must buy it with batch-keyed writes). The source
    * split is gated on the `_SUCCESS` marker, not directory existence,
    * so a partially-written split from a failed earlier attempt is
    * rewritten rather than streamed truncated.
    *
    * Scale shape: per batch — bounded broadcast (16 rows) × batch
    * rows, argmin window keyed by vec_id, then a ≤16-row write. State
    * is zero (stateless map + per-batch agg); sink growth is
    * cells × batches. The scratch base is [[scopedBase]] keyed on the
    * embeddings file. */
  def embeddingDriftStream(s: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.FloatVecDot.register(s)
    val base = scopedBase("embdrift", Some(sfDir), table = "embeddings")
    val srcDir = s"$base/src4"
    if (!Files.exists(Paths.get(srcDir, "_SUCCESS")))
      graft.Tables.embeddings(s, sfDir)
        // 4 range files × maxFilesPerTrigger=1 → 4 micro-batches: the
        // drain exercises cross-batch state, not a single-batch pass
        .repartitionByRange(4, col("vec_id"))
        .write.mode("overwrite").parquet(srcDir)
    val seeds = graft.Tables.embeddings(s, sfDir)
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("seed_id"), col("embedding").as("se"))
      .cache()
    seeds.count() // materialize the pinned codebook once, pre-stream
    val schema = s.read.parquet(srcDir).schema
    val cos = {
      import graft.ops.Similarity.{dotD, normD}
      dotD(col("embedding"), col("se")) /
        (normD(col("embedding")) * normD(col("se")))
    }
    try {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("vec_id"))
            .orderBy(col("seed_cos").desc, col("seed_id"))
          batch.crossJoin(broadcast(seeds))
            .select(col("vec_id"), col("seed_id"), cos.as("seed_cos"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .groupBy(col("seed_id").as("list_id"))
            .agg(count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(s"$base/out/batch=$batchId")
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      drain(q)
    } finally seeds.unpersist()
    s.read.parquet(s"$base/out")
      .groupBy(col("list_id"))
      .agg(sum(col("n")).as("n_vecs"))
      .orderBy(col("list_id"))
  }

  /** ST1 — high-water-mark incremental append: the checkpoint IS the water
    * mark. Running AvailableNow twice over the same directory processes
    * zero new files the second time, so the sink is stable (exactly-once)
    * — the principled version of the reference's
    * `DATE(actual_arrival) > last_feature_date` guard. The sink is
    * day-partitioned: the streaming ingest lands directly in the
    * pruning-friendly layout of [[graft.etl.PartitionedLayout]] — at
    * 100 TB this is the pipeline: files arrive → exactly-once append into
    * day= partitions → downstream date predicates prune. Returns per-day
    * counts of everything ingested so far. */
  def incrementalDaily(s: SparkSession, sfDir: String, ckptDir: String,
                       outDir: String): DataFrame =
    drainToFiles(readEvents(s, sfDir).withColumn("day", to_date(col("ts"))),
                 outDir, ckptDir, partitionBy = Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("day"))
}
