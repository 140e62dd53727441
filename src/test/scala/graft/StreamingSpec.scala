package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** ST1 high-water-mark semantics: the checkpoint is the watermark — a
  * second AvailableNow run over the same source ingests nothing new
  * (exactly-once), mirroring the reference's incremental-append guard
  * (`airflow/dags/ml_pipeline_dag.py:104-283`). Plus streaming==batch
  * equivalence (SURVEY §5.4). */
class StreamingSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val base = java.nio.file.Paths.get(SparkSpec.scratch("spec"))
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, s"graft_$name").toString
  }

  test("incremental run is exactly-once: second run over same checkpoint adds nothing") {
    val ckpt = tmp("ckpt")
    val out = tmp("out")
    val r1 = EventsStream.incrementalDaily(spark, sf("sf0.001"), ckpt, out)
      .agg(sum("n_events")).first().getLong(0)
    r1 shouldBe 1000L
    val r2 = EventsStream.incrementalDaily(spark, sf("sf0.001"), ckpt, out)
      .agg(sum("n_events")).first().getLong(0)
    // no new source files -> sink unchanged (NOT doubled): the checkpoint
    // is the high-water mark
    r2 shouldBe 1000L
    // and the sink landed in the day-partitioned layout
    new java.io.File(out).listFiles().map(_.getName)
      .count(_.startsWith("day=")) should be > 20 // ~30 days of events
  }

  test("incremental ingest picks up ONLY the newly-arrived file on a " +
       "checkpoint re-run (delta, not re-ingest)") {
    import java.nio.file.{Files, Paths}
    def writeOneFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val stage = tmp("stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(dest))
    }
    val srcSf = tmp("delta_sf") // fake sfDir with a fresh identity
    val ckpt = tmp("ckpt_delta"); val out = tmp("out_delta")
    val base = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
    // batch 1: 4/5 of the events arrive before the stream starts
    writeOneFile(base.filter(col("event_id") % 5 =!= 0),
                 s"$srcSf/events.parquet")
    val r1 = EventsStream.incrementalDaily(spark, srcSf, ckpt, out)
      .agg(sum("n_events")).first().getLong(0)
    r1 shouldBe 800L
    // batch 2: the remaining 1/5 lands as a NEW file in the source dir
    writeOneFile(base.filter(col("event_id") % 5 === 0),
      EventsStream.eventsSourceDir(srcSf) + "/delta.parquet")
    val r2 = EventsStream.incrementalDaily(spark, srcSf, ckpt, out)
      .agg(sum("n_events")).first().getLong(0)
    // exactly the delta was appended: 800 + 200, not 800 re-ingested
    r2 shouldBe 1000L
  }

  test("source scratch dir drops a stale single-file link when the dataset " +
       "flips to a multi-part directory layout") {
    import java.nio.file.{Files, Paths}
    val srcSf = tmp("flip_sf")
    val base = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
    // layout 1: single-file events.parquet
    val stage1 = tmp("flip_stage1")
    base.coalesce(1).write.mode("overwrite").parquet(stage1)
    val part1 = new java.io.File(stage1).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part1.toPath, Paths.get(s"$srcSf/events.parquet"))
    val dir1 = Paths.get(EventsStream.eventsSourceDir(srcSf))
    Files.isSymbolicLink(dir1.resolve("events.parquet")) shouldBe true
    // layout 2: the SAME path becomes a multi-part directory — the old
    // link now resolves to a directory (exists=true), so broken-target
    // cleanup alone would leave it shadowing the per-part links
    Files.delete(Paths.get(s"$srcSf/events.parquet"))
    base.repartition(3).write.mode("overwrite")
      .parquet(s"$srcSf/events.parquet")
    val dir2 = Paths.get(EventsStream.eventsSourceDir(srcSf))
    dir2 shouldBe dir1
    Files.exists(dir2.resolve("events.parquet")) shouldBe false
    val links = new java.io.File(dir2.toString).listFiles()
      .map(_.getName).filter(_.startsWith("events_part"))
    links.length should be >= 3
  }

  test("embedding drift stream: two genuine micro-batches, exactly-once " +
       "re-run, totals cover the corpus") {
    val r1 = EventsStream.embeddingDriftStream(spark, sf("sf0.001")).collect()
    val total = graft.Tables.embeddings(spark, sf("sf0.001")).count()
    r1.map(_.getAs[Long]("n_vecs")).sum shouldBe total // every vector assigned once
    r1.length should (be > 1 and be <= 16) // cell grain
    // re-run over the same checkpoint: no new files -> identical histogram
    val r2 = EventsStream.embeddingDriftStream(spark, sf("sf0.001")).collect()
    r2.map(_.toString).toSeq shouldBe r1.map(_.toString).toSeq
    // the split source really produced multiple micro-batches: THIS
    // run's sink (exact scoped dir, not a newest-mtime guess that a
    // concurrent sibling process could win) carries >= 2 batch subdirs
    val sink = EventsStream.scopedBase("embdrift", Some(sf("sf0.001")),
                                       table = "embeddings")
    val batchIds = spark.read.parquet(s"$sink/out")
      .select("batch").distinct().count()
    batchIds should be >= 2L
  }

  test("incrementalDailyQuery is idempotent within a JVM and GCs only safe dirs") {
    val r1 = EventsStream.incrementalDailyQuery(spark, sf("sf0.001"))
      .agg(sum("n_events")).first().getLong(0)
    r1 shouldBe 1000L
    // same JVM + unchanged source -> same (pid, mtime) pipeline: the
    // second run is the exactly-once no-op append, not a double-ingest
    val r2 = EventsStream.incrementalDailyQuery(spark, sf("sf0.001"))
      .agg(sum("n_events")).first().getLong(0)
    r2 shouldBe 1000L
    // a fake LIVE sibling (owner pid = a running process that is not us:
    // pid 1) must survive the GC; a dead-owner sibling must be removed
    val root = EventsStream.scratchRoot
    val sfKey = EventsStream.pathKey(sf("sf0.001"))
    val live = root.resolve(s"stream_inc_${sfKey}_p1_m0")
    val dead = root.resolve(s"stream_inc_${sfKey}_p999999999_m0")
    java.nio.file.Files.createDirectories(live)
    java.nio.file.Files.createDirectories(dead)
    EventsStream.incrementalDailyQuery(spark, sf("sf0.001")).count()
    java.nio.file.Files.exists(live) shouldBe true // never rm a live writer
    java.nio.file.Files.exists(dead) shouldBe false // dead pids are GC'd
    java.nio.file.Files.delete(live)
  }

  test("every streaming entry restores shuffle partitions and the " +
       "parquet nanos-as-long flag it sets while running") {
    val keys = Seq("spark.sql.shuffle.partitions",
                   "spark.sql.legacy.parquet.nanosAsLong")
    graft.ops.Streaming.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val before = keys.map(spark.conf.getOption)
      q(spark, sf("sf0.001")).collect()
      withClue(s"$name: ") { keys.map(spark.conf.getOption) shouldBe before }
    }
  }

  test("stream dedup lands in a file sink, re-runs exactly-once, equals batch dedup") {
    val r1 = EventsStream.dedupCounts(spark, sf("sf0.001")).collect()
    // second run over the same checkpoint: no new files -> identical result
    val r2 = EventsStream.dedupCounts(spark, sf("sf0.001")).collect()
    r2 shouldBe r1
    // the streamed dedup+reduction equals the batch computation
    val batch = graft.Tables.events(spark, sf("sf0.001"))
      .dropDuplicates("event_id", "ts")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
      .orderBy("event_type").collect()
    r1 shouldBe batch
    // and no driver-resident memory-sink table backs the result
    spark.catalog.tableExists("graft_stream_dedup") shouldBe false
  }

  test("flatMapGroupsWithState carries running max across micro-batches") {
    import org.apache.spark.sql.functions.col
    // two-file source: batch 1 holds the global max for 'click', batch 2
    // a smaller value -> running_max must come from state, not the batch
    val src = tmp("fmgs_src")
    val ev = graft.Tables.table(spark, sf("sf0.001"), "events")
    // the file-stream source lists plain files, so flatten each half into
    // a single parquet file directly under src
    Seq(("f1", col("event_id") < 500), ("f2", col("event_id") >= 500))
      .foreach { case (name, cond) =>
        val stage = tmp(s"fmgs_stage_$name")
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet"))
      }
    val out = EventsStream.runningMaxPerType(spark, src, tmp("fmgs_ckpt"), "fmgs_out")
    val rows = out.orderBy("event_type", "running_max").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // one emission per (type, batch) where the type appeared
    rows.length should be >= 5
    // running max is monotone per type and >= batch max
    rows.groupBy(_._1).foreach { case (_, rs) =>
      rs.map(_._3).toSeq shouldBe rs.map(_._3).toSeq.sorted
      rs.foreach { case (_, bm, rm) => rm should be >= bm }
    }
    // at least one type must show state carry-over: running_max > batch_max
    rows.exists { case (_, bm, rm) => rm > bm } shouldBe true
  }

  test("foreachBatch upsert merge: multi-batch state accumulates to the batch reduction") {
    import org.apache.spark.sql.functions._
    // same two-file split as the running-max spec: maxFilesPerTrigger=1
    // forces TWO micro-batches, so the second merge must fold version v0
    // into v1 (count accumulation + latest-wins) rather than start fresh
    val src = tmp("upsert_src")
    val ev = graft.Tables.table(spark, sf("sf0.001"), "events")
    Seq(("f1", col("event_id") < 500), ("f2", col("event_id") >= 500))
      .foreach { case (name, cond) =>
        val stage = tmp(s"upsert_stage_$name")
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$src/$name.parquet"))
      }
    val base = tmp("upsert_base")
    val out = EventsStream.upsertMergeFrom(spark, src, base,
        maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // two versioned snapshots were actually written
    new java.io.File(s"$base/state").listFiles()
      .count(_.getName.startsWith("v")) shouldBe 2
    // merged counts equal the whole-table batch reduction
    val expect = graft.Tables.events(spark, sf("sf0.001"))
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe expect
  }

  test("foreachBatch upsert merge is exactly-once: re-run over the same checkpoint adds nothing") {
    val src = tmp("upsert2_src")
    val ev = graft.Tables.table(spark, sf("sf0.001"), "events")
    val stage = tmp("upsert2_stage")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$src/all.parquet"))
    val base = tmp("upsert2_base")
    def stateVersions = new java.io.File(s"$base/state").listFiles()
      .count(_.getName.startsWith("v"))
    val r1 = EventsStream.upsertMergeFrom(spark, src, base)
      .agg(org.apache.spark.sql.functions.sum("n_events")).first().getLong(0)
    val v1 = stateVersions
    // second run over the SAME checkpoint: no new source files -> the
    // stream processes zero batches, no new snapshot version, counts
    // unchanged (NOT doubled by re-merging the same events)
    val r2 = EventsStream.upsertMergeFrom(spark, src, base)
      .agg(org.apache.spark.sql.functions.sum("n_events")).first().getLong(0)
    r1 shouldBe 1000L
    r2 shouldBe 1000L
    stateVersions shouldBe v1
  }

  test("foreachBatch upsert merge: empty source dir yields empty result and leaks no legacy conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val src = tmp("upsert3_src") // created, deliberately left empty
      val base = tmp("upsert3_base")
      val out = EventsStream.upsertMergeFrom(spark, src, base)
      out.columns.toSeq shouldBe Seq("user_id", "n_events", "last_ts", "last_value")
      out.count() shouldBe 0L
      // the layout probe saw no nanos file, so the legacy flag must not
      // stay set on the shared session (unset → registered default "false")
      spark.conf.get(key) shouldBe "false"
    } finally prev.foreach(spark.conf.set(key, _))
  }

  test("day-partitioned layout prunes partitions under a date predicate") {
    import org.apache.spark.sql.functions._
    val dir = tmp("layout")
    graft.etl.PartitionedLayout.writeEventsByDay(spark, sf("sf0.001"), dir)
    val pruned = graft.etl.PartitionedLayout.readDays(
      spark, dir, "2024-01-05", "2024-01-07")
    // row count matches an unpruned filter
    val expected = graft.Tables.events(spark, sf("sf0.001"))
      .filter(to_date(col("ts")).between("2024-01-05", "2024-01-07")).count()
    pruned.count() shouldBe expected
    // and the executed scan read only the 3 matching day-directories
    // (inputFiles reports the unpruned relation, so check scan metrics)
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans.nonEmpty shouldBe true
    val numFiles = scans.head.metrics("numFiles").value
    val totalFiles = spark.read.parquet(dir).inputFiles.length.toLong
    numFiles should be < totalFiles
    scans.head.metadata("PartitionFilters") should include("day")
  }

  test("streaming hourly agg equals batch aggregation over the same data") {
    val streamed = EventsStream.hourlyAgg(spark, sf("sf0.001"))
      .agg(sum("n_events"), countDistinct("event_type")).first()
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    val batch = ev.agg(count(lit(1)), countDistinct("event_type")).first()
    streamed.getLong(0) shouldBe batch.getLong(0)
    streamed.getLong(1) shouldBe batch.getLong(1)
  }

  test("stream-static enrich join equals batch join+aggregate") {
    val streamed = EventsStream.enrichJoin(spark, sf("sf0.001"))
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
    val nat = spark.read.parquet(sf("sf0.001") + "/nation.parquet")
    val batch = ev.join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_events"))
    val sMap = streamed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bMap = batch.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sMap shouldBe bMap
    sMap.nonEmpty shouldBe true
  }

  test("stream-stream interval join: window is inclusive at both bounds, per-user only") {
    val out = EventsStream.intervalJoin(spark, sf("sf0.001")).collect()
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      // microsecond precision — a millis-grain reference could silently
      // agree on a boundary the micros comparison decides differently
      .select(col("event_id"),
              unix_micros(col("ts").cast("timestamp")).as("us"),
              col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicks = ev.filter(_._4 == "click")
    val purchases = ev.filter(_._4 == "purchase")
    // independent reference: brute-force pairs within [0, 30 min]
    val expect = (for {
      c <- clicks; p <- purchases
      if c._3 == p._3 && p._2 >= c._2 && p._2 <= c._2 + 30L * 60 * 1000000
    } yield (c._3, c._1, p._1)).toSet
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet shouldBe expect
    expect.nonEmpty shouldBe true // fixture actually exercises the window
  }

  test("streaming source handles a DIRECTORY-shaped events.parquet " +
       "(multi-part layout): drains every part, equals single-file result") {
    // the production layout: events.parquet is a dir of part-files. A
    // dir-symlink into the stream-source scratch dir is NOT traversed by
    // the file-stream source and silently drained ZERO rows (round-7
    // scale-rehearsal finding) — per-file links must drain everything.
    val dir = tmp("evdir")
    graft.Tables.events(spark, sf("sf0.001"))
      .repartition(3) // forces a genuinely multi-part directory
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    new java.io.File(s"$dir/events.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) should be >= 2
    // batch reference over the same dir
    val expect = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = EventsStream.dedupCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_events")).toMap
    got shouldBe expect // sf0.001 has no (event_id, ts) dup pairs to drop
    got.values.sum shouldBe 1000L
  }

  test("interval LEFT join on a zero-purchase corpus drains NOTHING: an " +
       "empty stream side never advances the watermark, so no null-" +
       "extended click can ever emit (fuzz seed 451 oracle fix)") {
    val srcSf = tmp("nopurch_sf")
    graft.Tables.events(spark, sf("sf0.001"))
      .filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcSf/events.parquet")
    // clicks exist and are old enough that a mis-modeled watermark
    // (one ignoring the empty purchase side, the way DuckDB's least()
    // skips NULL) would emit them null-extended — streaming must not
    EventsStream.intervalLeftJoin(spark, srcSf).count() shouldBe 0L
    // the INNER variant is trivially empty: no pair can exist
    EventsStream.intervalJoin(spark, srcSf).count() shouldBe 0L
  }

  test("late-drop observer: unordered multi-batch arrival fails LOUDLY " +
       "with the drop count; time-ordered arrival drains clean " +
       "(round-9 rehearsal contract made mechanical)") {
    import java.nio.file.{Files, Paths}
    val base = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
    // lay the events table as a 2-part directory with ascending mtimes
    // (FileStreamSource's arrival order)
    def lay(dst: String,
            parts: Seq[org.apache.spark.sql.DataFrame]): String = {
      val dir = Paths.get(dst, "events.parquet")
      Files.createDirectories(dir)
      parts.zipWithIndex.foreach { case (df, i) =>
        val stage = tmp(s"lay$i")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = dir.resolve(f"part-$i%05d.parquet")
        Files.move(part.toPath, dest)
        dest.toFile.setLastModified(1000000000L + i * 60000L): Unit
      }
      dst
    }
    sys.props("graft.stream.maxFiles") = "1" // 1 file per micro-batch
    try {
      // UNORDERED: 4 round-robin files, each spanning the whole time
      // range. Lateness needs >= 3 batches: batch 0 fills state under a
      // still-initial watermark, batch 1 advances it, and only rows of
      // batches 2+ arrive behind windows ALREADY emitted and evicted —
      // the measured drop regime. Before the observer this returned
      // silently SHORT counts.
      val uDir = lay(tmp("unord_sf"),
        (0 until 4).map(r => base.filter(col("event_id") % 4 === r)))
      val ex = intercept[IllegalStateException] {
        EventsStream.dedupCounts(spark, uDir).collect()
      }
      ex.getMessage should include("late row")
      ex.getMessage should include("time-ordered")
      // TIME-ORDERED: same rows in 4 time-quartile files — the watermark
      // never outruns an arriving file, zero drops, and the drained
      // counts equal the batch truth (1000 unique events)
      val qs = base.selectExpr(
        "percentile_approx(cast(ts as long), array(0.25, 0.5, 0.75))")
        .first().getSeq[Long](0)
      val tsL = col("ts").cast("long")
      val oDir = lay(tmp("ord_sf"), Seq(
        base.filter(tsL <= qs(0)),
        base.filter(tsL > qs(0) && tsL <= qs(1)),
        base.filter(tsL > qs(1) && tsL <= qs(2)),
        base.filter(tsL > qs(2))))
      EventsStream.dedupCounts(spark, oDir)
        .agg(sum("n_events")).first().getLong(0) shouldBe 1000L
    } finally sys.props.remove("graft.stream.maxFiles"): Unit
  }

  test("late-drop observer survives the recentProgress ring buffer: " +
       "drops in an EARLY batch still fail loudly after enough clean " +
       "batches rolled the buffer past its cap (listener accumulates " +
       "every micro-batch; buffer-summing would report zero)") {
    import java.nio.file.{Files, Paths}
    val base = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
    val tsL = col("ts").cast("long")
    val qs = base.selectExpr(
      "percentile_approx(cast(ts as long), array(0.25, 0.75))")
      .first().getSeq[Long](0)
    val top = base.filter(tsL > qs(1))          // batch 0: advances wm
    val old = base.filter(tsL <= qs(0))         // batch 1: ALL late
    val nOld = old.count()
    nOld should be > 0L
    val maxRow = base.orderBy(col("ts").desc, col("event_id")).limit(1)
    def lay(dst: String,
            parts: Seq[org.apache.spark.sql.DataFrame]): String = {
      val dir = Paths.get(dst, "events.parquet")
      Files.createDirectories(dir)
      parts.zipWithIndex.foreach { case (df, i) =>
        val stage = tmp(s"rblay$i")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, dir.resolve(f"part-$i%05d.parquet"))
        dir.resolve(f"part-$i%05d.parquet").toFile
          .setLastModified(1000000000L + i * 60000L): Unit
      }
      dst
    }
    // batch 0 fills state under the still-initial watermark, batch 1 (a
    // max-ts duplicate — deduped away, never late) lets the advanced
    // watermark take effect, batch 2 delivers the old rows ALL LATE,
    // then six more clean single-row batches roll the progress ring
    // buffer (cap lowered to 2) past the dropping batch: a
    // buffer-summing observer reads zero drops while nOld rows were lost.
    val dir = lay(tmp("ringbuf_sf"),
                  Seq(top, maxRow, old) ++ Seq.fill(6)(maxRow))
    sys.props("graft.stream.maxFiles") = "1"
    val capKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevCap = spark.conf.get(capKey)
    spark.conf.set(capKey, "2")
    try {
      val ex = intercept[IllegalStateException] {
        EventsStream.dedupCounts(spark, dir).collect()
      }
      ex.getMessage should include(s"dropped $nOld late row")
    } finally {
      spark.conf.set(capKey, prevCap)
      sys.props.remove("graft.stream.maxFiles"): Unit
    }
  }
}
