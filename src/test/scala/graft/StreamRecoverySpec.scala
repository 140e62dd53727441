package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Streaming crash-recovery rehearsal (round-11 verdict ask #4): the
  * old exactly-once evidence was "a second run over the checkpoint is
  * a no-op"; these specs pin the STRONG form — a drain interrupted
  * mid-stream (graceful stop between micro-batches, a deterministic
  * replayed-last-batch via deleted commit file, and a hard JVM halt in
  * a subprocess) restarts from the half-written checkpoint and
  * completes to exactly the uninterrupted answer. The deleted-commit
  * replay on the upsert entry is the regression test for the round-12
  * finding in [[EventsStream.upsertMergeFrom]]: the foreachBatch merge
  * previously read `versions.last` as the prev snapshot, which on a
  * replayed batch is the batch's OWN half-committed snapshot —
  * double-counting every user in it. */
class StreamRecoverySpec extends SparkSpec {

  private def tmp(name: String): String = {
    val base = java.nio.file.Paths.get(SparkSpec.scratch("spec"))
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, s"graft_$name").toString
  }

  /** Fake sfDir whose events.parquet is a DIRECTORY of k part files
    * (time-ordered rows, strictly increasing mtimes), so
    * maxFilesPerTrigger=1 yields k genuine micro-batches in ts order —
    * the layout the watermark entries' contract requires. */
  private def multiFileSf(k: Int): String = {
    val srcSf = tmp("rec_sf")
    val evDir = new java.io.File(s"$srcSf/events.parquet")
    evDir.mkdirs()
    val typed = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
    val base = typed.orderBy(col("ts"), col("event_id")).collect()
    val slice = (base.length + k - 1) / k
    base.grouped(slice).zipWithIndex.foreach { case (rows, i) =>
      val stage = tmp("rec_stage")
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), typed.schema)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = evDir.toPath.resolve(f"part-$i%05d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      // strictly increasing mtimes: the file-stream source orders its
      // micro-batches by modification time, and the watermark entries'
      // contract is time-ordered arrival
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime
          .fromMillis(1600000000000L + i * 60000L))
    }
    srcSf
  }

  private def withProps(props: (String, String)*)(f: => Unit): Unit = {
    props.foreach { case (k, v) => sys.props(k) = v }
    try f finally props.foreach { case (k, _) => sys.props.remove(k) }
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def deleteLastCommit(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val commits = dir.listFiles().filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toLong)
    val id = last.getName.toLong
    last.delete() shouldBe true
    // the local checksum FS writes a .N.crc sidecar with each commit
    // file; a crash loses both together, and a stale sidecar would
    // block the replayed commit's rename (FileAlreadyExistsException
    // on .N.crc surfaced as the concurrent-queries guard)
    val crc = new java.io.File(dir, s".$id.crc")
    if (crc.exists()) crc.delete() shouldBe true
    id
  }

  test("incremental_daily: graceful stop mid-drain, restart completes " +
       "the drain from the checkpoint exactly") {
    val srcSf = multiFileSf(8)
    val ckpt = tmp("gs_ckpt"); val out = tmp("gs_out")
    var partial = -1L
    withProps("graft.stream.maxFiles" -> "1",
              "graft.stream.stopAfterBatches" -> "1") {
      partial = EventsStream.incrementalDaily(spark, srcSf, ckpt, out)
        .agg(coalesce(sum("n_events"), lit(0L))).first().getLong(0)
    }
    // the stop landed mid-drain: something drained, not everything
    partial should be > 0L
    partial should be < 1000L
    val resumed = withMaxFiles1 {
      EventsStream.incrementalDaily(spark, srcSf, ckpt, out)
        .agg(sum("n_events")).first().getLong(0)
    }
    resumed shouldBe 1000L
  }

  private def withMaxFiles1[T](f: => T): T = {
    sys.props("graft.stream.maxFiles") = "1"
    try f finally sys.props.remove("graft.stream.maxFiles")
  }

  test("incremental_daily: replayed last batch (deleted commit file) " +
       "does not double-append — the file-sink manifest is the dedup") {
    val srcSf = multiFileSf(5)
    val ckpt = tmp("rp_ckpt"); val out = tmp("rp_out")
    val r1 = withMaxFiles1 {
      EventsStream.incrementalDaily(spark, srcSf, ckpt, out)
        .agg(sum("n_events")).first().getLong(0)
    }
    r1 shouldBe 1000L
    deleteLastCommit(ckpt) should be >= 1L
    val r2 = withMaxFiles1 {
      EventsStream.incrementalDaily(spark, srcSf, ckpt, out)
        .agg(sum("n_events")).first().getLong(0)
    }
    // batch replayed into the sink; the manifest keeps exactly-once
    r2 shouldBe 1000L
  }

  test("upsert_merge: graceful stop mid-drain, restart merges the " +
       "remaining batches to the uninterrupted answer") {
    // twin sources with identical rows: one drained uninterrupted
    // (reference), one stopped mid-drain and resumed
    val srcA = multiFileSf(6); val srcB = multiFileSf(6)
    val baseA = tmp("up_a"); val baseB = tmp("up_b")
    val reference = collectSorted(EventsStream.upsertMergeFrom(
      spark, EventsStream.eventsSourceDir(srcA), baseA, Some(1)))
    withProps("graft.stream.stopAfterBatches" -> "1") {
      EventsStream.upsertMergeFrom(
        spark, EventsStream.eventsSourceDir(srcB), baseB, Some(1))
    }
    val resumed = collectSorted(EventsStream.upsertMergeFrom(
      spark, EventsStream.eventsSourceDir(srcB), baseB, Some(1)))
    resumed shouldBe reference
  }

  test("upsert_merge: replayed last batch (deleted commit file) is " +
       "idempotent — prev snapshot must be the version BEFORE the " +
       "replayed id (round-12 double-count regression)") {
    val srcSf = multiFileSf(5)
    val base = tmp("up_rp")
    val r1 = collectSorted(EventsStream.upsertMergeFrom(
      spark, EventsStream.eventsSourceDir(srcSf), base, Some(1)))
    val replayed = deleteLastCommit(s"$base/ckpt")
    replayed should be >= 1L
    val r2 = collectSorted(EventsStream.upsertMergeFrom(
      spark, EventsStream.eventsSourceDir(srcSf), base, Some(1)))
    // old code: prev = versions.last = the replayed batch's own
    // snapshot -> every user in the last batch double-counted
    r2 shouldBe r1
  }

  test("chained_agg: graceful stop mid-drain, restart completes to the " +
       "uninterrupted answer (watermarked two-level window, file sink)") {
    val srcA = multiFileSf(6); val srcB = multiFileSf(6)
    val reference = withMaxFiles1 {
      collectSorted(EventsStream.chainedAgg(spark, srcA))
    }
    reference.size should be > 0
    withProps("graft.stream.maxFiles" -> "1",
              "graft.stream.stopAfterBatches" -> "1") {
      EventsStream.chainedAgg(spark, srcB)
    }
    val resumed = withMaxFiles1 {
      collectSorted(EventsStream.chainedAgg(spark, srcB))
    }
    resumed shouldBe reference
  }

  test("hard JVM halt mid-drain (subprocess), restart from the torn " +
       "checkpoint completes exactly: incremental_daily and " +
       "upsert_merge") {
    def kill(mode: String, srcSf: String, base: String): Int =
      ProbeEnv.fork("graft.StreamKillProbe", Seq(mode, srcSf, base))._1
    // incremental_daily
    val srcInc = multiFileSf(6)
    val baseInc = tmp("hk_inc")
    val exitInc = kill("inc", srcInc, baseInc)
    exitInc should !==(0)   // halted mid-drain (9) — never drained
    val rInc = withMaxFiles1 {
      EventsStream.incrementalDaily(
        spark, srcInc, s"$baseInc/ckpt", s"$baseInc/out")
        .agg(sum("n_events")).first().getLong(0)
    }
    rInc shouldBe 1000L
    // upsert_merge: reference from an uninterrupted twin
    val srcRef = multiFileSf(6)
    val reference = collectSorted(EventsStream.upsertMergeFrom(
      spark, EventsStream.eventsSourceDir(srcRef), tmp("hk_ref"),
      Some(1)))
    val srcUp = multiFileSf(6)
    val baseUp = tmp("hk_up")
    val exitUp = kill("upsert", srcUp, baseUp)
    exitUp should !==(0)
    val rUp = collectSorted(EventsStream.upsertMergeFrom(
      spark, EventsStream.eventsSourceDir(srcUp), baseUp, Some(1)))
    rUp shouldBe reference
  }
}
