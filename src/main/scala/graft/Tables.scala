package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided TPC-H-ish testdata
  * (`/root/repo/TESTDATA.md`). One parquet per table; explicit helper so
  * every operator reads through one place (lets us later swap in bucketed /
  * partitioned layouts without touching query code).
  *
  * Scale note: at 100 TB these reads become distributed parquet scans;
  * correctness code must therefore never assume single-file layout — we
  * always pass the path (file OR directory of part-files works identically).
  */
object Tables {
  /** Test-only transient-fault injector backing graft.RetryProbe: with
    * sys.prop `graft.test.failonce=<token>` set, the FIRST attempt of
    * partition 0 of each table scan throws once per (token, table) —
    * exercising Spark's task-retry path (requires a master with
    * maxFailures >= 2, e.g. local[4, 2]). The fired-set lives in this
    * JVM, which is exactly where local-mode tasks run; the hook is a
    * no-op in any real deployment (the prop is never set there). */
  private[graft] object RetryFault {
    val fired = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
  }

  private def maybeInjectFault(df: DataFrame, name: String): DataFrame =
    sys.props.get("graft.test.failonce") match {
      case Some(token) =>
        val schema = df.schema
        val key = s"$token/$name"
        val rdd = df.rdd.mapPartitionsWithIndex { (i, it) =>
          if (i == 0 && RetryFault.fired.add(key))
            throw new RuntimeException(
              s"graft.test.failonce: injected transient failure ($key)")
          it
        }
        df.sparkSession.createDataFrame(rdd, schema)
      case None => df
    }

  /** Session-scoped RELATION memo (r14): `spark.read.parquet(path)`
    * costs ~70–110 ms of driver-side metadata work per call (file
    * listing + footer schema inference) even for a path read moments
    * earlier — across ~275 bench entries × 1–3 table references that was
    * ~30 s/run of pure re-planning. Memoizing the analyzed DataFrame per
    * (session, path) is exactly what a catalog/metastore gives a
    * production deployment (one schema+file-index resolution per table,
    * reused by every query): NO data is cached — every action on the
    * memoized frame re-scans the parquet from disk — and the memo is
    * invalidated when the path's content signature changes, so specs
    * that overwrite a scratch dir and re-read it stay correct. For a
    * DIRECTORY-shaped dataset the signature folds every child's
    * (name, mtime, length) — a directory's own mtime/length does NOT
    * change when a part file is rewritten in place (round-14 ADVICE);
    * for a plain file it is (mtime, length). WeakHashMap on the
    * session + SoftReference on the DataFrame (round-14 ADVICE): a
    * Dataset strongly references its SparkSession, so a strongly-held
    * value would pin its own weak key forever — behind a soft ref the
    * stopped session's graph is reclaimable under memory pressure, and
    * a cleared ref simply rebuilds the relation. Config-matrix cells
    * (fresh sessions) never share relations. */
  private val relCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[
        String, (Long, Long, java.lang.ref.SoftReference[DataFrame])]]

  /** Content signature of a dataset path: (mtime, length) for a file;
    * for a directory, a fold of every child's (name, mtime, length)
    * plus the child count — rewriting a part file IN PLACE (same name,
    * same dir entry) changes the fold via the child's own mtime/length
    * where the directory's attributes stay put. */
  private def pathSignature(f: java.io.File): (Long, Long) =
    if (f.isDirectory) {
      val kids = f.listFiles()
      var h = 1125899906842597L
      var n = 0L
      if (kids != null) kids.sortBy(_.getName).foreach { k =>
        h = h * 31 + k.getName.hashCode
        h = h * 31 + k.lastModified()
        h = h * 31 + k.length()
        n += 1
      }
      (h, n)
    } else (f.lastModified, f.length)

  private def cachedRead(spark: SparkSession, path: String): DataFrame = {
    val m = relCache.synchronized {
      var inner = relCache.get(spark)
      if (inner == null) {
        inner = new java.util.concurrent.ConcurrentHashMap[
          String, (Long, Long, java.lang.ref.SoftReference[DataFrame])]
        relCache.put(spark, inner)
      }
      inner
    }
    val (s1, s2) = pathSignature(new java.io.File(path))
    val hit = m.get(path)
    val cached = if (hit != null && hit._1 == s1 && hit._2 == s2)
      hit._3.get() else null
    if (cached != null) cached
    else {
      val df = spark.read.parquet(path)
      m.put(path, (s1, s2, new java.lang.ref.SoftReference(df)))
      df
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // only the relation is memoized: the layout probe runs on every call,
    // so a nanos-layout frame always has the flag re-asserted
    val df =
      if (name == "events")
        withTsLayout(spark)(cachedRead(spark, s"$sfDir/events.parquet"))._1
      else cachedRead(spark, s"$sfDir/$name.parquet")
    maybeInjectFault(df, name)
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Physical-layout probe for an events-shaped parquet: runs `read` under
    * `spark.sql.legacy.parquet.nanosAsLong` and reports whether `ts` came
    * back as raw Long nanos (the TIMESTAMP(NANOS) layout) or as native
    * micros. The flag stays set ONLY for the nanos layout (the frame's
    * execution needs it); otherwise, and when `read` throws, the previous
    * value is restored — the session is shared, and a leaked flag would
    * silently re-type every later nanos parquet read on it. Batch
    * ([[table]]) and streaming (`EventsStream`) readers both probe here. */
  private[graft] def withTsLayout(spark: SparkSession)(
      read: => DataFrame): (DataFrame, Boolean) = {
    val prev = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, "true")
    var nanos = false
    try {
      val df = read
      nanos = df.schema("ts").dataType == LongType
      (df, nanos)
    } finally if (!nanos) prev match {
      case Some(v) => spark.conf.set(nanosAsLong, v)
      case None    => spark.conf.unset(nanosAsLong)
    }
  }

  /** Micros TimestampType `ts` from either physical layout: raw nanos are
    * truncated to micros (identical to DuckDB's microsecond TIMESTAMP). */
  private[graft] def tsMicros(nanos: Boolean): Column =
    if (nanos) timestamp_micros(expr("ts div 1000")) else col("ts")

  /** `events.parquet` has stored `ts` as parquet TIMESTAMP(NANOS) in some
    * driver generations (Spark has no native type for it — see
    * [[withTsLayout]]) and as plain TIMESTAMP(MICROS) in others; both land
    * on the same timestamp_ntz micros column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // timestamp_ntz, matching how Spark reads the other tables' naive
    // parquet timestamps (inferTimestampNTZ) — a plain TimestampType here
    // would dump as isAdjustedToUTC=true parquet and mismatch the oracle's
    // naive timestamps. Session TZ is pinned UTC so the cast is a rebadge.
    val raw = table(s, d, "events")
    raw.withColumn("ts",
      tsMicros(raw.schema("ts").dataType == LongType).cast("timestamp_ntz"))
  }

  val allNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
