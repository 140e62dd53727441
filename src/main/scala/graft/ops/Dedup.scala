package graft.ops

import graft.Tables
import graft.expressions.Natives
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines (SURVEY.md
  * §2.11, BASELINE.json): exact (hash-groupBy), MinHash-LSH near-dup,
  * SimHash near-dup, n-gram Jaccard similarity.
  *
  * Scale design (the point of these at 100 TB):
  *  - exact dedup = one hash shuffle on the content hash, not the content
  *    (sha256 groups on 32 bytes even for MB-size docs);
  *  - MinHash: per-row signature computation is pure expression work
  *    (shingle → xxhash64 → k affine permutations → min), then candidate
  *    generation shuffles ONLY (band_key → doc_id) pairs, never text. Band
  *    buckets are the classic LSH trade: k=16 sigs in 4 bands of 4 ⇒
  *    Pr[candidate] = 1-(1-j⁴)⁴ for true Jaccard j;
  *  - SimHash: 64-bit signature via per-bit weighted majority of token
  *    hashes; hamming-near pairs found by 4×16-bit band exact-match — again
  *    only (band, doc_id) shuffles;
  *  - n-gram Jaccard: token-set explode + equi-join on token, grouped to
  *    intersection counts — shuffle volume is the posting list, bounded by
  *    distinct-token count per doc, and blocked here by `source` the way a
  *    100 TB run would block by shard/bucket key.
  *
  * All four entries are full hash-matched oracle queries. MinHash/SimHash
  * achieve cross-engine reproducibility by hashing with [[hash60]] (md5
  * prefix) instead of Spark-private xxhash64 — the DuckDB oracle replays
  * signatures, banding, and candidate counts bit-for-bit. Crafted
  * near-duplicate semantics are additionally covered by DedupSpec.
  */
object Dedup {

  // ---- shared building blocks -------------------------------------------

  private def toks(c: Column): Column = split(lower(c), " ")

  /** Word 3-gram shingles (falls back to the whole text when < 3 tokens).
    * The token array is [[graft.ops.bindOnce bound once]] — a plain
    * `val t = split(...)` would re-run the split per `element_at`
    * reference (~3 regex splits per trigram; profiled ~1 ms/doc). */
  def shingles3(text: Column): Column =
    bindOnce(toks(text)) { t =>
      when(size(t) >= 3,
        array_distinct(transform(sequence(lit(0), size(t) - 3), i =>
          concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
                    element_at(t, i + 3)))))
        .otherwise(array(lower(text)))
    }

  /** Cross-engine 60-bit hash: the first 15 hex chars of md5, parsed
    * base-16. Chosen over xxhash64 because any engine with md5 + string
    * slicing reproduces it bit-for-bit — it is what turns the MinHash and
    * SimHash queries from rows-only checks into full hash-matched oracle
    * entries. md5 costs ~2× xxhash64 per token, but token hashing is a
    * vanishing fraction of these operators' shuffle cost; if it ever
    * shows up in a profile, swapping xxhash64 back changes only this
    * function and the oracle. 15 hex chars = 60 bits keeps the parse
    * inside a signed long with headroom (no ANSI overflow). */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB replay of [[hash60]] over the SQL expression `x`: the same 15
    * md5 hex digits folded base-16 into a BIGINT. */
  private[ops] def hash60Sql(x: String): String =
    s"""list_reduce(list_transform(range(1, 16), i ->
       |      CAST(strpos('0123456789abcdef', substr(md5($x), i, 1)) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b)""".stripMargin

  private val P31 = 2147483647L // Mersenne prime 2^31-1
  /** Deterministic 31-bit affine-permutation constants (LCG, fixed seed);
    * 31-bit domain keeps a*h+b < 2^62, overflow-free under ANSI mode.
    * The first 16 (a,b) pairs are written out in [[minhashPermsSql]];
    * DedupSpec fails if the two ever disagree. */
  private[graft] def permConsts(k: Int): Seq[(Long, Long)] = {
    var x = 0x5DEECE66DL
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    (0 until k).map(_ => (next() | 1L, next()))
  }

  /** k-permutation MinHash signature of a shingle array (array<long>).
    * The md5-hash array is [[graft.ops.bindOnce bound once]] — inlined,
    * each of the k permutation aggregates would recompute every
    * shingle's md5. */
  def minhashSig(shingles: Column, k: Int = 16): Column =
    bindOnce(transform(Natives.hash60All(shingles),
                       h => pmod(h, lit(P31)))) { hs =>
      array(permConsts(k).map { case (a, b) =>
        aggregate(hs, lit(Long.MaxValue),
          (acc, h) => least(acc, pmod(lit(a) * h + lit(b), lit(P31))))
      }: _*)
    }

  /** 60-bit SimHash of the distinct-token set (per-bit ±1 majority vote
    * over [[hash60]] token hashes), via the native
    * [[graft.expressions.Simhash60]] loop (r15): the declarative
    * spelling below walks the hash array through 60 INTERPRETED
    * higher-order aggregates per document — the residual signature CPU
    * of the simhash family after r14 moved the md5 into `hash60_all`.
    * Bit-identical to it (Simhash60Spec pins native against
    * declarative). */
  def simhash60(text: Column): Column =
    Natives.simhash60(array_distinct(toks(text)))

  /** The declarative [[simhash60]] spelling (the form the DuckDB oracle
    * replays): 60 per-bit `aggregate` folds over the `hash60_all` hash
    * array, bound once. Kept only as the Simhash60Spec reference. */
  private[graft] def simhash60Decl(text: Column): Column =
    bindOnce(Natives.hash60All(array_distinct(toks(text)))) { hs =>
      val bitSums = (0 until 60).map { b =>
        aggregate(hs, lit(0),
          (acc, h) =>
            acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      }
      bitSums.zipWithIndex.map { case (bs, b) =>
        when(bs > 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
    }

  // ---- operators ---------------------------------------------------------

  /** E1 — exact dedup via content hash: one representative (min doc_id)
    * per distinct text + copy count. */
  val extExactDedup: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"),
              col("n_copies"))
      .orderBy(col("doc_id"))

  /** E2 — MinHash-LSH near-dup: per-doc signature + band-bucket candidate
    * counts. The band key is the ':'-joined 4-sig slice — engine-neutral
    * (the oracle replays it with string_agg), and joining on (band, key)
    * strings shuffles the same few bytes a rehash would. */
  val extMinhashDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), minhashSig(shingles3(col("text"))).as("sig"))
    val pairs = minhashBandPairs(docs)
    val candCounts = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
    docs.join(candCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
              element_at(col("sig"), 1).as("sig0"),
              element_at(col("sig"), 2).as("sig1"),
              coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, band, band_key) from a (doc_id, sig) frame: 4 bands of 4
    * signature slots, ':'-joined — the LSH bucketing both the self-join
    * ([[minhashBandPairs]]) and the cross-corpus join
    * ([[extIncrementalDedup]]) hang off. */
  def bandKeys(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(
      col("doc_id"),
      posexplode(array((0 until 4).map { b =>
        concat_ws(":", element_at(col("sig"), 4 * b + 1),
                  element_at(col("sig"), 4 * b + 2),
                  element_at(col("sig"), 4 * b + 3),
                  element_at(col("sig"), 4 * b + 4))
      }: _*)))
      .toDF("doc_id", "band", "band_key")

  def minhashBandPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = bandKeys(docs)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  /** E13 — incremental (cross-corpus) near-dedup: the arriving-batch
    * shape of every production dedup pipeline — dedupe NEW documents
    * against an EXISTING corpus without re-pairing the corpus with
    * itself. New batch = doc_id % 5 == 0 (a deterministic 20% stand-in
    * for "today's crawl"); a new doc is dropped iff it shares a MinHash
    * LSH band with any existing doc. The band join is new-side ×
    * old-side only — no old×old pairs are ever generated, which is the
    * entire point at 100 TB: per-increment cost scales with the batch,
    * not the corpus. Corpus band keys would be a precomputed, bucketed
    * table in a deployment; the signature recompute here is the
    * self-contained equivalent. */
  val extIncrementalDedup: Q = (s, d) =>
    incrementalDedup(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      col("doc_id") % 5 === 0)
      .orderBy(col("doc_id"))

  /** Core of [[extIncrementalDedup]], injectable for specs: `docs` needs
    * (doc_id, text); `isNew` splits the arriving batch from the corpus.
    * Returns one row per NEW doc: (doc_id, n_old_matches, kept). */
  def incrementalDedup(docs: org.apache.spark.sql.DataFrame,
                       isNew: Column): org.apache.spark.sql.DataFrame = {
    val sigs = docs
      .select(col("doc_id"), isNew.as("is_new"),
              minhashSig(shingles3(col("text"))).as("sig"))
    val bands = bandKeys(sigs.select(col("doc_id"), col("sig")))
      .join(sigs.select(col("doc_id"), col("is_new")), Seq("doc_id"))
    val newB = bands.filter(col("is_new"))
    val oldB = bands.filter(!col("is_new"))
      .select(col("band").as("ob"), col("band_key").as("obk"),
              col("doc_id").as("old_id"))
    val matches = newB.join(oldB,
        col("band") === col("ob") && col("band_key") === col("obk"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("old_id")).as("n_old_matches"))
    docs.select(col("doc_id")).filter(isNew)
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_old_matches"), lit(0L)).as("n_old_matches"))
      .withColumn("kept", col("n_old_matches") === 0L)
  }

  /** DISTINCT (a, b) SimHash band-candidate pairs over a
    * (doc_id, simhash) frame — the 4×15-bit banding contract shared by
    * [[extSimhashDedup]] and [[extHammingHist]] (and replayed verbatim
    * by both oracles): change it in one place or not at all. Returns
    * ids only, mirroring [[minhashBandPairs]] — carrying the
    * signatures through the exploded self-join A/B'd 1.7× SLOWER (the
    * distinct's shuffle doubles over the ~4× pre-distinct fan-out);
    * consumers needing signatures re-join them at pair grain. */
  def simhashBandPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = docs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map { k =>
        shiftrightunsigned(col("simhash"), 15 * k).bitwiseAND(0x7FFFL)
      }: _*)))
      .toDF("doc_id", "simhash", "band", "band_val")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  /** E2b — SimHash near-dup: 60-bit signature + 15-bit-band partner
    * counts (4 bands; docs within hamming distance 3 are guaranteed to
    * share a band). */
  val extSimhashDedup: Q = (s, d) => {
    // Deliberately LAZY (r14 tried fanout + localCheckpoint here like
    // extHammingHist and reverted it): this entry's consumers let the
    // optimizer prune aggressively — a count() eliminates the unique-key
    // left join and with it the whole signature computation — and an
    // eager checkpoint forces the projection unconditionally (measured
    // 0.33 → 0.42 s at sf0.1). The band self-join's two branches share
    // one exchange, so laziness costs at most one extra simhash pass.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), simhash60(col("text")).as("simhash"))
    val partners = simhashBandPairs(docs)
    val counts = partners.select(col("a").as("doc_id"))
      .union(partners.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_band_partners"))
    docs.join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
              coalesce(col("n_band_partners"), lit(0L)).as("n_band_partners"))
      .orderBy(col("doc_id"))
  }

  /** E67 — SimHash HAMMING-DISTANCE histogram over the band
    * candidates: the radius-cutoff dial for the simhash family,
    * completing the per-index planner set ([[extLshPlan]] sizes
    * MinHash banding, `ext_probe_curve` sizes IVF probes; this sizes
    * the Hamming radius). Every band-candidate pair is scored with its
    * EXACT signature distance (bit_count of the XOR — engine-portable
    * on the 60-bit longs) and bucketed: distances 0–3 individually
    * (the 4×15-bit banding's pigeonhole guarantee covers ≤ 3 — any
    * such pair MUST agree on one band, so within candidates these
    * buckets are complete), then 4–7 / 8–15 / 16+ best-effort tails.
    * Reading the cumulative column against a radius cutoff says how
    * many pairs a given threshold admits BEFORE committing the
    * full-corpus pass.
    *
    * Scale shape: candidate-bounded — the banding self-join is the
    * shipped [[extSimhashDedup]] path; scoring is one bit_count per
    * pair; output is bucket-grain (≤7 rows). */
  val extHammingHist: Q = (s, d) => {
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("hamming_bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    // fanout BEFORE the signature projection: simhash60 is ~60
    // interpreted aggregates over the md5 token hashes per doc, and the
    // single-row-group parquet scan runs it on ONE task (the
    // [[graft.ops.fanout]] case: split count tracks bytes, cost is
    // CPU). The checkpoint materializes the 32-way frame, so the pinned
    // partition count does NOT propagate into the band self-join below
    // (the caveat in fanout's scaladoc applies to lazy lineages only).
    // Measured at sf0.1 (AB min-of-5 with untouched reference entries
    // in-run): 3.81 -> 1.88 s, reference-normalized ×0.54.
    val docs = fanout(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), simhash60(col("text")).as("simhash"))
      .localCheckpoint() // reused: band join (both sides) + 2 sig joins
    simhashBandPairs(docs)
      .join(docs.select(col("doc_id").as("a"), col("simhash").as("ha")),
            Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("simhash").as("hb")),
            Seq("b"))
      .select(expr("bit_count(ha ^ hb)").cast("long").as("dist"))
      .select(when(col("dist") <= 3, col("dist"))
        .when(col("dist") <= 7, lit(4L))
        .when(col("dist") <= 15, lit(8L))
        .otherwise(lit(16L)).as("hamming_bucket"))
      .groupBy(col("hamming_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(wCum))
      .orderBy(col("hamming_bucket"))
  }

  // ---- exact pairwise Jaccard (adaptive physical strategy) ---------------

  /** Small-vocab probe: Some(sorted vocab) iff the corpus' distinct-token
    * count is ≤ `maxVocab`. A 256-doc sample rejects large vocabularies
    * with one tiny job; only small-vocab corpora pay the confirming full
    * distinct (whose shuffle is ≤ maxVocab+1 tokens × partitions thanks
    * to map-side partial aggregation + the limit short-circuit). In a
    * production catalog this probe would be a table statistic.
    *
    * NOTE: this runs EAGER Spark jobs at DataFrame-construction time
    * (adaptive-planning style) — callers of [[jaccardPairs]] trigger the
    * probe before any action on the returned frame. The sample is made
    * deterministic by ordering on `doc_id` before the limit, so the same
    * corpus always probes the same 256 docs and the chosen physical
    * strategy is stable across runs (an unordered limit made the strategy
    * — though never the output — run-dependent). */
  private def vocabUpTo(docsTok: org.apache.spark.sql.DataFrame, maxVocab: Int)
      : Option[Array[String]] = {
    if (maxVocab <= 0) return None
    val lim = if (maxVocab == Int.MaxValue) maxVocab else maxVocab + 1
    val sampleOver = docsTok.orderBy(col("doc_id")).limit(256)
      .select(explode(col("toks")).as("w")).distinct()
      .limit(lim).count() > maxVocab
    if (sampleOver) None
    else {
      val v = docsTok.select(explode(col("toks")).as("w")).distinct()
        .limit(lim).collect().map(_.getString(0))
      if (v.length > maxVocab) None else Some(v.sorted)
    }
  }

  /** Scored candidate pairs (d1 < d2, same `source` block) with exact
    * distinct-token overlap: `(d1, d2, n_common, jaccard)`, filtered to
    * `jaccard >= threshold`. `toks` is deduplicated defensively here, so
    * callers may pass raw token arrays; both strategies then agree even
    * on duplicate-bearing input.
    *
    * `vocabProbe`, when given, is the frame the vocabulary probe runs
    * against INSTEAD of `docsTok` — pass a cheap superset (e.g. the raw
    * table scan) when `docsTok` has an expensive lineage (the probe is an
    * eager stats job, adaptive-planning style, and would otherwise
    * re-execute that lineage; with a raw-scan probe it costs one columnar
    * pass). Soundness: any superset of `docsTok`'s tokens is a valid
    * probe — if the superset fits 64 bits, so does the real vocabulary,
    * and the mask join only ever looks up tokens present in `docsTok`.
    *
    * Physical strategy is chosen from the data (A/B-measured at sf0.1,
    * bit-identical outputs):
    *  - vocabulary ≤ 64 tokens → one bit per token, block self-join over
    *    compact (doc_id, nw, mask) rows, `bit_count(x & y)` per pair:
    *    ~1.0 s vs the postings join's ~4.6 s on this corpus (no explode,
    *    no pair-grained hash aggregate). Exact, not approximate.
    *  - vocabulary ≤ `maskMaxVocab` (when raised past 64) → the same idea
    *    over `array<long>` masks (⌈vocab/64⌉ words), intersected per pair
    *    by the codegen'd [[graft.expressions.MaskAndCount]] kernel — the
    *    fixed-width cousin of a roaring bitmap. OPT-IN: the mask block
    *    join costs O(block-pairs × words) while postings cost
    *    O(Σ|posting|²), so multi-word masks only pay off when blocks are
    *    pair-DENSE — A/B on a sparse 20k-doc vocab-1000 corpus measured
    *    postings 4× FASTER (~0.9 s vs ~4.0 s), which is why the default
    *    dispatch stops at one word.
    *  - otherwise → explode→equi-join on token (posting lists): shuffle
    *    volume is the posting list, pairs sharing no token never meet —
    *    the general/100 TB shape (real vocabularies fit no mask). An
    *    `array_intersect` pair-join was also measured (2-3× slower:
    *    per-pair set work dominates) and a Jaccard length filter in the
    *    join measured no better (this corpus' doc lengths are too
    *    uniform for it to prune).
    */
  def jaccardPairs(docsTokRaw: org.apache.spark.sql.DataFrame, threshold: Double,
                   vocabProbe: Option[org.apache.spark.sql.DataFrame] = None,
                   maskMaxVocab: Int = 64)
      : org.apache.spark.sql.DataFrame =
    score(sharedTokenPairs(docsTokRaw, vocabProbe, maskMaxVocab), threshold)

  /** The adaptive pair machinery behind [[jaccardPairs]] and
    * [[extContainment]]: `(d1, d2, n_common, nw1, nw2)` for every
    * source-blocked pair sharing at least one token, via the
    * bitmask/postings auto-dispatch. */
  def sharedTokenPairs(docsTokRaw: org.apache.spark.sql.DataFrame,
                       vocabProbe: Option[org.apache.spark.sql.DataFrame] = None,
                       maskMaxVocab: Int = 64)
      : org.apache.spark.sql.DataFrame = {
    val docsTok = docsTokRaw.select(col("doc_id"), col("source"),
      array_distinct(col("toks")).as("toks"))
    val scored = vocabUpTo(vocabProbe.getOrElse(docsTok), maskMaxVocab) match {
      case Some(vocab) if vocab.length <= 64 =>
        val s = docsTok.sparkSession
        import s.implicits._
        val vocabDf = vocab.zipWithIndex.toSeq.toDF("w", "wid")
        val masked = docsTok
          .select(col("doc_id"), col("source"), size(col("toks")).as("nw"),
                  explode(col("toks")).as("w"))
          .join(broadcast(vocabDf), "w")
          .groupBy(col("doc_id"), col("source"), col("nw"))
          .agg(bit_or(expr("shiftleft(cast(1 as bigint), wid)")).as("mask"))
        masked.as("x").join(masked.as("y"),
            col("x.source") === col("y.source") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
            bit_count(col("x.mask").bitwiseAND(col("y.mask")))
              .cast("long").as("n_common"),
            col("x.nw").as("nw1"), col("y.nw").as("nw2"))
      case Some(vocab) =>
        val s = docsTok.sparkSession
        import s.implicits._
        val nSlots = (vocab.length + 63) / 64
        val vocabDf = vocab.zipWithIndex.toSeq.toDF("w", "wid")
        // one-shuffle assembly: nSlots is known at plan time, so each
        // word-slot is its own conditional bit_or aggregate and the dense
        // ⌈vocab/64⌉-word array is a post-aggregation projection (absent
        // slots hold no bits → 0)
        val slotAggs = (0 until nSlots).map { sl =>
          coalesce(
            bit_or(when(expr("wid div 64") === sl,
              expr("shiftleft(cast(1 as bigint), wid % 64)"))),
            lit(0L)).as(s"_s$sl")
        }
        val masked = docsTok
          .select(col("doc_id"), col("source"), size(col("toks")).as("nw"),
                  explode(col("toks")).as("w"))
          .join(broadcast(vocabDf), "w")
          .groupBy(col("doc_id"), col("source"), col("nw"))
          .agg(slotAggs.head, slotAggs.tail: _*)
          .select(col("doc_id"), col("source"), col("nw"),
            array((0 until nSlots).map(sl => col(s"_s$sl")): _*).as("mask"))
        masked.as("x").join(masked.as("y"),
            col("x.source") === col("y.source") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
            Natives.maskAndCount(col("x.mask"), col("y.mask")).as("n_common"),
            col("x.nw").as("nw1"), col("y.nw").as("nw2"))
      case None =>
        val dw = docsTok.select(col("doc_id"), col("source"),
          explode(col("toks")).as("w"))
        val cnt = dw.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
        dw.as("x").join(dw.as("y"),
            col("x.w") === col("y.w") && col("x.source") === col("y.source") &&
            col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .agg(count(lit(1)).as("n_common"))
          .join(cnt.withColumnRenamed("doc_id", "d1")
                   .withColumnRenamed("nw", "nw1"), "d1")
          .join(cnt.withColumnRenamed("doc_id", "d2")
                   .withColumnRenamed("nw", "nw2"), "d2")
    }
    scored
  }

  /** Shared final scoring: `(d1, d2, n_common, nw1, nw2)` →
    * `(d1, d2, n_common, jaccard >= threshold)`. */
  private def score(scored: org.apache.spark.sql.DataFrame, threshold: Double)
      : org.apache.spark.sql.DataFrame =
    scored
      .select(col("d1"), col("d2"), col("n_common"),
              (col("n_common").cast("double") /
               (col("nw1") + col("nw2") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** E3 — n-gram (n=1 here, so the oracle is SQL-expressible; the n=3
    * variant uses [[shingles3]] and is spec-tested) Jaccard similarity of
    * doc pairs, blocked by `source`. Physical strategy: [[jaccardPairs]]
    * (adaptive bitmask/postings). */
  val extNgramJaccard: Q = (s, d) =>
    jaccardPairs(
      Tables.documents(s, d).select(col("doc_id"), col("source"),
        array_distinct(toks(col("text"))).as("toks")),
      0.6)
      .orderBy(col("d1"), col("d2"))

  /** E3 at n=3 — word-trigram Jaccard over the same adaptive pair
    * machinery. Trigram vocabularies never fit a mask (the probe's tiny
    * sample job rejects immediately), so this always takes the postings
    * path — whose intermediate is far SPARSER than the unigram query's
    * (Σ|posting(trigram)|² ≪ Σ|posting(word)|²): the n that makes
    * near-dup detection precise also makes the join cheap. */
  val extTrigramJaccard: Q = (s, d) =>
    // fanout + materialize (r14): shingles3 is the dominant per-row
    // cost here and ran serially on the scan task, re-executed by the
    // vocab probe's sample and the per-doc count aggregate (the
    // postings self-join's two branches already shared one exchange)
    jaccardPairs(
      fanout(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("source"),
          shingles3(col("text")).as("toks"))
        .localCheckpoint(),
      0.5)
      .orderBy(col("d1"), col("d2"))

  /** E23 — containment similarity: |A∩B| / min(|A|,|B|) over distinct
    * unigrams — the ASYMMETRIC near-dup semantic Jaccard misses: a short
    * document fully embedded in a much longer one (quote, excerpt,
    * boilerplate wrapper) has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0.
    * Reuses the adaptive [[sharedTokenPairs]] machinery (bitmask or
    * postings, source-blocked) with a different final score; both
    * directional containments are emitted so the consumer can tell
    * which side is the subset. */
  val extContainment: Q = (s, d) =>
    sharedTokenPairs(
      Tables.documents(s, d).select(col("doc_id"), col("source"),
        array_distinct(toks(col("text"))).as("toks")))
      .select(col("d1"), col("d2"), col("n_common"),
              (col("n_common").cast("double") / col("nw1")).as("contain1"),
              (col("n_common").cast("double") / col("nw2")).as("contain2"))
      .filter(greatest(col("contain1"), col("contain2")) >= 0.8)
      .orderBy(col("d1"), col("d2"))

  /** E24 — exact duplicated-substring detection (the character-level
    * twin of [[extExactDedup]]; the fixed-length-window simplification of
    * suffix-array substring dedup from the "Deduplicating Training Data
    * Makes Language Models Better" recipe): every 32-char window at
    * stride 8 that occurs VERBATIM in ≥ 2 distinct documents, rolled up
    * per source as (docs carrying a cross-doc span, duplicated-window
    * occurrences). Whole-doc dedup misses these — boilerplate headers,
    * license blocks, quoted excerpts — which is why curation pipelines
    * run both.
    *
    * Shape: the window-key array is built per row (one `transform` over
    * a stride grid) with each 32-char window mapped through [[hash60]]
    * BEFORE the explode — the shuffle carries 8-byte longs, never the
    * window text (the same key discipline as [[extSuffixDedup]]; 60-bit
    * keys make collisions a counting rounding error, not a correctness
    * hazard, and the DuckDB oracle replays the SAME hash60 keying so
    * both engines share collision behavior). The aggregate-then-join (not
    * collect_list per key) keeps hot boilerplate windows — millions of
    * docs sharing one header — as counts, never as materialized
    * lists. */
  val extSubstringDedup: Q = (s, d) => {
    // explode the window strings NARROWLY (no shuffle yet), then map to
    // hash60 in a codegen'd projection — a hash inside the transform
    // lambda would run interpreted (HOF lambdas don't codegen).
    // sliding_windows (native, one forward pass) replaces the
    // per-position substring spelling, whose O(len²) UTF-8 re-seek a
    // single 100k-token doc turns into a 15-min task (round-11
    // giant-row fuzz finding); the oracle keeps the declarative substr
    // replay, SlidingWindowsSpec pins row-by-row equivalence
    // fanout + materialize (r14): same reasoning as extSuffixDedup —
    // the stride-grid hashing ran serially on the scan task and twice
    // (duplicate-key aggregate + join back)
    val sh = fanout(Tables.documents(s, d), col("doc_id"))
      .filter(length(col("text")) >= 32)
      .select(col("doc_id"), col("source"),
        explode(Natives.slidingWindows(col("text"), 32, 8)).as("shingle"))
      .select(col("doc_id"), col("source"), hash60(col("shingle")).as("wkey"))
      .localCheckpoint()
    val dup = sh.groupBy(col("wkey"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wkey"))
    sh.join(dup, Seq("wkey"))
      .groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("docs_with_dup"),
           count(lit(1)).as("dup_occurrences"))
      .orderBy(col("source"))
  }

  /** E24b — VARIABLE-length duplicated-span dedup (the true suffix-grain
    * pass of the "Deduplicating Training Data Makes Language Models
    * Better" recipe that [[extSubstringDedup]]'s fixed stride grid
    * approximates): every maximal cross-document duplicated TOKEN span of
    * ≥ 20 tokens, with its exact token length. The fixed 32-char/stride-8
    * grid provably misses any shared region whose two occurrences sit at
    * char offsets differing by ≢ 0 (mod 8) — no stride-aligned window of
    * one doc is char-identical to one of the other (DedupSpec plants
    * exactly this). Stride-1 token windows have no such blind spot, and
    * merging runs of duplicated windows recovers the true variable span
    * length the way a suffix array would.
    *
    * Shape — the distributed stand-in for a suffix array, in three
    * corpus-grain stages: (1) every doc emits its 20-token windows at
    * stride 1 as 60-bit [[hash60]] keys (8 B on the shuffle, never the
    * window text; ~1 key/token, so the seed frame is token-grain);
    * (2) aggregate-then-semi-join marks windows seen in ≥ 2 distinct
    * docs — counts only, a million-doc boilerplate header never
    * materializes a list; (3) per-doc gaps-and-islands (window-index
    * minus row_number) merges consecutive duplicated windows into
    * maximal spans: a run of c windows IS a duplicated span of exactly
    * 19 + c tokens. Stage 3's window function partitions by doc_id —
    * doc-grain state, embarrassingly parallel. Production grain is
    * 50-token spans (Lee et al. §4); 20 matches this corpus's ~50-token
    * documents so the operator exercises real multi-span output. */
  val extSuffixDedup: Q = (s, d) => {
    val L = 20
    // fanout + materialize (r14): ~1 md5 per corpus token, serial on the
    // single-row-group scan task before; and the window frame is read
    // twice (the duplicated-key aggregate AND the semi-join back), which
    // re-ran the whole hashing pass lazily.
    val w = fanout(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(bindOnce(split(lower(col("text")), " ")) { t =>
          // window STRINGS build in the (cheap) lambda; the md5+conv
          // step runs through the native hash60_all loop (r14)
          when(size(t) >= L,
            Natives.hash60All(transform(sequence(lit(1), size(t) - (L - 1)),
              p => concat_ws(" ", slice(t, p, lit(L))))))
            .otherwise(array().cast("array<long>"))
        }))
      .toDF("doc_id", "source", "wpos", "wkey")
      .localCheckpoint()
    val dup = w.groupBy(col("wkey"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wkey"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("wpos"))
    w.join(dup, Seq("wkey"))
      .withColumn("grp", col("wpos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("source"), col("grp"))
      .agg((lit(L - 1) + count(lit(1))).as("span_tokens"))
      .groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("docs_with_dup"),
           count(lit(1)).as("n_spans"),
           sum(col("span_tokens")).as("dup_tokens"),
           max(col("span_tokens")).as("max_span_tokens"))
      .orderBy(col("source"))
  }

  /** E27 — LSH quality evaluation: precision/recall of the MinHash band
    * candidates against exact trigram-Jaccard ground truth (j ≥ 0.5) on
    * a deterministic ~20% document sample — the "is my dedup actually
    * catching near-dups?" audit every production pipeline should run
    * before trusting its candidate generation. Both sides are machinery
    * that already hash-matches independently ([[extMinhashDedup]],
    * [[extTrigramJaccard]]), so their composition stays fully
    * oracle-replayable.
    *
    * The sample bounds the exact side: ground truth is an all-pairs
    * postings self-join, O(Σ posting²) — affordable on a keyed sample,
    * ruinous on the corpus (which is the entire reason LSH exists; the
    * evaluation needs exact truth only at measurement grain). Sampling
    * by key hash keeps the audit replayable run-over-run, and candidate
    * pairs restricted to the sample are exactly the global band pairs
    * with both ends sampled — an unbiased recall estimate. */
  val extNeardupEval: Q = (s, d) => {
    val sample = Tables.documents(s, d)
      .filter(pmod(hash60(concat(lit("eval|"), col("doc_id").cast("string"))),
                   lit(5L)) === 0)
    // exact ground truth: trigram jaccard >= 0.5 over the sample
    val shd = sample.select(col("doc_id"),
      explode(shingles3(col("text"))).as("t"))
    val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val common = shd.as("x").join(shd.as("y"),
        col("x.t") === col("y.t") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("c"))
    val truth = common
      .join(sizes.select(col("doc_id").as("a"), col("nw").as("nw1")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("nw").as("nw2")), Seq("b"))
      .filter(col("c").cast("double") /
              (col("nw1") + col("nw2") - col("c")) >= 0.5)
      .select(col("a"), col("b"))
    // LSH candidates over the same sample
    val cand = minhashBandPairs(
      sample.select(col("doc_id"), minhashSig(shingles3(col("text"))).as("sig")))
    truth.withColumn("t", lit(1))
      .join(cand.withColumn("cd", lit(1)), Seq("a", "b"), "full_outer")
      .agg(sum(coalesce(col("t"), lit(0))).as("n_truth"),
           sum(coalesce(col("cd"), lit(0))).as("n_cand"),
           sum(coalesce(col("t"), lit(0)) * coalesce(col("cd"), lit(0)))
             .as("tp"))
      .select(col("n_truth"), col("n_cand"), col("tp"),
        (col("n_cand") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        when(col("n_cand") > 0,
             col("tp").cast("double") / col("n_cand").cast("double"))
          .as("precision"),
        when(col("n_truth") > 0,
             col("tp").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  /** E33 — cross-source overlap matrix: for every source pair, how many
    * distinct 32-char windows they share — the "which crawls mirror each
    * other" diagnostic that tells a curator to dedup ACROSS two feeds
    * before mixing them (per-source dedup alone misses mirrored
    * content). Same shingle frame as [[extSubstringDedup]], aggregated
    * to (shingle, source) grain BEFORE the self-join so the pair join is
    * over distinct source-postings, not raw occurrences. */
  val extSourceOverlap: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .filter(length(col("text")) >= 32)
      .select(col("source"),
        explode(Natives.slidingWindows(col("text"), 32, 8)).as("shingle"))
      .distinct()
    sh.as("x").join(sh.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** E34 — novelty rate per source: the fraction of each document's
    * windows whose FIRST occurrence (by doc_id order) is that document —
    * the redundancy-growth curve of a corpus (novelty falling toward 0
    * as a crawl re-collects what it already has is the signal to stop).
    * First-seen is min(doc_id) per window — exact and order-free; the
    * per-doc ratio is one division of exact longs, averaged per source
    * via the 12-decimal quantized sum. */
  val extNoveltyRate: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .filter(length(col("text")) >= 32)
      .select(col("doc_id"), col("source"),
        explode(Natives.slidingWindows(col("text"), 32, 8)).as("shingle"))
      .distinct()
    val firstSeen = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    val perDoc = sh.join(firstSeen, Seq("shingle"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_win"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("n_novel"))
    perDoc
      .select(col("source"), col("n_win"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_win").cast("double"), 12)
          .cast("decimal(28,12)").as("nv"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_win")).as("n_windows"),
           sum(col("n_novel")).as("n_novel"),
           (sum(col("nv")).cast("double") / count(lit(1)))
             .as("mean_novelty"))
      .orderBy(col("source"))
  }

  /** Generic 3-gram Jaccard between two text columns (library form used by
    * the spec; not oracle-bound). */
  def jaccard3(a: Column, b: Column): Column = {
    val ia = array_intersect(shingles3(a), shingles3(b))
    val ua = array_union(shingles3(a), shingles3(b))
    size(ia).cast("double") / size(ua)
  }

  /** E52 — near-dup threshold sweep: the calibration run before anyone
    * commits a Jaccard threshold to a 100 TB dedup pass. From the ONE
    * MinHash-LSH candidate generation ([[minhashBandPairs]] — the
    * expensive part), score every candidate pair with its EXACT
    * trigram-shingle Jaccard (sorted-array merge kernel, codegen'd) and
    * report, per candidate threshold 50..90%, how many pairs would
    * merge — the dial-response curve that shows where the corpus's
    * duplicate mass actually sits. Threshold tests are integer
    * cross-multiplications (`100·∩ ≥ t·∪`), so the sweep is bit-exact;
    * work is candidates × (|A|+|B|) merge steps, and candidates are
    * band-bounded, never all-pairs. At scale this is the same query at
    * every SF — the candidate set is what grows, and it grows with true
    * duplicate density, not corpus². */
  val extDedupSweep: Q = (s, d) => {
    // ONE fanned-out, materialized pass computes the shingle array once
    // and derives BOTH the MinHash signature and the sorted shingle set
    // from it (r14): the old spelling ran shingles3+md5 serially on the
    // single-row-group scan task, and re-ran it per consumer (signature
    // band join + both sides of the set join). Token-grain work is now
    // 32-way parallel and executes once; downstream joins read the
    // materialized frame.
    val docsBoth = fanout(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .select(col("doc_id"), minhashSig(col("sh")).as("sig"),
        sort_array(filter(array_distinct(col("sh")),
          x => x.isNotNull)).as("ssh"))
      .withColumn("nsh", size(col("ssh")).cast("long"))
      .localCheckpoint()
    val pairs = minhashBandPairs(docsBoth.select(col("doc_id"), col("sig")))
    val sets = docsBoth.select(col("doc_id"), col("ssh"), col("nsh"))
    pairs
      .join(sets.select(col("doc_id").as("a"), col("ssh").as("sa"),
                        col("nsh").as("na")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("ssh").as("sb"),
                        col("nsh").as("nb")), Seq("b"))
      .select(Natives.sortedIntersectCount(col("sa"), col("sb")).as("inter"),
              col("na"), col("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .select(explode(array((5 to 9).map(t => lit(t * 10L)): _*))
                .as("threshold_pct"),
              col("inter"), col("uni"))
      .groupBy(col("threshold_pct"))
      .agg(count(lit(1)).as("n_candidates"),
           sum(when(col("inter") * 100L >= col("threshold_pct") * col("uni"),
             1L).otherwise(0L)).as("n_pairs_ge"))
      .orderBy(col("threshold_pct"))
  }

  /** E58 — winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the
    * MOSS algorithm): hash every character 8-gram, slide a w=4 window
    * over the hash sequence, keep each window's MINIMUM — guaranteeing
    * any shared substring of ≥ k+w−1 = 11 chars yields a shared
    * fingerprint while storing only ~2/(w+1) of the hashes. This is the
    * published middle ground between [[extSubstringDedup]]'s stride grid
    * (which can miss unaligned matches) and hashing every position
    * (which a 100 TB corpus cannot store). Emitted per doc: fingerprint
    * count and the share held by ≥2 docs — the copy-paste exposure
    * number. Window minima are VALUE minima over [[hash60]] hashes, so
    * both engines select identical fingerprints with no position
    * tiebreak; the join back is fingerprint-grain (bounded by selected
    * hashes, ~len/2.5 per doc), never doc×doc. */
  val extWinnowing: Q = (s, d) => {
    // fully-fused native winnowing projection (r15): grams + per-gram
    // md5 + w=4 window minima + first-occurrence distinct in ONE pass
    // (graft.expressions.WinnowFps). History: the per-position substr
    // spelling was O(len²) (r5 → sliding_windows); the per-gram
    // interpreted md5 lambda was 18.9 s executor CPU (r14 →
    // hash60_all); the residual was the INTERPRETED window-min
    // transform — one lambda eval + w element_ats per corpus character
    // — plus two ~len-element intermediate arrays per doc. Bit-identical
    // to the declarative chain [[winnowFpsDecl]] (WinnowFpsSpec).
    val fps = Natives.winnowFps(lower(col("text")), 8, 4)
    // the gram-hash projection is ~1k md5/doc: without a repartition it
    // runs inside the single-split parquet scan (docs are ~1 KB, so the
    // split count tracks bytes while the cost is CPU) — one cheap
    // shuffle of raw docs buys scan-independent parallelism. The
    // partition count is PINNED: an unnumbered repartition lets AQE
    // coalesce the ~600 KB shuffle back to one partition (it sizes by
    // bytes and cannot see the md5 cost behind each row)
    val docFp = fanout(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), explode(fps).as("fp")).distinct()
    val fpDocs = docFp.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    docFp.join(fpDocs, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
           sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_fp"), col("n_shared"),
              expr("n_shared * 1000 div n_fp").as("shared_pm"))
      .orderBy(col("doc_id"))
  }

  /** The declarative [[extWinnowing]] fingerprint chain (the form the
    * DuckDB oracle replays): character 8-grams via `sliding_windows`,
    * `hash60_all` per gram, w=4 window minima as least-of-4
    * element_ats, first-occurrence `array_distinct`. Kept as the
    * WinnowFpsSpec reference for the fused native kernel. */
  private[graft] def winnowFpsDecl(textLower: Column): Column = {
    val grams = bindOnce(textLower) { t =>
      when(length(t) >= 8,
        Natives.slidingWindows(t, 8, 1))
        .otherwise(array(t))
    }
    bindOnce(Natives.hash60All(grams)) { hs =>
      when(size(hs) >= 4,
        array_distinct(transform(sequence(lit(0), size(hs) - 4),
          j => least(element_at(hs, j + 1), element_at(hs, j + 2),
                     element_at(hs, j + 3), element_at(hs, j + 4)))))
        .otherwise(array(array_min(hs)))
    }
  }

  /** E59 — Bloom-filter dedup pre-screen with a measured false-positive
    * audit: the arriving batch (doc_id ≥ 400) is tested against a
    * deterministic m=4096, k=3 Bloom filter built from the existing
    * corpus (doc_id < 400) — the membership structure an incremental
    * 100 TB ingest consults BEFORE paying the exact-dedup shuffle
    * ([[extIncrementalDedup]]'s band join); only flagged docs proceed.
    * Everything is hash-derived ([[hash60]] with three salts mod 4096)
    * so both engines build bit-identical filters: the old side
    * contributes a distinct-position set (≤4096 rows — broadcast-sized
    * at ANY corpus size, the whole point of the structure), the new side
    * probes it with a 3-row explode + equi-join. The audit emits the
    * Bloom contract: n_missed MUST be 0 (no false negatives — spec- and
    * oracle-pinned) and fp_pm is the measured false-positive rate among
    * true non-duplicates. */
  val extBloomDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def pos(i: Int) =
      pmod(hash60(concat(lit(s"bloom$i|"), col("text"))), lit(4096L))
    val oldDocs = docs.filter(col("doc_id") < 400)
    val newDocs = docs.filter(col("doc_id") >= 400)
    val oldPos = oldDocs
      .select(explode(array((0 until 3).map(pos): _*)).as("p")).distinct()
    val probed = newDocs
      .select(col("doc_id"), col("text"),
              posexplode(array((0 until 3).map(pos): _*)))
      .join(broadcast(oldPos.withColumn("hit", lit(1))),
            col("col") === col("p"), "left")
      .groupBy(col("doc_id"), col("text"))
      .agg((sum(coalesce(col("hit"), lit(0))) === 3).as("flagged"))
    val truth = probed.join(
      oldDocs.select(col("text")).distinct().withColumn("dup", lit(true)),
      Seq("text"), "left")
    truth.agg(
        count(lit(1)).as("n_new"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_true_dup"),
        sum(when(col("flagged") && col("dup").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("flagged") && col("dup"), 1L).otherwise(0L))
          .as("n_missed"))
      .select(col("n_new"), col("n_flagged"), col("n_true_dup"),
              col("n_false_pos"), col("n_missed"),
              when(col("n_new") - col("n_true_dup") > 0,
                   expr("n_false_pos * 1000 div (n_new - n_true_dup)"))
                .as("fp_pm"))
  }

  /** E1b — SOFT dedup (down-weighting instead of dropping, the
    * SoftDeDup / "ditto-penalty" alternative to hard removal in
    * training-data curation): every document keeps weight 1/k where k
    * is its exact-duplicate cluster size, so a text duplicated 50×
    * contributes one document's worth of gradient mass in aggregate
    * instead of 50 (or, under hard dedup, 1 chosen arbitrarily).
    * Reported per source: raw count, singleton count, EFFECTIVE
    * document count Σ 1/k, and the inflation ratio raw/effective —
    * the "how much of this source is ditto mass" audit number.
    *
    * Scale shape: the window that computes k partitions by the sha-256
    * CONTENT FINGERPRINT of the text, projected before the shuffle —
    * so the exchange carries (64-hex, source) pairs, never documents
    * (the same digests-not-documents discipline as
    * [[extExactDedup]]'s production variant and extDatasetDiff).
    * Second aggregate is source-grain (5 groups). Numeric discipline:
    * each 1/k is rounded to 9 decimals and summed as decimal(38,9) —
    * an ORDER-FREE exact sum (IEEE summation of 1/k terms would be
    * order-dependent and engines shuffle differently); the final
    * effective count and ratio get one rounded double conversion. */
  val extSoftDedup: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .select(sha2(col("text"), 256).as("fp"), col("source"))
      .withColumn("k", count(lit(1)).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_singletons"),
           sum(round(lit(1.0) / col("k"), 9).cast("decimal(38,9)"))
             .as("eff"))
      .select(col("source"), col("n_docs"), col("n_singletons"),
              round(col("eff").cast("double"), 6).as("effective_docs"),
              round(col("n_docs").cast("double") / col("eff").cast("double"),
                    6).as("dedup_inflation"))
      .orderBy(col("source"))
  }

  /** E52 — MinHash estimator calibration: over the LSH band-candidate
    * pairs, compare the signature-estimated Jaccard (matching components
    * / 16) against the EXACT distinct-3-shingle Jaccard, and report the
    * global error profile — the measured-accuracy row for the lexical
    * dedup family, mirroring what [[extNeardupEval]]/`ext_ann_recall` do
    * for the embedding family. This is the calibration a deployment runs
    * BEFORE trusting a signature threshold on 100 TB: if
    * mean_abs_err_ppm is high, you need more permutations, not a lower
    * threshold.
    *
    * Scale shape: candidate-bounded everywhere — signature compare joins
    * the 16-long sig arrays at pair grain; exact intersection joins
    * shingle postings THROUGH the pair list (pairs×~doclen rows), never
    * doc×doc; all arithmetic integer ppm (estimate quantum 1/16 =
    * exactly 62 500 ppm, floor-divides elsewhere), so the single output
    * row hash-matches bit-exact. */
  val extMinhashEst: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // r14 revisits the r6 "checkpoint does not help" A/B: checkpoint
    // ALONE didn't (serial md5 either way); fanout + checkpoint both
    // parallelizes the signature kernel 32-way and stops its lazy
    // re-execution in the two pair-grain signature joins.
    val sigs = fanout(docs, col("doc_id")).select(col("doc_id"),
      minhashSig(shingles3(col("text"))).as("sig"))
      .localCheckpoint()
    // pairs reused four times below (est join x2, posts prune, truth);
    // materialize the small frame once
    val pairs = minhashBandPairs(sigs).localCheckpoint()
    val est = pairs
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga")),
            Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb")),
            Seq("b"))
      .select(col("a"), col("b"),
        (aggregate(
           zip_with(col("siga"), col("sigb"),
                    (x, y) => when(x === y, 1L).otherwise(0L)),
           lit(0L), (acc, v) => acc + v) * lit(62500L)).as("est_ppm"))
    // only pair MEMBERS ever reach the posting joins — prune the
    // explode to them up front (candidate endpoints are a small
    // fraction of the corpus; shuffling every doc's shingles to drop
    // them at the join was the dominant cost, measured 3.3 -> ~1 s)
    val members = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    val posts = docs.join(members, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
    val nsh = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(posts.select(col("doc_id").as("a"), col("sh")), Seq("a"))
      .join(posts.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
    val tru = pairs
      .join(inter, Seq("a", "b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(nsh.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(nsh.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        expr("n_common * 1000000 div (na + nb - n_common)").as("true_ppm"))
    // every aggregate coalesced to 0 so the zero-candidate corpus edge
    // yields one all-zero row identically on both engines
    est.join(tru, Seq("a", "b"))
      .agg(count(lit(1)).as("n_pairs"),
           expr("coalesce(sum(est_ppm) div greatest(count(1), 1), 0)")
             .as("mean_est_ppm"),
           expr("coalesce(sum(true_ppm) div greatest(count(1), 1), 0)")
             .as("mean_true_ppm"),
           expr("coalesce(sum(abs(est_ppm - true_ppm)) div " +
                "greatest(count(1), 1), 0)")
             .as("mean_abs_err_ppm"),
           coalesce(max(abs(col("est_ppm") - col("true_ppm"))), lit(0L))
             .as("max_abs_err_ppm"))
  }

  /** E53 — content-defined chunking (CDC) census: chunk boundaries
    * wherever the 8-char polynomial window hash ≡ 0 (mod 64) — the
    * insertion-robust chunking behind storage- and corpus-level dedup
    * (Rabin-style CDC; the window hash reuses [[extFingerprint]]'s
    * cross-engine ascii-fold contract, base 31 mod 1e9+7). Unlike the
    * fixed-width chunks of `ext_chunk_dedup`, an edit only perturbs the
    * chunk containing it: every downstream chunk re-aligns on the same
    * content-derived boundaries and keeps hashing identically — the
    * property that makes chunk-grain dedup survive crawl re-snapshots.
    * Output: per-source chunk census — counts, distinct digests,
    * duplicate ppm, mean chunk length, total chars (conservation:
    * Σ chunk lens == Σ doc lens).
    *
    * Scale shape: boundary detection + chunk digesting is pure per-row
    * array/codegen work, O(8·len) per doc with no UDF; the only
    * shuffles are the digest-distinct and the source rollup. Never
    * doc×doc; expected chunk length is the modulus (64 chars), tunable
    * without changing shape. */
  /** Content-defined chunk list of a text column — see [[extCdcChunks]].
    * Exposed for the re-alignment spec. Requires
    * [[graft.expressions.CdcBoundaries]] registered on the session.
    *
    * Boundary detection is the custom native expression `cdc_bounds`
    * (hash60-of-8-char-window ≡ 0 mod 64, one tight Java md5 loop per
    * row). The declarative HOF spelling — one interpreted
    * `hash60(substr)` lambda per corpus CHARACTER — measured 10 s at
    * sf0.1, and an 8-way ascii-fold variant 39 s; the native kernel is
    * the tier-(b) answer, identical output (see CdcBoundariesSpec's
    * cross-check). Chunk extraction from the bounds array stays
    * declarative: slice/zip_with/substr are cheap at chunk grain. */
  private[graft] def cdcChunks(text: Column): Column =
    bindOnce(text) { t =>
      val bounds = Natives.cdcBounds(t)
      // slice length must be exact: start+length overflows Int.MaxValue
      val ends = concat(
        slice(bounds, lit(2), greatest(size(bounds) - 1, lit(0))),
        array(length(t) + 1))
      zip_with(bounds, ends, (b, e) => t.substr(b, e - b))
    }

  val extCdcChunks: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), explode(cdcChunks(col("text"))).as("chunk"))
      .select(col("source"), md5(col("chunk")).as("dig"),
              length(col("chunk")).cast("long").as("clen"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("dig")).as("n_distinct"),
           sum(col("clen")).as("total_chunk_chars"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
              expr("(n_chunks - n_distinct) * 1000000 div n_chunks")
                .as("dup_ppm"),
              expr("total_chunk_chars div n_chunks").as("mean_chunk_len"),
              col("total_chunk_chars"))
      .orderBy(col("source"))
  }

  /** E54 — CDC chunk-sharing dedup: the detection stage the
    * [[extCdcChunks]] census calibrates — document pairs sharing ≥ 2
    * content-defined chunk digests, scored by containment against the
    * smaller side's informative-chunk count. Because boundaries are
    * content-derived, a doc that re-crawls with an inserted banner still
    * shares every chunk after the edit point — the case fixed-width
    * chunk dedup (`ext_chunk_dedup`) structurally misses.
    *
    * Scale shape: per-doc DISTINCT digests → document-frequency cap
    * (df ≤ 50) drops boilerplate chunks BEFORE the digest-grain
    * self-join — simultaneously the skew guard (no posting list exceeds
    * the cap, the join cannot produce a hot key, same discipline as
    * `ext_contamination`); pair aggregation at (a,b) grain; counts
    * joined back at doc grain. Never doc×doc on raw text. */
  val extCdcDedup: Q = (s, d) => {
    // fanout + materialize (r14): the cdc_bounds md5 loop ran serially
    // on the scan task, and the distinct digest frame is read three
    // times below (df cap, the semi-join, the per-doc counts)
    val digs = fanout(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), explode(cdcChunks(col("text"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("dig"))
      .distinct()
      .localCheckpoint()
    val informative = digs
      .groupBy(col("dig")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
      .select(col("dig"))
    val p = digs.join(informative, Seq("dig"))
    val counts = p.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    p.as("x").join(p.as("y"),
        col("x.dig") === col("y.dig") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .join(counts.select(col("doc_id").as("a"), col("n_chunks").as("a_chunks")),
            Seq("a"))
      .join(counts.select(col("doc_id").as("b"), col("n_chunks").as("b_chunks")),
            Seq("b"))
      .select(col("a"), col("b"), col("n_shared"),
              col("a_chunks"), col("b_chunks"),
              expr("n_shared * 1000000 div least(a_chunks, b_chunks)")
                .as("containment_ppm"))
      .orderBy(col("a"), col("b"))
  }

  /** E56 — LSH parameter planner: the calibration a dedup owner runs
    * BEFORE committing band/row constants for a full-corpus pass. One
    * MinHash signature computation (k=16, the [[minhashSig]] contract),
    * then every (bands × rows-per-band) split of the signature —
    * (16,1), (8,2), (4,4), (2,8) — banded in a SINGLE exploded frame
    * and self-joined ONCE on (config, band, key), so adding a config
    * costs rows in one shuffle, not an extra join. Per config the
    * output reports the analytic S-curve midpoint s* = (1/b)^(1/r)
    * (the Jaccard threshold at which a pair has ~50% candidate
    * probability — Leskovec–Rajaraman–Ullman, MMDS ch.3) next to the
    * MEASURED candidate volume on this corpus: candidate pairs and
    * flagged docs. Reading the table top-down is the planner's
    * trade-off: r=1 fires on any single shared minimum (s*≈0.06,
    * floods the pair join), r=8 only on half the signature agreeing
    * (s*≈0.92, near-exact dups only). The production (4,4) choice used
    * by [[extMinhashDedup]] sits where measured volume stops falling
    * off a cliff.
    *
    * The s* constants are computed OFFLINE and inlined as integer ppm
    * literals in both engines (zero runtime float surface — the
    * round-6 lm_score discipline).
    *
    * Scale shape: signature work is one map stage; the multi-config
    * band frame is 30 rows/doc (Σ 16/r); ONE self-join keyed by
    * (config, band, key) — bucketed, never doc×doc; everything after
    * is config-grain (4 rows). At 100 TB this is exactly the dry-run
    * you pay for once so the real dedup's pair join is sized right. */
  val extLshPlan: Q = (s, d) => {
    import s.implicits._
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"), minhashSig(shingles3(col("text"))).as("sig"))
    val bandStructs = Seq(1, 2, 4, 8).flatMap { r =>
      (0 until 16 / r).map { b =>
        struct(
          lit(r.toLong).as("rpb"), lit(b.toLong).as("band"),
          concat_ws(":", (0 until r).map(i =>
            element_at(col("sig"), b * r + i + 1)): _*).as("bkey"))
      }
    }
    val bands = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("c"))
      .select(col("doc_id"), col("c.rpb").as("rpb"), col("c.band").as("band"),
              col("c.bkey").as("bkey"))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.rpb") === col("y.rpb") && col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.rpb").as("rpb"), col("x.doc_id").as("a"),
              col("y.doc_id").as("b"))
      .distinct()
    val pairCounts = pairs.groupBy(col("rpb"))
      .agg(count(lit(1)).as("n_cand_pairs"))
    val flagged = pairs
      .select(col("rpb"), explode(array(col("a"), col("b"))).as("doc"))
      .distinct()
      .groupBy(col("rpb")).agg(count(lit(1)).as("n_flagged_docs"))
    // s* = (1/b)^(1/r) in ppm, floor — offline constants, mirrored in
    // the oracle VALUES verbatim
    val base = Seq((16L, 1L, 62500L), (8L, 2L, 353553L),
                   (4L, 4L, 707106L), (2L, 8L, 917004L))
      .toDF("n_bands", "rows_per_band", "thresh_ppm")
    base
      .join(pairCounts.withColumnRenamed("rpb", "rows_per_band"),
            Seq("rows_per_band"), "left")
      .join(flagged.withColumnRenamed("rpb", "rows_per_band"),
            Seq("rows_per_band"), "left")
      .select(col("n_bands"), col("rows_per_band"), col("thresh_ppm"),
              coalesce(col("n_cand_pairs"), lit(0L)).as("n_cand_pairs"),
              coalesce(col("n_flagged_docs"), lit(0L)).as("n_flagged_docs"))
      .orderBy(col("rows_per_band"))
  }

  val queries: Map[String, Q] = Map(
    "ext_hamming_hist" -> extHammingHist,
    "ext_lsh_plan" -> extLshPlan,
    "ext_cdc_dedup" -> extCdcDedup,
    "ext_cdc_chunks" -> extCdcChunks,
    "ext_minhash_est" -> extMinhashEst,
    "ext_soft_dedup" -> extSoftDedup,
    "ext_bloom_dedup" -> extBloomDedup,
    "ext_winnowing" -> extWinnowing,
    "ext_dedup_sweep" -> extDedupSweep,
    "ext_exact_dedup" -> extExactDedup,
    "ext_minhash_dedup" -> extMinhashDedup,
    "ext_simhash_dedup" -> extSimhashDedup,
    "ext_ngram_jaccard" -> extNgramJaccard,
    "ext_trigram_jaccard" -> extTrigramJaccard,
    "ext_incremental_dedup" -> extIncrementalDedup,
    "ext_containment" -> extContainment,
    "ext_substring_dedup" -> extSubstringDedup,
    "ext_suffix_dedup" -> extSuffixDedup,
    "ext_source_overlap" -> extSourceOverlap,
    "ext_novelty_rate" -> extNoveltyRate,
    "ext_neardup_eval" -> extNeardupEval)

  // ---- shared oracle SQL fragments --------------------------------------
  // Plain SQL text spelled from the recipe itself, never generated from
  // the Spark-side code or constants above, so each oracle stays an
  // independent replay of what it checks. Each fragment is a list of
  // CTEs without the leading WITH or a trailing comma.

  /** `sh(doc_id, s)`: one row per word-3-gram shingle of every document
    * (the whole lower-cased text when it has < 3 tokens) — the
    * [[shingles3]] recipe. Shared by ext_dedup_sweep, ext_lsh_plan,
    * ext_minhash_dedup, ext_incremental_dedup, ext_dedup_clusters,
    * ext_cluster_dilution and ext_keep_best. */
  private[ops] val minhashShinglesSql: String =
    """sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [lower(text)] END) AS s
      |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents))""".stripMargin

  /** The 16 affine MinHash permutations `perms(k, a, b)`, written out
    * once for every MinHash oracle; DedupSpec checks the table against
    * [[permConsts]]. */
  private[graft] val minhashPermsSql: String =
    """perms(k, a, b) AS (SELECT * FROM (VALUES
      |  (0, 414281673, 1412461474), (1, 779796209, 608464424),
      |  (2, 2057138611, 371426352), (3, 636929129, 1051709367),
      |  (4, 148700537, 556582936), (5, 280017523, 1049994530),
      |  (6, 1225570701, 1482240542), (7, 531732645, 453882425),
      |  (8, 653258605, 199196378), (9, 2024089755, 1542891919),
      |  (10, 219612255, 1948470694), (11, 2004763803, 1426709303),
      |  (12, 347532637, 1392420289), (13, 1523061221, 1369392366),
      |  (14, 430040917, 1109423241), (15, 1822934603, 410969165)) v(k, a, b))""".stripMargin

  /** MinHash signature CTEs over a shingle CTE `from(doc_id, col)`:
    * `hs` (hash60 of each shingle mod 2^31-1), [[minhashPermsSql]] and
    * `sig(doc_id, k, v)`, the [[minhashSig]] recipe. Shared by all nine
    * MinHash oracles: ext_minhash_dedup, ext_minhash_est,
    * ext_dedup_sweep, ext_neardup_eval, ext_lsh_plan,
    * ext_incremental_dedup, ext_dedup_clusters, ext_cluster_dilution and
    * ext_keep_best. `wrapSig` keeps the two-line `sig` spelling that
    * ext_minhash_est and ext_neardup_eval were published with. */
  private[ops] def minhashSigSql(from: String = "sh", col: String = "s",
                                 wrapSig: Boolean = false): String = {
    val sig =
      "sig AS (SELECT doc_id, k," + (if (wrapSig) "\n  " else " ") + "min("
    s"""hs AS (SELECT doc_id,
       |  list_reduce(list_transform(range(1, 16), i ->
       |    CAST(strpos('0123456789abcdef', substr(md5($col), i, 1)) - 1 AS BIGINT)),
       |    (a, b) -> a * 16 + b) % 2147483647 AS h
       |  FROM $from),
       |$minhashPermsSql,
       |$sig(CAST(a AS BIGINT) * h + b) % 2147483647) AS v
       |  FROM hs CROSS JOIN perms GROUP BY 1, 2)""".stripMargin
  }

  /** `bk(doc_id, band, band_key)`: 4 bands of 4 signature slots,
    * ':'-joined — the [[bandKeys]] recipe. Shared by every MinHash
    * oracle but ext_lsh_plan, which bands at several widths. */
  private[ops] val minhashBandsSql: String =
    """bk AS (SELECT doc_id, k // 4 AS band,
      |  string_agg(CAST(v AS VARCHAR), ':' ORDER BY k) AS band_key
      |  FROM sig GROUP BY 1, 2)""".stripMargin

  /** The whole MinHash candidate chain: [[minhashShinglesSql]],
    * [[minhashSigSql]], [[minhashBandsSql]] and `pairs(da, db)`, the
    * distinct band-sharing pairs of [[minhashBandPairs]]. Shared by
    * ext_minhash_dedup, ext_dedup_sweep, ext_dedup_clusters,
    * ext_cluster_dilution and ext_keep_best. */
  private[ops] val minhashPairsSql: String =
    s"""$minhashShinglesSql,
       |${minhashSigSql()},
       |$minhashBandsSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM bk x JOIN bk y
       |  ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)""".stripMargin

  /** The SimHash candidate chain: `tok` (distinct lower-cased tokens),
    * `hv` (hash60 per token), `bits` (per-bit ±1 votes), `sim(doc_id,
    * simhash)`, `bands` (4 × 15-bit bands) and `partners(da, db)`, the
    * [[simhash60]] + [[simhashBandPairs]] recipe. Shared by
    * ext_simhash_dedup and ext_hamming_hist. */
  private val simhashPartnersSql: String =
    """tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
      |  FROM documents),
      |hv AS (SELECT doc_id,
      |  list_reduce(list_transform(range(1, 16), i ->
      |    CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
      |    (a, b) -> a * 16 + b) AS h
      |  FROM tok),
      |bits AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM hv CROSS JOIN range(0, 60) r(b) GROUP BY 1, 2),
      |sim AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, b AS band, (simhash >> CAST(15 * b AS INTEGER)) & 32767 AS band_val
      |  FROM sim CROSS JOIN range(0, 4) r(b)),
      |partners AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.band_val = y.band_val
      |    AND x.doc_id < y.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // chunk digests replayed from the same boundary formula as
    // ext_cdc_chunks; df-cap, pair grain, and containment all integer
    "ext_cdc_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_filter(range(1, greatest(length(text) - 7, 1) + 1),
        |      i -> i = 1 OR list_reduce(list_transform(range(1, 16),
        |             q -> CAST(strpos('0123456789abcdef',
        |                    substr(md5(substr(text, CAST(i AS INTEGER), 8)),
        |                           CAST(q AS INTEGER), 1)) - 1 AS BIGINT)),
        |             (a, x) -> a * 16 + x) % 64 = 0) AS bs
        |  FROM documents),
        |digs AS (
        |  SELECT DISTINCT doc_id,
        |    md5(unnest(list_transform(range(1, len(bs) + 1),
        |      k -> substr(text, CAST(bs[k] AS INTEGER),
        |             CAST(coalesce(bs[CAST(k + 1 AS INTEGER)], n + 1)
        |                  - bs[k] AS INTEGER))))) AS dig
        |  FROM b),
        |informative AS (
        |  SELECT dig FROM digs GROUP BY 1 HAVING count(*) <= 50),
        |p AS (SELECT doc_id, dig FROM digs JOIN informative USING (dig)),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        |        FROM p GROUP BY 1),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM p x JOIN p y ON x.dig = y.dig AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, n_shared, ca.n_chunks AS a_chunks,
        |  cb.n_chunks AS b_chunks,
        |  CAST(n_shared * 1000000 // least(ca.n_chunks, cb.n_chunks)
        |    AS BIGINT) AS containment_ppm
        |FROM pairs JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
        |ORDER BY a, b""".stripMargin,
    // same md5-prefix window hash as the hash60 contract; chunk
    // extraction replayed via 1-based list indexing (bs[k+1]
    // past-the-end is NULL → coalesce to len+1, mirroring the Spark
    // slice+append)
    "ext_cdc_chunks" ->
      """WITH b AS (
        |  SELECT source, text, length(text) AS n,
        |    list_filter(range(1, greatest(length(text) - 7, 1) + 1),
        |      i -> i = 1 OR list_reduce(list_transform(range(1, 16),
        |             q -> CAST(strpos('0123456789abcdef',
        |                    substr(md5(substr(text, CAST(i AS INTEGER), 8)),
        |                           CAST(q AS INTEGER), 1)) - 1 AS BIGINT)),
        |             (a, x) -> a * 16 + x) % 64 = 0) AS bs
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    unnest(list_transform(range(1, len(bs) + 1),
        |      k -> substr(text, CAST(bs[k] AS INTEGER),
        |             CAST(coalesce(bs[CAST(k + 1 AS INTEGER)], n + 1)
        |                  - bs[k] AS INTEGER)))) AS chunk
        |  FROM b)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS n_distinct,
        |  CAST((count(*) - count(DISTINCT md5(chunk))) * 1000000
        |    // count(*) AS BIGINT) AS dup_ppm,
        |  CAST(CAST(sum(length(chunk)) AS BIGINT) // count(*) AS BIGINT)
        |    AS mean_chunk_len,
        |  CAST(sum(length(chunk)) AS BIGINT) AS total_chunk_chars
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // same signature + banding replay as ext_minhash_dedup (distinct
    // shingles — min is multiset-invariant), then integer-ppm calibration
    "ext_minhash_est" ->
      s"""WITH sets AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE [lower(text)] END AS shs
        |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
        |        FROM documents)),
        |posts AS (SELECT doc_id, unnest(shs) AS sh FROM sets),
        |nsh AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS n FROM sets),
        |${minhashSigSql("posts", "sh", wrapSig = true)},
        |$minhashBandsSql,
        |pairs AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        |  FROM bk x JOIN bk y
        |  ON x.band = y.band AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id),
        |est AS (SELECT p.da, p.db,
        |  CAST(SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS BIGINT)
        |    * 62500 AS est_ppm
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.da
        |  JOIN sig sb ON sb.doc_id = p.db AND sb.k = sa.k
        |  GROUP BY 1, 2),
        |inter AS (SELECT p.da, p.db, CAST(count(*) AS BIGINT) AS n_common
        |  FROM pairs p
        |  JOIN posts x ON x.doc_id = p.da
        |  JOIN posts y ON y.doc_id = p.db AND y.sh = x.sh
        |  GROUP BY 1, 2),
        |tr AS (SELECT p.da, p.db,
        |  CAST(coalesce(i.n_common, 0) * 1000000
        |    // (a.n + b.n - coalesce(i.n_common, 0)) AS BIGINT) AS true_ppm
        |  FROM pairs p
        |  LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
        |  JOIN nsh a ON a.doc_id = p.da
        |  JOIN nsh b ON b.doc_id = p.db)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(CAST(sum(est_ppm) AS BIGINT)
        |    // greatest(count(*), 1), 0) AS BIGINT) AS mean_est_ppm,
        |  CAST(coalesce(CAST(sum(true_ppm) AS BIGINT)
        |    // greatest(count(*), 1), 0) AS BIGINT) AS mean_true_ppm,
        |  CAST(coalesce(CAST(sum(abs(est_ppm - true_ppm)) AS BIGINT)
        |    // greatest(count(*), 1), 0) AS BIGINT) AS mean_abs_err_ppm,
        |  CAST(coalesce(max(abs(est_ppm - true_ppm)), 0) AS BIGINT)
        |    AS max_abs_err_ppm
        |FROM est JOIN tr ON tr.da = est.da AND tr.db = est.db""".stripMargin,
    // same fingerprint-window program; 1/k rounded to 9 decimals and
    // decimal-summed so the effective count is order-free on both engines
    "ext_soft_dedup" ->
      """WITH f AS (
        |  SELECT sha256(text) AS fp, source FROM documents),
        |k AS (
        |  SELECT source, count(*) OVER (PARTITION BY fp) AS k FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons,
        |  round(CAST(SUM(CAST(round(1.0 / k, 9) AS DECIMAL(38,9)))
        |    AS DOUBLE), 6) AS effective_docs,
        |  round(CAST(count(*) AS DOUBLE)
        |    / CAST(SUM(CAST(round(1.0 / k, 9) AS DECIMAL(38,9))) AS DOUBLE),
        |    6) AS dedup_inflation
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // bit-identical m=4096 k=3 bloom replay; the n_missed=0 column IS
    // the no-false-negative contract, oracle-pinned
    "ext_bloom_dedup" ->
      """WITH oldd AS (SELECT text FROM documents WHERE doc_id < 400),
        |newd AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400),
        |oldpos AS (
        |  SELECT DISTINCT
        |    list_reduce(list_transform(range(1, 16), i ->
        |      CAST(strpos('0123456789abcdef',
        |        substr(md5('bloom' || CAST(k AS VARCHAR) || '|' || text), i, 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 4096 AS p
        |  FROM oldd CROSS JOIN range(0, 3) r(k)),
        |probe AS (
        |  SELECT doc_id, text,
        |    list_reduce(list_transform(range(1, 16), i ->
        |      CAST(strpos('0123456789abcdef',
        |        substr(md5('bloom' || CAST(k AS VARCHAR) || '|' || text), i, 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 4096 AS p
        |  FROM newd CROSS JOIN range(0, 3) r(k)),
        |flags AS (
        |  SELECT doc_id, text,
        |    SUM(CASE WHEN op.p IS NOT NULL THEN 1 ELSE 0 END) = 3 AS flagged
        |  FROM probe LEFT JOIN oldpos op USING (p)
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT f.doc_id, f.flagged, o.dup
        |  FROM flags f LEFT JOIN
        |    (SELECT DISTINCT text, true AS dup FROM oldd) o USING (text))
        |SELECT CAST(count(*) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
        |  CAST(SUM(CASE WHEN flagged AND dup IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_false_pos,
        |  CAST(SUM(CASE WHEN NOT flagged AND dup THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_missed,
        |  CASE WHEN count(*) - SUM(CASE WHEN dup THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(SUM(CASE WHEN flagged AND dup IS NULL THEN 1 ELSE 0 END) * 1000
        |      // (count(*) - SUM(CASE WHEN dup THEN 1 ELSE 0 END)) AS BIGINT)
        |  END AS fp_pm
        |FROM truth""".stripMargin,
    // full winnowing replay: hash60 every 8-gram, window-of-4 minima,
    // distinct fingerprints, fingerprint-grain document counts
    "ext_winnowing" ->
      """WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN length(t) >= 8 THEN
        |    list_transform(generate_series(1, length(t) - 7),
        |      i -> substring(t, CAST(i AS INTEGER), 8))
        |    ELSE [t] END AS grams
        |  FROM lt),
        |h AS (
        |  SELECT doc_id, list_transform(grams, s ->
        |    list_reduce(list_transform(range(1, 16), i ->
        |      CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1
        |        AS BIGINT)),
        |      (a, b) -> a * 16 + b)) AS hs
        |  FROM g),
        |f AS (
        |  SELECT doc_id, CASE WHEN len(hs) >= 4 THEN
        |    list_distinct(list_transform(generate_series(0, len(hs) - 4),
        |      j -> list_min(hs[CAST(j + 1 AS INTEGER):CAST(j + 4 AS INTEGER)])))
        |    ELSE [list_min(hs)] END AS fps
        |  FROM h),
        |df AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f),
        |fd AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM df GROUP BY 1)
        |SELECT df.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000 // count(*)
        |    AS BIGINT) AS shared_pm
        |FROM df JOIN fd USING (fp) GROUP BY 1 ORDER BY 1""".stripMargin,
    // same banding replay as the minhash/cluster oracles, then exact
    // shingle-set Jaccard per candidate and integer threshold tests
    "ext_dedup_sweep" ->
      s"""WITH $minhashPairsSql,
        |dsh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [lower(text)] END) AS ssh
        |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents)),
        |sc AS (
        |  SELECT CAST(len(list_intersect(x.ssh, y.ssh)) AS BIGINT) AS inter,
        |    CAST(len(x.ssh) + len(y.ssh) - len(list_intersect(x.ssh, y.ssh))
        |      AS BIGINT) AS uni
        |  FROM pairs p JOIN dsh x ON p.da = x.doc_id
        |               JOIN dsh y ON p.db = y.doc_id),
        |t AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT)
        |        AS threshold_pct)
        |SELECT threshold_pct, CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN inter * 100 >= threshold_pct * uni
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_ge
        |FROM sc CROSS JOIN t GROUP BY 1 ORDER BY threshold_pct""".stripMargin,
    "ext_source_overlap" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, substr(text, CAST(p AS INTEGER), 32) AS shingle
        |  FROM (SELECT source, text,
        |          unnest(generate_series(1, length(text) - 31, 8)) AS p
        |        FROM documents WHERE length(text) >= 32))
        |SELECT x.source AS source_a, y.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_windows
        |FROM sh x JOIN sh y
        |  ON x.shingle = y.shingle AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ext_novelty_rate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    substr(text, CAST(p AS INTEGER), 32) AS shingle
        |  FROM (SELECT doc_id, source, text,
        |          unnest(generate_series(1, length(text) - 31, 8)) AS p
        |        FROM documents WHERE length(text) >= 32)),
        |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |pd AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_win,
        |    CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_novel
        |  FROM sh JOIN fs USING (shingle)
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_win) AS BIGINT) AS n_windows,
        |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
        |  CAST(SUM(CAST(round(CAST(n_novel AS DOUBLE) / CAST(n_win AS DOUBLE),
        |                      12) AS DECIMAL(28,12))) AS DOUBLE) / count(*)
        |    AS mean_novelty
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_neardup_eval" ->
      s"""WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE list_reduce(list_transform(range(1, 16), i ->
        |      CAST(strpos('0123456789abcdef',
        |                  substr(md5('eval|' || doc_id), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 5 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [lower(text)] END) AS s
        |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
        |        FROM base)),
        |shd AS (SELECT DISTINCT doc_id, s FROM sh),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw
        |          FROM shd GROUP BY 1),
        |com AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM shd x JOIN shd y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT a, b FROM com
        |  JOIN sizes sa ON sa.doc_id = com.a
        |  JOIN sizes sb ON sb.doc_id = com.b
        |  WHERE CAST(c AS DOUBLE) / (sa.nw + sb.nw - c) >= 0.5),
        |${minhashSigSql(wrapSig = true)},
        |$minhashBandsSql,
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bk x JOIN bk y ON x.band = y.band
        |    AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
        |j AS (
        |  SELECT coalesce(t.flag, 0) AS t, coalesce(c.flag, 0) AS cd
        |  FROM (SELECT a, b, 1 AS flag FROM truth) t
        |  FULL OUTER JOIN (SELECT a, b, 1 AS flag FROM cand) c
        |    USING (a, b))
        |SELECT CAST(sum(t) AS BIGINT) AS n_truth,
        |  CAST(sum(cd) AS BIGINT) AS n_cand,
        |  CAST(sum(t * cd) AS BIGINT) AS tp,
        |  CAST(sum(cd) - sum(t * cd) AS BIGINT) AS fp,
        |  CAST(sum(t) - sum(t * cd) AS BIGINT) AS fn,
        |  CASE WHEN sum(cd) > 0
        |    THEN CAST(sum(t * cd) AS DOUBLE) / CAST(sum(cd) AS DOUBLE)
        |  END AS precision,
        |  CASE WHEN sum(t) > 0
        |    THEN CAST(sum(t * cd) AS DOUBLE) / CAST(sum(t) AS DOUBLE)
        |  END AS recall
        |FROM j""".stripMargin,
    // hash60 replay (same md5 idiom as ext_suffix_dedup below) so BOTH
    // engines key windows by the 60-bit hash and share any collision
    // behavior — grouping the oracle by the literal window string would
    // turn a 60-bit collision from a shared rounding event into a hard
    // contract divergence (round-8 advice item)
    "ext_substring_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(1, 16), i ->
        |      CAST(strpos('0123456789abcdef', substr(md5(
        |        substr(text, CAST(p AS INTEGER), 32)),
        |        CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS wkey
        |  FROM (SELECT doc_id, source, text,
        |          unnest(generate_series(1, length(text) - 31, 8)) AS p
        |        FROM documents WHERE length(text) >= 32)),
        |dup AS (
        |  SELECT wkey FROM sh GROUP BY 1
        |  HAVING count(DISTINCT doc_id) >= 2)
        |SELECT source,
        |  CAST(count(DISTINCT s.doc_id) AS BIGINT) AS docs_with_dup,
        |  CAST(count(*) AS BIGINT) AS dup_occurrences
        |FROM sh s JOIN dup USING (wkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // stride-1 20-token window hashes (hash60 replay), dup keys by
    // distinct-doc count, gaps-and-islands merge to maximal spans of
    // exactly 19 + run-length tokens — integer throughout
    "ext_suffix_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, p AS wpos,
        |    list_reduce(list_transform(range(1, 16), i ->
        |      CAST(strpos('0123456789abcdef', substr(md5(
        |        array_to_string(list_slice(t, CAST(p AS INTEGER),
        |                                   CAST(p + 19 AS INTEGER)), ' ')),
        |        CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS wkey
        |  FROM (SELECT doc_id, source, t,
        |          unnest(range(1, len(t) - 18)) AS p
        |        FROM tk WHERE len(t) >= 20)),
        |dup AS (
        |  SELECT wkey FROM w GROUP BY 1
        |  HAVING count(DISTINCT doc_id) >= 2),
        |m AS (
        |  SELECT doc_id, source, wpos,
        |    wpos - row_number() OVER (PARTITION BY doc_id ORDER BY wpos)
        |      AS grp
        |  FROM w JOIN dup USING (wkey)),
        |sp AS (
        |  SELECT doc_id, source,
        |    CAST(19 + count(*) AS BIGINT) AS span_tokens
        |  FROM m GROUP BY doc_id, source, grp)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_with_dup,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
        |  CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    // same signature replay as ext_minhash_dedup, banded at every
    // (bands, rows-per-band) config via a cross join; s* ppm literals
    // mirror the Scala side verbatim
    "ext_lsh_plan" ->
      s"""WITH $minhashShinglesSql,
        |${minhashSigSql()},
        |cfg(rpb) AS (SELECT * FROM (VALUES (1), (2), (4), (8)) v(rpb)),
        |bk AS (SELECT doc_id, rpb, k // rpb AS band,
        |  string_agg(CAST(v AS VARCHAR), ':' ORDER BY k) AS bkey
        |  FROM sig CROSS JOIN cfg GROUP BY 1, 2, 3),
        |pairs AS (SELECT DISTINCT x.rpb, x.doc_id AS a, y.doc_id AS b
        |  FROM bk x JOIN bk y ON x.rpb = y.rpb AND x.band = y.band
        |    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pc AS (SELECT rpb, CAST(count(*) AS BIGINT) AS n_cand_pairs
        |  FROM pairs GROUP BY 1),
        |fl AS (SELECT rpb, CAST(count(*) AS BIGINT) AS n_flagged_docs FROM
        |  (SELECT DISTINCT rpb, doc FROM
        |    (SELECT rpb, a AS doc FROM pairs
        |     UNION ALL SELECT rpb, b AS doc FROM pairs))
        |  GROUP BY 1),
        |base(n_bands, rows_per_band, thresh_ppm) AS (SELECT * FROM (VALUES
        |  (16, 1, 62500), (8, 2, 353553),
        |  (4, 4, 707106), (2, 8, 917004)) v(n_bands, rows_per_band, thresh_ppm))
        |SELECT CAST(n_bands AS BIGINT) AS n_bands,
        |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
        |  CAST(thresh_ppm AS BIGINT) AS thresh_ppm,
        |  CAST(COALESCE(n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
        |  CAST(COALESCE(n_flagged_docs, 0) AS BIGINT) AS n_flagged_docs
        |FROM base LEFT JOIN pc ON pc.rpb = base.rows_per_band
        |LEFT JOIN fl ON fl.rpb = base.rows_per_band
        |ORDER BY rows_per_band""".stripMargin,
    // full signature/banding/candidate replay — possible because hash60 is
    // md5-based (minhashPermsSql = permConsts(16), pinned by DedupSpec)
    "ext_minhash_dedup" ->
      s"""WITH $minhashPairsSql,
        |cand AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM (SELECT da AS doc_id FROM pairs UNION ALL SELECT db AS doc_id FROM pairs)
        |  GROUP BY 1),
        |s01 AS (SELECT doc_id, min(CASE WHEN k = 0 THEN v END) AS sig0,
        |               min(CASE WHEN k = 1 THEN v END) AS sig1 FROM sig GROUP BY 1)
        |SELECT s01.doc_id, sig0, sig1,
        |  COALESCE(n_candidates, CAST(0 AS BIGINT)) AS n_candidates
        |FROM s01 LEFT JOIN cand USING (doc_id) ORDER BY doc_id""".stripMargin,
    // same banding replay as ext_minhash_dedup, joined new-side (doc_id
    // % 5 = 0) against old-side only
    "ext_incremental_dedup" ->
      s"""WITH $minhashShinglesSql,
        |${minhashSigSql()},
        |$minhashBandsSql,
        |m AS (SELECT x.doc_id, CAST(count(DISTINCT y.doc_id) AS BIGINT) AS n_old_matches
        |  FROM bk x JOIN bk y
        |    ON x.band = y.band AND x.band_key = y.band_key
        |   AND x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
        |  GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_old_matches, CAST(0 AS BIGINT)) AS n_old_matches,
        |  COALESCE(n_old_matches, 0) = 0 AS kept
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    // simhash_dedup's signature+banding replay, candidates scored with
    // exact bit_count(xor) and bucketed; cumulative over bucket order
    "ext_hamming_hist" ->
      s"""WITH $simhashPartnersSql,
        |dist AS (
        |  SELECT bit_count(xor(sa.simhash, sb.simhash)) AS dist
        |  FROM partners
        |  JOIN sim sa ON sa.doc_id = partners.da
        |  JOIN sim sb ON sb.doc_id = partners.db),
        |bkt AS (
        |  SELECT CAST(CASE WHEN dist <= 3 THEN dist WHEN dist <= 7 THEN 4
        |    WHEN dist <= 15 THEN 8 ELSE 16 END AS BIGINT) AS hamming_bucket
        |  FROM dist),
        |g AS (SELECT hamming_bucket, CAST(count(*) AS BIGINT) AS n_pairs
        |      FROM bkt GROUP BY 1)
        |SELECT hamming_bucket, n_pairs,
        |  CAST(SUM(n_pairs) OVER (ORDER BY hamming_bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pairs
        |FROM g ORDER BY hamming_bucket""".stripMargin,
    "ext_simhash_dedup" ->
      s"""WITH $simhashPartnersSql,
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_band_partners
        |  FROM (SELECT da AS doc_id FROM partners UNION ALL SELECT db AS doc_id FROM partners)
        |  GROUP BY 1)
        |SELECT sim.doc_id, simhash,
        |  COALESCE(n_band_partners, CAST(0 AS BIGINT)) AS n_band_partners
        |FROM sim LEFT JOIN cnt USING (doc_id) ORDER BY doc_id""".stripMargin,
    "ext_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, sha256(text) AS text_sha,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "ext_trigram_jaccard" ->
      """WITH dt AS (
        |  SELECT doc_id, source, unnest(list_distinct(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [lower(text)] END)) AS w
        |  FROM (SELECT doc_id, source, text, string_split(lower(text), ' ') AS t
        |        FROM documents)),
        |cnt AS (SELECT doc_id, count(*) AS nw FROM dt GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_common
        |  FROM dt x JOIN dt y ON x.w = y.w AND x.source = y.source
        |    AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, n_common,
        |  CAST(n_common AS DOUBLE) / (c1.nw + c2.nw - n_common) AS jaccard
        |FROM inter JOIN cnt c1 ON inter.d1 = c1.doc_id
        |  JOIN cnt c2 ON inter.d2 = c2.doc_id
        |WHERE CAST(n_common AS DOUBLE) / (c1.nw + c2.nw - n_common) >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "ext_containment" ->
      """WITH dw AS (
        |  SELECT doc_id, source, unnest(list_distinct(string_split(lower(text), ' '))) AS w
        |  FROM documents),
        |cnt AS (SELECT doc_id, count(*) AS nw FROM dw GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_common
        |  FROM dw x JOIN dw y ON x.w = y.w AND x.source = y.source
        |    AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, n_common,
        |  CAST(n_common AS DOUBLE) / c1.nw AS contain1,
        |  CAST(n_common AS DOUBLE) / c2.nw AS contain2
        |FROM inter JOIN cnt c1 ON inter.d1 = c1.doc_id
        |  JOIN cnt c2 ON inter.d2 = c2.doc_id
        |WHERE greatest(CAST(n_common AS DOUBLE) / c1.nw,
        |               CAST(n_common AS DOUBLE) / c2.nw) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    "ext_ngram_jaccard" ->
      """WITH dw AS (
        |  SELECT doc_id, source, unnest(list_distinct(string_split(lower(text), ' '))) AS w
        |  FROM documents),
        |cnt AS (SELECT doc_id, count(*) AS nw FROM dw GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_common
        |  FROM dw x JOIN dw y ON x.w = y.w AND x.source = y.source
        |    AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, n_common,
        |  CAST(n_common AS DOUBLE) / (c1.nw + c2.nw - n_common) AS jaccard
        |FROM inter JOIN cnt c1 ON inter.d1 = c1.doc_id
        |  JOIN cnt c2 ON inter.d2 = c2.doc_id
        |WHERE CAST(n_common AS DOUBLE) / (c1.nw + c2.nw - n_common) >= 0.6
        |ORDER BY d1, d2""".stripMargin)
}
