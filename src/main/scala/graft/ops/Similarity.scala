package graft.ops

import graft.Tables
import graft.expressions.Natives
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search operators over the embedding column (SURVEY.md §2.11
  * E3 / BASELINE.json): brute-force cosine top-k (the correctness
  * baseline) and a random-hyperplane-LSH bucketed variant (the scale
  * path).
  *
  * Cross-engine exactness: every dot product is Σ double(xᵢ)·double(yᵢ)
  * — a float×float product is exactly representable in double (24+24 <
  * 53 mantissa bits) and both Spark's `aggregate` and DuckDB's
  * `list_aggregate('sum')` fold left-to-right, so cosines are
  * bit-identical and rank/threshold comparisons cannot flip between
  * engines (verified empirically; `list_dot_product` does NOT have this
  * property — it accumulates in float).
  *
  * Scale design: brute-force top-k is O(Q·N) dot products — fine for a
  * query batch against a broadcast candidate set, wrong for all-pairs at
  * 100 TB. The LSH variant buckets by hyperplane-sign signature so the
  * join is an equi-join on `sig` (shuffle on bucket id, candidates only
  * compared in-bucket); recall/probe trade-off is the number of planes.
  * An IVF variant would swap the signature for a coarse-quantizer
  * centroid id — same join shape.
  */
object Similarity {

  /** Σ double(x)·double(y) over zipped float arrays — exact, fold-ordered.
    * Uses the codegen'd [[graft.expressions.FloatVecDot]] as a typed
    * Column; [[dotDHof]] is the declarative equivalent kept for A/B
    * measurement — both produce bit-identical doubles. */
  def dotD(a: Column, b: Column): Column = Natives.vecDot(a, b)

  /** Higher-order-function form of [[dotD]] (interpreted; ~µs per call). */
  def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, v) => acc + v)

  def normD(a: Column): Column = sqrt(dotD(a, a))

  private def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (normD(a) * normD(b))

  /** Deterministic hyperplanes, 64 dims each, from a fixed LCG stream:
    * `morePlanes(n)` is the first n of it. */
  private[ops] def morePlanes(n: Int): Seq[Array[Double]] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(n)(Array.fill(64)(next()))
  }

  /** The [[lshSig]] planes: the stream's first 6. */
  private[ops] val planes: Seq[Array[Double]] = morePlanes(6)

  private def planeLit(p: Array[Double]): Column = array(p.map(lit): _*)

  /** Hyperplane-sign LSH signature (6 bits → 64 buckets). Plane dots stay
    * on the HOF path: the planes are double literals (vec_dot is
    * float×float only, and float-casting them would change the oracle's
    * double arithmetic); 6×64 interpreted ops per row is cheap. */
  def lshSig(emb: Column): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotDHof(emb, planeLit(p)) >= 0.0, lit(1 << i)).otherwise(0)
    }.reduce(_ + _)

  /** E3 — brute-force cosine top-k: queries vec_id < 10 against all other
    * vectors; k = 5. The candidate side is broadcast (it's the smaller,
    * re-used side); ranking via per-query window. */
  val extKnnCosine: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .filter(col("qid") < 10)
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy(col("qid"), col("rn"))
  }

  /** E3b — embedding-cosine near-dup pairs above a threshold (the
    * embedding-space analogue of MinHash near-dup). EXACT all-pairs,
    * computed as a distributed block-pair grid join — nothing is ever
    * collected to or broadcast from the driver (round 2 collected the
    * whole table driver-side: a driver OOM at scale).
    *
    * Why exact blocking and not LSH/IVF bucketing: the fixture's own
    * geometry rules recall-1 bucketing out. Qualifying pairs sit at
    * cos 0.35–0.60 (median 0.374) — barely above the all-pairs p99.9
    * (~0.376) — and two cos-0.35 vectors agree on all 6 hyperplane signs
    * with probability (1−θ/π)⁶ ≈ 5%, so ANY sig-equality blocking loses
    * ~95% of qualifying pairs, and no banding scheme with an
    * oracle-expressible number of planes separates q=0.61 (threshold)
    * from q=0.5 (background). A threshold this close to the background
    * is an inherently all-pairs question; the recall-traded bucketed
    * shapes are shipped as their own entries (ext_ann_lsh, ext_ann_ivf)
    * and as [[neardupCandidatesLsh]] with measured recall.
    *
    * The grid join (see [[blockPairs]]): rows hash into B blocks; cell
    * (i, j), i ≤ j, joins block i against block j on the composite cell
    * key — an equi-join, so each task holds at most two blocks (the
    * build side one block), shuffle volume is (B+1)·N rows, and B is
    * chosen so a block fits executor memory: the canonical distributed
    * all-pairs layout at any scale. Per-pair math is the codegen'd
    * [[graft.expressions.FloatVecDot]] with norms computed once per row
    * before replication — identical fold-ordered double arithmetic, so
    * still bit-exact vs the oracle. */
  val extEmbedNeardup: Q = (s, d) =>
    blockPairs(Tables.embeddings(s, d), blocks = 8)
      .filter(col("cos") >= 0.35)
      .select(col("a"), col("b"), col("cos"))
      .orderBy(col("a"), col("b"))

  /** Exact all-pairs cosine via the block-pair grid: every unordered pair
    * of distinct vec_ids appears exactly once, with its exact cosine.
    * `blocks` bounds per-task memory (a task joins two blocks of
    * ~N/blocks rows); replication factor is blocks+1. Output columns:
    * (a, b, cos) with a < b. */
  def blockPairs(emb: DataFrame, blocks: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
        normD(col("embedding")).as("nrm"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    // a row in block b serves as the LEFT side of cells (b, j≥b) and the
    // RIGHT side of cells (i≤b, b); the join on the cell key re-unites
    // exactly the rows of blocks i and j per cell
    val left = e.select(col("vec_id").as("ida"), col("embedding").as("va"),
      col("nrm").as("na"), col("blk").as("ci"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("cj"))
    val right = e.select(col("vec_id").as("idb"), col("embedding").as("vb"),
      col("nrm").as("nb"),
      explode(sequence(lit(0), col("blk"))).as("ci"), col("blk").as("cj"))
    // cross-block cells (ci < cj) keep every pair once; the diagonal cell
    // needs ida < idb to de-duplicate and drop self-pairs. Orientation is
    // free: dot and norm products commute exactly in IEEE double, so
    // least/greatest relabeling cannot change the value
    left.join(right, Seq("ci", "cj"))
      .filter(col("ci") < col("cj") || col("ida") < col("idb"))
      .select(
        least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"),
        (dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
  }

  /** Banded random-hyperplane-LSH candidate pairs for near-dup detection —
    * the linear-shuffle candidate generator a 100 TB corpus uses INSTEAD
    * of all-pairs, at the price of recall. Bands of `rows` planes each;
    * a pair is a candidate iff some band's sign-vector matches exactly, so
    * the join is an equi-join on (band_id, band_signature) — shuffle is
    * (bands·N) keys, never pairs. Returns scored candidates (a, b, cos);
    * recall vs [[blockPairs]] is measured in SimilaritySpec and recorded
    * in PLANS.md (at threshold 0.35 on this corpus the theory caps recall
    * well under 1 — which is exactly why the oracle-bound entry ships the
    * exact grid instead). */
  def neardupCandidatesLsh(emb: DataFrame, bands: Int,
                           rows: Int): DataFrame = {
    val nPlanes = bands * rows
    val ps = morePlanes(nPlanes)
    val e = emb.select(col("vec_id"), col("embedding"),
      normD(col("embedding")).as("nrm"))
    // per-band signature: `rows` sign bits packed into an int
    val banded = e.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(array((0 until bands).map { b =>
        (0 until rows).map { r =>
          val p = ps(b * rows + r)
          when(dotDHof(col("embedding"), planeLit(p)) >= 0.0,
               lit(1 << r)).otherwise(0)
        }.reduce(_ + _)
      }: _*)))
      .toDF("vec_id", "embedding", "nrm", "band_id", "band_sig")
    val l = banded.select(col("band_id"), col("band_sig"),
      col("vec_id").as("ida"), col("embedding").as("va"), col("nrm").as("na"))
    val r = banded.select(col("band_id"), col("band_sig"),
      col("vec_id").as("idb"), col("embedding").as("vb"), col("nrm").as("nb"))
    l.join(r, Seq("band_id", "band_sig"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("a"), col("idb").as("b"),
              (dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .distinct() // a pair may match in several bands
  }

  /** The LSH ANN sides shared by [[extAnnLsh]], [[extAnnRecall]] and
    * [[extAnnMultiprobe]]: every vector with its [[lshSig]] bucket, as
    * the vec_id < 10 queries `(qid, qe, qsig)` and the corpus
    * `(cid, ce, csig)`. */
  private def lshSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), lshSig(col("embedding")).as("sig"))
    (e.select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("sig").as("qsig")).filter(col("qid") < 10),
     e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
              col("sig").as("csig")))
  }

  /** E3c — LSH-bucketed ANN: same-bucket candidates only (the 100 TB
    * shape: equi-join on sig instead of a cross join), top-3 per query. */
  val extAnnLsh: Q = (s, d) => {
    val (q, c) = lshSides(s, d)
    val scored = broadcast(q)
      .join(c, col("qsig") === col("csig") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qsig").as("bucket"),
              cosine(col("qe"), col("ce")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("qid"), col("rn"))
  }

  /** E3d — IVF-style ANN: a coarse quantizer (nearest of 16 deterministic
    * seed vectors — one assignment pass; a production IVF would Lloyd-
    * iterate the seeds) maps every vector to an inverted list; queries
    * probe only their own list (nprobe=1). Same equi-join-on-bucket shape
    * as LSH but with data-adaptive buckets. All distance math is the
    * exact fold-ordered double arithmetic, so assignments and rankings
    * are oracle-checkable. */
  /** Shared IVF quantizer ranking: every vector scored against the
    * deterministic 16-seed codebook (vec_id < 16) via a bounded
    * broadcast crossJoin + argmin window. rn = 1 is a vector's home
    * list; rn ≤ p are a query's p probe lists. This contract (seed
    * set, cosine, (seed_cos DESC, seed_id) tie-break) is load-bearing
    * for oracle bit-exactness — every IVF-family entry
    * ([[extAnnIvf]], [[lloydRefine]], [[extIvfRecall]],
    * [[extEmbeddingDrift]], [[extProbeCurve]]) and its oracle replay
    * MUST use this one definition. */
  private[graft] def ivfRanked(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
    val seeds = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("seed_id"), col("embedding").as("se"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("seed_cos").desc, col("seed_id"))
    e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("seed_id"),
              cosine(col("embedding"), col("se")).as("seed_cos"))
      .withColumn("rn", row_number().over(wAssign))
  }

  /** [[ivfRanked]] reduced to the home-list assignment. */
  private[graft] def ivfAssigned(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    ivfRanked(s, d).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("seed_id").as("list_id"))

  val extAnnIvf: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val q = assigned.select(col("vec_id").as("qid"), col("embedding").as("qe"),
                            col("list_id").as("qlist")).filter(col("qid") < 10)
    val c = assigned.select(col("vec_id").as("cid"), col("embedding").as("ce"),
                            col("list_id").as("clist"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    broadcast(q)
      .join(c, col("qlist") === col("clist") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qlist").as("list_id"),
              cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 3)
      .orderBy(col("qid"), col("rn"))
  }

  /** E62 — embedding-space DRIFT monitor: two corpus snapshots (vec_id
    * parity as the deterministic stand-in for "last crawl / this
    * crawl") are assigned to the same 16-cell IVF quantizer, and the
    * per-cell occupancy shares are compared — per-cell share delta in
    * ppm plus the total-variation distance between the two snapshot
    * distributions. A rising TVD is the canary that the embedding
    * distribution (or the upstream encoder) shifted and the ANN index
    * / centroids need re-training — the monitoring row an embedding
    * pipeline publishes per ingest.
    *
    * Scale shape: assignment is the [[extAnnIvf]] broadcast-argmin (one
    * map-side pass, bit-exact float→double cosine fold); everything
    * after is CELL-grain (16 rows) — counts, ppm shares (BIGINT
    * floor-divides, non-negative by construction), |Δ| and a
    * whole-frame TVD window. Cell count is the quantizer's, never the
    * corpus's. */
  val extEmbeddingDrift: Q = (s, d) => {
    ivfAssigned(s, d)
      .select(col("vec_id"), col("list_id"))
      .groupBy(col("list_id"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
           sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("tot_a", sum(col("n_a")).over(wholeFrame))
      .withColumn("tot_b", sum(col("n_b")).over(wholeFrame))
      // greatest(tot,1): an all-one-parity corpus leaves one snapshot
      // empty; unguarded, Spark's `div` yields NULL while DuckDB's `//`
      // errors — the same engine-divergence guard every other
      // floor-divide entry applies.
      .withColumn("share_a_ppm", expr("n_a * 1000000 div greatest(tot_a, 1)"))
      .withColumn("share_b_ppm", expr("n_b * 1000000 div greatest(tot_b, 1)"))
      .withColumn("abs_diff_ppm", abs(col("share_a_ppm") - col("share_b_ppm")))
      .withColumn("sum_diff", sum(col("abs_diff_ppm")).over(wholeFrame))
      .withColumn("tvd_ppm", expr("sum_diff div 2"))
      .select(col("list_id"), col("n_a"), col("n_b"),
              col("share_a_ppm"), col("share_b_ppm"), col("abs_diff_ppm"),
              col("tvd_ppm"))
      .orderBy(col("list_id"))
  }

  /** One Lloyd iteration refining the IVF seeds: assign → per-list mean →
    * re-normalized centroids (as float arrays, ready for another
    * assignment pass). Library-only (not oracle-bound: the per-dim mean
    * is an order-dependent double sum); SimilaritySpec asserts the
    * refined quantizer tightens within-list cohesion. The DataFrame shape
    * is the distributed k-means step: assignment is a broadcast-join
    * argmin, the update a groupBy mean — both scale-free of N². */
  def lloydRefine(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(s, d)
    // update step: element-wise mean per list → new centroid (float)
    assigned
      .select(col("list_id"), posexplode(col("embedding")))
      .toDF("list_id", "dim", "v")
      .groupBy(col("list_id"), col("dim"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("list_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("list_id"),
              transform(col("pairs"), p => p.getField("m").cast("float"))
                .as("centroid"))
  }

  /** E20 — product-quantization encode (M=4 subspaces × 16 sub-centroids
    * over the 64-dim embeddings): each vector compresses to 4 one-byte
    * codes — the memory-side scale path that makes billion-vector ANN
    * feasible (codebook lookups instead of raw floats; IVF lists + PQ
    * codes is the standard shape). Sub-codebooks use the same
    * deterministic seed trick as [[extAnnIvf]] (sub-slices of vec_id <
    * 16), so the oracle replays the whole encode bit-for-bit.
    *
    * Plan shape: ONE posexplode into (vec, subspace) rows, a broadcast
    * join against the 64 sub-seeds, argmax-per-(vec, subspace) via
    * row_number, then a 4-way pivot back to one row per vector — work
    * linear in N·M·K with nothing driver-side. */
  val extPqEncode: Q = (s, d) =>
    pqCodes(s, d)
      .groupBy(col("vec_id"))
      .pivot("m", Seq(0, 1, 2, 3)).agg(first(col("seed_id")))
      .select(col("vec_id"), col("0").as("c0"), col("1").as("c1"),
              col("2").as("c2"), col("3").as("c3"))
      .orderBy(col("vec_id"))

  /** (vec_id, m, seed_id): the per-subspace PQ code assignment behind
    * [[extPqEncode]] and [[extPqAdc]] — argmax sub-cosine against the 16
    * seed sub-centroids of subspace m, ties to the smaller seed. */
  def pqCodes(s: SparkSession, d: String): DataFrame = {
    val sliced = pqSliced(s, d)
    val seeds = sliced.filter(col("vec_id") < 16)
      .select(col("m").as("sm"), col("vec_id").as("seed_id"),
              col("sv").as("se"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m"))
      .orderBy(col("c").desc, col("seed_id"))
    sliced.join(broadcast(seeds), col("m") === col("sm"))
      .select(col("vec_id"), col("m"), col("seed_id"),
              cosine(col("sv"), col("se")).as("c"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("seed_id"))
  }

  /** (vec_id, m, sv): every embedding cut into M=4 sub-slices of 16. */
  private def pqSliced(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
        posexplode(array((0 until 4).map(m =>
          slice(col("embedding"), m * 16 + 1, 16)): _*)))
      .toDF("vec_id", "m", "sv")

  /** E20b — asymmetric-distance (ADC) top-k search over the PQ codes:
    * the query side stays RAW (its 4 sub-slices), the candidate side is
    * only its 4 codes — the approximate inner product is
    * Σ_m ⟨q_m, centroid(code_m)⟩, i.e. what a deployment computes from a
    * 16×4 per-query lookup table against billions of 4-byte codes. Here
    * the table lookup is a broadcast join of (code, m) → centroid and
    * the per-query sums are pivoted to FIXED m-order (s0+s1+s2+s3,
    * round 6) so both engines rank identically.
    *
    * Plan shape: candidate side is the codes frame (4 rows/vector,
    * nothing raw), query sub-slices and sub-codebook both broadcast;
    * one groupBy (qid, cid) pivot; TakeOrderedAndProject per query. */
  val extPqAdc: Q = (s, d) => {
    val scored = adcScores(s, d)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_score").desc, col("cid"))
    scored.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"), col("adc_score"),
              col("rn").cast("int").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Shared ADC scoring stage of [[extPqAdc]] / [[extPqRecall]]:
    * every (query, candidate) pair with its compressed-domain cosine. */
  private def adcScores(s: SparkSession, d: String): DataFrame = {
    val codes = pqCodes(s, d)
    val sliced = pqSliced(s, d)
    val seeds = sliced.filter(col("vec_id") < 16)
      .select(col("m").as("sm"), col("vec_id").as("sid"), col("sv").as("se"))
    val queries10 = sliced.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m").as("qm"), col("sv").as("qv"))
    val scored = codes
      .join(broadcast(seeds),
            col("m") === col("sm") && col("seed_id") === col("sid"))
      .join(broadcast(queries10), col("m") === col("qm"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"), col("m"),
              dotD(col("qv"), col("se")).as("p"),
              dotD(col("se"), col("se")).as("nn"))
      .groupBy(col("qid"), col("cid"))
      .pivot("m", Seq(0, 1, 2, 3))
      .agg(first(col("p")).as("p"), first(col("nn")).as("nn"))
      // cosine-ADC: Σ⟨q_m, c_m⟩ / ‖recon‖ (query norm is constant per
      // query so it cannot change ranks; the reconstruction norm is NOT
      // and unnormalized inner-product ADC would rank long
      // reconstructions first). All sums in fixed m-order.
      .select(col("qid"), col("cid"),
              round((col("0_p") + col("1_p") + col("2_p") + col("3_p")) /
                    sqrt(col("0_nn") + col("1_nn") + col("2_nn") + col("3_nn")),
                    6).as("adc_score"))
    scored
  }

  /** E61 — embedding-table QA audit: the pre-flight check before any
    * similarity job trusts a vector column — dimension consistency,
    * zero/near-zero norms (degenerate vectors that NaN a cosine), and
    * the squared-norm distribution. Per-row squared norms are
    * sequential HOF folds (identical evaluation order both engines →
    * identical doubles); the only cross-row sum goes through
    * round(6)→decimal so partition merge order cannot leak into the
    * mean. One map stage + one single-row aggregate at any corpus
    * size. */
  val extEmbedAudit: Q = (s, d) => {
    val sq = dotD(col("embedding"), col("embedding"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), size(col("embedding")).as("dim"),
              round(sq, 6).cast("decimal(18,6)").as("sqn"))
      .agg(count(lit(1)).as("n_vectors"),
           countDistinct(col("dim")).as("n_dims"),
           min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
           sum(when(col("sqn") < 0.000001, 1L).otherwise(0L)).as("n_degenerate"),
           min(col("sqn")).cast("double").as("min_sq_norm"),
           max(col("sqn")).cast("double").as("max_sq_norm"),
           (sum(col("sqn")).cast("double") / count(lit(1))).as("avg_sq_norm"))
  }

  /** E57 — hybrid retrieval fusion (RRF): merge a SPARSE lexical
    * ranking (BM25 for the fixed 3-term query, [[TextAnalysis.extBm25]])
    * with a DENSE embedding ranking (cosine against doc 0's vector — the
    * test corpus aligns doc_id and vec_id) by reciprocal-rank fusion,
    * the standard RAG-stack combiner (Cormack et al. 2009: score =
    * Σ 1/(60+rank)). Kept engine-exact by integer micropoints —
    * `1 000 000 div (60+rank)` — so no float sum can rounding-diverge;
    * absence from a list contributes 0. Scale shape: each list is
    * top-10 via TakeOrderedAndProject (never a global rank of the
    * corpus), the rank windows run over 10-row frames, and the fusion
    * join is 10×10-bounded. */
  val extHybridRank: Q = (s, d) => {
    val wS = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val sparse = TextAnalysis.bm25Scored(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .withColumn("sparse_rank", row_number().over(wS))
      .select(col("doc_id"), col("sparse_rank"))
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val wD = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id"))
    val dense = Tables.embeddings(s, d).crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
              cosine(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(10)
      .withColumn("dense_rank", row_number().over(wD))
      .select(col("doc_id"), col("dense_rank"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
              col("sparse_rank").cast("int").as("sparse_rank"),
              col("dense_rank").cast("int").as("dense_rank"),
              (coalesce(expr("1000000 div (60 + sparse_rank)"), lit(0L)) +
               coalesce(expr("1000000 div (60 + dense_rank)"), lit(0L)))
                .as("rrf_points"))
      .orderBy(col("rrf_points").desc, col("doc_id"))
      .limit(10)
  }

  /** Per-query top-5 of scored pairs `(qid, cid, <score>)`: the five
    * highest `score` of each qid, exact ties to the smaller cid, as
    * (qid, cid). */
  private def perQueryTop5(pairs: DataFrame, score: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col(score).desc, col("cid"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select(col("qid"), col("cid"))
  }

  /** Brute-force truth of every recall audit: the exact-cosine top-5 of
    * each query `(qid, qe)` over `corpus` `(cid, ce)`, self excluded.
    * The query batch is broadcast, so the exact side stays bounded by
    * the batch at any corpus size. */
  private def bruteTop5(queries: DataFrame, corpus: DataFrame): DataFrame =
    perQueryTop5(broadcast(queries).join(corpus, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos")),
      "cos")

  /** Per-query recall@5 audit shared by [[extAnnRecall]],
    * [[extAnnMultiprobe]], [[extIvfRecall]] and [[extPqRecall]]: the
    * top-5 of the ANN side's scored candidate pairs `(qid, cid, <score>)`
    * by `score` against [[bruteTop5]] of `queries` over `corpus` →
    * (qid, n_bf, n_ann, n_overlap, recall_at_5). A query with truth but
    * no candidates keeps its row with n_ann = 0. */
  private[graft] def recallAt5(queries: DataFrame, corpus: DataFrame,
                               candidates: DataFrame,
                               score: String = "cos"): DataFrame = {
    bruteTop5(queries, corpus).withColumn("b", lit(1))
      .join(perQueryTop5(candidates, score).withColumn("a", lit(1)),
            Seq("qid", "cid"), "full_outer")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("b"), lit(0))).as("n_bf"),
           sum(coalesce(col("a"), lit(0))).as("n_ann"),
           sum(coalesce(col("b"), lit(0)) * coalesce(col("a"), lit(0)))
             .as("n_overlap"))
      .select(col("qid"), col("n_bf"), col("n_ann"), col("n_overlap"),
              // recall = overlap / |ground truth|: dividing by the
              // literal k understates recall whenever the corpus (or a
              // candidate set) yields fewer than k true neighbors —
              // n_bf is the real denominator, zero-guarded
              when(col("n_bf") > 0,
                   col("n_overlap").cast("double") /
                     col("n_bf").cast("double")).as("recall_at_5"))
      .orderBy(col("qid"))
  }

  /** E20c — PQ rank-preservation audit: recall@5 of the top-5 BY
    * COMPRESSED-DOMAIN ADC SCORE against the exact-cosine top-5 — the
    * number that says how much ranking quality the 4-byte codes give up
    * (LSH/IVF lose candidates; PQ sees every candidate but scores it
    * approximately — a different failure mode, now measured the same
    * way). Completes the measured-recall set across all four shipped
    * ANN variants. Same bounded query-batch audit grain as
    * [[extAnnRecall]]; the ADC side never touches a raw candidate
    * vector. */
  val extPqRecall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    recallAt5(
      e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 10),
      e.select(col("vec_id").as("cid"), col("embedding").as("ce")),
      adcScores(s, d), "adc_score")
  }

  /** E3e — ANN recall audit: recall@5 of the LSH-bucketed search
    * ([[extAnnLsh]]'s shape) against the brute-force top-5 ground truth
    * ([[extKnnCosine]]'s shape) per query — the similarity-stack twin of
    * [[graft.ops.Dedup.extNeardupEval]], and the number an ANN deployment
    * must publish before anyone trusts its buckets (the fixture's
    * geometry makes single-table LSH lossy — see [[extEmbedNeardup]]'s
    * scaladoc — which is exactly what this audit exposes, per query,
    * with exact arithmetic on both engines). Ground truth is the k·|Q|
    * window over the broadcast query batch; the audit grain is the
    * query batch, so the exact side stays bounded at any corpus size. */
  val extAnnRecall: Q = (s, d) => {
    val (q, c) = lshSides(s, d)
    recallAt5(q, c, broadcast(q)
      .join(c, col("qsig") === col("csig") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos")))
  }

  /** E3f — Hamming-1 multiprobe LSH, measured the same way: each query
    * probes its own bucket plus the 6 single-bit-flip neighbors (the
    * classic recall dial — ~7× the candidates for a recall jump; probe
    * keys are distinct, so the explode-join yields no duplicate
    * candidates and stays a pure equi-join at any scale). Emitting the
    * same per-query recall@5 as [[extAnnRecall]] makes the
    * cost-vs-recall trade directly legible: compare the two entries
    * row by row. */
  val extAnnMultiprobe: Q = (s, d) => {
    val (q, c) = lshSides(s, d)
    val probes = q.select(col("qid"), col("qe"),
      explode(array((Seq(0) ++ (0 until 6).map(1 << _)).map(m =>
        col("qsig").bitwiseXOR(lit(m))): _*)).as("probe"))
    recallAt5(q, c, broadcast(probes)
      .join(c, col("probe") === col("csig") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos")))
  }

  /** E3g — IVF nprobe=2 recall, measured identically: queries probe
    * their TWO nearest inverted lists (the IVF recall dial, as
    * Hamming-1 probing is the LSH one), data vectors stay in their one
    * list. Candidate generation remains a pure equi-join on list id —
    * a query's two probe lists are distinct, so no duplicate
    * candidates. Completes the measured-recall set: every shipped ANN
    * variant (LSH single/multi-probe, IVF) now publishes its recall@5
    * against the same brute-force ground truth. */
  val extIvfRecall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val ranked = ivfRanked(s, d)
    val c = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
              col("seed_id").as("list_id"))
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .filter(col("qid") < 10)
    val qprobe = ranked.filter(col("vec_id") < 10 && col("rn") <= 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("seed_id").as("plist"))
    recallAt5(q, e.select(col("vec_id").as("cid"), col("embedding").as("ce")),
      broadcast(qprobe)
        .join(c, col("plist") === col("list_id") && col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("cos")))
  }

  /** E63 — IVF probe-count TUNING CURVE: recall@5 and candidate cost
    * at nprobe ∈ {1,2,3,4}, in one query — the query-time sibling of
    * [[Dedup.extLshPlan]] (which sizes the index build; this sizes the
    * search). Reading the curve is the ANN owner's dial: more probes
    * scan more candidates (n_cand, the cost column) for monotonically
    * more recall; ship the knee.
    *
    * One assignment pass and ONE candidate join serve all four
    * configs: a data vector lives in exactly one list and a query's
    * probe lists are distinct, so each (q, c) pair joins with a unique
    * probe_rank and "config p" is just the filter probe_rank ≤ p —
    * the pair frame is exploded ≤4× (bounded), never re-joined.
    * Recall's denominator is the measured brute-force truth size
    * (n_bf), the [[extAnnRecall]] discipline.
    *
    * Scale shape: broadcast-argmin assignment (16-row quantizer),
    * list-bucketed candidate equi-join, per-(config, query) top-5 via
    * WindowGroupLimit, config-grain output (4 rows). */
  val extProbeCurve: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val ranked = ivfRanked(s, d)
    val c = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
              col("seed_id").as("list_id"))
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .filter(col("qid") < 10)
    val qprobe = ranked.filter(col("vec_id") < 10 && col("rn") <= 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("seed_id").as("plist"), col("rn").as("probe_rank"))
    val scored = broadcast(qprobe)
      .join(c, col("plist") === col("list_id") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("probe_rank"),
              cosine(col("qe"), col("ce")).as("cos"))
    val perConfig = scored
      .join(broadcast((1 to 4).toDF("probes").select(col("probes")
        .cast("long").as("probes"))), col("probe_rank") <= col("probes"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probes"), col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val ann = perConfig.withColumn("trn", row_number().over(wTop))
      .filter(col("trn") <= 5).select(col("probes"), col("qid"), col("cid"))
    val bf = bruteTop5(q,
        e.select(col("vec_id").as("cid"), col("embedding").as("ce")))
      .crossJoin(broadcast((1 to 4).toDF("probes").select(col("probes")
        .cast("long").as("probes"))))
    val overlap = bf.withColumn("b", lit(1))
      .join(ann.withColumn("a", lit(1)), Seq("probes", "qid", "cid"),
            "full_outer")
      .groupBy(col("probes"))
      .agg(sum(coalesce(col("b"), lit(0))).cast("long").as("n_truth"),
           sum(coalesce(col("b"), lit(0)) * coalesce(col("a"), lit(0)))
             .cast("long").as("n_overlap"))
    val cost = perConfig.groupBy(col("probes"))
      .agg(count(lit(1)).as("n_cand"))
    // base from the config literals (the extLshPlan discipline): a
    // config with zero candidates must still report its row, not vanish
    // through an inner join
    (1 to 4).toDF("probes").select(col("probes").cast("long").as("probes"))
      .join(overlap, Seq("probes"), "left")
      .join(cost, Seq("probes"), "left")
      .select(col("probes"),
              coalesce(col("n_cand"), lit(0L)).as("n_cand"),
              coalesce(col("n_truth"), lit(0L)).as("n_truth"),
              coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
              when(coalesce(col("n_truth"), lit(0L)) > 0,
                   col("n_overlap").cast("double") /
                     col("n_truth").cast("double")).as("recall_at_5"))
      .orderBy(col("probes"))
  }

  /** E3f — HARD-NEGATIVE MINING for contrastive training (the
    * batch-retrieval step behind DPR/SimCSE-style data builds): for each
    * query vector, the top-3 most-similar vectors whose LABEL DIFFERS —
    * near-misses that teach the model the decision boundary, unlike
    * random negatives which are trivially far. Complements
    * [[extKnnCosine]] (label-blind top-k): the label inequality is part
    * of the JOIN predicate, so same-class neighbors never reach the
    * ranking window at all.
    *
    * Plan shape: broadcast the bounded 8-row query batch against the
    * corpus (BroadcastNestedLoopJoin — intentional for a query BATCH;
    * the corpus side streams, never shuffles), codegen'd `vec_dot`
    * kernel, per-query top-3 via WindowGroupLimit heaps. At 100 TB the
    * batch stays driver-bounded (it is the thing a training job holds
    * anyway) and corpus work is one scan per batch; the ANN variants
    * ([[extAnnLsh]]/[[extAnnIvf]]) are the scale path when the batch
    * itself grows. Cosine is bit-identical cross-engine: sequential
    * fold dot, IEEE division/sqrt (same contract as ext_knn_cosine). */
  val extHardNegatives: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.select(col("vec_id").as("qid"), col("label").as("qlabel"),
                     col("embedding").as("qe"))
      .filter(col("qid") < 8)
    val c = e.select(col("vec_id").as("cid"), col("label").as("clabel"),
                     col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    broadcast(q).join(c, col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
              cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("qid"), col("rn"))
  }

  /** E3g — NDCG@10 RETRIEVAL-QUALITY EVAL (the ranking metric every
    * retrieval data build reports alongside recall): queries vec_id < 8
    * against the disjoint candidate pool vec_id ≥ 8, system ranking by
    * exact cosine, binary relevance = label match. DCG@10 sums
    * rel/log2(rank+1) over the system order; IDCG@10 over the ideal
    * (all-relevant-first) order of the SAME pool; NDCG their ratio.
    * Complements [[extAnnRecall]] (set overlap, order-blind) with the
    * position-weighted metric.
    *
    * Plan shape: the bounded 8-row query batch broadcasts against the
    * corpus (one scan per batch, corpus never shuffles — the
    * [[extHardNegatives]] contract); both ranks come from two windows
    * over ONE per-qid sort partition, then a qid-grain aggregate.
    *
    * Cross-engine exactness: cosines are the bit-identical sequential
    * fold; ranks are integers with a cid tiebreak; each 1/log2(r+1)
    * term is rounded to 12 decimals and decimal-summed (the
    * [[Aggregates.aggEntropy]] trick) so the ≤10-term reduction is
    * order-free and libm's ≤1-ulp log2 drift is absorbed; the final
    * ratio is ONE IEEE division under round(6), zero-guarded for
    * queries with no relevant candidate. */
  val extNdcg: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.select(col("vec_id").as("qid"), col("label").as("qlabel"),
                     col("embedding").as("qe"))
      .filter(col("qid") < 8)
    val c = e.select(col("vec_id").as("cid"), col("label").as("clabel"),
                     col("embedding").as("ce"))
      .filter(col("cid") >= 8)
    val wSys = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val wIdeal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    def term(rank: Column): Column =
      when(rank <= 10,
           round(col("rel").cast("double") / log2(rank.cast("double") + 1.0),
                 12))
        .otherwise(0.0).cast("decimal(18,12)")
    broadcast(q).join(c)
      .select(col("qid"), col("cid"),
              (col("qlabel") === col("clabel")).cast("int").as("rel"),
              cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rn", row_number().over(wSys))
      .withColumn("irn", row_number().over(wIdeal))
      .groupBy(col("qid"))
      .agg(sum(col("rel")).cast("bigint").as("n_rel"),
           sum(term(col("rn"))).as("dcg_d"),
           sum(term(col("irn"))).as("idcg_d"))
      .select(col("qid"), col("n_rel"),
              col("dcg_d").cast("double").as("dcg10"),
              col("idcg_d").cast("double").as("idcg10"),
              when(col("idcg_d") > 0,
                   round(col("dcg_d").cast("double") /
                           col("idcg_d").cast("double"), 6)).as("ndcg10"))
      .orderBy(col("qid"))
  }

  /** E65 — composed IVF+PQ index search (IVFADC; Jégou/Douze/Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011,
    * §IV): queries probe their nprobe=2 nearest coarse cells
    * ([[ivfRanked]]) and ONLY candidates whose home cell is probed are
    * scored — by the compressed-domain ADC cosine over their 4 one-byte
    * PQ codes ([[pqCodes]]), never their raw floats. This is the
    * composition a billion-vector deployment actually serves from, and
    * the missing link between the shipped [[extAnnIvf]] (coarse cells,
    * raw-vector scoring) and [[extPqAdc]] (codes, but exhaustive over
    * the corpus): candidate volume is bounded by the probed cells
    * (≈ nprobe/k of the corpus per query), and the big side of every
    * join carries (vec_id, list_id, code) ≈ 16 bytes/vector.
    *
    * Plan shape: the only corpus-grain shuffle is codes ⋈ home-cell on
    * vec_id; probes (10×2 rows), the sub-codebook (64 rows) and the
    * query sub-slices (40 rows) all broadcast. Exactness: coarse
    * assignment, probe ranking, PQ encode and ADC scoring reuse the
    * fold-ordered double cosine, so the oracle replays every argmax
    * bit-for-bit; ADC scores round(6) once at output grain. A candidate
    * reaches a query through at most ONE probe (its home cell is
    * unique), so no distinct is needed. */
  val extIvfpqAdc: Q = (s, d) => {
    val probes = ivfRanked(s, d)
      .filter(col("vec_id") < 10 && col("rn") <= 2)
      .select(col("vec_id").as("qid"), col("seed_id").as("plist"),
              col("rn").cast("int").as("probe_rank"))
    val home = ivfAssigned(s, d).select(col("vec_id"), col("list_id"))
    val sliced = pqSliced(s, d)
    val seeds = sliced.filter(col("vec_id") < 16)
      .select(col("m").as("sm"), col("vec_id").as("sid"), col("sv").as("se"))
    val qsub = sliced.filter(col("vec_id") < 10)
      .select(col("vec_id").as("sqid"), col("m").as("qm"), col("sv").as("qv"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_score").desc, col("cid"))
    pqCodes(s, d)
      .join(home, "vec_id")
      .join(broadcast(probes),
            col("list_id") === col("plist") && col("qid") =!= col("vec_id"))
      .join(broadcast(seeds),
            col("m") === col("sm") && col("seed_id") === col("sid"))
      .join(broadcast(qsub), col("m") === col("qm") && col("qid") === col("sqid"))
      .select(col("qid"), col("vec_id").as("cid"), col("list_id"),
              col("probe_rank"), col("m"),
              dotD(col("qv"), col("se")).as("p"),
              dotD(col("se"), col("se")).as("nn"))
      .groupBy(col("qid"), col("cid"), col("list_id"), col("probe_rank"))
      .pivot("m", Seq(0, 1, 2, 3))
      .agg(first(col("p")).as("p"), first(col("nn")).as("nn"))
      .select(col("qid"), col("cid"), col("list_id"), col("probe_rank"),
              round((col("0_p") + col("1_p") + col("2_p") + col("3_p")) /
                    sqrt(col("0_nn") + col("1_nn") + col("2_nn") + col("3_nn")),
                    6).as("adc_score"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"), col("list_id"), col("probe_rank"),
              col("adc_score"), col("rn").cast("int").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** E66 — semantic deduplication (SemDeDup; Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embedding space
    * with the coarse quantizer ([[ivfAssigned]]), then within each cell
    * drop every vector that has a lower-id neighbor at cosine ≥ 0.35
    * (greedy keep-first — the paper keeps one item per semantic-dup
    * group; lowest vec_id is the deterministic stand-in for its
    * keep-closest-to-centroid choice). Output is the cell-grain dedup
    * report a curation run publishes: size, drops, survivors per cell.
    *
    * Scale shape: the pair search is WITHIN-CELL only — the paper's
    * entire point. k grows with the corpus (k ≈ N/⟨cell⟩ holds cells at
    * ~10⁵ vectors), so per-cell pair volume is bounded by ⟨cell⟩²
    * regardless of N and cells meet in an equi-join; k=16 is this
    * fixture's deterministic codebook. Threshold comparisons cannot
    * flip cross-engine (fold-ordered double cosines, see module doc). */
  val extSemdedup: Q = (s, d) => {
    val a = ivfAssigned(s, d)
    val l = a.select(col("list_id"), col("vec_id").as("ida"),
                     col("embedding").as("va"))
    val r = a.select(col("list_id"), col("vec_id").as("idb"),
                     col("embedding").as("vb"))
    val dropped = l.join(r, "list_id")
      .filter(col("ida") < col("idb") &&
              cosine(col("va"), col("vb")) >= 0.35)
      .select(col("list_id"), col("idb")).distinct()
    a.groupBy(col("list_id")).agg(count(lit(1)).as("n_vectors"))
      .join(dropped.groupBy(col("list_id")).agg(count(lit(1)).as("nd")),
            Seq("list_id"), "left")
      .select(col("list_id"), col("n_vectors"),
              coalesce(col("nd"), lit(0L)).as("n_dropped"),
              (col("n_vectors") - coalesce(col("nd"), lit(0L))).as("n_kept"))
      .orderBy(col("list_id"))
  }

  /** E68 — SCALAR-QUANTIZATION (SQ8) ADC search: per-dimension corpus
    * min/max train a uniform 8-bit quantizer; every vector compresses
    * to 64 one-byte codes (64 B vs 256 B raw — the other standard
    * compression besides PQ, trivially trainable and decode-free), and
    * search scores queries against the RECONSTRUCTED candidates
    * (asymmetric distance, like [[extPqAdc]]). Completes the shipped
    * vector-compression family: LSH (buckets), IVF (cells), PQ
    * (sub-codebooks), SQ8 (per-dim grids). Re-expresses the embedding
    * compaction step of the reference's feature pipeline
    * (/root/reference/sql/fact_dim_tables.sql's measure-binning idiom)
    * at vector grain.
    *
    * Exactness contract: codes are floor((v−mn)·256/(mx−mn)) clamped to
    * 255 — every operand an exact float→double, so both engines compute
    * the identical integer; reconstruction mn+(code+½)(mx−mn)/256 is
    * cast to FLOAT (what a deployment stores), then scoring is the
    * bit-identical float fold of the module's cosine contract, with a
    * zero-norm reconstruction scored 0 by convention (cannot rank above
    * a real match). Degenerate dimensions (mx=mn) encode to 0 and
    * reconstruct to mn exactly.
    *
    * Plan shape: the quantizer is a 64-row aggregate collapsed to ONE
    * broadcast row of (mns, mxs) arrays — no re-shuffle of the corpus to
    * encode (a per-row codegen-adjacent transform); candidates carry
    * (re, nn) only; the query batch broadcasts; top-3 per query via the
    * rank window. One corpus scan for stats + one for scoring at any N. */
  val extSq8Adc: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val grids = e.select(posexplode(col("embedding")))
      .toDF("dim", "v")
      .groupBy(col("dim"))
      .agg(min(col("v")).as("mnf"), max(col("v")).as("mxf"))
      .groupBy()
      .agg(array_sort(collect_list(
        struct(col("dim"), col("mnf"), col("mxf")))).as("g"))
      .select(transform(col("g"), t => t.getField("mnf").cast("double"))
                .as("mns"),
              transform(col("g"), t => t.getField("mxf").cast("double"))
                .as("mxs"))
    val recon = e.crossJoin(broadcast(grids))
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), (x, i) => {
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          val code = when(mx > mn,
            least(floor(((x.cast("double") - mn) * lit(256.0)) / (mx - mn)),
                  lit(255.0))).otherwise(lit(0.0))
          (mn + (code + lit(0.5)) * (mx - mn) / lit(256.0)).cast("float")
        }).as("re"))
      .select(col("cid"), col("re"), dotD(col("re"), col("re")).as("nn"))
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .filter(col("qid") < 10)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_score").desc, col("cid"))
    recon.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        when(col("nn") > 0,
             round(dotD(col("qe"), col("re")) / sqrt(col("nn")), 6))
          .otherwise(lit(0.0)).as("adc_score"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"), col("adc_score"),
              col("rn").cast("int").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** E71 — Matryoshka (MRL) truncation-fidelity report: recall@5 of
    * exact-cosine retrieval using only the first m dimensions of each
    * embedding (m = 8/16/32/64) against the full-dimension ranking —
    * the measurement behind the prefix-truncation storage dial of
    * Matryoshka Representation Learning (Kusupati et al., NeurIPS
    * 2022): a store that keeps m of 64 dims pays m/64 of the bytes and
    * this entry prices the retrieval quality that buys. Complements
    * the compression family: LSH/IVF/PQ/SQ8 change the INDEX layout,
    * MRL truncation changes the VECTOR itself.
    *
    * Exactness contract: per-m cosine is the module's sequential-double
    * fold over the sliced prefixes (1-based, length-clamped slice —
    * identical semantics both engines); a zero-norm prefix scores 0 by
    * convention; ranks break ties by candidate id; every report column
    * is an exact integer (overlap counts plus one non-negative ppm
    * floor-divide), so no float ever reaches the output.
    *
    * Scale shape: brute-force per-m scoring is the BASELINE grain this
    * module already prices in [[extKnnCosine]], ×4 configs — at corpus
    * scale truncation composes with the IVF/PQ candidate bounding
    * instead of brute force. The m-frame is a 4-row config literal
    * LEFT-joined to measured overlaps (the ext_lsh_plan discipline),
    * the truth set is the m=64 slice of the same ranking, and the only
    * window partitions by (m, qid) — 40 bounded groups. */
  val extMrlRecall: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val dims = Seq(8, 16, 32, 64).toDF("m")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .filter(col("qid") < 10)
    val scored = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .join(broadcast(q), col("qid") =!= col("cid"))
      .crossJoin(broadcast(dims))
      .select(col("m"), col("qid"), col("cid"),
        slice(col("qe"), lit(1), col("m")).as("qs"),
        slice(col("ce"), lit(1), col("m")).as("cs"))
      .select(col("m"), col("qid"), col("cid"),
        dotD(col("qs"), col("cs")).as("dp"),
        dotD(col("qs"), col("qs")).as("nq"),
        dotD(col("cs"), col("cs")).as("nc"))
      .select(col("m"), col("qid"), col("cid"),
        when(col("nq") > 0 && col("nc") > 0,
             col("dp") / (sqrt(col("nq")) * sqrt(col("nc"))))
          .otherwise(lit(0.0)).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("m"), col("qid")).orderBy(col("cos").desc, col("cid"))
    val top = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select(col("m"), col("qid"), col("cid"))
    val truth = top.filter(col("m") === 64).select(col("qid"), col("cid"))
    val nTruth = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    val overlap = top.join(truth, Seq("qid", "cid"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_overlap"))
    dims.join(overlap, Seq("m"), "left").crossJoin(broadcast(nTruth))
      .select(col("m"), col("n_truth"),
              coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .select(col("m"), col("n_truth"), col("n_overlap"),
              when(col("n_truth") > 0,
                   expr("n_overlap * 1000000 div n_truth")).as("recall_ppm"))
      .orderBy(col("m"))
  }

  val queries: Map[String, Q] = Map(
    "ext_mrl_recall" -> extMrlRecall,
    "ext_sq8_adc" -> extSq8Adc,
    "ext_probe_curve" -> extProbeCurve,
    "ext_embedding_drift" -> extEmbeddingDrift,
    "ext_ndcg" -> extNdcg,
    "ext_hard_negatives" -> extHardNegatives,
    "ext_knn_cosine" -> extKnnCosine,
    "ext_embed_neardup" -> extEmbedNeardup,
    "ext_ann_lsh" -> extAnnLsh,
    "ext_ann_ivf" -> extAnnIvf,
    "ext_ann_recall" -> extAnnRecall,
    "ext_ann_multiprobe" -> extAnnMultiprobe,
    "ext_ivf_recall" -> extIvfRecall,
    "ext_pq_encode" -> extPqEncode,
    "ext_pq_adc" -> extPqAdc,
    "ext_pq_recall" -> extPqRecall,
    "ext_ivfpq_adc" -> extIvfpqAdc,
    "ext_semdedup" -> extSemdedup,
    "ext_hybrid_rank" -> extHybridRank,
    "ext_embed_audit" -> extEmbedAudit)

  // ---- oracle SQL --------------------------------------------------------

  private def dotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), " +
      s"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), 'sum')"

  private def normSql(a: String): String =
    s"sqrt(list_aggregate(list_transform($a, " +
      s"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"

  private[ops] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  private def planeSqlLit(p: Array[Double]): String =
    p.mkString("[", ", ", "]")

  private val sigSql: String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql("embedding", planeSqlLit(p))} >= 0.0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** PQ encode CTEs: `sub(vec_id, m, sv)` (M=4 sub-slices of 16 dims),
    * `<seeds>(sm, seed_id, se)` (the vec_id < 16 sub-codebooks),
    * `<scored>(vec_id, m, seed_id, c)` (sub-cosine to every seed of the
    * subspace), `best` (argmax rank, ties to the smaller seed) and, with
    * `codes`, `codes(vec_id, m, seed_id)` — the [[pqCodes]] recipe.
    * Shared by ext_pq_encode, ext_pq_adc, ext_pq_recall and
    * ext_ivfpq_adc; the CTE names are parameters because those entries
    * were published with different ones. */
  private def pqCodesSql(seeds: String = "seeds", scored: String = "scored0",
                         codes: Boolean = true): String = {
    val codesCte =
      if (codes) ",\ncodes AS (SELECT vec_id, m, seed_id FROM best WHERE rn = 1)"
      else ""
    s"""sub AS (
       |  SELECT vec_id, CAST(r.m AS INTEGER) AS m,
       |    embedding[CAST(r.m * 16 + 1 AS INTEGER):CAST((r.m + 1) * 16 AS INTEGER)] AS sv
       |  FROM embeddings CROSS JOIN range(0, 4) r(m)),
       |$seeds AS (
       |  SELECT m AS sm, vec_id AS seed_id, sv AS se FROM sub WHERE vec_id < 16),
       |$scored AS (
       |  SELECT vec_id, m, seed_id, ${cosSql("sv", "se")} AS c
       |  FROM sub JOIN $seeds ON m = sm),
       |best AS (
       |  SELECT vec_id, m, seed_id,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY c DESC, seed_id) AS rn
       |  FROM $scored)$codesCte""".stripMargin
  }

  /** [[pqCodesSql]] plus the ADC scoring CTEs `q` (query sub-slices),
    * `sc` (per-subspace inner products with each candidate's code
    * centroid) and `g(qid, cid, adc_score)` — the [[adcScores]] recipe,
    * sums in fixed m-order. Shared by ext_pq_adc and ext_pq_recall. */
  private val pqAdcSql: String =
    s"""${pqCodesSql()},
       |q AS (SELECT vec_id AS qid, m AS qm, sv AS qv FROM sub WHERE vec_id < 10),
       |sc AS (
       |  SELECT q.qid, c.vec_id AS cid, c.m, ${dotSql("qv", "se")} AS p,
       |    ${dotSql("se", "se")} AS nn
       |  FROM codes c
       |  JOIN seeds s ON c.m = s.sm AND c.seed_id = s.seed_id
       |  JOIN q ON c.m = q.qm
       |  WHERE q.qid <> c.vec_id),
       |g AS (
       |  SELECT qid, cid,
       |    round((max(CASE WHEN m = 0 THEN p END) + max(CASE WHEN m = 1 THEN p END)
       |         + max(CASE WHEN m = 2 THEN p END) + max(CASE WHEN m = 3 THEN p END))
       |      / sqrt(max(CASE WHEN m = 0 THEN nn END) + max(CASE WHEN m = 1 THEN nn END)
       |           + max(CASE WHEN m = 2 THEN nn END) + max(CASE WHEN m = 3 THEN nn END)),
       |      6) AS adc_score
       |  FROM sc GROUP BY 1, 2)""".stripMargin

  /** Body of a per-query exact-cosine top-5 CTE over `from`, a join
    * yielding (qid, qe, cid, ce): the [[bruteTop5]] ranking, ties to
    * the smaller cid. `rn` names the rank column. */
  private def cosTop5Sql(from: String, rn: String = "rn"): String =
    s"""  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY ${cosSql("qe", "ce")} DESC, cid) AS $rn
       |    FROM $from)
       |  WHERE $rn <= 5)""".stripMargin

  /** The recall@5 comparison of a `bf(qid, cid)` truth CTE with an
    * `ann(qid, cid)` CTE: CTE `j` and the final per-query SELECT of
    * (qid, n_bf, n_ann, n_overlap, recall_at_5), recall = overlap /
    * n_bf, NULL when n_bf = 0 — the [[recallAt5]] recipe. Shared by
    * ext_ann_recall, ext_ann_multiprobe, ext_ivf_recall and
    * ext_pq_recall. */
  private val recallJoinSql: String =
    """j AS (
      |  SELECT qid, coalesce(bf2.f, 0) AS b, coalesce(an2.f, 0) AS a
      |  FROM (SELECT qid, cid, 1 AS f FROM bf) bf2
      |  FULL OUTER JOIN (SELECT qid, cid, 1 AS f FROM ann) an2
      |    USING (qid, cid))
      |SELECT qid, CAST(sum(b) AS BIGINT) AS n_bf,
      |  CAST(sum(a) AS BIGINT) AS n_ann,
      |  CAST(sum(b * a) AS BIGINT) AS n_overlap,
      |  CASE WHEN sum(b) > 0 THEN
      |    CAST(sum(b * a) AS DOUBLE) / CAST(sum(b) AS DOUBLE)
      |  END AS recall_at_5
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** The whole recall@5 tail when both sides rank by exact cosine:
    * `bf` = [[cosTop5Sql]] over `bfFrom`, `ann` = [[cosTop5Sql]] over
    * the candidate join `annFrom`, then [[recallJoinSql]]. Shared by
    * ext_ann_recall, ext_ann_multiprobe and ext_ivf_recall. */
  private def recallAt5Sql(bfFrom: String, annFrom: String,
                           rn: String = "rn"): String =
    s"""bf AS (
       |${cosTop5Sql(bfFrom, rn)},
       |ann AS (
       |${cosTop5Sql(annFrom, rn)},
       |$recallJoinSql""".stripMargin

  /** `ranked(vec_id, embedding, seed_id, rn)`: the [[ivfRanked]] replay,
    * every vector against the 16 seeds, rn = 1 its home list. Shared by
    * ext_ivfpq_adc, ext_ivf_recall and ext_probe_curve. */
  private val ivfRankedSql: String =
    s"""ranked AS (
       |  SELECT e.vec_id, e.embedding, s.vec_id AS seed_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${cosSql("e.embedding", "s.embedding")} DESC, s.vec_id) AS rn
       |  FROM embeddings e CROSS JOIN
       |    (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) s)""".stripMargin

  /** `assigned(vec_id, [embedding,] list_id)`: the [[ivfAssigned]]
    * replay, each vector's nearest seed; `embedding` carries the vector
    * along. Shared by ext_ann_ivf, ext_semdedup and ext_embedding_drift. */
  private def ivfAssignedSql(embedding: Boolean): String = {
    val (outer, inner) = if (embedding) (" embedding,", " e.embedding,") else ("", "")
    s"""assigned AS (
       |  SELECT vec_id,$outer seed_id AS list_id FROM (
       |    SELECT e.vec_id,$inner s.vec_id AS seed_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.embedding", "s.embedding")} DESC, s.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN
       |      (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) s)
       |  WHERE rn = 1)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // same two-window ranking over the same exact cosines; each DCG term
    // rounded to 12 decimals and decimal-summed so the reduction is
    // order-free on both engines
    "ext_ndcg" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 8 AND c.vec_id >= 8),
         |ranked AS (
         |  SELECT qid, rel,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
         |      AS rn,
         |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid)
         |      AS irn
         |  FROM scored),
         |aggd AS (
         |  SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
         |    SUM(CASE WHEN rn <= 10 THEN CAST(round(
         |      rel / log2(rn + 1.0), 12) AS DECIMAL(18,12))
         |      ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg_d,
         |    SUM(CASE WHEN irn <= 10 THEN CAST(round(
         |      rel / log2(irn + 1.0), 12) AS DECIMAL(18,12))
         |      ELSE CAST(0 AS DECIMAL(18,12)) END) AS idcg_d
         |  FROM ranked GROUP BY qid)
         |SELECT qid, n_rel, CAST(dcg_d AS DOUBLE) AS dcg10,
         |  CAST(idcg_d AS DOUBLE) AS idcg10,
         |  CASE WHEN idcg_d > 0 THEN
         |    round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6)
         |  END AS ndcg10
         |FROM aggd ORDER BY qid""".stripMargin,
    // same broadcast-batch program, label inequality in the join; cosine
    // is the sequential-fold dot both engines compute identically
    "ext_hard_negatives" ->
      s"""SELECT qid, qlabel, cid, clabel, cos, rn FROM (
         |  SELECT qid, qlabel, cid, clabel, cos, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rn
         |  FROM (
         |    SELECT q.vec_id AS qid, q.label AS qlabel,
         |      c.vec_id AS cid, c.label AS clabel,
         |      ${cosSql("q.embedding", "c.embedding")} AS cos
         |    FROM embeddings q JOIN embeddings c
         |      ON q.vec_id < 8 AND c.label <> q.label))
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "ext_embed_audit" ->
      s"""WITH b AS (
         |  SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         |    CAST(round(${dotSql("embedding", "embedding")}, 6)
         |      AS DECIMAL(18,6)) AS sqn
         |  FROM embeddings)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_dims,
         |  min(dim) AS dim_min, max(dim) AS dim_max,
         |  CAST(SUM(CASE WHEN sqn < 0.000001 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_degenerate,
         |  CAST(min(sqn) AS DOUBLE) AS min_sq_norm,
         |  CAST(max(sqn) AS DOUBLE) AS max_sq_norm,
         |  CAST(SUM(sqn) AS DOUBLE) / count(*) AS avg_sq_norm
         |FROM b""".stripMargin,
    "ext_pq_recall" -> {
      val bfFrom = """bq JOIN (SELECT vec_id AS cid, embedding AS ce
                     |                  FROM embeddings) c ON qid <> cid""".stripMargin
      s"""WITH $pqAdcSql,
         |ann AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_score DESC, cid) AS rn FROM g)
         |  WHERE rn <= 5),
         |bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < 10),
         |bf AS (
         |${cosTop5Sql(bfFrom)},
         |$recallJoinSql""".stripMargin
    },
    // integer micropoints (1e6 div (60+rank)) keep the fused score exact
    "ext_hybrid_rank" ->
      s"""WITH s10 AS (
         |  SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY score DESC, doc_id) AS INTEGER) AS sparse_rank
         |  FROM (${TextAnalysis.oracles("ext_bm25")}) b),
         |d0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d10 AS (
         |  SELECT doc_id, CAST(rd AS INTEGER) AS dense_rank FROM (
         |    SELECT e.vec_id AS doc_id,
         |      row_number() OVER (ORDER BY ${cosSql("e.embedding", "qe")}
         |        DESC, e.vec_id) AS rd
         |    FROM embeddings e CROSS JOIN d0)
         |  WHERE rd <= 10)
         |SELECT doc_id, sparse_rank, dense_rank,
         |  CAST(coalesce(1000000 // (60 + sparse_rank), 0)
         |     + coalesce(1000000 // (60 + dense_rank), 0) AS BIGINT)
         |    AS rrf_points
         |FROM s10 FULL OUTER JOIN d10 USING (doc_id)
         |ORDER BY rrf_points DESC, doc_id LIMIT 10""".stripMargin,
    "ext_ann_recall" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding, $sigSql AS sig FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, sig AS qsig
         |      FROM base WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, embedding AS ce, sig AS csig FROM base),
         |${recallAt5Sql("q JOIN c ON qid <> cid", "q JOIN c ON qsig = csig AND qid <> cid")}""".stripMargin,
    "ext_ann_multiprobe" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding, $sigSql AS sig FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, sig AS qsig
         |      FROM base WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, embedding AS ce, sig AS csig FROM base),
         |pr AS (
         |  SELECT qid, qe, unnest([qsig, xor(qsig, 1), xor(qsig, 2),
         |    xor(qsig, 4), xor(qsig, 8), xor(qsig, 16), xor(qsig, 32)])
         |    AS probe
         |  FROM q),
         |${recallAt5Sql("q JOIN c ON qid <> cid", "pr JOIN c ON probe = csig AND qid <> cid")}""".stripMargin,
    "ext_pq_encode" ->
      s"""WITH ${pqCodesSql(scored = "scored", codes = false)}
         |SELECT vec_id,
         |  max(CASE WHEN m = 0 THEN seed_id END) AS c0,
         |  max(CASE WHEN m = 1 THEN seed_id END) AS c1,
         |  max(CASE WHEN m = 2 THEN seed_id END) AS c2,
         |  max(CASE WHEN m = 3 THEN seed_id END) AS c3
         |FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_pq_adc" ->
      s"""WITH $pqAdcSql,
         |r AS (
         |  SELECT qid, cid, adc_score,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_score DESC, cid) AS INTEGER) AS rn
         |  FROM g)
         |SELECT qid, cid, adc_score, rn FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // IVFADC composition: the ann_ivf coarse-quantizer CTEs (home cell +
    // nprobe=2 probe lists) fused with the pq_adc encode/ADC CTEs; a
    // candidate's home cell is unique so each (qid, cid) pair appears
    // through exactly one probe
    "ext_ivfpq_adc" ->
      s"""WITH $ivfRankedSql,
         |home AS (SELECT vec_id, seed_id AS list_id FROM ranked WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, seed_id AS plist,
         |    CAST(rn AS INTEGER) AS probe_rank
         |  FROM ranked WHERE vec_id < 10 AND rn <= 2),
         |${pqCodesSql(seeds = "pseeds")},
         |qsub AS (SELECT vec_id AS sqid, m AS qm, sv AS qv FROM sub WHERE vec_id < 10),
         |sc AS (
         |  SELECT p.qid, c.vec_id AS cid, h.list_id, p.probe_rank, c.m,
         |    ${dotSql("qv", "se")} AS pp, ${dotSql("se", "se")} AS nn
         |  FROM codes c
         |  JOIN home h ON c.vec_id = h.vec_id
         |  JOIN probes p ON h.list_id = p.plist AND p.qid <> c.vec_id
         |  JOIN pseeds s ON c.m = s.sm AND c.seed_id = s.seed_id
         |  JOIN qsub q ON c.m = q.qm AND p.qid = q.sqid),
         |g AS (
         |  SELECT qid, cid, list_id, probe_rank,
         |    round((max(CASE WHEN m = 0 THEN pp END) + max(CASE WHEN m = 1 THEN pp END)
         |         + max(CASE WHEN m = 2 THEN pp END) + max(CASE WHEN m = 3 THEN pp END))
         |      / sqrt(max(CASE WHEN m = 0 THEN nn END) + max(CASE WHEN m = 1 THEN nn END)
         |           + max(CASE WHEN m = 2 THEN nn END) + max(CASE WHEN m = 3 THEN nn END)),
         |      6) AS adc_score
         |  FROM sc GROUP BY 1, 2, 3, 4),
         |r AS (
         |  SELECT qid, cid, list_id, probe_rank, adc_score,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_score DESC, cid) AS INTEGER) AS rn
         |  FROM g)
         |SELECT qid, cid, list_id, probe_rank, adc_score, rn FROM r WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // SemDeDup cell report: same coarse-assignment CTE, within-cell
    // lower-id neighbor EXISTS via a DISTINCT pair join
    "ext_semdedup" ->
      s"""WITH ${ivfAssignedSql(embedding = true)},
         |dropped AS (
         |  SELECT DISTINCT a.list_id, b.vec_id AS idb
         |  FROM assigned a JOIN assigned b
         |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
         |cells AS (
         |  SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM assigned GROUP BY 1),
         |dc AS (
         |  SELECT list_id, CAST(count(*) AS BIGINT) AS nd FROM dropped GROUP BY 1)
         |SELECT c.list_id, c.n_vectors,
         |  CAST(coalesce(dc.nd, 0) AS BIGINT) AS n_dropped,
         |  CAST(c.n_vectors - coalesce(dc.nd, 0) AS BIGINT) AS n_kept
         |FROM cells c LEFT JOIN dc ON c.list_id = dc.list_id
         |ORDER BY c.list_id""".stripMargin,
    // MRL: prefix-slice cosine per config m, per-(m,qid) top-5, truth =
    // the m=64 slice of the same ranking; all-integer report
    "ext_mrl_recall" ->
      s"""WITH dims AS (
         |  SELECT CAST(m AS INTEGER) AS m FROM (VALUES (8),(16),(32),(64)) t(m)),
         |q AS (SELECT vec_id AS qid, embedding AS qe
         |      FROM embeddings WHERE vec_id < 10),
         |sl AS (
         |  SELECT d.m, q.qid, e.vec_id AS cid,
         |    q.qe[1:d.m] AS qs, e.embedding[1:d.m] AS cs
         |  FROM embeddings e CROSS JOIN q CROSS JOIN dims d
         |  WHERE q.qid <> e.vec_id),
         |sc AS (
         |  SELECT m, qid, cid,
         |    CASE WHEN ${dotSql("qs", "qs")} > 0 AND ${dotSql("cs", "cs")} > 0
         |      THEN ${dotSql("qs", "cs")} /
         |           (sqrt(${dotSql("qs", "qs")}) * sqrt(${dotSql("cs", "cs")}))
         |      ELSE 0.0 END AS cos
         |  FROM sl),
         |top AS (
         |  SELECT m, qid, cid FROM (
         |    SELECT m, qid, cid, row_number() OVER (
         |      PARTITION BY m, qid ORDER BY cos DESC, cid) AS rn FROM sc)
         |  WHERE rn <= 5),
         |truth AS (SELECT qid, cid FROM top WHERE m = 64),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |ov AS (SELECT m, CAST(count(*) AS BIGINT) AS n_overlap
         |       FROM top JOIN truth USING (qid, cid) GROUP BY 1)
         |SELECT d.m, nt.n_truth,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CASE WHEN nt.n_truth > 0 THEN
         |    CAST(coalesce(ov.n_overlap, 0) * 1000000 // nt.n_truth AS BIGINT)
         |  END AS recall_ppm
         |FROM dims d LEFT JOIN ov ON d.m = ov.m CROSS JOIN nt
         |ORDER BY d.m""".stripMargin,
    // SQ8: per-dim min/max grid, floor-encode, (code+0.5) midpoint
    // reconstruction cast to FLOAT, then the standard cosine-ADC ranking
    "ext_sq8_adc" ->
      s"""WITH dims AS (
         |  SELECT vec_id, CAST(r.d AS INTEGER) AS dim,
         |    embedding[CAST(r.d + 1 AS INTEGER)] AS v
         |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
         |stats AS (
         |  SELECT dim, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx
         |  FROM dims GROUP BY 1),
         |rec AS (
         |  SELECT d.vec_id, d.dim,
         |    CAST(s.mn + ((CASE WHEN s.mx > s.mn
         |      THEN least(floor(((CAST(d.v AS DOUBLE) - s.mn) * 256.0)
         |                       / (s.mx - s.mn)), 255.0)
         |      ELSE 0.0 END) + 0.5) * (s.mx - s.mn) / 256.0 AS FLOAT) AS rv
         |  FROM dims d JOIN stats s USING (dim)),
         |recon AS (
         |  SELECT vec_id, list(rv ORDER BY dim) AS re FROM rec GROUP BY 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe
         |      FROM embeddings WHERE vec_id < 10),
         |sc AS (
         |  SELECT qid, r.vec_id AS cid,
         |    CASE WHEN ${dotSql("re", "re")} > 0
         |      THEN round(${dotSql("qe", "re")} / sqrt(${dotSql("re", "re")}), 6)
         |      ELSE 0.0 END AS adc_score
         |  FROM recon r JOIN q ON qid <> r.vec_id),
         |rk AS (
         |  SELECT qid, cid, adc_score,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adc_score DESC, cid) AS INTEGER) AS rn
         |  FROM sc)
         |SELECT qid, cid, adc_score, rn FROM rk WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    "ext_knn_cosine" ->
      s"""SELECT qid, cid, cos, rn FROM (
         |  SELECT qid, cid, cos, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rn
         |  FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid,
         |      ${cosSql("q.embedding", "c.embedding")} AS cos
         |    FROM embeddings q JOIN embeddings c
         |      ON q.vec_id < 10 AND c.vec_id <> q.vec_id))
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "ext_embed_neardup" ->
      s"""SELECT a.vec_id AS a, b.vec_id AS b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY a, b""".stripMargin,
    "ext_ivf_recall" -> {
      val bfFrom = """q JOIN (SELECT vec_id AS cid, embedding AS ce
                     |                 FROM embeddings) ca ON qid <> cid""".stripMargin
      s"""WITH $ivfRankedSql,
         |c AS (SELECT vec_id AS cid, embedding AS ce, seed_id AS list_id
         |      FROM ranked WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |qp AS (SELECT vec_id AS qid, embedding AS qe, seed_id AS plist
         |       FROM ranked WHERE vec_id < 10 AND rn <= 2),
         |${recallAt5Sql(bfFrom, "qp JOIN c ON plist = list_id AND qid <> cid", rn = "trn")}""".stripMargin
    },
    // ann_ivf's assignment replay, probed at rn<=4, one candidate join
    // fanned to the four configs by the probe_rank <= probes filter
    "ext_probe_curve" ->
      s"""WITH $ivfRankedSql,
         |c AS (SELECT vec_id AS cid, embedding AS ce, seed_id AS list_id
         |      FROM ranked WHERE rn = 1),
         |qp AS (SELECT vec_id AS qid, embedding AS qe, seed_id AS plist,
         |         rn AS probe_rank
         |       FROM ranked WHERE vec_id < 10 AND rn <= 4),
         |scored AS (
         |  SELECT qp.qid, c.cid, qp.probe_rank,
         |    ${cosSql("qp.qe", "c.ce")} AS cos
         |  FROM qp JOIN c ON qp.plist = c.list_id AND qp.qid <> c.cid),
         |cfg(probes) AS (SELECT * FROM (VALUES (1), (2), (3), (4)) v(p)),
         |pc AS (SELECT CAST(probes AS BIGINT) AS probes, qid, cid, cos
         |       FROM scored JOIN cfg ON probe_rank <= probes),
         |ann AS (SELECT probes, qid, cid FROM (
         |    SELECT probes, qid, cid, row_number() OVER (
         |      PARTITION BY probes, qid ORDER BY cos DESC, cid) AS trn
         |    FROM pc) WHERE trn <= 5),
         |bf0 AS (SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, c2.vec_id AS cid, row_number() OVER (
         |      PARTITION BY q.vec_id ORDER BY
         |        ${cosSql("q.embedding", "c2.embedding")} DESC, c2.vec_id)
         |      AS trn
         |    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
         |    JOIN embeddings c2 ON q.vec_id <> c2.vec_id) WHERE trn <= 5),
         |bf AS (SELECT CAST(probes AS BIGINT) AS probes, qid, cid
         |       FROM bf0 CROSS JOIN cfg),
         |j AS (SELECT probes, coalesce(b.flag, 0) AS b, coalesce(a.flag, 0) AS a
         |  FROM (SELECT probes, qid, cid, 1 AS flag FROM bf) b
         |  FULL OUTER JOIN (SELECT probes, qid, cid, 1 AS flag FROM ann) a
         |    USING (probes, qid, cid)),
         |ov AS (SELECT probes, CAST(SUM(b) AS BIGINT) AS n_truth,
         |         CAST(SUM(b * a) AS BIGINT) AS n_overlap
         |       FROM j GROUP BY 1),
         |cost AS (SELECT probes, CAST(count(*) AS BIGINT) AS n_cand
         |         FROM pc GROUP BY 1)
         |SELECT CAST(cfg.probes AS BIGINT) AS probes,
         |  CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
         |  CAST(COALESCE(n_truth, 0) AS BIGINT) AS n_truth,
         |  CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CASE WHEN COALESCE(n_truth, 0) > 0
         |    THEN CAST(n_overlap AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |  END AS recall_at_5
         |FROM cfg LEFT JOIN ov ON ov.probes = cfg.probes
         |LEFT JOIN cost ON cost.probes = cfg.probes
         |ORDER BY probes""".stripMargin,
    // ann_ivf's assignment replay reduced to cell-grain snapshot
    // occupancy (vec_id parity = snapshot id) + TVD window
    "ext_embedding_drift" ->
      s"""WITH ${ivfAssignedSql(embedding = false)},
         |c AS (
         |  SELECT list_id,
         |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM assigned GROUP BY 1),
         |t AS (
         |  SELECT *, CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,
         |    CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b
         |  FROM c),
         |v AS (
         |  SELECT list_id, n_a, n_b,
         |    CAST(n_a * 1000000 // greatest(tot_a, 1) AS BIGINT)
         |      AS share_a_ppm,
         |    CAST(n_b * 1000000 // greatest(tot_b, 1) AS BIGINT)
         |      AS share_b_ppm
         |  FROM t)
         |SELECT list_id, n_a, n_b, share_a_ppm, share_b_ppm,
         |  CAST(abs(share_a_ppm - share_b_ppm) AS BIGINT) AS abs_diff_ppm,
         |  CAST(SUM(abs(share_a_ppm - share_b_ppm)) OVER () // 2 AS BIGINT)
         |    AS tvd_ppm
         |FROM v ORDER BY list_id""".stripMargin,
    "ext_ann_ivf" ->
      s"""WITH ${ivfAssignedSql(embedding = true)}
         |SELECT qid, cid, list_id, cos, rn FROM (
         |  SELECT qid, cid, list_id, cos, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rn
         |  FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid, q.list_id,
         |      ${cosSql("q.embedding", "c.embedding")} AS cos
         |    FROM assigned q JOIN assigned c
         |      ON q.list_id = c.list_id AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10))
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "ext_ann_lsh" ->
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding, $sigSql AS sig FROM embeddings)
         |SELECT qid, cid, bucket, cos, rn FROM (
         |  SELECT qid, cid, bucket, cos, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rn
         |  FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid, q.sig AS bucket,
         |      ${cosSql("q.embedding", "c.embedding")} AS cos
         |    FROM sigs q JOIN sigs c
         |      ON q.sig = c.sig AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10))
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
}
