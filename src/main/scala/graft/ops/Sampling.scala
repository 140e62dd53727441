package graft.ops

import graft.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-composition operators for LLM-training-data pipelines
  * (BASELINE.json extension mandate, sibling of [[Curation]]): stratified
  * sampling, domain-mixture reweighting, and sequence packing. All three
  * are deterministic — selection is driven by the engine-portable
  * [[Dedup.hash60]] (md5-prefix) instead of a PRNG, so DuckDB replays
  * every decision bit-for-bit and the driver hash-compares full results.
  *
  * Scale notes: `ext_stratified_sample` shuffles once on the stratum key
  * and relies on Spark 4's WindowGroupLimit rewrite to turn the
  * rank-≤-k filter into per-partition top-k heaps (no full stratum
  * sort materialization). `ext_domain_mix` is a pure map stage plus a
  * source-cardinality aggregate; the per-domain rates are DERIVED
  * per-row (hash of the source name), not joined from a dim table, so
  * there is nothing to broadcast. `ext_seq_pack` packs per-source, the
  * sharded form used in practice: each source's running token total is
  * an independent window, so parallelism = number of sources and no
  * global ordering barrier exists (a single global pack would serialize
  * the corpus through one partition — deliberately avoided).
  */
object Sampling {

  private val ChunkTokens = 512

  /** Portable decision hash, namespaced per operator so the three
    * operators' choices are mutually independent. */
  private def decide(ns: String, c: Column): Column =
    Dedup.hash60(concat(lit(ns), c.cast("string")))

  /** E9 — exact-k stratified sample: the k lexicographically-smallest
    * decision hashes per source. Equivalent to uniform-without-
    * replacement at fixed k per stratum, but replayable. */
  val extStratifiedSample: Q = (s, d) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(decide("ss|", col("doc_id")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .orderBy(col("source"), col("rn"))
  }

  /** E10 — domain-mixture reweighting: every doc keeps iff its decision
    * hash mod 1000 clears the per-source rate (itself hash-derived, a
    * stand-in for configured mixture weights). Emits per-source audit
    * counts and the kept token mass — the numbers a mixture tuner reads. */
  val extDomainMix: Q = (s, d) => {
    val ratePm = pmod(decide("rate|", col("source")), lit(1000L)) % 800 + 100
    val keep = pmod(decide("mix|", col("doc_id")), lit(1000L)) < col("rate_pm")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rate_pm", ratePm)
      .withColumn("keep", keep)
      .groupBy(col("source"), col("rate_pm"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("source"))
  }

  /** E11 — sequence packing (concat-then-chunk, the pretraining shape):
    * docs are concatenated per source in doc_id order and cut into
    * fixed-size token chunks; each doc learns its chunk id and whether
    * it straddles a chunk boundary (= would be split across training
    * sequences). Pure prefix-sum window — no driver state. */
  val extSeqPack: Q = (s, d) => {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok").cast("long")).over(w))
      .select(
        col("doc_id"), col("source"), col("n_tok"),
        (col("cum_tok") - col("n_tok")).as("start_pos"),
        expr(s"(cum_tok - n_tok) div $ChunkTokens").as("chunk_id"),
        (expr(s"(cum_tok - n_tok) div $ChunkTokens") =!=
          expr(s"(cum_tok - 1) div $ChunkTokens")).as("straddles"))
      .orderBy(col("doc_id"))
  }

  /** E73b — right-to-be-forgotten propagation audit (the GDPR/CCPA
    * delete every production corpus owner eventually runs): a
    * deterministic deletion set (decision-hash mod 37 = 0, ~2.7% of
    * docs — replayable, like every sampling decision here) is
    * propagated through the [[extSeqPack]] packed layout, and the
    * audit reports per source what the delete actually invalidates:
    * doc and token counts, and — the expensive truth — how many
    * 512-token PACKED CHUNKS contain at least one deleted token
    * (every such training sequence must be rebuilt or tombstoned;
    * a doc deletes ~n_tok/512 + 1 chunks, so invalidated_ppm ≫
    * deleted-doc permille — concat-packing smears deletions across
    * sequence boundaries, which is exactly why this audit exists
    * before a delete is promised to a regulator).
    *
    * Scale shape: the same source-partitioned prefix-sum window as
    * [[extSeqPack]] (ORDER BY the unique doc_id), then a per-deleted-doc
    * chunk-range explode (≤ n_tok/512 + 1 rows per deleted doc —
    * token-mass-bounded, ~2.7% selected) → distinct → source-grain
    * counts. Integer end to end; the ppm multiply is widened to
    * decimal(38,0)/HUGEINT so 100 TB chunk counts cannot overflow. */
  val extRtbfPropagation: Q = (s, d) => {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"),
              (pmod(decide("rtbf|", col("doc_id")), lit(37L)) === 0L)
                .as("del"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
    val affected = base.filter(col("del"))
      .select(col("source"),
        explode(sequence(
          expr(s"(cum_tok - n_tok) div $ChunkTokens"),
          expr(s"(cum_tok - 1) div $ChunkTokens"))).as("chunk_id"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("chunks_affected"))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("del"), 1L).otherwise(0L)).as("n_deleted"),
           sum(col("n_tok")).as("tokens_total"),
           sum(when(col("del"), col("n_tok")).otherwise(0L))
             .as("tokens_deleted"),
           expr(s"(max(cum_tok) - 1) div $ChunkTokens + 1")
             .as("chunks_total"))
      .join(affected, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_deleted"),
              col("tokens_total"), col("tokens_deleted"),
              col("chunks_total"),
              coalesce(col("chunks_affected"), lit(0L)).as("chunks_affected"),
              expr("CAST(coalesce(chunks_affected, 0) AS DECIMAL(38,0)) " +
                   "* 1000000 div chunks_total").as("invalidated_ppm"))
      .orderBy(col("source"))
  }

  /** E18 — sliding-window chunking WITH overlap (window 128 tokens,
    * stride 96): the retrieval/pretraining complement of [[extSeqPack]]'s
    * disjoint concat-then-chunk — each document yields
    * ⌈n_tok/stride⌉-ish overlapping chunks carrying their actual text.
    * Pure per-row explode: no shuffle at all until the presentation
    * sort; chunk count scales with token mass, each chunk built by an
    * array slice on the executor. */
  val extChunkOverlap: Q = (s, d) => {
    val win = 128
    val stride = 96
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .select(col("doc_id"), col("n_tok"), col("tk"),
              posexplode(sequence(lit(0), col("n_tok") - 1, lit(stride))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "start_tok")
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
              least(lit(win), col("n_tok") - col("start_tok"))
                .as("n_chunk_tok"),
              concat_ws(" ",
                slice(col("tk"), col("start_tok") + 1, lit(win)))
                .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** E63 — RAG context packing: the retrieve-and-fit step between a
    * query and a context window — [[extChunkOverlap]]'s 128/96 chunks
    * are scored for the fixed 3-term query (integer term-occurrence
    * count), the top candidates ranked, and greedily packed into a
    * 512-token budget (a chunk ships only if it fits whole). Composes
    * three shipped primitives (chunking, lexical scoring, budget
    * window) into the operator a RAG serving layer actually runs.
    * Scale shape: scoring is per-chunk map work; candidate selection
    * is TakeOrdered top-64 (never a global rank of all chunks); the
    * pack window runs over ≤64 rows. */
  val extRagPack: Q = (s, d) => {
    val terms = Seq("hash", "join", "vector")
    val win = 128
    val stride = 96
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .select(col("doc_id"), col("n_tok"),
              posexplode(sequence(lit(0), col("n_tok") - 1, lit(stride))),
              col("tk"))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "start_tok")
      .select(col("doc_id"), col("chunk_idx"),
              least(lit(win), col("n_tok") - col("start_tok"))
                .as("n_chunk_tok"),
              size(filter(slice(col("tk"), col("start_tok") + 1, lit(win)),
                          t => terms.map(t === _).reduce(_ || _)))
                .cast("long").as("score"))
      .filter(col("score") > 0)
    val top = scored
      .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
      .limit(64)
    val wRank = Window.orderBy(col("score").desc, col("doc_id"),
                               col("chunk_idx"))
    top
      .withColumn("rank", row_number().over(wRank))
      .withColumn("cum_tok",
        sum(col("n_chunk_tok").cast("long")).over(
          wRank.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tok") <= 512)
      .select(col("rank"), col("doc_id"), col("chunk_idx"), col("score"),
              col("n_chunk_tok"), col("cum_tok"))
      .orderBy(col("rank"))
  }

  /** E67 — DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * per-document log importance weight log p_target(x) − log p_raw(x)
    * under hashed-unigram bag-of-words models with add-1 smoothing —
    * the score DSIR Gumbel-top-k resamples on to tilt a raw crawl
    * toward a target domain (here: the corpus's `lang = 'en'` slice
    * stands in for the target sample). Feature space = 64 hash buckets
    * of [[Dedup.hash60]] tokens, so both engines build bit-identical
    * count models.
    *
    * Engine-exactness: each bucket's log-ratio is computed ONCE at
    * feature grain (64 rows) and quantized to integer micro-nats via
    * floor(1e6·ln r) — identical double expression structure on both
    * sides, and the per-document reduction Σ c_f·unats_f is then a pure
    * BIGINT sum, immune to reduction order. Division stays in doubles
    * (counts at 100 TB overflow a BIGINT product; double products round
    * identically in both engines for the same expression tree).
    *
    * Scale shape: one token-grain explode feeding (a) a 64-row feature
    * model (map-side partial aggregation collapses each partition to
    * ≤64 rows before the shuffle) and (b) a doc-grain sum; the model
    * broadcasts back. No shuffle carries text, only (doc_id, bucket). */
  val extDsirWeights: Q = (s, d) => {
    // materialized once (r14): the token-grain explode + per-token md5
    // feeds FOUR distinct exchanges below (raw, tgt, tot, the final
    // doc-grain join) and re-executed per consumer lazily
    val tb = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
              explode(split(lower(col("text")), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
              pmod(Dedup.hash60(concat(lit("dsir|"), col("tok"))), lit(64L))
                .as("bucket"))
      .localCheckpoint()
    val raw = tb.groupBy(col("bucket")).agg(count(lit(1)).as("r_f"))
    val tgt = tb.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("t_f"))
    val tot = tb.agg(count(lit(1)).as("rr"),
                     sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"))
    val feat = raw.join(tgt, Seq("bucket"), "left").crossJoin(broadcast(tot))
      .select(col("bucket"),
              floor(lit(1000000.0) * log(
                ((coalesce(col("t_f"), lit(0L)) + 1).cast("double") *
                  (col("rr") + 64).cast("double")) /
                ((col("r_f") + 1).cast("double") *
                  (col("tt") + 64).cast("double")))).as("unats"))
    tb.join(broadcast(feat), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("unats")).as("weight_unats"))
      .orderBy(col("doc_id"))
  }

  /** E72 — Jensen–Shannon divergence between per-source unigram
    * distributions (Lin 1991) over the same 64-bucket hashed-unigram
    * feature space as [[extDsirWeights]] — the standard "how far apart
    * are these domains" diagnostic a data-mixing run reads before
    * setting [[extDomainMix]] weights (near-duplicate domains waste
    * mixture slots; JSD ≈ ln 2 domains contribute disjoint coverage).
    *
    * Exactness contract: the per-bucket log-ratios ln(2·na·B /
    * (na·B + nb·A)) are computed from EXACT integer products widened
    * to decimal(38,0) / HUGEINT (per-source token totals near 1e10
    * push na·B-scale products past 2⁶³, where ANSI mode would throw —
    * the widening keeps the products exact to 38 digits) and quantized
    * ONCE at bucket grain to micro-nats — floor(1e6·ln r) of an
    * identical double both engines (the DSIR idiom) — so each side's
    * reduction Σ n·unats is a pure BIGINT sum; the two normalizations
    * leave integer space through split-sign floor-divides (the
    * agg_weighted idiom). Identical distributions hit ratio exactly 1
    * → 0 micro-nats; fully disjoint supports give the ln 2 ceiling.
    *
    * Scale shape: token grain collapses immediately to (source ×
    * 64-bucket) count grain; the pair frame is source-domain² (bounded
    * config grain), the grid ≤ pairs × 64 rows — everything after the
    * one token-grain groupBy is broadcast-sized. */
  val extJsdDomains: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("source"),
              explode(split(lower(col("text")), " ")).as("tok"))
      .select(col("source"),
              pmod(Dedup.hash60(concat(lit("jsd|"), col("tok"))), lit(64L))
                .as("bucket"))
    // materialized once (r14): ≤ |sources|·64 rows, but its lineage is
    // the token-grain explode + md5 groupBy, read by totals/ca/cb
    val c = tok.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = c.groupBy(col("source")).agg(sum(col("n")).as("tot"))
    val pairs = totals
      .select(col("source").as("source_a"), col("tot").as("ta"))
      .join(totals.select(col("source").as("source_b"), col("tot").as("tb")),
            col("source_a") < col("source_b"))
    val buckets = s.range(64).select(col("id").as("bucket"))
    val ca = c.select(col("source").as("source_a"), col("bucket"),
                      col("n").as("na"))
    val cb = c.select(col("source").as("source_b"), col("bucket"),
                      col("n").as("nb"))
    val grid = pairs.crossJoin(broadcast(buckets))
      .join(ca, Seq("source_a", "bucket"), "left")
      .join(cb, Seq("source_b", "bucket"), "left")
      .select(col("source_a"), col("source_b"), col("ta"), col("tb"),
              coalesce(col("na"), lit(0L)).as("na"),
              coalesce(col("nb"), lit(0L)).as("nb"))
    // All integer products widened to decimal(38,0) (HUGEINT in the
    // oracle): per-source token totals of ~1e10 push ta*tb-scale
    // products past 2^63, which under ANSI mode would THROW rather than
    // silently diverge (round-8 advice item). decimal multiply is exact;
    // the single decimal→double rounding before ln() is IEEE-nearest in
    // both engines, so the micro-nat floor stays bit-identical.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    grid
      .select(col("source_a"), col("source_b"), col("ta"), col("tb"),
        col("na"), col("nb"),
        when(col("na") > 0,
             floor(lit(1000000.0) * log(
               (dec(col("na")) * col("tb") * lit(2L)).cast("double") /
               (dec(col("na")) * col("tb") + dec(col("nb")) * col("ta"))
                 .cast("double")))).otherwise(lit(0L)).as("ua"),
        when(col("nb") > 0,
             floor(lit(1000000.0) * log(
               (dec(col("nb")) * col("ta") * lit(2L)).cast("double") /
               (dec(col("na")) * col("tb") + dec(col("nb")) * col("ta"))
                 .cast("double")))).otherwise(lit(0L)).as("ub"))
      .groupBy(col("source_a"), col("source_b"), col("ta"), col("tb"))
      .agg(sum(dec(col("na")) * col("ua")).as("sa"),
           sum(dec(col("nb")) * col("ub")).as("sb"))
      .select(col("source_a"), col("source_b"),
              col("ta").as("n_tokens_a"), col("tb").as("n_tokens_b"),
              (when(col("sa") < 0, -1L).otherwise(1L) *
                 expr("abs(sa) div (2 * ta)") +
               when(col("sb") < 0, -1L).otherwise(1L) *
                 expr("abs(sb) div (2 * tb)")).as("jsd_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** E19 — dataset card: the per-language corpus summary every dataset
    * release ships (docs, sources, token mass, exact-dup incidence).
    * One window over text (the dup probe shuffles 32-byte-hash-sized
    * keys conceptually; here the text key itself — at 100 TB swap the
    * partition key for sha2(text) with identical grouping) and one
    * aggregate to language grain. */
  val extDatasetCard: Q = (s, d) => {
    val w = Window.partitionBy(col("text"))
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
              size(split(col("text"), " ")).as("n_tok"), col("text"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           count_distinct(col("source")).as("n_sources"),
           sum(col("n_tok").cast("long")).as("total_tokens"),
           sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .orderBy(col("lang"))
  }

  /** E26 — reproducible train/val/test split (80/10/10): assignment is
    * the decision hash mod 10, so membership is a pure function of the
    * row key — stable under re-partitioning, appends, and re-runs, which
    * is what makes it auditable (the reference's 80/20 split views pin
    * the same property via `trip_id % 5` —
    * `/root/reference/sql/ml_feature_engineering.sql:468-519`). Emits
    * the per-(source, split) audit counts; the full assignment is the
    * same expression un-aggregated. Pure map + one count shuffle. */
  val extHashSplit: Q = (s, d) => {
    val bucket = pmod(decide("split|", col("doc_id")), lit(10L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("split",
        when(bucket <= 7, lit("train"))
          .when(bucket === 8, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))
  }

  /** E31 — split-bias audit: total-variation distance between each
    * split's language mix and the corpus mix — the check that the
    * key-hash split ([[extHashSplit]], same `split|` namespace) did not
    * correlate with a content attribute. TVD = ½·Σ|p_split − p_corpus|
    * over exact counts: each |Δp| term is a fixed double expression of
    * exact longs, quantized to 12 decimals and decimal-summed (the
    * order-free reduction), then halved — bit-identical cross-engine.
    * Two count aggregates and a broadcast-sized join of
    * (splits × langs) frames; nothing scales with rows. */
  val extSplitBias: Q = (s, d) => {
    val bucket = pmod(decide("split|", col("doc_id")), lit(10L))
    val tagged = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("split",
        when(bucket <= 7, lit("train"))
          .when(bucket === 8, lit("val"))
          .otherwise(lit("test")))
    // full splits × langs grid: a lang MISSING from a split contributes
    // |0 − p_corpus| — an inner join would silently drop exactly the
    // cells where the bias is largest
    val bySplit = tagged.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val splitTot = tagged.groupBy(col("split")).agg(count(lit(1)).as("n_split"))
    val corpus = tagged.groupBy(col("lang")).agg(count(lit(1)).as("cn"))
      .crossJoin(broadcast(
        Tables.documents(s, d).agg(count(lit(1)).as("ct"))))
    splitTot.crossJoin(corpus)
      .join(bySplit, Seq("split", "lang"), "left")
      .select(col("split"),
        round(abs(coalesce(col("n"), lit(0L)).cast("double") /
                    col("n_split").cast("double") -
                  col("cn").cast("double") / col("ct").cast("double")), 12)
          .cast("decimal(28,12)").as("term"))
      .groupBy(col("split"))
      .agg((sum(col("term")).cast("double") / 2.0).as("tvd_lang"))
      .orderBy(col("split"))
  }

  /** E38 — chunk-grain exact dedup: the SAME 128/96 sliding chunks
    * [[extChunkOverlap]] emits, hashed and counted — duplicated chunks
    * (overlap regions shared across near-identical docs, boilerplate
    * spans) inflate training data even after doc-level dedup, so
    * packing pipelines dedup at chunk grain too. Per source: chunks,
    * distinct chunk texts, and the duplicate fraction. The group key is
    * the chunk text here; at 100 TB shuffle sha2(chunk) — identical
    * grouping, 32-byte keys. */
  val extChunkDedup: Q = (s, d) => {
    val stride = 96
    val win = 128
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .select(col("doc_id"), col("source"),
              explode(sequence(lit(0), col("n_tok") - 1, lit(stride)))
                .as("start_tok"),
              col("tk"))
      .select(col("source"),
              concat_ws(" ", slice(col("tk"), col("start_tok") + 1, lit(win)))
                .as("chunk_text"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
           count_distinct(col("chunk_text")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        ((col("n_chunks") - col("n_distinct")).cast("double") /
          col("n_chunks").cast("double")).as("dup_fraction"))
      .orderBy(col("source"))
  }

  /** E39 — packing-efficiency audit: for the concat-then-chunk packer
    * ([[extSeqPack]], 512-token sequences per source), the padding
    * waste each source pays — total tokens, full sequences, and the
    * padded-slot fraction (only the last sequence per source carries
    * padding under concat-then-chunk; per-document packing would waste
    * a tail PER DOCUMENT, which is exactly why packers concat first —
    * this entry puts the number on that design choice). Exact integer
    * arithmetic end to end. */
  val extPackEfficiency: Q = (s, d) => {
    val seqLen = ChunkTokens // 512, shared with extSeqPack
    Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("tokens"))
      .select(col("source"), col("tokens"),
        expr(s"(tokens + ${seqLen - 1}) div $seqLen").as("n_seqs"))
      .select(col("source"), col("tokens"), col("n_seqs"),
        ((col("n_seqs") * seqLen - col("tokens")).cast("double") /
          (col("n_seqs") * seqLen).cast("double")).as("pad_fraction"))
      .orderBy(col("source"))
  }

  /** E40 — token-budget selection: the "we can only afford N tokens
    * from this source" cut every mixture recipe ends in (quality-ranked
    * greedy fill, the deterministic cousin of proportional sampling —
    * rank docs per source by a quality key, keep docs while the running
    * token total fits the budget). Rank key is (n_chars DESC, doc_id)
    * — fully deterministic; the running total is a cumulative-sum
    * window per source partition (source-bounded, no skew: each
    * partition is one source's docs); budget utilisation is one
    * division of exact longs. At 100 TB this is exactly the plan you
    * want — the window shuffles each source's (doc_id, n_tok) pairs,
    * never text. */
  val extTokenBudget: Q = (s, d) => {
    val budget = 800L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("cum_tok") <= budget, 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("cum_tok") <= budget, col("n_tok"))
                 .otherwise(0L)).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("tokens_kept"),
              (col("tokens_kept").cast("double") / budget.toDouble)
                .as("budget_util"))
      .orderBy(col("source"))
  }

  /** E44 — deterministic shard assignment + balance audit: every doc maps
    * to `shard = hash60("shard|" + doc_id) mod 64`, and the query emits the
    * per-shard doc count, token mass, and source spread — the numbers a
    * training launcher checks before declaring a corpus "shardable" (a
    * token-imbalanced shard set straggles every epoch). Hash sharding is
    * THE writer-side pattern at 100 TB: it needs no global sort, no
    * coordination, and is stable under reruns and late-arriving docs
    * (unlike round-robin, which renumbers everything). The audit is one
    * map stage + one 64-group aggregate; production then writes with
    * `repartition(64, shard)` + `partitionBy(shard)` and this query IS
    * the balance check on the result. */
  val extShardAssign: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"),
              pmod(decide("shard|", col("doc_id")), lit(64L)).as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("n_tokens"),
           countDistinct(col("source")).as("n_sources"))
      .orderBy(col("shard_id"))

  /** E45 — temperature-balanced source sampling (α = 0.5): per-source
    * quota `max(1, floor(sqrt(n_s)))` docs, chosen by decision-hash rank —
    * the standard mixture-flattening move (UNIMAX / multilingual-sampling
    * style) that stops a 100×-larger web crawl from drowning the curated
    * tail while still letting bigger sources contribute more. All
    * arithmetic is cross-engine exact: `sqrt` is IEEE correctly-rounded on
    * both engines and `floor(sqrt(n))` sits ≥1/(2·sqrt(n)) from the grid
    * except at perfect squares where it is exact. One per-source window
    * (rank) + one aggregate; the rank and count windows share a single
    * source-grain sort (plan-asserted). The quota is data-dependent
    * (a column, not a literal), so Spark's WindowGroupLimit top-k
    * rewrite does NOT apply here — unlike [[extStratifiedSample]]'s
    * constant k; the full stratum sorts once, which is the honest cost
    * of an adaptive quota. */
  val extTemperatureSample: Q = (s, d) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(decide("temp|", col("doc_id")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1))
        .over(Window.partitionBy(col("source"))))
      .withColumn("quota",
        greatest(lit(1L), floor(sqrt(col("n_docs").cast("double")))))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
           max(col("quota")).as("quota"),
           sum(when(col("rn") <= col("quota"), 1L).otherwise(0L))
             .as("n_kept"),
           sum(when(col("rn") <= col("quota"), col("n_chars"))
             .otherwise(0L)).as("chars_kept"))
      .orderBy(col("source"))
  }

  /** E46 — deterministic mixture interleave: the ORDER in which a trainer
    * reads a multi-source corpus, with per-source weights, computed as a
    * dataflow instead of a stateful reader. Each source gets an integer
    * weight `w ∈ 1..8` (hash-derived here, configured in production); doc
    * rank `rk` within its source (decision-hash order) schedules at
    * virtual time `pos = (rk * 840) div w` (840 = lcm(1..8), so all
    * arithmetic stays integer) — a source with weight 2w appears twice as
    * densely in the merged stream, which is exactly weighted round-robin
    * (WFQ virtual finish times). The global merge is a TakeOrdered of the
    * first 60 slots at test scale; a full-corpus emit is a single
    * ORDER BY pos — one sort, already near-sorted per source — or, at
    * 100 TB, a range-partitioned write on `pos` so no single node ever
    * holds the stream. Integer-exact end to end. */
  val extMixtureInterleave: Q = (s, d) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(decide("ilv|", col("doc_id")), col("doc_id"))
    val scheduled = Tables.documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("wt", pmod(decide("w|", col("source")), lit(8L)) + 1L)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("pos", expr("(rk * 840) div wt"))
    scheduled
      .orderBy(col("pos"), col("source"), col("doc_id"))
      .limit(60)
      .withColumn("slot", row_number().over(
        Window.orderBy(col("pos"), col("source"), col("doc_id"))))
      .select(col("slot"), col("pos"), col("source"), col("doc_id"),
              col("wt"), col("rk"))
      .orderBy(col("slot"))
  }

  /** E51 — epoch-plan capstone: the full shard → order → pack dataflow a
    * training launcher materializes before an epoch, composed from the
    * tier's primitives ([[extShardAssign]]'s hash sharding,
    * [[extStratifiedSample]]-style hash ordering, [[extSeqPack]]'s
    * prefix-sum packing) in ONE query. Every doc gets a shard (hash mod
    * 8), a deterministic within-shard position (decision-hash order), and
    * a sequence id (512-token prefix-sum cut); the output is the
    * per-shard plan audit — docs, tokens, sequences, boundary-straddling
    * docs, and fill permille — the numbers that decide whether the epoch
    * plan ships or the packer needs retuning. Scale: one map stage + one
    * per-shard sort window + one 8-group aggregate; parallelism = shard
    * count by construction, and every number is an integer. */
  val extEpochPlan: Q = (s, d) => {
    val wShard = Window.partitionBy(col("shard_id"))
      .orderBy(decide("ord|", col("doc_id")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tok"),
              pmod(decide("eshard|", col("doc_id")), lit(8L)).as("shard_id"))
      .withColumn("cum", sum(col("n_tok")).over(wShard))
      .withColumn("straddles",
        expr("(cum - n_tok) div 512") =!= expr("(cum - 1) div 512"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("n_tokens"),
           sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddlers"))
      .withColumn("n_seqs", expr("(n_tokens - 1) div 512 + 1"))
      .withColumn("util_pm", expr("n_tokens * 1000 div (n_seqs * 512)"))
      .orderBy(col("shard_id"))
  }

  /** E-mix2 — DOMAIN REWEIGHTING to a uniform target mixture (the static
    * ancestor of DoReMi / data-mixture tuning: given the corpus's actual
    * per-source token shares, what sampling weight does each source need
    * so the TRAINED-ON mixture is uniform?). weight_ppm > 10⁶ means the
    * source must be up-sampled (repeated epochs), < 10⁶ down-sampled;
    * `epochs_x100` says how many passes over the source one balanced
    * "virtual epoch" of the full corpus implies — the number a data-
    * loader actually configures. Complements [[extDomainMix]] (which
    * APPLIES per-source keep rates); this COMPUTES the rates from the
    * observed mass.
    *
    * Plan: ONE text scan → two-level per-source aggregate → whole-frame
    * window for the corpus total. The unpartitioned window runs over the
    * SOURCE-GRAIN frame, whose cardinality is the mixture-bucket count
    * (a handful here; dozens in production — reweighting happens at the
    * mixture grain, not raw-domain grain), so the single-partition sort
    * is a few rows regardless of corpus size — and it saves the second
    * full corpus scan a `g.agg(...).crossJoin` spelling costs (measured:
    * Spark does not reuse the source-grain exchange across the two
    * branches). Integer discipline: shares and weights are ppm
    * floor-divides in BIGINT; token mass ≲ 10¹³ even at 100 TB so
    * tokens·10⁶ fits comfortably. */
  val extDomainReweight: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .withColumn("tot", sum(col("n_tokens")).over(wholeFrame))
      .withColumn("nsrc", count(lit(1)).over(wholeFrame))
      .select(col("source"), col("n_docs"), col("n_tokens"),
              expr("n_tokens * 1000000 div tot").as("share_ppm"),
              // uniform target: each source should contribute tot/nsrc
              expr("tot * 1000000 div (nsrc * n_tokens)").as("weight_ppm"),
              expr("tot * 100 div (nsrc * n_tokens)").as("epochs_x100"))
      .orderBy(col("source"))
  }

  /** E55 — differentially-private count release (two-sided geometric /
    * discrete-Laplace mechanism, Ghosh–Roughgarden–Sundararajan): per-
    * source doc counts perturbed by `g1 − g2` where each `gᵢ` is a
    * geometric(½) draw — ε = ln 2 per count. The privacy-ledger
    * primitive a training-data pipeline needs when corpus composition
    * stats leave the trust boundary (dataset cards, public dashboards).
    *
    * Determinism contract: the draws are seeded from the md5 hash
    * contract, and the geometric inverse-CDF is PURE INTEGER —
    * `g = 20 − bitlength(m)` for `m` uniform on [1, 2²⁰], with
    * `bitlength = length(bin(m))` identical on both engines — so unlike
    * float-based Laplace there is NO cross-engine ln/rounding surface
    * at all (the round-6 lm_score lesson applied preemptively). True
    * count, both draws, and the ε label are all released so the spec
    * and oracle can audit the mechanism; a production release would
    * emit only `noisy_count`.
    *
    * Scale shape: one source-grain aggregate; noise derivation is
    * per-group expression work. Nothing leaves executors. */
  val extDpCount: Q = (s, d) => {
    def geom(tag: String): Column = geomDraw(tag, col("source"))
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
              geom("dp1").as("g1"), geom("dp2").as("g2"),
              (col("n_docs") + geom("dp1") - geom("dp2")).as("noisy_count"),
              lit(693L).as("epsilon_x1000")) // ln 2 ≈ 0.693
      .orderBy(col("source"))
  }

  /** Integer-exact two-sided-geometric half: one geometric(1/2) draw
    * seeded from the md5 contract — THE mechanism shared by every DP
    * release here ([[extDpCount]], [[extDpHistogram]]); change it in
    * one place or not at all (both oracles replay it verbatim). */
  private def geomDraw(tag: String, key: Column): Column = {
    val m = pmod(graft.ops.Dedup.hash60(concat(lit(tag + "|"), key)),
                 lit(1048576L)) + 1
    greatest(lit(0L), lit(20L) - length(bin(m)).cast("long"))
  }

  /** E65 — k-ANONYMITY audit over the release quasi-identifiers: the
    * check that runs BEFORE any per-group stats leave the trust
    * boundary. Groups documents by the quasi-identifier tuple a
    * release would expose — (source, lang, 100-char length bucket) —
    * and reports every equivalence class below k = 5: those classes
    * are re-identification risk (a 1-doc class IS the document), and
    * the [[extDpHistogram]] τ-suppression exists precisely to keep
    * them out of releases. Also publishes the corpus-level floor
    * (min class size) and the risk mass (docs in sub-k classes, ppm).
    *
    * Scale shape: one aggregate at quasi-identifier grain (bounded:
    * sources × langs × length buckets), then a whole-frame window
    * over that bounded frame. Integer-exact throughout. */
  val extKAnon: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), col("lang"),
              expr("n_chars div 100").as("len_bucket"))
      .groupBy(col("source"), col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("class_size"))
      .withColumn("min_class", min(col("class_size")).over(wholeFrame))
      .withColumn("total", sum(col("class_size")).over(wholeFrame))
      .withColumn("risk_docs",
        sum(when(col("class_size") < 5, col("class_size")).otherwise(0L))
          .over(wholeFrame))
      .filter(col("class_size") < 5)
      .select(col("source"), col("lang"), col("len_bucket"),
              col("class_size"), col("min_class"),
              expr("risk_docs * 1000000 div total").as("risk_ppm"))
      .orderBy(col("source"), col("lang"), col("len_bucket"))
  }

  /** E66 — differentially-private MEAN release (clipped-sum
    * mechanism): per-source mean doc length with each contribution
    * CLIPPED to [0, C] (C = 1000 chars) so one document's influence on
    * the sum is bounded by C — the sensitivity argument counts and
    * histograms get for free but sums must buy with clipping. Release
    * = (sum + C·(g₁−g₂)) / (count + g₁'−g₂') with independent
    * geometric draws on numerator and denominator (ε = ln 2 each;
    * sequential composition 2·ln 2 per source), denominator floored at
    * 1. Completes the count → histogram → mean mechanism ladder;
    * clipped/true sums are both released so spec and oracle audit the
    * clipping and the mechanism identity.
    *
    * Integer-exact: clipping is least(), draws are [[geomDraw]], the
    * mean is one BIGINT floor-divide with a non-negative numerator
    * (noisy sum ≥ −20·C is floored at 0 — recorded caveat, the same
    * truncate-vs-floor guard as everywhere else). */
  val extDpMean: Q = (s, d) => {
    def geom(tag: String): Column = geomDraw(tag, col("source"))
    Tables.documents(s, d)
      .select(col("source"), least(col("n_chars"), lit(1000L)).as("clipped"),
              col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("clipped")).as("clipped_sum"),
           sum(col("n_chars")).as("true_sum"))
      .select(col("source"), col("n_docs"), col("clipped_sum"),
              col("true_sum"),
              greatest(lit(0L),
                col("clipped_sum") + lit(1000L) * (geom("dpm1") - geom("dpm2")))
                .as("noisy_sum"),
              greatest(lit(1L),
                col("n_docs") + geom("dpm3") - geom("dpm4")).as("noisy_n"))
      .withColumn("dp_mean_chars", expr("noisy_sum div noisy_n"))
      .orderBy(col("source"))
  }

  /** E58 — differentially-private HISTOGRAM release with threshold
    * suppression: per-(source × 100-char length bucket) doc counts,
    * each perturbed by the same integer-exact two-sided-geometric
    * mechanism as [[extDpCount]] (ε = ln 2 per cell; cells are
    * disjoint, so parallel composition keeps the whole histogram at
    * ε = ln 2), then cells whose NOISY count falls below τ = 3 are
    * suppressed — the rare-bucket guard a public release needs, since
    * a 1-doc cell's very existence can identify the doc. True count
    * and both draws are released alongside so the spec and oracle
    * audit the mechanism; a production release would emit
    * (source, bucket, noisy_count) only.
    *
    * Same determinism contract as dp_count: draws seeded from the md5
    * contract, pure-integer inverse CDF via bitlength — zero
    * cross-engine float surface.
    *
    * Scale shape: one (source × bucket)-grain aggregate; bucket count
    * is bounded by max doc length / 100, so the frame stays tiny no
    * matter the corpus. */
  val extDpHistogram: Q = (s, d) => {
    def geom(tag: String): Column =
      geomDraw(tag, concat(col("source"), lit("|"),
                           col("len_bucket").cast("string")))
    Tables.documents(s, d)
      .select(col("source"), expr("n_chars div 100").as("len_bucket"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("len_bucket"), col("n_docs"),
              geom("dph1").as("g1"), geom("dph2").as("g2"),
              (col("n_docs") + geom("dph1") - geom("dph2")).as("noisy_count"))
      .filter(col("noisy_count") >= 3)
      .orderBy(col("source"), col("len_bucket"))
  }

  /** E59 — exponentiated-gradient mixture step (the DoReMi-family
    * update): re-weight the domain mixture multiplicatively by each
    * domain's excess loss, w_i ∝ exp(η·ℓ_i), renormalized to ppm. The
    * proxy loss here is the domain's mean tokens-per-doc excess over
    * the corpus mean (production plugs per-domain eval losses into the
    * same frame); one step of the update, which is what a mixture
    * tuner materializes per round.
    *
    * Integer-exactness: the exponential is QUANTIZED to base-2 steps —
    * excess_step = clamp(mean·8 div corpus_mean − 8, −8, 8), weight =
    * 1 << (step + 8) — so the whole update is BIGINT shifts and
    * floor-divides with zero float surface (the lm_score lesson;
    * a float exp() would differ in the last ulp across engines).
    * Caveat encoded deliberately: every floor-divide keeps its
    * numerator NON-NEGATIVE, because Spark's `div` truncates toward
    * zero while DuckDB's `//` floors — they disagree on negatives.
    *
    * Scale shape: one scan → source-grain aggregate → whole-frame
    * window over the mixture-grain frame (a handful of rows regardless
    * of corpus size — same spelling as [[extDomainReweight]]). */
  val extMixtureEgd: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .withColumn("tot_docs", sum(col("n_docs")).over(wholeFrame))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(wholeFrame))
      .withColumn("mean_tok_x1000", expr("n_tokens * 1000 div n_docs"))
      .withColumn("corpus_x1000", expr("tot_tokens * 1000 div tot_docs"))
      // non-negative numerator, then recenter: mean*8 div corpus in
      // [0, ..], minus 8 centers at 0 — a domain at zero mean reaches
      // the -8 floor and one at 2x the corpus mean the +8 cap, so the
      // clamp is reachable on BOTH sides (a *4 scaling made the lower
      // clamp dead: the step could never go below -4)
      .withColumn("excess_step",
        greatest(lit(-8L), least(lit(8L),
          expr("mean_tok_x1000 * 8 div corpus_x1000") - 8L)))
      .withColumn("weight",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(excess_step + 8 AS INT))"))
      .withColumn("sum_w", sum(col("weight")).over(wholeFrame))
      .select(col("source"), col("n_docs"), col("mean_tok_x1000"),
              col("excess_step"), col("weight"),
              expr("weight * 1000000 div sum_w").as("mix_ppm"))
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    "ext_dp_mean" -> extDpMean,
    "ext_k_anon" -> extKAnon,
    "ext_mixture_egd" -> extMixtureEgd,
    "ext_dp_histogram" -> extDpHistogram,
    "ext_dp_count" -> extDpCount,
    "ext_domain_reweight" -> extDomainReweight,
    "ext_rag_pack" -> extRagPack,
    "ext_epoch_plan" -> extEpochPlan,
    "ext_shard_assign" -> extShardAssign,
    "ext_temperature_sample" -> extTemperatureSample,
    "ext_mixture_interleave" -> extMixtureInterleave,
    "ext_token_budget" -> extTokenBudget,
    "ext_pack_efficiency" -> extPackEfficiency,
    "ext_chunk_dedup" -> extChunkDedup,
    "ext_hash_split" -> extHashSplit,
    "ext_split_bias" -> extSplitBias,
    "ext_stratified_sample" -> extStratifiedSample,
    "ext_domain_mix" -> extDomainMix,
    "ext_jsd_domains" -> extJsdDomains,
    "ext_seq_pack" -> extSeqPack,
    "ext_rtbf_propagation" -> extRtbfPropagation,
    "ext_chunk_overlap" -> extChunkOverlap,
    "ext_dsir_weights" -> extDsirWeights,
    "ext_dataset_card" -> extDatasetCard)

  val oracles: Map[String, String] = Map(
    // DSIR: identical hashed-unigram count models (h60 buckets), the
    // bucket log-ratio quantized to micro-nats at FEATURE grain (floor
    // of the same double expression), then a pure-integer doc-grain sum
    // JSD: same h60 bucket space as DSIR; per-bucket log-ratios from
    // exact integer products quantized once to micro-nats, BIGINT
    // reductions, split-sign floor-divide normalizations
    "ext_jsd_domains" ->
      s"""WITH tok AS (
         |  SELECT source, ${Dedup.hash60Sql("'jsd|' || tok")} % 64 AS bucket
         |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
         |        FROM documents)),
         |c AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS n
         |      FROM tok GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot
         |        FROM c GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         a.tot AS ta, b.tot AS tb
         |  FROM tot a JOIN tot b ON a.source < b.source),
         |grid AS (
         |  SELECT p.source_a, p.source_b, p.ta, p.tb, r.b AS bucket,
         |    CAST(coalesce(ca.n, 0) AS BIGINT) AS na,
         |    CAST(coalesce(cb.n, 0) AS BIGINT) AS nb
         |  FROM pairs p CROSS JOIN range(0, 64) r(b)
         |  LEFT JOIN c ca ON ca.source = p.source_a AND ca.bucket = r.b
         |  LEFT JOIN c cb ON cb.source = p.source_b AND cb.bucket = r.b),
         |terms AS (
         |  SELECT source_a, source_b, ta, tb, na, nb,
         |    CASE WHEN na > 0 THEN CAST(floor(1000000.0 * ln(
         |      CAST(2 * CAST(na AS HUGEINT) * tb AS DOUBLE) /
         |      CAST(CAST(na AS HUGEINT) * tb
         |           + CAST(nb AS HUGEINT) * ta AS DOUBLE))) AS BIGINT)
         |      ELSE 0 END AS ua,
         |    CASE WHEN nb > 0 THEN CAST(floor(1000000.0 * ln(
         |      CAST(2 * CAST(nb AS HUGEINT) * ta AS DOUBLE) /
         |      CAST(CAST(na AS HUGEINT) * tb
         |           + CAST(nb AS HUGEINT) * ta AS DOUBLE))) AS BIGINT)
         |      ELSE 0 END AS ub
         |  FROM grid),
         |sums AS (
         |  SELECT source_a, source_b, ta, tb,
         |    SUM(CAST(na AS HUGEINT) * ua) AS sa,
         |    SUM(CAST(nb AS HUGEINT) * ub) AS sb
         |  FROM terms GROUP BY 1, 2, 3, 4)
         |SELECT source_a, source_b, ta AS n_tokens_a, tb AS n_tokens_b,
         |  CAST((CASE WHEN sa < 0 THEN -1 ELSE 1 END) * (abs(sa) // (2 * ta)) +
         |       (CASE WHEN sb < 0 THEN -1 ELSE 1 END) * (abs(sb) // (2 * tb))
         |       AS BIGINT) AS jsd_micro
         |FROM sums ORDER BY source_a, source_b""".stripMargin,
    "ext_dsir_weights" ->
      s"""WITH tb AS (
         |  SELECT doc_id, lang,
         |    ${Dedup.hash60Sql("'dsir|' || tok")} % 64 AS bucket
         |  FROM (SELECT doc_id, lang,
         |          unnest(string_split(lower(text), ' ')) AS tok
         |        FROM documents)),
         |raw AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS r_f FROM tb GROUP BY 1),
         |tgt AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS t_f
         |  FROM tb WHERE lang = 'en' GROUP BY 1),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS rr,
         |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tt
         |  FROM tb),
         |feat AS (
         |  SELECT r.bucket,
         |    CAST(floor(1000000.0 * ln(
         |      (CAST(coalesce(t.t_f, 0) + 1 AS DOUBLE) *
         |        CAST(tot.rr + 64 AS DOUBLE)) /
         |      (CAST(r.r_f + 1 AS DOUBLE) *
         |        CAST(tot.tt + 64 AS DOUBLE)))) AS BIGINT) AS unats
         |  FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(unats) AS BIGINT) AS weight_unats
         |FROM tb JOIN feat ON tb.bucket = feat.bucket
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // clipped-sum DP mean: least() clip, geometric draws on numerator
    // (scaled by the clip bound) and denominator, floor guards keeping
    // both divide operands non-negative/positive
    "ext_dp_mean" ->
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(least(n_chars, 1000)) AS BIGINT) AS clipped_sum,
         |    CAST(SUM(n_chars) AS BIGINT) AS true_sum
         |  FROM documents GROUP BY 1),
         |g AS (
         |  SELECT source, n_docs, clipped_sum, true_sum,
         |    greatest(0, clipped_sum + 1000 * (
         |      greatest(0, 20 - length(bin(
         |        ${Dedup.hash60Sql("'dpm1|' || source")} % 1048576 + 1))) -
         |      greatest(0, 20 - length(bin(
         |        ${Dedup.hash60Sql("'dpm2|' || source")} % 1048576 + 1)))))
         |      AS noisy_sum,
         |    greatest(1, n_docs +
         |      greatest(0, 20 - length(bin(
         |        ${Dedup.hash60Sql("'dpm3|' || source")} % 1048576 + 1))) -
         |      greatest(0, 20 - length(bin(
         |        ${Dedup.hash60Sql("'dpm4|' || source")} % 1048576 + 1))))
         |      AS noisy_n
         |  FROM c)
         |SELECT source, n_docs, clipped_sum, true_sum,
         |  CAST(noisy_sum AS BIGINT) AS noisy_sum,
         |  CAST(noisy_n AS BIGINT) AS noisy_n,
         |  CAST(noisy_sum // noisy_n AS BIGINT) AS dp_mean_chars
         |FROM g ORDER BY source""".stripMargin,
    // quasi-identifier classes below k=5 + corpus floor and risk mass;
    // whole-frame windows over the bounded class-grain frame
    "ext_k_anon" ->
      """WITH c AS (
        |  SELECT source, lang, n_chars // 100 AS len_bucket,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM documents GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT source, lang, CAST(len_bucket AS BIGINT) AS len_bucket,
        |    class_size,
        |    CAST(MIN(class_size) OVER () AS BIGINT) AS min_class,
        |    CAST(SUM(class_size) OVER () AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
        |      OVER () AS BIGINT) AS risk_docs
        |  FROM c)
        |SELECT source, lang, len_bucket, class_size, min_class,
        |  CAST(risk_docs * 1000000 // total AS BIGINT) AS risk_ppm
        |FROM t WHERE class_size < 5
        |ORDER BY source, lang, len_bucket""".stripMargin,
    // base-2-quantized EGD step: BIGINT shifts + non-negative floor
    // divides only (Spark div truncates, DuckDB // floors — they agree
    // iff numerators stay >= 0)
    "ext_mixture_egd" ->
      """WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS tot_docs,
        |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot_tokens
        |  FROM s),
        |e AS (
        |  SELECT source, n_docs,
        |    CAST(n_tokens * 1000 // n_docs AS BIGINT) AS mean_tok_x1000,
        |    CAST(tot_tokens * 1000 // tot_docs AS BIGINT) AS corpus_x1000
        |  FROM t),
        |w AS (
        |  SELECT source, n_docs, mean_tok_x1000,
        |    greatest(-8, least(8,
        |      CAST(mean_tok_x1000 * 8 // corpus_x1000 AS BIGINT) - 8))
        |      AS excess_step
        |  FROM e),
        |v AS (
        |  SELECT source, n_docs, mean_tok_x1000,
        |    CAST(excess_step AS BIGINT) AS excess_step,
        |    CAST(CAST(1 AS BIGINT) << (excess_step + 8) AS BIGINT) AS weight
        |  FROM w)
        |SELECT source, n_docs, mean_tok_x1000, excess_step, weight,
        |  CAST(weight * 1000000 // (SUM(weight) OVER ()) AS BIGINT)
        |    AS mix_ppm
        |FROM v ORDER BY source""".stripMargin,
    // dp_count's geometric mechanism at (source, length-bucket) grain
    // plus the tau=3 suppression filter on the NOISY count
    "ext_dp_histogram" ->
      s"""WITH c AS (
         |  SELECT source, n_chars // 100 AS len_bucket,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1, 2),
         |g AS (
         |  SELECT source, CAST(len_bucket AS BIGINT) AS len_bucket, n_docs,
         |    greatest(0, 20 - length(bin(
         |      ${Dedup.hash60Sql("'dph1|' || source || '|' || CAST(len_bucket AS VARCHAR)")}
         |      % 1048576 + 1))) AS g1,
         |    greatest(0, 20 - length(bin(
         |      ${Dedup.hash60Sql("'dph2|' || source || '|' || CAST(len_bucket AS VARCHAR)")}
         |      % 1048576 + 1))) AS g2
         |  FROM c)
         |SELECT source, len_bucket, n_docs, CAST(g1 AS BIGINT) AS g1,
         |  CAST(g2 AS BIGINT) AS g2,
         |  CAST(n_docs + g1 - g2 AS BIGINT) AS noisy_count
         |FROM g WHERE n_docs + g1 - g2 >= 3
         |ORDER BY source, len_bucket""".stripMargin,
    // geometric draws replayed from the h60 contract; inverse CDF is
    // pure integer (bitlength via bin()), so zero float surface
    "ext_dp_count" ->
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |g AS (
         |  SELECT source, n_docs,
         |    greatest(0, 20 - length(bin(
         |      ${Dedup.hash60Sql("'dp1|' || source")} % 1048576 + 1))) AS g1,
         |    greatest(0, 20 - length(bin(
         |      ${Dedup.hash60Sql("'dp2|' || source")} % 1048576 + 1))) AS g2
         |  FROM c)
         |SELECT source, n_docs, CAST(g1 AS BIGINT) AS g1,
         |  CAST(g2 AS BIGINT) AS g2,
         |  CAST(n_docs + g1 - g2 AS BIGINT) AS noisy_count,
         |  CAST(693 AS BIGINT) AS epsilon_x1000
         |FROM g ORDER BY source""".stripMargin,
    // same 5-group aggregate × 1-row total; ppm/epochs are BIGINT
    // floor-divides, identical on both engines
    "ext_domain_reweight" ->
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_tokens) AS tot,
        |        CAST(count(*) AS BIGINT) AS nsrc FROM g)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens * 1000000 // tot AS BIGINT) AS share_ppm,
        |  CAST(tot * 1000000 // (nsrc * n_tokens) AS BIGINT) AS weight_ppm,
        |  CAST(tot * 100 // (nsrc * n_tokens) AS BIGINT) AS epochs_x100
        |FROM g CROSS JOIN t ORDER BY source""".stripMargin,
    // chunk -> integer term score -> top-64 -> greedy 512-token pack
    "ext_rag_pack" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk,
        |    len(string_split(lower(text), ' ')) AS n_tok
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    CAST(r.i AS INTEGER) AS chunk_idx,
        |    CAST(r.i * 96 AS INTEGER) AS start_tok, n_tok, tk
        |  FROM base, LATERAL (SELECT unnest(range(0,
        |    CAST(ceil(CAST(n_tok AS DOUBLE) / 96) AS BIGINT))) AS i) r
        |  WHERE r.i * 96 < n_tok),
        |sc AS (
        |  SELECT doc_id, chunk_idx,
        |    CAST(least(128, n_tok - start_tok) AS INTEGER) AS n_chunk_tok,
        |    CAST(len(list_filter(tk[start_tok + 1:start_tok + 128],
        |      t -> t IN ('hash', 'join', 'vector'))) AS BIGINT) AS score
        |  FROM ch),
        |top AS (
        |  SELECT * FROM sc WHERE score > 0
        |  ORDER BY score DESC, doc_id, chunk_idx LIMIT 64),
        |rk AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id, chunk_idx)
        |      AS INTEGER) AS rank,
        |    SUM(CAST(n_chunk_tok AS BIGINT)) OVER (ORDER BY score DESC,
        |      doc_id, chunk_idx ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cum_tok
        |  FROM top)
        |SELECT rank, doc_id, chunk_idx, score, n_chunk_tok,
        |  CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM rk WHERE cum_tok <= 512 ORDER BY rank""".stripMargin,
    "ext_epoch_plan" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ${Dedup.hash60Sql("'eshard|' || doc_id")} % 8 AS shard_id,
         |    ${Dedup.hash60Sql("'ord|' || doc_id")} AS ordh
         |  FROM documents),
         |c AS (
         |  SELECT shard_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY shard_id ORDER BY ordh, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM b),
         |g AS (
         |  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN (cum - n_tok) // 512 <> (cum - 1) // 512
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |  FROM c GROUP BY 1)
         |SELECT shard_id, n_docs, n_tokens, n_straddlers,
         |  (n_tokens - 1) // 512 + 1 AS n_seqs,
         |  n_tokens * 1000 // (((n_tokens - 1) // 512 + 1) * 512) AS util_pm
         |FROM g ORDER BY shard_id""".stripMargin,
    "ext_shard_assign" ->
      s"""SELECT ${Dedup.hash60Sql("'shard|' || doc_id")} % 64 AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
         |    AS n_tokens,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         |FROM documents GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "ext_temperature_sample" ->
      s"""WITH r AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ${Dedup.hash60Sql("'temp|' || doc_id")}, doc_id) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
         |  FROM documents),
         |q AS (
         |  SELECT *, greatest(CAST(1 AS BIGINT),
         |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)) AS quota
         |  FROM r)
         |SELECT source, max(n_docs) AS n_docs, max(quota) AS quota,
         |  CAST(SUM(CASE WHEN rn <= quota THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN rn <= quota THEN n_chars ELSE 0 END) AS BIGINT)
         |    AS chars_kept
         |FROM q GROUP BY 1 ORDER BY source""".stripMargin,
    "ext_mixture_interleave" ->
      s"""WITH sch AS (
         |  SELECT source, doc_id,
         |    ${Dedup.hash60Sql("'w|' || source")} % 8 + 1 AS wt,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ${Dedup.hash60Sql("'ilv|' || doc_id")}, doc_id) AS BIGINT) AS rk
         |  FROM documents),
         |p AS (
         |  SELECT source, doc_id, wt, rk, (rk * 840) // wt AS pos
         |  FROM sch ORDER BY pos, source, doc_id LIMIT 60)
         |SELECT CAST(row_number() OVER (ORDER BY pos, source, doc_id)
         |    AS INTEGER) AS slot,
         |  pos, source, doc_id, wt, rk
         |FROM p ORDER BY slot""".stripMargin,
    "ext_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source
        |                     ORDER BY n_chars DESC, doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum_tok
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN cum_tok <= 800 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN cum_tok <= 800 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS tokens_kept,
        |  CAST(SUM(CASE WHEN cum_tok <= 800 THEN n_tok ELSE 0 END) AS DOUBLE)
        |    / 800.0 AS budget_util
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok, tk,
        |    CAST(unnest(range(0, n_tok, 96)) AS INTEGER) AS start_tok
        |  FROM t)
        |SELECT doc_id, CAST(start_tok // 96 AS INTEGER) AS chunk_idx,
        |  start_tok,
        |  CAST(least(128, n_tok - start_tok) AS INTEGER) AS n_chunk_tok,
        |  array_to_string(tk[start_tok + 1 : start_tok + 128], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "ext_dataset_card" ->
      """WITH t AS (
        |  SELECT lang, source, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    count(*) OVER (PARTITION BY text) AS n_copies
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "ext_pack_efficiency" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |s AS (SELECT source, tokens, (tokens + 511) // 512 AS n_seqs FROM t)
        |SELECT source, tokens, CAST(n_seqs AS BIGINT) AS n_seqs,
        |  CAST(n_seqs * 512 - tokens AS DOUBLE)
        |    / CAST(n_seqs * 512 AS DOUBLE) AS pad_fraction
        |FROM s ORDER BY 1""".stripMargin,
    "ext_chunk_dedup" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS tk,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, tk,
        |    CAST(unnest(range(0, n_tok, 96)) AS INTEGER) AS start_tok
        |  FROM t),
        |ch AS (
        |  SELECT source,
        |    array_to_string(tk[start_tok + 1 : start_tok + 128], ' ')
        |      AS chunk_text
        |  FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT chunk_text) AS BIGINT) AS n_distinct,
        |  CAST(count(*) - count(DISTINCT chunk_text) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_fraction
        |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_split_bias" ->
      s"""WITH tagged AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN ${Dedup.hash60Sql("'split|' || doc_id")} % 10 <= 7 THEN 'train'
         |         WHEN ${Dedup.hash60Sql("'split|' || doc_id")} % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |bs AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n
         |       FROM tagged GROUP BY 1, 2),
         |st AS (SELECT split, CAST(count(*) AS BIGINT) AS n_split
         |       FROM tagged GROUP BY 1),
         |co AS (SELECT lang, CAST(count(*) AS BIGINT) AS cn,
         |         (SELECT CAST(count(*) AS BIGINT) FROM documents) AS ct
         |       FROM tagged GROUP BY 1),
         |grid AS (SELECT st.split, st.n_split, co.lang, co.cn, co.ct
         |         FROM st CROSS JOIN co)
         |SELECT g.split,
         |  CAST(SUM(CAST(round(abs(
         |    CAST(coalesce(bs.n, 0) AS DOUBLE) / CAST(g.n_split AS DOUBLE)
         |    - CAST(g.cn AS DOUBLE) / CAST(g.ct AS DOUBLE)), 12)
         |    AS DECIMAL(28,12))) AS DOUBLE) / 2.0 AS tvd_lang
         |FROM grid g LEFT JOIN bs ON bs.split = g.split AND bs.lang = g.lang
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_hash_split" ->
      s"""SELECT source,
         |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM (SELECT source,
         |        ${Dedup.hash60Sql("'split|' || doc_id")} % 10 AS b
         |      FROM documents)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ext_stratified_sample" ->
      s"""SELECT doc_id, source, rn FROM (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ${Dedup.hash60Sql("'ss|' || doc_id")}, doc_id) AS INTEGER) AS rn
         |  FROM documents)
         |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "ext_domain_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, n_chars,
         |    ${Dedup.hash60Sql("'rate|' || source")} % 1000 % 800 + 100 AS rate_pm,
         |    ${Dedup.hash60Sql("'mix|' || doc_id")} % 1000 <
         |      ${Dedup.hash60Sql("'rate|' || source")} % 1000 % 800 + 100 AS keep
         |  FROM documents)
         |SELECT source, rate_pm,
         |  count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM t GROUP BY source, rate_pm ORDER BY source""".stripMargin,

    "ext_seq_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
         |    CAST(SUM(len(string_split(text, ' '))) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
         |  FROM documents)
         |SELECT doc_id, source, n_tok,
         |  cum_tok - n_tok AS start_pos,
         |  (cum_tok - n_tok) // $ChunkTokens AS chunk_id,
         |  (cum_tok - n_tok) // $ChunkTokens <> (cum_tok - 1) // $ChunkTokens
         |    AS straddles
         |FROM t ORDER BY doc_id""".stripMargin,
    // RTBF: same h60 decision replay, same pack layout as ext_seq_pack,
    // chunk ranges inclusive lo..hi via lo + range(0, hi-lo+1)
    "ext_rtbf_propagation" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    (${Dedup.hash60Sql("'rtbf|' || doc_id")}) % 37 = 0 AS del
         |  FROM documents),
         |c AS (
         |  SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
         |  FROM b),
         |ch AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS chunks_affected FROM (
         |    SELECT DISTINCT source,
         |      (cum_tok - n_tok) // $ChunkTokens + unnest(range(0,
         |        (cum_tok - 1) // $ChunkTokens
         |        - (cum_tok - n_tok) // $ChunkTokens + 1)) AS chunk_id
         |    FROM c WHERE del)
         |  GROUP BY 1),
         |p AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_deleted,
         |    CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
         |    CAST(SUM(CASE WHEN del THEN n_tok ELSE 0 END) AS BIGINT)
         |      AS tokens_deleted,
         |    CAST((max(cum_tok) - 1) // $ChunkTokens + 1 AS BIGINT)
         |      AS chunks_total
         |  FROM c GROUP BY 1)
         |SELECT p.source, n_docs, n_deleted, tokens_total, tokens_deleted,
         |  chunks_total,
         |  CAST(coalesce(ch.chunks_affected, 0) AS BIGINT)
         |    AS chunks_affected,
         |  CAST(CAST(coalesce(ch.chunks_affected, 0) AS HUGEINT) * 1000000
         |       // chunks_total AS BIGINT) AS invalidated_ppm
         |FROM p LEFT JOIN ch ON p.source = ch.source
         |ORDER BY p.source""".stripMargin)
}
