package graft.ops

import graft.Tables
import org.apache.spark.sql.functions._

/** Composed data-quality + corpus-curation pipelines.
  *
  * `dq_report` re-expresses the reference's inline data-quality
  * assertions (`/root/reference/sql/load_gtfs_data.sql:86-114`: null
  * checks, orphan checks, duplicate-PK checks) over the testdata tables —
  * the operational form of SURVEY §5's "correctness practice".
  *
  * `ext_dedup_pipeline` composes the curation flow a training-data
  * pipeline actually runs: exact-dup removal → near-dup candidate scoring
  * (unigram Jaccard, source-blocked) → drop later near-dups → per-source
  * survival report. Every stage is relational, so the whole pipeline is
  * one Catalyst plan and DuckDB can oracle it end-to-end.
  */
object Quality {

  /** Reference-shaped DQ report: one row per check, count of violations. */
  val dqReport: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val checks = Seq(
      ("null_qty_lineitems",
        li.filter(col("l_quantity").isNull || col("l_extendedprice").isNull)),
      ("orphan_lineitems",
        li.join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")),
      ("orphan_orders",
        o.join(c.select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")),
      ("dup_order_pk",
        o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)),
      ("negative_prices", li.filter(col("l_extendedprice") < 0)))
    checks.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"), col("n_bad"))
    }.reduce(_ union _).orderBy(col("check_name"))
  }

  /** Curation pipeline: survivors per source after exact + near dedup. */
  val extDedupPipeline: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // stage 1: exact dedup — keep min doc_id per text AND that row's
    // source (min_by, not first(): exact duplicates can span sources, and
    // first() is partition-order nondeterministic)
    val exact = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
           min_by(col("source"), col("doc_id")).as("source"))
    // stage 2: near-dup candidates among survivors (unigram jaccard >= 0.9,
    // blocked by source) — drop the LATER doc of each pair. Pair scoring
    // delegates to Dedup.jaccardPairs (adaptive bitmask/postings
    // strategy); the vocabulary probe runs on the RAW table scan — a
    // superset of the survivors' vocabulary with a cheap lineage — so the
    // exact-dedup shuffle is not re-executed for the probe jobs
    val dropped = Dedup.jaccardPairs(
        exact.select(col("doc_id"), col("source"),
          array_distinct(split(lower(col("text")), " ")).as("toks")),
        0.9,
        vocabProbe = Some(docs.select(col("doc_id"),
          split(lower(col("text")), " ").as("toks"))))
      .select(col("d2").as("doc_id")).distinct()
    val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
      .join(exact.groupBy(col("source")).agg(count(lit(1)).as("n_after_exact")),
            Seq("source"))
      .select(col("source"), col("n_after_exact"), col("n_kept"),
              (col("n_after_exact") - col("n_kept")).as("n_near_dups_removed"))
      .orderBy(col("source"))
  }

  /** E22 — keep-BEST-per-cluster dedup policy: production pipelines keep
    * the highest-quality member of each near-dup family, not the lowest
    * id. Composes [[Dedup.minhashBandPairs]] →
    * [[Clustering.connectedComponents]] → [[TextAnalysis.qualityExpr]]
    * and elects per cluster by (quality DESC, doc_id) — the tie-break
    * makes the election deterministic, and scoring with the IDENTICAL
    * quality expression both engines already hash-match keeps the whole
    * composition oracle-checkable. Output: one row per kept document
    * with its cluster size and the quality spread it beat. */
  val extKeepBest: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // fanout + materialize (r14): serial scan-task signature kernel —
    // see Clustering.dedupDocsSigs
    val sig = fanout(docs, col("doc_id")).select(col("doc_id"),
      Dedup.minhashSig(Dedup.shingles3(col("text"))).as("sig"))
      .localCheckpoint()
    val labels = Clustering
      .connectedComponents(Dedup.minhashBandPairs(sig),
                           docs.select(col("doc_id")))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val scored = docs
      .select(col("doc_id"), col("text"),
              split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"),
              TextAnalysis.qualityExpr(col("text"), col("toks"))
                .as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    labels.join(scored, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      // RAW quality double (bit-identical across engines, as the
      // ext_quality_score oracle proves) — round(…, 6) here hit a
      // half-way boundary at sf0.001 where Spark HALF_UP and DuckDB
      // disagree on the last digit
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
              col("quality").as("kept_quality"),
              col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  /** E28 — join-key skew audit: the top-5 heaviest o_custkey values with
    * their share of rows and skew ratio (count ÷ mean-per-key) — the
    * diagnostic a planner reads BEFORE choosing the
    * [[graft.ops.Advanced.joinSaltedSkew]] path or trusting AQE's skew
    * split. One partial-aggregated count shuffle; the global stats ride
    * a single-row cross join and top-5 is TakeOrdered. All ratios are
    * single divisions of exact longs. */
  val extKeySkew: Q = (s, d) => {
    val c = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val g = c.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("total"))
    c.crossJoin(broadcast(g))
      .select(col("o_custkey"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"),
        (col("n").cast("double") * col("n_keys").cast("double") /
          col("total").cast("double")).as("skew_ratio"))
      .orderBy(col("n").desc, col("o_custkey"))
      .limit(5)
  }

  /** E30 — the end-to-end training-data build in ONE call: exact dedup
    * (keep min doc_id per text) → quality gate (the shared
    * [[TextAnalysis.qualityExpr]] ≥ 0.6 — identical doubles both
    * engines, so the gate cannot flip a boundary row) → reproducible
    * 80/10/10 key-hash split (same `split|` namespace as
    * [[graft.ops.Sampling.extHashSplit]], so assignments agree across
    * entries) → per-(source, split) audit: docs, whitespace-token mass,
    * mean quality (12-decimal-quantized decimal sum, then one
    * division). The "data card of the build" a release pipeline signs
    * off on — every stage is an already-hash-matched fragment,
    * composed. */
  val extDataBuild: Q = (s, d) => {
    val exact = Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
           min_by(col("source"), col("doc_id")).as("source"))
    val toks = split(lower(col("text")), " ")
    val kept = exact
      .withColumn("q", TextAnalysis.qualityExpr(col("text"), toks))
      .filter(col("q") >= 0.6)
    val bucket = pmod(
      Dedup.hash60(concat(lit("split|"), col("doc_id").cast("string"))),
      lit(10L))
    kept
      .withColumn("split",
        when(bucket <= 7, lit("train"))
          .when(bucket === 8, lit("val"))
          .otherwise(lit("test")))
      .withColumn("ws", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("ws")).as("token_mass"),
           (sum(round(col("q"), 12).cast("decimal(28,12)")).cast("double") /
             count(lit(1))).as("mean_quality"))
      .orderBy(col("source"), col("split"))
  }

  /** Per-doc quality-filter signal columns (p1–p4, the four
    * integer-exact predicates) — the ONE definition behind
    * [[extQualityAblation]] and [[extQualityDupProfile]]; both oracles
    * replay the identical cross-multiplied inequalities. */
  private def qualitySignals(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
              col("n_chars").cast("long").as("n_chars"),
              split(col("text"), " ").as("tk"),
              length(regexp_replace(col("text"), "[^A-Za-z]", ""))
                .cast("long").as("letters"))
      .select(col("doc_id"), col("text"), col("n_chars"), col("letters"),
              size(col("tk")).cast("long").as("n_tok"),
              size(array_distinct(col("tk"))).cast("long").as("n_dtok"))
      .withColumn("p1", col("n_chars") >= 150L && col("n_chars") <= 450L)
      .withColumn("p2", col("letters") * 10L >= col("n_chars") * 6L)
      .withColumn("p3", col("n_dtok") * 10L >= col("n_tok") * 3L)
      .withColumn("p4", col("n_chars") - col("n_tok") + 1L <= col("n_tok") * 12L)

  /** E47 — quality-filter ablation: per-filter marginal attribution over
    * a 4-filter curation stack (length band, alpha ratio, token
    * diversity, mean word length). For each filter: how many docs it
    * fails, and how many it UNIQUELY fails (all other filters pass) —
    * the number that tells a curator which filter is actually doing work
    * and which is redundant before they spend a 100 TB pass re-running
    * the stack with one knob changed. All four predicates are
    * integer-exact cross-engine (ratio thresholds as cross-multiplied
    * integer inequalities — `letters*10 >= chars*6`, never a double
    * division), so the ablation is bit-portable. One scan, one 4-row
    * explode per doc, one 4-group aggregate; no shuffle of text. */
  val extQualityAblation: Q = (s, d) => {
    val base = qualitySignals(s, d)
    val p1 = col("p1"); val p2 = col("p2"); val p3 = col("p3")
    val p4 = col("p4")
    base
      .select(explode(array(
          struct(lit("alpha").as("f"), p2.as("pass"),
                 (p1 && p3 && p4).as("others")),
          struct(lit("diversity").as("f"), p3.as("pass"),
                 (p1 && p2 && p4).as("others")),
          struct(lit("len").as("f"), p1.as("pass"),
                 (p2 && p3 && p4).as("others")),
          struct(lit("wordlen").as("f"), p4.as("pass"),
                 (p1 && p2 && p3).as("others")))).as("x"),
        (p1 && p2 && p3 && p4).as("all_pass"))
      .groupBy(col("x.f").as("filter"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(!col("x.pass"), 1L).otherwise(0L)).as("n_fail"),
           sum(when(!col("x.pass") && col("x.others"), 1L).otherwise(0L))
             .as("n_unique_fail"),
           sum(when(col("all_pass"), 1L).otherwise(0L)).as("n_pass_all"))
      .orderBy(col("filter"))
  }

  /** E68 — quality × duplication cross-profile: are the duplicates
    * concentrated in low-quality content? Per quality GRADE (0–4 = how
    * many of the four filters a doc passes), the doc count, exact-dup
    * incidence (docs whose text appears ≥ 2×), and token mass with its
    * duplicated share — the report that decides whether dedup and
    * quality filtering overlap (dups live in junk grades → either pass
    * alone removes them) or are independent axes (dups spread across
    * grades → you need both). Reuses [[qualitySignals]] verbatim so
    * the grade here IS the ablation's filter stack.
    *
    * Scale shape: grade is map-side; dup incidence aggregates at
    * CONTENT-FINGERPRINT grain (sha-256 — the soft-dedup discipline:
    * the shuffle carries 64-hex keys, never text... except the dup
    * join key itself; fingerprint both sides), then a 5-row
    * grade-grain rollup. Integer ppm floor-divides, non-negative. */
  val extQualityDupProfile: Q = (s, d) => {
    val sig = qualitySignals(s, d)
      .select(col("doc_id"), col("n_tok"),
              sha2(col("text"), 256).as("fp"),
              (col("p1").cast("long") + col("p2").cast("long") +
               col("p3").cast("long") + col("p4").cast("long")).as("grade"))
    val copies = sig.groupBy(col("fp")).agg(count(lit(1)).as("k"))
    sig.join(copies, Seq("fp"))
      .groupBy(col("grade"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
           sum(col("n_tok")).as("n_tokens"),
           sum(when(col("k") > 1, col("n_tok")).otherwise(0L))
             .as("dup_tokens"))
      .select(col("grade"), col("n_docs"), col("n_dup_docs"),
              expr("n_dup_docs * 1000000 div n_docs").as("dup_ppm"),
              col("n_tokens"),
              expr("dup_tokens * 1000000 div greatest(n_tokens, 1)")
                .as("dup_tok_ppm"))
      .orderBy(col("grade"))
  }

  /** E57 — dataset attestation: a Merkle-style commitment tree over the
    * frozen corpus — per-doc digest → 64-digest SEGMENT roots →
    * per-shard roots → one dataset root — the reproducibility artifact
    * a training run records so "trained on corpus X" is verifiable
    * (and any later mutation is detectable down to the shard that
    * changed, without re-hashing the other shards).
    *
    * Determinism: doc digest = md5(doc_id || '|' || text); shard =
    * hash60 mod 8; within-shard order is (digest, doc_id) — content-
    * derived, so the tree is invariant to partitioning, file order,
    * and ingestion history. Tamper evidence is hierarchical by
    * construction: editing one doc flips exactly one segment root, one
    * shard root, and the dataset root (spec'd).
    *
    * Scale shape: digesting is map-only; the tree aggregates at
    * BOUNDED fan-in — ≤64 digests per segment group (collect_list is
    * capped by construction), then segment-grain and shard-grain
    * rollups. At 100 TB the segment level keeps every group's state
    * O(64·32 B) regardless of corpus size; deeper corpora add tree
    * LEVELS (segments-of-segments), not group width. The dataset root
    * is an 8-row broadcast. */
  val extMerkleShards: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit("|"), col("text")))
          .as("dig"),
        pmod(Dedup.hash60(concat(lit("ms|"), col("doc_id").cast("string"))),
             lit(8L)).as("shard"))
    val ranked = docs.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("dig"), col("doc_id"))))
    val segRoots = ranked
      .withColumn("seg", expr("(rn - 1) div 64"))
      .groupBy(col("shard"), col("seg"))
      .agg(count(lit(1)).as("nd"),
           md5(array_join(transform(
             array_sort(collect_list(struct(col("rn"), col("dig")))),
             x => x.getField("dig")), "")).as("segroot"))
    val shardRoots = segRoots
      .groupBy(col("shard"))
      .agg(sum(col("nd")).as("n_docs"),
           count(lit(1)).as("n_segments"),
           md5(array_join(transform(
             array_sort(collect_list(struct(col("seg"), col("segroot")))),
             x => x.getField("segroot")), "")).as("shard_root"))
    // dataset root via a whole-frame window over the 8-row shard frame
    // (a crossJoin agg would re-derive the whole tree lineage a second
    // time and plan a BroadcastNestedLoopJoin — the extDomainReweight
    // lesson; the unpartitioned window sorts shard-count rows only)
    shardRoots
      .withColumn("dataset_root",
        md5(array_join(transform(
          array_sort(collect_list(struct(col("shard"), col("shard_root")))
            .over(wholeFrame)),
          x => x.getField("shard_root")), "")))
      .select(col("shard"), col("n_docs"), col("n_segments"),
              col("shard_root"), col("dataset_root"))
      .orderBy(col("shard"))
  }

  val queries: Map[String, Q] = Map(
    "ext_quality_dup_profile" -> extQualityDupProfile,
    "ext_merkle_shards" -> extMerkleShards,
    "ext_quality_ablation" -> extQualityAblation,
    "ext_data_build" -> extDataBuild,
    "ext_key_skew" -> extKeySkew,
    "ext_keep_best" -> extKeepBest,
    "dq_report" -> dqReport,
    "ext_dedup_pipeline" -> extDedupPipeline)

  val oracles: Map[String, String] = Map(
    // same four cross-multiplied predicates as the ablation oracle,
    // summed to a grade; dup incidence via text-grain copy counts
    "ext_quality_dup_profile" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_dtok,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |      AS BIGINT) AS letters
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text, n_tok,
        |    CAST(
        |      CASE WHEN n_chars >= 150 AND n_chars <= 450 THEN 1 ELSE 0 END +
        |      CASE WHEN letters * 10 >= n_chars * 6 THEN 1 ELSE 0 END +
        |      CASE WHEN n_dtok * 10 >= n_tok * 3 THEN 1 ELSE 0 END +
        |      CASE WHEN n_chars - n_tok + 1 <= n_tok * 12 THEN 1 ELSE 0 END
        |      AS BIGINT) AS grade
        |  FROM b),
        |cp AS (SELECT text, CAST(count(*) AS BIGINT) AS k
        |       FROM documents GROUP BY 1),
        |j AS (SELECT grade, n_tok, k FROM g JOIN cp USING (text)),
        |r AS (
        |  SELECT grade, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN k > 1 THEN n_tok ELSE 0 END) AS BIGINT)
        |      AS dup_tokens
        |  FROM j GROUP BY 1)
        |SELECT grade, n_docs, n_dup_docs,
        |  CAST(n_dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm,
        |  n_tokens,
        |  CAST(dup_tokens * 1000000 // greatest(n_tokens, 1) AS BIGINT)
        |    AS dup_tok_ppm
        |FROM r ORDER BY grade""".stripMargin,
    // tree replay: same digest, hash-mod shard, (digest, doc_id) rank,
    // 64-fan-in segment roots, ordered string_agg at every level
    "ext_merkle_shards" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    md5(CAST(doc_id AS VARCHAR) || '|' || text) AS dig,
         |    ${Dedup.hash60Sql("'ms|' || CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM documents),
         |r AS (
         |  SELECT shard, dig,
         |    row_number() OVER (PARTITION BY shard ORDER BY dig, doc_id)
         |      AS rn
         |  FROM d),
         |seg AS (
         |  SELECT shard, (rn - 1) // 64 AS seg,
         |    CAST(count(*) AS BIGINT) AS nd,
         |    md5(string_agg(dig, '' ORDER BY rn)) AS segroot
         |  FROM r GROUP BY 1, 2),
         |sh AS (
         |  SELECT shard, CAST(sum(nd) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_segments,
         |    md5(string_agg(segroot, '' ORDER BY seg)) AS shard_root
         |  FROM seg GROUP BY 1)
         |SELECT shard, n_docs, n_segments, shard_root, dr.dataset_root
         |FROM sh CROSS JOIN (
         |  SELECT md5(string_agg(shard_root, '' ORDER BY shard))
         |    AS dataset_root FROM sh) dr
         |ORDER BY shard""".stripMargin,
    "ext_quality_ablation" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_dtok,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |      AS BIGINT) AS letters
        |  FROM documents),
        |f AS (
        |  SELECT
        |    n_chars >= 150 AND n_chars <= 450 AS p1,
        |    letters * 10 >= n_chars * 6 AS p2,
        |    n_dtok * 10 >= n_tok * 3 AS p3,
        |    n_chars - n_tok + 1 <= n_tok * 12 AS p4
        |  FROM b),
        |u AS (
        |  SELECT 'alpha' AS filter, p2 AS pass, p1 AND p3 AND p4 AS others,
        |    p1 AND p2 AND p3 AND p4 AS all_pass FROM f
        |  UNION ALL SELECT 'diversity', p3, p1 AND p2 AND p4,
        |    p1 AND p2 AND p3 AND p4 FROM f
        |  UNION ALL SELECT 'len', p1, p2 AND p3 AND p4,
        |    p1 AND p2 AND p3 AND p4 FROM f
        |  UNION ALL SELECT 'wordlen', p4, p1 AND p2 AND p3,
        |    p1 AND p2 AND p3 AND p4 FROM f)
        |SELECT filter, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN NOT pass THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail,
        |  CAST(SUM(CASE WHEN NOT pass AND others THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unique_fail,
        |  CAST(SUM(CASE WHEN all_pass THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_all
        |FROM u GROUP BY 1 ORDER BY filter""".stripMargin,
    "ext_data_build" ->
      s"""WITH ex AS (
         |  SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source,
         |         text
         |  FROM documents GROUP BY text),
         |k AS (
         |  SELECT doc_id, source, text,
         |    ${TextAnalysis.qualityExprSql("text")} AS q
         |  FROM ex
         |  WHERE ${TextAnalysis.qualityExprSql("text")} >= 0.6),
         |sp AS (
         |  SELECT source,
         |    CASE WHEN ${Dedup.hash60Sql("'split|' || doc_id")} % 10 <= 7 THEN 'train'
         |         WHEN ${Dedup.hash60Sql("'split|' || doc_id")} % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws, q
         |  FROM k)
         |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ws) AS BIGINT) AS token_mass,
         |  CAST(SUM(CAST(round(q, 12) AS DECIMAL(28,12))) AS DOUBLE)
         |    / count(*) AS mean_quality
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ext_key_skew" ->
      """WITH c AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT o_custkey, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(n AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(total AS DOUBLE) AS skew_ratio
        |FROM c CROSS JOIN g
        |ORDER BY n DESC, o_custkey LIMIT 5""".stripMargin,
    // minhash banding + transitive closure replay (as ext_dedup_clusters)
    // joined with the shared quality expression; election replayed with
    // the same (quality DESC, doc_id) tie-break
    "ext_keep_best" ->
      s"""WITH RECURSIVE ${Dedup.minhashPairsSql},
         |${Clustering.closureSql(docs = true, share = false)},
         |q AS (SELECT doc_id, ${TextAnalysis.qualityExprSql("text")} AS quality
         |      FROM documents),
         |r AS (SELECT cl.node AS doc_id, cl.cluster_id, q.quality,
         |  row_number() OVER (PARTITION BY cl.cluster_id
         |    ORDER BY q.quality DESC, cl.node) AS rn
         |  FROM cl JOIN q ON q.doc_id = cl.node)
         |SELECT r.cluster_id, r.doc_id AS kept_doc,
         |  r.quality AS kept_quality, sz.cluster_size
         |FROM r JOIN sz USING (cluster_id)
         |WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "dq_report" ->
      """SELECT 'dup_order_pk' AS check_name, CAST(count(*) AS BIGINT) AS n_bad
        |FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'negative_prices', CAST(count(*) AS BIGINT) FROM lineitem
        |WHERE l_extendedprice < 0
        |UNION ALL
        |SELECT 'null_qty_lineitems', CAST(count(*) AS BIGINT) FROM lineitem
        |WHERE l_quantity IS NULL OR l_extendedprice IS NULL
        |UNION ALL
        |SELECT 'orphan_lineitems', CAST(count(*) AS BIGINT) FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'orphan_orders', CAST(count(*) AS BIGINT) FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |ORDER BY check_name""".stripMargin,
    "ext_dedup_pipeline" ->
      """WITH exact AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source, text
        |  FROM documents GROUP BY text),
        |dw AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(string_split(lower(text), ' '))) AS w
        |  FROM exact),
        |cnt AS (SELECT doc_id, count(*) AS nw FROM dw GROUP BY 1),
        |dropped AS (
        |  SELECT DISTINCT d2 AS doc_id FROM (
        |    SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS n_common
        |    FROM dw x JOIN dw y ON x.w = y.w AND x.source = y.source
        |      AND x.doc_id < y.doc_id GROUP BY 1, 2) p
        |  JOIN cnt c1 ON p.d1 = c1.doc_id
        |  JOIN cnt c2 ON p.d2 = c2.doc_id
        |  WHERE CAST(n_common AS DOUBLE) / (c1.nw + c2.nw - n_common) >= 0.9),
        |kept AS (
        |  SELECT * FROM exact
        |  WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.doc_id = exact.doc_id))
        |SELECT e.source, CAST(e.n AS BIGINT) AS n_after_exact,
        |  CAST(k.n AS BIGINT) AS n_kept,
        |  CAST(e.n - k.n AS BIGINT) AS n_near_dups_removed
        |FROM (SELECT source, count(*) AS n FROM exact GROUP BY 1) e
        |JOIN (SELECT source, count(*) AS n FROM kept GROUP BY 1) k USING (source)
        |ORDER BY source""".stripMargin)
}
