package graft.ops

import graft.Tables
import graft.expressions.Natives
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM-training-data pipelines (the
  * BASELINE.json extension mandate beyond `/root/reference`'s own
  * surface, sibling of [[TextAnalysis]] / [[Dedup]]): repetition signals
  * (C4/Gopher-style duplicate-n-gram and top-token ratios), PII
  * scrubbing (regex redaction with counts), TF-IDF term scoring, and
  * train/test contamination detection (cross-set shingle overlap).
  *
  * Scale notes: repetition and PII scrubbing are pure per-row expression
  * work — shuffle-free map stages at any scale. TF-IDF shuffles postings
  * (doc, token) twice (tf, then df) — the canonical inverted-index
  * build; the df side is vocabulary-sized and joins unhinted so AQE
  * picks broadcast-vs-SMJ from its measured size. Contamination joins
  * per-doc-DISTINCT shingles across the probe/train split with a
  * document-frequency cap that drops boilerplate shingles — which is
  * simultaneously the skew guard: no shingle's posting list exceeds the
  * cap, so the join cannot produce a hot key.
  */
object Curation {

  private def toks(c: Column): Column = split(lower(c), " ")

  /** Raw (non-distinct) word 3-gram list; whole-text fallback below 3
    * tokens, mirroring [[Dedup.shingles3]] minus its dedup — repetition
    * measurement needs the duplicates kept. */
  private def rawShingles3(text: Column): Column =
    bindOnce(toks(text)) { t =>
      when(size(t) >= 3,
        transform(sequence(lit(0), size(t) - 3), i =>
          concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
                    element_at(t, i + 3))))
        .otherwise(array(lower(text)))
    }

  /** E5 — repetition signals (the Gopher/C4 quality-filter family):
    * duplicate-3-gram ratio and top-token ratio per document. Ratios are
    * exact-integer divisions (bit-identical cross-engine). */
  val extRepetition: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), rawShingles3(col("text")).as("gs"),
              toks(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("gs")).as("n_3grams"),
        size(array_distinct(col("gs"))).as("distinct_3grams"),
        (lit(1.0) - size(array_distinct(col("gs"))).cast("double") /
          size(col("gs"))).as("dup_3gram_ratio"),
        (array_max(transform(array_distinct(col("tk")),
            u => size(filter(col("tk"), x => x === u)))).cast("double") /
          size(col("tk"))).as("top_token_ratio"))
      .withColumn("is_repetitive",
        col("dup_3gram_ratio") > 0.05 || col("top_token_ratio") > 0.2)
      .orderBy(col("doc_id"))

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** E6 — PII scrub (C4-style cleanup): count and redact email/phone
    * patterns. Counts are taken on the ORIGINAL text; redaction replaces
    * emails first, then phone-shaped digit runs on the email-scrubbed
    * text (pinned order — the two patterns can overlap). The scrubbed
    * text itself is emitted as a sha256 so the oracle hash-checks the
    * full transform without hauling text through the dump. */
  val extPiiScrub: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
          .as("n_phones"),
        sha2(regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"), 256).as("scrub_sha"))
      .withColumn("pii_free", col("n_emails") === 0 && col("n_phones") === 0)
      .orderBy(col("doc_id"))

  /** E7 — TF-IDF top-3 terms per document over the whole corpus.
    *
    * The idf factor is RECIPROCAL, (N+1)/(df+1), not logarithmic: every
    * score is then one IEEE division of exact integers — bit-identical
    * across engines — where ln() is library-dependent in its last ulp
    * and can flip a rank tie. Semantics differ: reciprocal idf boosts
    * rare terms MORE aggressively than Lucene's 1+ln damping (which can
    * prefer a high-tf common term — CurationSpec constructs the
    * disagreement); corpora wanting the damped ranking use [[tfidfLog]]
    * (spec-checked, not oracle-bound). */
  val extTfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // df as an unordered count-over-tok window on the per-(doc, tok)
    // frame — tf has one row per containing doc, so the window count IS
    // the document frequency. Replaces the groupBy(tok)+equi-join shape
    // (one whole exchange + the join) with a single tok exchange.
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf").cast("double") * (col("n_docs") + 1) / (col("df") + 1))
          .as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"),
              col("rn").cast("int").as("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Lucene-style log-idf scoring (library form): tf · (1 + ln((N+1)/(df+1))).
    * Same plan shape as [[extTfidf]]; kept out of the oracle because ln()
    * is not bit-portable. */
  def tfidfLog(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tok")) // df via window, as in extTfidf
    tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf") * (lit(1.0) +
          log((col("n_docs") + 1).cast("double") / (col("df") + 1))))
          .as("score"))
  }

  /** E8 — train/test contamination: documents of the held-out `probe`
    * source sharing word-3-gram shingles with any other source's
    * documents (the overlap check run before training on any corpus with
    * a benchmark slice in it). Shingles are per-doc distinct
    * ([[Dedup.shingles3]]); shingles appearing in more than `maxDf` docs
    * are dropped as boilerplate — which also caps every posting list, so
    * the cross-set join has no skew by construction. */
  def contamination(s: org.apache.spark.sql.SparkSession, d: String,
                    probe: String, maxDf: Int)
      : org.apache.spark.sql.DataFrame = {
    // Single pass: ONE shingle explode and ONE shuffle on the shingle
    // builds both posting lists per shingle (test side and train side)
    // simultaneously; the df cap and the both-sides-nonempty filter
    // drop boilerplate and unshared shingles before the tiny pair
    // explode. The previous shape evaluated the explode lineage three
    // times (df aggregate + two join branches, three g-shuffles); A/B
    // min 1.68 s → this, one g-shuffle. Posting lists are bounded by
    // maxDf, so collect_list stays O(maxDf) per key — no skew possible.
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              explode(Dedup.shingles3(col("text"))).as("g"))
    sh.groupBy(col("g"))
      .agg(count(lit(1)).as("dfg"),
           collect_list(when(col("source") === probe, col("doc_id")))
             .as("test_docs"),
           collect_list(when(col("source") =!= probe, col("doc_id")))
             .as("train_docs"))
      .filter(col("dfg") <= maxDf &&
              size(col("test_docs")) > 0 && size(col("train_docs")) > 0)
      .select(explode(col("test_docs")).as("test_doc"), col("train_docs"))
      .select(col("test_doc"), explode(col("train_docs")).as("train_doc"))
      .groupBy(col("test_doc"), col("train_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("test_doc"), col("train_doc"))
  }

  val extContamination: Q = (s, d) => contamination(s, d, "src0", 5)

  /** E21 — language-model quality scoring (the CCNet/KenLM filter
    * pattern): a char-trigram unigram LM with add-one smoothing is
    * "trained" on a deterministic corpus slice (doc_id % 2 = 0) and every
    * document is scored by its mean trigram log-probability — low scores
    * flag text unlike the reference distribution (the standard
    * perplexity-bucket curation signal).
    *
    * Cross-engine determinism: each trigram's log-prob is rounded to 9
    * decimals and cast to DECIMAL BEFORE summing, so the per-doc sum is
    * order-independent (a raw double Σln depends on shuffle order). Add-
    * one mass: p(t) = (cnt(t)+1)/(N+V), unseen p = 1/(N+V).
    *
    * Scale shape: LM build is one groupBy on the train slice's trigrams;
    * scoring is an equi-join of doc trigrams against the (vocabulary-
    * sized, AQE-broadcastable) LM table + one per-doc aggregate. Nothing
    * driver-side. */
  val extLmScore: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // char trigrams of lower(text); whole text as one gram below length 3.
    // bindOnce is load-bearing: an inline lower(text) inside the
    // transform lambda re-lowercases the WHOLE document once per
    // position (O(len²) char copies), the same repeated-inlining trap
    // shingles3 hit in round 2. A/B at sf0.1: 4.6 s inlined → 2.9 s
    // bound (with the postings-grain rework below already in place).
    // native one-pass window expression (Dedup.extSubstringDedup note):
    // per-position substr is O(len²) on a giant row
    def chargrams(c: String): Column =
      bindOnce(lower(col(c))) { lt =>
        when(length(lt) >= 3,
          Natives.slidingWindows(lt, 3, 1))
          .otherwise(array(lt))
      }
    // Postings grain, not occurrence grain: per-doc trigram COUNTS are
    // built once (one explode + one shuffle, materialized — the "build
    // the postings table" step a deployment would persist), the LM is a
    // reaggregation of the train half of the SAME frame, and scoring
    // weights each distinct trigram's log-prob by its count (c·logp with
    // c exact — identical sum, ~⅓ the join/shuffle rows). The first cut
    // joined raw occurrences and re-exploded the corpus twice; together
    // with the bindOnce fix above: 4.9 s → 2.9 s at sf0.1.
    // pinned parallelism for the trigram explode: the corpus is one
    // parquet split (byte-sized), but the projection is ~1k substr+hash
    // ops per doc — same AQE-coalescing trap as ext_winnowing's A/B
    // (PLANS.md round-5 session 2): an unnumbered repartition gets
    // coalesced back to one partition by byte-based sizing
    val perDoc = fanout(docs, col("doc_id"))
      .select(col("doc_id"), explode(chargrams("text")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val lm = perDoc.filter(col("doc_id") % 2 === 0)
      .groupBy(col("t")).agg(sum(col("c")).as("cnt"))
    val stats = broadcast(
      lm.agg(sum(col("cnt")).as("n_total"),
             count(lit(1)).as("v_size")))
    // Integer micro-nat quantization, NOT round(ln, 9): Spark's round on
    // a double is exact-decimal HALF_UP while DuckDB's is float-multiply
    // rounding — they disagree ~1e-6 per value, which at sf0.1's ~2.5M
    // distinct (doc,trigram) pairs produced real last-digit mismatches.
    // floor(x·1e6) is IEEE-exact on both engines given the same ln
    // input, and everything downstream is pure BIGINT until one final
    // per-doc round (boundary risk per DOC ~1e-9, vs per TRIGRAM before).
    val logp = floor(
      log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("n_total") + col("v_size")).cast("double")) * lit(1000000.0))
    perDoc.join(lm, Seq("t"), "left")
      .crossJoin(stats)
      .select(col("doc_id"), col("c"), logp.as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tri"),
           sum(col("c") * col("lp")).as("slp"))
      // mean in integer micro-nats too: round(slp/1e6/n, 6) left a ~1e-9
      // per-doc HALF_UP boundary risk, and the sf3 sweep's 1.5M docs hit
      // it once (doc 4374: …462 vs …463). ceil-at-micro-grain via the
      // non-negative floor-divide idiom (-(-slp div n)) is IEEE-free
      // until one exact ≤2.6e7-magnitude integer → double.
      .select(col("doc_id"), col("n_tri"),
              (expr("-((-slp) div n_tri)").cast("double") /
                 lit(1000000.0)).as("mean_logp"))
      .orderBy(col("doc_id"))
  }

  /** E25 — frequency-ranked vocabulary encoding: the tokenize-to-IDs
    * step every training pipeline runs before packing. Vocabulary =
    * top-256 tokens by corpus frequency (ties broken by token — the
    * determinism every reproducible-vocab build needs); each document's
    * first 16 tokens map to their IDs (0 = OOV), emitted as a
    * comma-joined sequence (the compare harness diffs flat values, so
    * the sequence travels as one string).
    *
    * Scale shape: token counts are a partial-aggregated explode; the
    * rank window is a SINGLE-PARTITION sort over the VOCABULARY (which
    * is count-bounded — ~vocab-size rows, never corpus rows; a 100 TB
    * run ranking millions of types would TakeOrdered the top-K
    * instead); the encode join probes a 256-row broadcast. Documents
    * whose filtered token list is empty encode to no rows (both
    * engines). Order inside the sequence is restored from posexplode
    * positions via sorted-struct collect — collect_list order after a
    * shuffle is otherwise undefined. */
  val extVocabEncode: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val filtToks = "filter(split(lower(text), ' '), t -> t <> '')"
    val tokens = docs.select(
      explode(expr(filtToks)).as("tok"))
    val vocab = tokens.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))).cast("int"))
      .filter(col("id") <= 256)
      .select(col("tok"), col("id"))
    docs.select(col("doc_id"),
        posexplode(expr(s"slice($filtToks, 1, 16)")))
      .withColumnRenamed("col", "tok")
      .join(vocab, Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
              coalesce(col("id"), lit(0)).as("id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
           array_join(
             transform(array_sort(collect_list(struct(col("pos"), col("id")))),
                       x => x.getField("id").cast("string")), ",")
             .as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** E32 — out-of-vocabulary rate per source against the SAME top-256
    * corpus vocabulary [[extVocabEncode]] builds: the per-slice drift
    * number a tokenizer owner watches (a source whose OOV rate climbs is
    * drifting away from the vocabulary the model was built on). Token
    * counts partial-aggregate before the 256-row broadcast anti-probe;
    * the rate is one division of exact longs. */
  val extOovRate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val filtToks = "filter(split(lower(text), ' '), t -> t <> '')"
    val tokens = docs.select(col("source"),
      explode(expr(filtToks)).as("tok"))
    val vocab = tokens.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))).cast("int"))
      .filter(col("id") <= 256)
      .select(col("tok"))
    tokens.join(vocab.withColumn("inv", lit(1)), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
              (col("n_oov").cast("double") / col("n_tokens").cast("double"))
                .as("oov_rate"))
      .orderBy(col("source"))
  }

  /** E6 — corpus-level line (segment) dedup, the C4/CCNet/RefinedWeb
    * boilerplate-removal step: the exact-duplicate-LINE filter every web
    * corpus runs before training (nav bars, cookie banners, footers
    * repeat across pages verbatim; C4 drops any line occurring ≥3 times
    * in the corpus). This corpus has no newlines, so fixed 8-word
    * segments stand in for lines — the operator shape (segment → corpus
    * document-frequency → per-doc keep stats) is identical.
    *
    * Segmentation is array `slice` work on the already-split token
    * array — NO word-level explode, so the only shuffle is on segment
    * text (≈ docs × ~12 rows) for the DF count, then a second bounded
    * aggregate back to doc grain. At 100 TB both shuffles carry
    * (hash-sized) segment keys; shuffling 32-byte segment hashes instead
    * of the text is the production variant (same plan, smaller rows; the
    * text is kept here so the oracle replays verbatim). Keep-ratio is
    * one division of exact longs — bit-identical cross-engine. */
  val extLineDedup: Q = (s, d) => {
    val segs = bindOnce(split(col("text"), " ")) { t =>
      transform(sequence(lit(0), floor((size(t) + 7) / lit(8)).cast("int") - 1),
                k => array_join(slice(t, k * lit(8) + 1, lit(8)), " "))
    }
    val seg = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(segs).as(Seq("seg_no", "seg")))
    val df = seg.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    seg.join(df, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
           sum(when(col("n_docs") < 3, 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_seg"), col("n_kept"),
              (col("n_kept").cast("double") / col("n_seg").cast("double"))
                .as("keep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** E47b — per-source BOILERPLATE audit (the RefinedWeb/C4 navbar–
    * cookie-banner–footer detector, scoped WITHIN a source the way
    * production pipelines scope it per domain): a segment is
    * boilerplate for a source when it recurs in ≥ 3 distinct documents
    * OF THAT SOURCE, and the report is source-grain — how many distinct
    * segments the source has, how many are boilerplate, and what
    * fraction of the source's total segment occurrences the boilerplate
    * accounts for. Complements [[extLineDedup]] (corpus-global segment
    * DF, doc-grain keep stats) with the per-domain summary a curation
    * run reads FIRST to decide which sources need scrubbing.
    *
    * Same no-word-explode segmentation (array slices of the split
    * array, 8-word segments standing in for lines in this newline-free
    * corpus). Two bounded shuffles: (source, seg) for the DF count —
    * at 100 TB shuffle the segment hash, not the text, same plan — and
    * the 5-group source rollup. The boilerplate fraction is one
    * division of exact longs. */
  val extBoilerplateLines: Q = (s, d) => {
    val segs = bindOnce(split(col("text"), " ")) { t =>
      transform(sequence(lit(0), floor((size(t) + 7) / lit(8)).cast("int") - 1),
                k => array_join(slice(t, k * lit(8) + 1, lit(8)), " "))
    }
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), explode(segs).as("seg"))
      .groupBy(col("source"), col("seg"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("nd"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_segments"),
           sum(when(col("nd") >= 3, 1L).otherwise(0L)).as("n_boiler_segs"),
           sum(col("occ")).as("total_occ"),
           sum(when(col("nd") >= 3, col("occ")).otherwise(0L))
             .as("boiler_occ"))
      .select(col("source"), col("n_segments"), col("n_boiler_segs"),
              col("total_occ"), col("boiler_occ"),
              (col("boiler_occ").cast("double") /
               col("total_occ").cast("double")).as("boiler_frac"))
      .orderBy(col("source"))
  }

  /** E48 — dataset release diff: per-source added / removed / changed /
    * unchanged counts between two corpus snapshots — the audit every
    * dataset release ships ("v2 removed 5% of web, edited 10% of
    * books") and the gate for incremental retraining decisions. The
    * snapshots here are hash-derived views of the one documents table
    * (each release drops a different pseudo-random 5%; v2 additionally
    * edits a 10% slice), so both engines derive identical releases; the
    * operator itself is the real thing: a full-outer join on doc_id
    * comparing CONTENT FINGERPRINTS (sha-256), never the text — at
    * 100 TB the diff shuffles 32-byte digests + keys, not documents,
    * and classifies each key into the 4-way status in one pass. Only
    * fingerprint EQUALITY crosses the engines (hex strings compare
    * consistently within each engine), so no float/format hazard. */
  val extDatasetDiff: Q = (s, d) => {
    def inRelease(ns: String) =
      pmod(Dedup.hash60(concat(lit(ns), col("doc_id").cast("string"))),
           lit(20L)) =!= 0L
    val edited =
      pmod(Dedup.hash60(concat(lit("edit|"), col("doc_id").cast("string"))),
           lit(10L)) === 0L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    val v1 = docs.where(inRelease("rel1|"))
      .select(col("doc_id").as("id1"), col("source").as("src1"),
              sha2(col("text"), 256).as("fp1"))
    val v2 = docs.where(inRelease("rel2|"))
      .select(col("doc_id").as("id2"), col("source").as("src2"),
              sha2(when(edited, concat(col("text"), lit(" [v2]")))
                .otherwise(col("text")), 256).as("fp2"))
    v1.join(v2, col("id1") === col("id2"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
        when(col("id1").isNull, lit("added"))
          .when(col("id2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("status"))
  }

  /** E49 — span-corruption mask generation (T5/UL2-style denoising
    * objective plumbing) as a pure dataflow: tokens are grouped in
    * 3-token spans and a span is masked iff its decision hash clears a
    * 15% gate (3/20), so the mask is a pure function of (doc_id,
    * span index) — reproducible across epochs, workers, and engines,
    * with no PRNG state to ship. Emits the per-doc mask accounting a
    * data loader needs (masked tokens, contiguous span count after
    * adjacent-span merge, achieved permille) — the sentinel-token
    * rewrite consumes exactly these group decisions executor-side. All
    * array ops are per-row (`sequence`/`filter`/`aggregate` inside one
    * projection), so the operator is a pure map stage: no shuffle, no
    * state, embarrassingly parallel at any SF. Integer-exact end to end
    * (the permille is an integer floor-divide). */
  val extSpanCorruption: Q = (s, d) => {
    def grpHash(g: Column) =
      pmod(Dedup.hash60(concat(lit("m|"), col("doc_id").cast("string"),
                               lit("|"), g.cast("string"))), lit(20L))
    Tables.documents(s, d)
      .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("n_grp", expr("(n_tok + 2) div 3"))
      .withColumn("mg",
        filter(sequence(lit(0L), col("n_grp") - 1L), g => grpHash(g) < 3L))
      .select(col("doc_id"), col("n_tok"),
        coalesce(aggregate(col("mg"), lit(0L),
            (acc, g) => acc + least(lit(3L), col("n_tok") - g * 3L)),
          lit(0L)).as("n_masked"),
        size(filter(col("mg"),
            g => !array_contains(col("mg"), g - 1L)))
          .cast("long").as("n_spans"))
      .withColumn("mask_pm", expr("n_masked * 1000 div n_tok"))
      .orderBy(col("doc_id"))
  }

  /** E60 — incremental materialized-view maintenance: the per-language
    * corpus MV (docs / chars / token mass) maintained by MERGING a
    * delta batch (doc_id ≥ 400) into the previous MV state (doc_id
    * < 400) instead of recomputing — the pattern that turns the
    * reference's REFRESH-the-world materialized views
    * (`/root/reference/sql/performance_optimization.sql:83-91`) into an
    * O(delta) nightly job at 100 TB. Only mergeable partials are
    * stored (counts and exact decimal sums — never averages); the
    * ratio is re-derived after the merge. The full-outer merge keys on
    * the MV grain (langs — bounded), so the merge cost is independent
    * of corpus size. The ORACLE RECOMPUTES FROM SCRATCH: equality of
    * the merged path with the recompute is exactly the invariant that
    * makes incremental maintenance trustworthy. */
  val extMvMerge: Q = (s, d) => {
    def mv(df: DataFrame) = df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars").cast("long")).as("n_chars"),
           sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val docs = Tables.documents(s, d)
    val old = mv(docs.filter(col("doc_id") < 400))
      .select(col("lang"), col("n_docs").as("d0"), col("n_chars").as("c0"),
              col("n_tokens").as("t0"))
    val delta = mv(docs.filter(col("doc_id") >= 400))
      .select(col("lang"), col("n_docs").as("d1"), col("n_chars").as("c1"),
              col("n_tokens").as("t1"))
    old.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("d0"), lit(0L)) + coalesce(col("d1"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("c1"), lit(0L)))
          .as("n_chars"),
        (coalesce(col("t0"), lit(0L)) + coalesce(col("t1"), lit(0L)))
          .as("n_tokens"))
      .withColumn("chars_per_doc", expr("n_chars * 100 div n_docs"))
      .orderBy(col("lang"))
  }

  /** E5u — URL CANONICALIZATION DEDUP (the first stage of every
    * web-crawl curation build, upstream even of text dedup: CC-style
    * pipelines drop ~30% of fetches as URL-variant duplicates before
    * reading a byte of body): deterministic synthetic raw URLs carrying
    * the classic surface variants (www prefix, host case, trailing
    * slash, tracking query, fragment — all keyed off doc_id so both
    * engines build identical strings), canonicalized by the standard
    * normalization chain (lowercase → strip query/fragment → strip www
    * → strip trailing slash), then per-source dup accounting with a
    * min-doc_id keeper per canonical URL.
    *
    * Scale shape: one map stage builds+canonicalizes (regex, codegen'd),
    * one shuffle on (source, canonical) — the canonical string is
    * bounded (~60 chars), so the shuffle moves keys, not documents —
    * then a source-grain rollup. At 100 TB this is the cheapest dedup
    * tier: no shingles, no signatures, just key normalization. */
  val extUrlDedup: Q = (s, d) => {
    val raw = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        concat(
          lit("https://"),
          when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, upper(col("source")))
            .otherwise(col("source")),
          lit(".example.org"), lit("/p"),
          (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
               concat(lit("?utm_source="), col("source")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit("")))
          .as("url"))
    val canon = raw.withColumn("curl",
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(col("url")), "[?#].*$", ""),
          "^https://www\\.", "https://"),
        "/$", ""))
    canon
      .groupBy(col("source"), col("curl"))
      .agg(count(lit(1)).as("n_raw"),
           countDistinct(col("url")).as("n_forms"),
           min(col("doc_id")).as("keep_doc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_canonical"),
           sum(col("n_raw")).cast("bigint").as("n_raw"),
           (sum(col("n_raw")) - count(lit(1))).cast("bigint").as("n_dupes"),
           sum(when(col("n_forms") > 1, 1).otherwise(0)).cast("bigint")
             .as("n_multi_form"),
           // checksum of the min-doc_id keepers: makes the keeper choice
           // itself oracle-checked, not dead aggregation work
           sum(col("keep_doc")).cast("bigint").as("keep_doc_sum"),
           round((sum(col("n_raw")) - count(lit(1))).cast("double") /
                   sum(col("n_raw")).cast("double"), 6).as("dup_ratio"))
      .orderBy(col("source"))
  }

  /** E51 — per-source drop-reason attribution across the curation
    * funnel: every document is assigned the FIRST stage that would drop
    * it — `low_quality` (composite score < 0.5, the
    * [[TextAnalysis.qualityExpr]] gate) → `non_english`
    * (stopword-marker ratio < 0.05, the [[TextAnalysis.extLangId]]
    * gate) → `exact_dup` (not the min-doc_id keeper of its normalized
    * sha256 among funnel SURVIVORS) → `kept` — then rolled up to
    * (source, reason) with doc and token counts. This is the
    * operational report behind "why did 100 TB become 40 TB": token-
    * weighted loss per stage per source, the first artifact a curation
    * run ships (cf. the reference's `check_data_quality` gate that
    * pass/fails a run on row-level predicates,
    * `/root/reference/airflow/dags/ml_pipeline_dag.py:45` — here the
    * per-row failure reason itself is the product).
    *
    * Scale shape: one corpus scan computes score/ratio/digest (map-only,
    * two-projection so the tokenizer runs once per row); keeper election
    * is a sha-grain aggregate over survivors (64-hex digest shuffle,
    * never text); reason assignment joins back at sha grain; the rollup
    * is (source × reason)-grain. No all-pairs anywhere. The threshold
    * compares see bit-identical doubles on both engines (same expression
    * tree, IEEE ops), so the branch taken — and the hash — agree. */
  val extDropReasons: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
              toks(col("text")).as("tk"))
      .select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        TextAnalysis.qualityExpr(col("text"), col("tk")).as("q"),
        (TextAnalysis.stopHits(col("tk")).cast("double") / size(col("tk")))
          .as("er"),
        sha2(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")), 256).as("sha"))
    val keepers = base
      .filter(col("q") >= 0.5 && col("er") >= 0.05)
      .groupBy(col("sha")).agg(min(col("doc_id")).as("keep_id"))
    base.join(keepers, Seq("sha"), "left")
      .select(col("source"), col("n_tok"),
        when(col("q") < 0.5, lit("low_quality"))
          .when(col("er") < 0.05, lit("non_english"))
          .when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
          .otherwise(lit("kept")).as("reason"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
           sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("reason"))
  }

  val queries: Map[String, Q] = Map(
    "ext_drop_reasons" -> extDropReasons,
    "ext_url_dedup" -> extUrlDedup,
    "ext_boilerplate_lines" -> extBoilerplateLines,
    "ext_mv_merge" -> extMvMerge,
    "ext_span_corruption" -> extSpanCorruption,
    "ext_dataset_diff" -> extDatasetDiff,
    "ext_line_dedup" -> extLineDedup,
    "ext_repetition" -> extRepetition,
    "ext_pii_scrub" -> extPiiScrub,
    "ext_tfidf" -> extTfidf,
    "ext_contamination" -> extContamination,
    "ext_vocab_encode" -> extVocabEncode,
    "ext_oov_rate" -> extOovRate,
    "ext_lm_score" -> extLmScore)

  // ---- oracle SQL --------------------------------------------------------

  private val rawShinglesSql =
    """CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
      |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |ELSE [lt] END""".stripMargin

  private val distinctShinglesSql =
    """CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |ELSE [lt] END""".stripMargin

  val oracles: Map[String, String] = Map(
    // funnel gates replay the proven quality/lang-id/normalize oracle
    // fragments; thresholds compare IEEE-identical doubles, rollup is
    // pure integer
    "ext_drop_reasons" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ${TextAnalysis.qualityExprSql("text")} AS q,
         |    CAST(${TextAnalysis.hitsSql("text")} AS DOUBLE) /
         |      len(string_split(lower(text), ' ')) AS er,
         |    sha256(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS sha
         |  FROM documents),
         |k AS (
         |  SELECT sha, min(doc_id) AS keep_id FROM t
         |  WHERE q >= 0.5 AND er >= 0.05 GROUP BY 1),
         |r AS (
         |  SELECT source, n_tok,
         |    CASE WHEN q < 0.5 THEN 'low_quality'
         |         WHEN er < 0.05 THEN 'non_english'
         |         WHEN doc_id <> keep_id THEN 'exact_dup'
         |         ELSE 'kept' END AS reason
         |  FROM t LEFT JOIN k USING (sha))
         |SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical synthetic URLs and normalization chain; dup accounting
    // is pure integer arithmetic, the ratio ONE IEEE division
    "ext_url_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id, source,
        |    'https://' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END ||
        |    '.example.org' || '/p' || CAST(doc_id % 20 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=' || source
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id, source, url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(url), '[?#].*$', ''),
        |        '^https://www\.', 'https://'),
        |      '/$', '') AS curl
        |  FROM raw),
        |per_curl AS (
        |  SELECT source, curl, count(*) AS n_raw,
        |    COUNT(DISTINCT url) AS n_forms, min(doc_id) AS keep_doc
        |  FROM canon GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_canonical,
        |  CAST(sum(n_raw) AS BIGINT) AS n_raw,
        |  CAST(sum(n_raw) - count(*) AS BIGINT) AS n_dupes,
        |  CAST(SUM(CASE WHEN n_forms > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_multi_form,
        |  CAST(sum(keep_doc) AS BIGINT) AS keep_doc_sum,
        |  round(CAST(sum(n_raw) - count(*) AS DOUBLE) /
        |    CAST(sum(n_raw) AS DOUBLE), 6) AS dup_ratio
        |FROM per_curl GROUP BY source ORDER BY source""".stripMargin,
    // the oracle recomputes from scratch — merged == recomputed IS the
    // incremental-maintenance invariant
    "ext_mv_merge" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(CAST(SUM(n_chars) AS BIGINT) * 100
        |    // CAST(count(*) AS BIGINT) AS BIGINT) AS chars_per_doc
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "ext_span_corruption" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, n_tok,
         |    list_filter(range(0, (n_tok + 2) // 3),
         |      g -> ${Dedup.hash60Sql("'m|' || doc_id || '|' || g")} % 20 < 3) AS mg
         |  FROM b),
         |m AS (
         |  SELECT doc_id, n_tok,
         |    CAST(coalesce(list_sum(list_transform(mg,
         |      g -> least(3, n_tok - g * 3))), 0) AS BIGINT) AS n_masked,
         |    CAST(coalesce(len(list_filter(mg,
         |      g -> NOT list_contains(mg, g - 1))), 0) AS BIGINT) AS n_spans
         |  FROM g)
         |SELECT doc_id, n_tok, n_masked, n_spans,
         |  n_masked * 1000 // n_tok AS mask_pm
         |FROM m ORDER BY doc_id""".stripMargin,
    "ext_dataset_diff" ->
      s"""WITH v1 AS (
         |  SELECT doc_id AS id1, source AS src1, sha256(text) AS fp1
         |  FROM documents
         |  WHERE ${Dedup.hash60Sql("'rel1|' || doc_id")} % 20 <> 0),
         |v2 AS (
         |  SELECT doc_id AS id2, source AS src2,
         |    sha256(CASE WHEN ${Dedup.hash60Sql("'edit|' || doc_id")} % 10 = 0
         |           THEN text || ' [v2]' ELSE text END) AS fp2
         |  FROM documents
         |  WHERE ${Dedup.hash60Sql("'rel2|' || doc_id")} % 20 <> 0),
         |j AS (
         |  SELECT coalesce(src1, src2) AS source,
         |    CASE WHEN id1 IS NULL THEN 'added'
         |         WHEN id2 IS NULL THEN 'removed'
         |         WHEN fp1 <> fp2 THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM v1 FULL OUTER JOIN v2 ON id1 = id2)
         |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
         |FROM j GROUP BY 1, 2 ORDER BY source, status""".stripMargin,
    // same segmentation as ext_line_dedup, DF scoped per source
    "ext_boilerplate_lines" ->
      """WITH w AS (
        |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS word,
        |         generate_subscripts(string_split(text, ' '), 1) AS ord
        |  FROM documents),
        |seg AS (
        |  SELECT source, doc_id, CAST(floor((ord - 1) / 8) AS BIGINT) AS seg_no,
        |         string_agg(word, ' ' ORDER BY ord) AS seg
        |  FROM w GROUP BY 1, 2, 3),
        |df AS (
        |  SELECT source, seg, CAST(count(*) AS BIGINT) AS occ,
        |         count(DISTINCT doc_id) AS nd
        |  FROM seg GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boiler_segs,
        |  CAST(SUM(occ) AS BIGINT) AS total_occ,
        |  CAST(SUM(CASE WHEN nd >= 3 THEN occ ELSE 0 END) AS BIGINT)
        |    AS boiler_occ,
        |  CAST(SUM(CASE WHEN nd >= 3 THEN occ ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(occ) AS DOUBLE) AS boiler_frac
        |FROM df GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical segmentation: word ord 1..n, segment = (ord-1) div 8,
    // words rejoined in ord order ≡ Spark's slice(t, 8k+1, 8)
    "ext_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |         generate_subscripts(string_split(text, ' '), 1) AS ord
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, CAST(floor((ord - 1) / 8) AS BIGINT) AS seg_no,
        |         string_agg(word, ' ' ORDER BY ord) AS seg
        |  FROM w GROUP BY 1, 2),
        |df AS (
        |  SELECT seg, count(DISTINCT doc_id) AS n_docs FROM seg GROUP BY 1)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_seg,
        |  CAST(SUM(CASE WHEN df.n_docs < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN df.n_docs < 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS keep_ratio
        |FROM seg s JOIN df USING (seg)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same LM replay: per-trigram log-probs rounded to 9 decimals and
    // decimal-summed, so both engines' per-doc sums are order-free
    "ext_lm_score" ->
      """WITH lt AS (SELECT doc_id, lower(text) AS x FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(CASE WHEN len(x) >= 3
        |    THEN list_transform(range(1, len(x) - 1),
        |           i -> substr(x, CAST(i AS INTEGER), 3))
        |    ELSE [x] END) AS t
        |  FROM lt),
        |lm AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tri WHERE doc_id % 2 = 0 GROUP BY 1),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |         CAST(count(*) AS BIGINT) AS v_size
        |  FROM lm),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(CAST(coalesce(cnt, 0) + 1 AS DOUBLE) /
        |      CAST(n_total + v_size AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        |  FROM tri LEFT JOIN lm USING (t) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(-((-CAST(sum(lp) AS BIGINT)) // count(*)) AS DOUBLE)
        |    / 1000000.0 AS mean_logp
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_oov_rate" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(string_split(lower(text), ' '),
        |                                    t -> t <> '')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok,
        |    CAST(row_number() OVER (ORDER BY count(*) DESC, tok)
        |         AS INTEGER) AS id
        |  FROM tok GROUP BY tok
        |  QUALIFY id <= 256)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM tok t LEFT JOIN vocab v USING (tok)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_vocab_encode" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                            t -> t <> '')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok,
        |    CAST(row_number() OVER (ORDER BY count(*) DESC, tok)
        |         AS INTEGER) AS id
        |  FROM tok GROUP BY tok
        |  QUALIFY id <= 256),
        |head AS (
        |  SELECT doc_id,
        |    unnest(h) AS tok,
        |    unnest(generate_series(1, len(h))) AS pos
        |  FROM (SELECT doc_id,
        |          list_slice(list_filter(string_split(lower(text), ' '),
        |                                 t -> t <> ''), 1, 16) AS h
        |        FROM documents))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  string_agg(CAST(coalesce(v.id, 0) AS VARCHAR), ','
        |             ORDER BY pos) AS ids_str
        |FROM head LEFT JOIN vocab v USING (tok)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         |         lower(text) AS lt FROM documents),
         |g AS (SELECT doc_id, toks, $rawShinglesSql AS gs FROM t)
         |SELECT doc_id,
         |  CAST(len(gs) AS INTEGER) AS n_3grams,
         |  CAST(len(list_distinct(gs)) AS INTEGER) AS distinct_3grams,
         |  1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) AS dup_3gram_ratio,
         |  CAST(list_max(list_transform(list_distinct(toks),
         |    u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / len(toks)
         |    AS top_token_ratio,
         |  (1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)) > 0.05
         |    OR (CAST(list_max(list_transform(list_distinct(toks),
         |      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / len(toks)) > 0.2
         |    AS is_repetitive
         |FROM g ORDER BY doc_id""".stripMargin,
    "ext_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS INTEGER) AS n_phones,
        |  sha256(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g')) AS scrub_sha,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) = 0
        |  AND len(regexp_extract_all(text,
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]')) = 0 AS pii_free
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ext_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM tk GROUP BY 1, 2),
        |dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT doc_id, tok, tf, df, score, rn FROM (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfx.df,
        |    CAST(tf.tf AS DOUBLE) * (n.n_docs + 1) / (dfx.df + 1) AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |      CAST(tf.tf AS DOUBLE) * (n.n_docs + 1) / (dfx.df + 1) DESC,
        |      tf.tok) AS INTEGER) AS rn
        |  FROM tf JOIN dfx ON tf.tok = dfx.tok CROSS JOIN n)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "ext_contamination" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks,
         |         lower(text) AS lt FROM documents),
         |sh AS (SELECT doc_id, source, unnest($distinctShinglesSql) AS g FROM t),
         |ok AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 5)
         |SELECT a.doc_id AS test_doc, b.doc_id AS train_doc,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM (SELECT doc_id, g FROM sh JOIN ok USING (g) WHERE source = 'src0') a
         |JOIN (SELECT doc_id, g FROM sh JOIN ok USING (g) WHERE source <> 'src0') b
         |  USING (g)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
