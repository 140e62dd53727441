package graft.ops

import graft.Tables
import graft.expressions.Natives
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (SURVEY.md
  * §2.11 / BASELINE.json extension mandate): language-ID heuristics,
  * quality scoring, token counting (whitespace + BPE-ish regex), document
  * fingerprinting (polynomial rolling hash).
  *
  * Everything here is per-row expression work (no UDFs — all codegen'd
  * `functions._` / higher-order lambdas), so at 100 TB these scale as pure
  * map stages: no shuffle except the final per-lang aggregates, which are
  * tiny (langs × sources). Integer/exact arithmetic is used everywhere a
  * DuckDB oracle hash-compares the result.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to")

  private def tokens(c: Column): Column = split(lower(c), " ")

  private[ops] def stopHits(toks: Column): Column =
    size(filter(toks, t => stopwords.map(t === _).reduce(_ || _)))

  /** E4 — corpus stats per language: doc counts, token counts, char-length
    * stats. */
  val extTextStats: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  /** Language-ID heuristic: stopword-marker hit ratio (n-gram/marker
    * heuristic in the stopword limit; real corpora would carry per-language
    * marker lists — the operator shape is identical). */
  val extLangId: Q = (s, d) =>
    // two-projection shape: the tokenizer regex materializes ONCE as an
    // attribute; folding these selects together would re-inline (re-run)
    // it per reference (the Column-inlining trap — see Dedup.shingles3)
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        stopHits(col("toks")).as("en_hits"),
        (stopHits(col("toks")).cast("double") / size(col("toks")))
          .as("en_ratio"))
      .withColumn("guess",
        when(col("en_ratio") >= 0.05, "en").otherwise("unknown"))
      .orderBy(col("doc_id"))

  /** Quality score: length / stopword-ratio / token-length composite
    * (the reference-style engineered feature, cf. delay_category binning,
    * applied to text quality). Pure deterministic double arithmetic. */
  /** The composite quality formula over a pre-projected `toks` column —
    * shared by [[extQualityScore]] and [[Quality]]'s keep-best-per-
    * cluster policy (which must score with the IDENTICAL expression so
    * its oracle replays). */
  private[ops] def qualityExpr(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val noSpace = length(regexp_replace(text, " ", "")).cast("double")
    val stopRatio = stopHits(toks).cast("double") / size(toks)
    lit(0.4) * least(lit(1.0), nTok / 100.0) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.3) * least(lit(1.0), (noSpace / nTok) / 8.0)
  }

  /** DuckDB spelling of [[qualityExpr]] over a raw text column name. */
  private[ops] def qualityExprSql(text: String): String =
    s"""0.4 * least(1.0, CAST(len(string_split(lower($text), ' ')) AS DOUBLE) / 100.0) +
       |  0.3 * (1.0 - CAST(${hitsSql(text)} AS DOUBLE) /
       |    len(string_split(lower($text), ' '))) +
       |  0.3 * least(1.0, (CAST(length(replace($text, ' ', '')) AS DOUBLE) /
       |    CAST(len(string_split(lower($text), ' ')) AS DOUBLE)) / 8.0)""".stripMargin

  val extQualityScore: Q = (s, d) => {
    // two-projection shape (see extLangId): tokenizer runs once per row
    val nTok = size(col("toks")).cast("double")
    val noSpace = length(regexp_replace(col("text"), " ", "")).cast("double")
    val stopRatio = stopHits(col("toks")).cast("double") / size(col("toks"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (noSpace / nTok).as("avg_token_len"),
        stopRatio.as("stop_ratio"),
        qualityExpr(col("text"), col("toks")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letters / digits / single non-alnum symbols). */
  val extTokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"),
        size(array_distinct(split(lower(col("text")), " "))).as("distinct_tokens"))
      .orderBy(col("doc_id"))

  /** Document fingerprint: polynomial rolling hash (base 31 mod 1e9+7)
    * over the character stream — plus a 64-char-prefix variant, the
    * building block for shingled near-dup fingerprinting. */
  val extFingerprint: Q = (s, d) => {
    def polyHash(c: Column): Column =
      aggregate(
        transform(split(c, ""), ch => ascii(ch).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31 + x) % 1000000007L)
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        polyHash(col("text")).as("fp"),
        polyHash(substring(col("text"), 1, 64)).as("fp_prefix64"))
      .orderBy(col("doc_id"))
  }

  /** Normalization pipeline: lowercase → strip non-alnum (keep spaces) →
    * collapse runs of whitespace → trim. The canonicalization step that
    * precedes exact dedup in a real corpus pipeline (raw text differing
    * only in case/punctuation/spacing hashes identically afterwards). */
  val extTextNormalize: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .withColumn("norm_sha", sha2(col("norm_text"), 256))
      .withColumn("n_norm_chars", length(col("norm_text")))
      .orderBy(col("doc_id"))

  /** E17 — BM25 ranked retrieval for a fixed 3-term query
    * ("hash join vector"), k1 = 1.2, b = 0.75: the relevance-scoring
    * sibling of [[Curation]]'s TF-IDF — doc-length-normalized term
    * saturation, the standard lexical-retrieval primitive a curation
    * stack uses for targeted corpus slicing. Per-term scores are summed
    * in FIXED term order (s1+s2+s3 literally) and rounded to 6 places on
    * both engines, so ranking ties are decided identically; doc_id
    * breaks residual ties.
    *
    * Scale shape: SHUFFLE-FREE scoring. Per-doc tf for a fixed small
    * query needs no explode+groupBy — `size(filter(toks, _ === term))`
    * is a map-only array kernel, so the per-doc frame (len, tf0..tf2)
    * is one codegen'd scan. Corpus stats (N, avglen, per-term df) are
    * ONE scalar aggregate over that frame, broadcast back as a single
    * row; final ranking is TakeOrderedAndProject. Nothing driver-side,
    * nothing all-pairs, and the documents scan runs twice total (stats
    * pass + scoring pass) instead of the previous six (the
    * explode/groupBy spelling re-derived the tf lineage per df term,
    * which is also what regressed 4.2× under AQE re-planning in r5). */
  val extBm25: Q = (s, d) =>
    bm25Scored(s, d).orderBy(col("score").desc, col("doc_id")).limit(10)

  /** Shared BM25 scoring stage of [[extBm25]] and
    * [[Similarity.extHybridRank]]: every doc's score for the fixed
    * 3-term query, pre-top-k. Arithmetic is kept in the exact shape of
    * the oracle SQL (per-term product/sum order, round 6) so scores
    * stay bit-identical cross-engine. */
  private[ops] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "vector")
    // one map-only pass: doc length + per-term raw counts
    val perDoc = Tables.documents(s, d).select(
      col("doc_id") +: size(tokens(col("text"))).as("len") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(tokens(col("text")), x => x === lit(t))).as(s"tf$i")
        }: _*)
    // corpus stats: N, avglen, and per-term df, all in ONE 1-row agg
    val const = broadcast(perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avglen") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double")
            .as(s"df$i")): _*))
    def idf(dfc: Column) =
      log((col("n_docs") - dfc + 0.5) / (dfc + 0.5) + 1.0)
    def term(tfc: Column, dfc: Column) = {
      val tfv = tfc.cast("double")
      idf(dfc) * (tfv * (1.2 + 1.0)) /
        (tfv + lit(1.2) * (lit(1.0 - 0.75) +
           lit(0.75) * col("len") / col("avglen")))
    }
    perDoc.crossJoin(const)
      .select(col("doc_id"),
              round(term(col("tf0"), col("df0")) +
                    term(col("tf1"), col("df1")) +
                    term(col("tf2"), col("df2")), 6).as("score"))
  }

  /** E24 — per-language character-trigram profile (top-3 by frequency):
    * the reference table a trained language identifier compares against
    * — [[extLangId]] uses heuristics; this builds the empirical profile
    * those heuristics approximate. Deterministic ranking via
    * (count DESC, trigram) and the same bindOnce'd trigram explode as
    * [[Curation.extLmScore]] (inlined lower() is O(len²)). */
  val extNgramProfile: Q = (s, d) => {
    // native one-pass window expression (Dedup.extSubstringDedup note):
    // per-position substr is O(len²) on a giant row
    val grams = bindOnce(lower(col("text"))) { lt =>
      when(length(lt) >= 3,
        Natives.slidingWindows(lt, 3, 1))
        .otherwise(array(lt))
    }
    val counts = fanout(Tables.documents(s, d), col("doc_id"))
      .select(col("lang"), explode(grams).as("g"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("g"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("rn").cast("int").as("rn"),
              col("g").as("trigram"), col("n"))
      .orderBy(col("lang"), col("rn"))
  }

  /** E50 — co-occurrence lift (collocation mining): which token pairs
    * appear together in documents far more often than independence
    * predicts — the corpus-analytics primitive behind phrase detection,
    * topic seeding, and contamination forensics (a suspicious pair like
    * two benchmark-specific terms co-occurring at high lift flags
    * leaked eval data). Document-frequency based: per-doc DISTINCT
    * tokens self-join on doc_id (pairs within a doc, `a < b` once),
    * count pair df, join token dfs back, lift = df_xy·N / (df_x·df_y)
    * kept integer-exact as parts-per-million floor-divide. The self-join
    * shuffles (doc_id, token) pairs — work Σ per-doc distinct², bounded
    * by doc length not corpus size; the df joins are vocabulary-grain.
    * The ppm product df_xy·N·10⁶ stays in BIGINT through ~10⁹ docs —
    * past that, lift in DECIMAL(38,0), same query. Min-support 5 prunes
    * the pair tail before any join. Top-50 by (lift, pair) is a
    * TakeOrdered, fully tie-broken. */
  val extCooccurLift: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val dfs = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    toks.as("a")
      .join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("df_xy"))
      .where(col("df_xy") >= 5L)
      .join(dfs.select(col("tok").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(dfs.select(col("tok").as("tok_b"), col("df").as("df_b")), "tok_b")
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        expr("df_xy * n_docs * 1000000 div (df_a * df_b)"))
      .select(col("tok_a"), col("tok_b"), col("df_xy"), col("df_a"),
              col("df_b"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("tok_a"), col("tok_b"))
      .limit(50)
  }

  /** E53 — hapax (frequency-1 token) rate per source: the cheap OCR/
    * boilerplate-garbage detector — scanner noise, mangled encodings,
    * and spam word-salads mint corpus-unique tokens at rates an order
    * above clean prose, so a source whose hapax permille spikes gets a
    * human look before it poisons a vocabulary build. One token
    * explode → corpus term frequency → frequency-1 set joined back at
    * token grain (vocabulary-cardinality join, not doc-cardinality) →
    * per-source integer rates. Linear in token mass, and the tf table
    * is reusable by every other vocabulary op in this module. */
  val extHapaxRate: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    toks.join(tf, Seq("tok"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_tokens"),
           sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_pm", expr("n_hapax * 1000 div n_tokens"))
      .orderBy(col("source"))
  }

  /** E53b — distinct-n diversity per source (the distinct-1/2/3-gram
    * ratio of Li et al. 2016, "A Diversity-Promoting Objective
    * Function", applied corpus-side): the standard template-detector —
    * boilerplate-heavy or machine-generated sources reuse the same
    * n-grams, so their distinct-2/3 ppm sits far below organic prose,
    * complementing [[extHapaxRate]] (which sees only frequency-1
    * UNIGRAMS and misses phrase-level repetition entirely) and the
    * within-doc [[extRepetition]] screen. Grams are built per row with
    * one `slice`+`concat_ws` transform over the token array (no
    * cross-row state), then ONE shuffle to (source, n)-grain
    * distinct-count. A sub-n-token doc contributes nothing at that n
    * (both engines drop the group when a whole source qualifies
    * nowhere). The ppm multiply is widened to decimal(38,0)/HUGEINT —
    * 3-gram distinct counts approach token mass (~1e13 at 100 TB), so
    * ×10⁶ would overflow BIGINT. At 100 TB the gram strings would be
    * [[graft.ops.Dedup.hash60]]-keyed before the shuffle (8 B/gram,
    * the [[graft.ops.Dedup.extSubstringDedup]] discipline); at gate
    * scales the literal strings keep the oracle direct. The per-n
    * branches deliberately re-scan: an A/B of the single-scan
    * flatten-structs spelling measured 1.31 s vs 0.84 s min-of-3 at
    * sf0.1 — struct boxing inside the interpreted HOF lambda costs
    * more than two extra columnar text scans save, and per-gram CPU
    * (not scan IO) stays the dominant term at any scale. */
  val extDistinctNgrams: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("source"), split(lower(col("text")), " ").as("t"))
    def grams(n: Int) = base
      .select(col("source"), lit(n.toLong).as("n"),
        explode(bindOnce(col("t")) { t =>
          when(size(t) >= n,
            transform(sequence(lit(1), size(t) - (n - 1)),
              p => concat_ws(" ", slice(t, p, lit(n)))))
            .otherwise(array().cast("array<string>"))
        }).as("g"))
    grams(1).unionAll(grams(2)).unionAll(grams(3))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("total_ngrams"),
           count_distinct(col("g")).as("distinct_ngrams"))
      .select(col("source"), col("n").cast("int").as("n"),
              col("total_ngrams"), col("distinct_ngrams"),
              expr("CAST(distinct_ngrams AS DECIMAL(38,0)) * 1000000" +
                   " div total_ngrams").as("distinct_ppm"))
      .orderBy(col("source"), col("n"))
  }

  /** E54 — vocabulary-growth (Heaps-law) curve: cumulative distinct
    * tokens vs cumulative token mass across the corpus in doc order,
    * at 20-bucket grain — the curve that sizes a tokenizer vocabulary
    * ("does 32k cover us, or is the corpus still minting words at the
    * end?") and flags drift when a new release bends it. Each token
    * charges its FIRST bucket (min over doc buckets — the first-seen
    * trick at token grain, same as [[graft.ops.Windows]]' cumulative
    * distinct); per-bucket sums then a 20-row cumulative window. No
    * doc-grain global window anywhere — the only ordered structure is
    * bucket-grain (20 rows at any SF). */
  val extVocabGrowth: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .crossJoin(broadcast(
        Tables.documents(s, d).agg(count(lit(1)).as("n_corpus"))))
      .withColumn("bucket", expr("doc_id * 20 div n_corpus"))
    val perBucket = base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tok"))
    val firstSeen = base.groupBy(col("tok"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tok"),
              coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_tokens", sum(col("n_tok")).over(w))
      .withColumn("cum_vocab", sum(col("n_new")).over(w))
      .select(col("bucket"), col("cum_tokens"), col("cum_vocab"))
      .orderBy(col("bucket"))
  }

  /** E55 — tokenizer fertility per language: characters consumed per
    * BPE-ish token (the [[extTokenCount]] segmentation), ×100 integer —
    * the number that says "this tokenizer spends 2.3× more tokens per
    * character on zh than en", which prices multilingual context
    * budgets and flags scripts a vocabulary underserves. Pure map +
    * lang-cardinality aggregate; integer end to end. */
  val extTokenFertility: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars").cast("long").as("n_chars"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("n_chars"),
           sum(col("n_bpe")).as("n_bpe_tokens"))
      // a language whose documents are ALL empty has zero BPE tokens:
      // ANSI div throws where DuckDB `//` yields NULL — pin the
      // portable contract (NULL fertility) on the guarded branch
      // (fuzz seed 429: 8 two-token unicode docs, one all-empty lang)
      .withColumn("chars_per_token_c",
        when(col("n_bpe_tokens") > 0,
             expr("n_chars * 100 div n_bpe_tokens")))
      .orderBy(col("lang"))

  /** E56 — BPE merge-pair counting: the inner loop of byte-pair-encoding
    * tokenizer training, expressed as one dataflow iteration — count
    * every adjacent character pair inside letter-words across the
    * corpus and rank the top-50 merge candidates (count DESC, pair ASC:
    * a total order, so the rank-50 cutoff is deterministic). This is
    * the step a 100 TB tokenizer-training run repeats per merge: the
    * pair explode is linear in corpus characters (executor-side
    * `flatten∘transform`, no word-grain shuffle), the aggregate lands
    * on a ≤(26+|symbols|)² bounded pair domain, and the top-k is
    * TakeOrderedAndProject — no global sort. The full merge loop just
    * re-runs this with the winning pair fused into the alphabet. */
  val extBpePairs: Q = (s, d) => {
    val words = filter(
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
      w => length(w) >= 2)
    Tables.documents(s, d)
      .select(explode(flatten(transform(words, w =>
        transform(sequence(lit(1), length(w) - 1),
                  i => w.substr(i, lit(2)))))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)
  }

  /** E60 — BPE tokenizer TRAINING: [[extBpePairs]] is one pair-count
    * pass; this runs the actual merge loop — 6 rounds of (count
    * adjacent symbol pairs, weighted by word frequency) → (argmax
    * winner, total order (count DESC, left, right)) → (apply the merge
    * greedily left-to-right to every word) — emitting the learned
    * merge table, which IS a trained BPE vocabulary prefix.
    *
    * Greedy non-overlapping application, declaratively: candidates =
    * positions where (sym, next) equals the winner; for a≠b
    * candidates can never be adjacent, and for a=b they form runs
    * where greedy BPE takes every other from the run head — computed
    * with the gaps-and-islands idiom (run id = pos − running-candidate
    * count; keep odd ranks within the run), then consumed followers
    * drop and positions renumber. Identical window SQL replays in the
    * oracle (generated from the same round constant).
    *
    * Scale shape: the working frame is WORD-grain (distinct word ×
    * count), Heaps-law bounded (~10⁶–10⁷ at 100 TB) — never
    * corpus-grain after the one counting scan; each round is one
    * word-partitioned window chain + a bounded-domain pair aggregate.
    * The per-round winner (1 row under a total order) is COLLECTED to
    * the driver and inlined as literals (r14 — the merge table is a
    * driver-grain scalar, like every production BPE trainer's; this
    * removes the per-round 1-row checkpoint and broadcast-build jobs:
    * 46→40 / 37→32 jobs at sf0.1); the re-segmented frame stays
    * localCheckpointed — without that the reused lineage doubles per
    * round (the round-6 recursive-CTE-seed lesson, applied to a loop
    * whose reuse is exponential, not linear). */
  /** The shared merge loop behind [[extBpeTrain]] and [[extBpeApply]]:
    * returns (per-round 1-row winner frames, per-round segmentation
    * frames indexed 0..rounds). Every intermediate is
    * localCheckpointed — see extBpeTrain's scaladoc for why. */
  /** When `needSegs` is false the FINAL round's merge application (an
    * eager crossJoin + four window passes + checkpoint job) is skipped
    * — the winner table only needs segmentations up to rounds−1; only
    * [[extBpeApply]]'s compression curve reads the last frame. */
  private def bpeRounds(s: org.apache.spark.sql.SparkSession, d: String,
                        rounds: Int, needSegs: Boolean)
      : (Seq[org.apache.spark.sql.DataFrame],
         Seq[org.apache.spark.sql.DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val wWord = Window.partitionBy(col("word")).orderBy(col("pos"))
    val wRun = Window.partitionBy(col("word")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val words = Tables.documents(s, d)
      .select(explode(filter(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)),
        w => length(w) >= 2)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var syms = words
      .select(col("word"), col("cnt"),
        posexplode(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))))
      .toDF("word", "cnt", "p0", "sym")
      .select(col("word"), col("cnt"), (col("p0") + 1).cast("long").as("pos"),
              col("sym"))
      .localCheckpoint()
    val winners = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    val segs = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    segs += syms
    import s.implicits._
    for (t <- 1 to rounds) {
      // The winner is ONE row under a total order — collect it instead
      // of checkpointing a 1-row frame (r14): the merge pair is a
      // driver-grain scalar decision exactly like the vocab probe (a
      // production BPE trainer holds the merge table on the driver),
      // and inlining it as literals removes both the per-round winner
      // checkpoint job and the per-round broadcast build in the merge
      // application. Determinism under retry: the (n DESC, a, b) order
      // is total, so any task replay collects the same row.
      val winRow = syms
        .select(col("cnt"), col("sym").as("a"),
                lead(col("sym"), 1).over(wWord).as("b"))
        .filter(col("b").isNotNull)
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect().headOption
      winners += (winRow match {
        case Some(r) =>
          Seq((t.toLong, r.getString(0), r.getString(1),
               r.getString(0) + r.getString(1), r.getLong(2)))
            .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
        case None => // empty corpus: no adjacent pair exists anywhere
          Seq.empty[(Long, String, String, String, Long)]
            .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      })
      if (t == rounds && !needSegs) {
        return (winners.result(), segs.result())
      }
      // no winner ⇒ the pair domain is DRAINED (every word is one
      // symbol, or the corpus is empty): the segmentation empties out,
      // exactly as the old inner crossJoin against an empty winner
      // frame produced — extBpeApply's curve stops emitting rows here
      // (TextAnalysisSpec "loop drains when no pairs remain")
      if (winRow.isEmpty) {
        syms = syms.limit(0)
        segs += syms
        // remaining rounds stay drained; skip their no-op recompute
        for (_ <- t + 1 to rounds) {
          winners += Seq.empty[(Long, String, String, String, Long)]
            .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
          segs += syms
        }
        return (winners.result(), segs.result())
      }
      val r0 = winRow.get
      val (wa, wb) = (lit(r0.getString(0)), lit(r0.getString(1)))
      // Greedy odd-rank-within-run selection WITHOUT the second sort
      // pass (r14): the old spelling ranked candidates inside a
      // (word, cand, grp) window — hash(word) already satisfies its
      // clustering, so no exchange was added, but it forced an extra
      // (word, cand, grp, pos) local sort of the whole word-grain frame
      // per round. Equivalent arithmetic over the SAME word-ordered
      // window: a candidate is kept iff its offset from its
      // candidate-run head is even (run head = cand row whose
      // predecessor is not cand; runStart = running max of head
      // positions; within a run rir = pos − runStart + 1, so rir odd ⟺
      // (pos − runStart) even). Wall-neutral at sf0.1 (the frame is
      // tiny; BPE cost here is action machinery) — one sort instead of
      // two per round is the word-grain win at corpus scale.
      // Segmentation bit-identical (PropertySpec's random-trial
      // reference check + the oracle replay pin it).
      syms = syms
        .withColumn("cand", coalesce(
          col("sym") === wa &&
            lead(col("sym"), 1).over(wWord) === wb, lit(false)))
        .withColumn("runStart",
          max(when(col("cand") &&
              !coalesce(lag(col("cand"), 1).over(wWord), lit(false)),
            col("pos"))).over(wRun))
        .withColumn("keep",
          col("cand") && (col("pos") - col("runStart")) % 2 === 0)
        .withColumn("consumed",
          coalesce(lag(col("keep"), 1).over(wWord), lit(false)))
        .filter(!col("consumed"))
        .select(col("word"), col("cnt"),
                row_number().over(wWord).cast("long").as("pos"),
                when(col("keep"), concat(wa, wb))
                  .otherwise(col("sym")).as("sym"))
        .localCheckpoint()
      segs += syms
    }
    (winners.result(), segs.result())
  }

  val extBpeTrain: Q = (s, d) =>
    bpeRounds(s, d, 6, needSegs = false)._1
      .reduce(_ unionAll _).orderBy(col("round"))

  /** E61 — the APPLY + MEASURE half of tokenizer training: tokenize
    * the corpus with the merges [[extBpeTrain]] learns and report the
    * compression trajectory — token mass after each merge round and
    * chars-per-token — the curve a tokenizer owner reads to decide how
    * many merges are worth training. Token mass is Σ(symbols per word
    * × word frequency), so the measurement stays on the word-grain
    * frame; round 0 is the character baseline, and the curve is
    * non-increasing by construction (each merge can only shrink
    * segmentations — spec'd). chars_per_token is an integer x1000
    * ratio against the round-0 mass, computed with a whole-frame
    * window over the (rounds+1)-row result. */
  val extBpeApply: Q = (s, d) => {
    val (_, segs) = bpeRounds(s, d, 6, needSegs = true)
    segs.zipWithIndex.map { case (seg, t) =>
      seg.agg(sum(col("cnt")).as("n_tokens"))
        .select(lit(t.toLong).as("round"), col("n_tokens"))
    }.reduce(_ unionAll _)
      .filter(col("n_tokens").isNotNull)
      .withColumn("max_tokens", max(col("n_tokens")).over(wholeFrame))
      .select(col("round"), col("n_tokens"),
              expr("max_tokens * 1000 div n_tokens")
                .as("chars_per_token_x1000"))
      .orderBy(col("round"))
  }

  /** E69 — Zipf-law exponent fit over the corpus vocabulary: rank terms
    * by frequency, regress ln(freq) on ln(rank) by ordinary least
    * squares — the one-number summary of lexical naturalness (natural
    * text fits slope ≈ −1; template/boilerplate corpora flatten, spam
    * inflates the tail), a standard corpus-QA gate before training.
    * Re-expresses the frequency-profile idiom of the reference's
    * route-popularity analysis (/root/reference/sql/analysis_queries.sql
    * ranking blocks) at vocabulary grain.
    *
    * Exactness contract: both log terms are quantized ONCE at feature
    * grain — floor(1e6·ln x) of an identical double expression both
    * engines (the [[graft.ops.Sampling]] DSIR idiom) — so all four
    * regression sums are exact integers (decimal(38,0) here,
    * HUGEINT there); the slope leaves integer space through ONE
    * split-sign floor-divide (the agg_weighted idiom), NULL when the
    * vocabulary is degenerate (zero variance of ln rank).
    * Rank ties share a frequency, so any tie order yields the same
    * (x, y) multiset — the sums cannot see the tiebreak.
    *
    * Scale shape: token-grain groupBy then everything at VOCABULARY
    * grain (Heaps-bounded — the [[extBpeTrain]] argument). The rank is
    * computed WITHOUT a vocabulary-grain single-partition window (the
    * win_ntile / feature-split decomposition): per-frequency ranking
    * runs partitioned by tf, and the offsets come from the
    * distinct-frequency table (≈O(√tokens) rows — the only grain a
    * single partition ever sees). Output is one row. */
  val extZipfFit: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    // the global (tf desc, tok) rank is DECOMPOSED the way the ntile
    // and feature-split respells are: a per-frequency ranking (parallel,
    // partitioned by tf) plus frequency-grain offsets (#terms with a
    // strictly higher frequency) — the only single-partition window
    // orders the DISTINCT-FREQUENCY table (≈O(√tokens) rows), never the
    // vocabulary itself
    val fc = tf.groupBy(col("tf")).agg(count(lit(1)).as("n_terms"))
    val off = fc.withColumn("offset",
        coalesce(sum(col("n_terms")).over(
          Window.orderBy(col("tf").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("tf"), col("offset"))
    val wt = Window.partitionBy(col("tf")).orderBy(col("tok"))
    val xy = tf.withColumn("rn_in", row_number().over(wt))
      .join(off, Seq("tf"))
      .select(col("tf"),
              floor(log((col("offset") + col("rn_in")).cast("double")) *
                lit(1000000.0)).cast("long").as("x"),
              floor(log(col("tf").cast("double")) * lit(1000000.0))
                .cast("long").as("y"))
    xy.agg(count(lit(1)).as("n_vocab"),
           sum(col("tf")).as("n_tokens"),
           sum(col("x").cast("decimal(38,0)")).as("sx"),
           sum(col("y").cast("decimal(38,0)")).as("sy"),
           sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
           sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .select(col("n_vocab"), col("n_tokens"),
              (col("n_vocab") * col("sxy") - col("sx") * col("sy")).as("a"),
              (col("n_vocab") * col("sxx") - col("sx") * col("sx")).as("b"))
      .select(col("n_vocab"), col("n_tokens"),
              when(col("b") > 0,
                   when(col("a") < 0, -1L).otherwise(1L) *
                     expr("CAST(abs(a) * 1000000 AS DECIMAL(38,0)) div b"))
                .as("slope_micro"))
  }

  /** E70 — Good–Turing frequency-of-frequencies smoothing table: N_r
    * (how many vocabulary terms occur exactly r times) for r = 1..5,
    * the adjusted count r* = (r+1)·N_{r+1}/N_r, and the unseen-mass
    * estimate P₀ = N₁/N — the classical open-vocabulary calibration
    * (Good 1953) that prices how much probability a language model
    * should reserve for words it has never seen, and the companion
    * number to [[extHapaxRate]]'s singleton share. Integer end to end:
    * the only divisions are micro-unit floor-divides of non-negative
    * counts.
    *
    * Scale shape: token-grain groupBy → vocabulary grain → frequency
    * grain (≤ distinct-frequency rows); the r = 1..5 report frame is a
    * config literal LEFT-joined to measured rows (the ext_lsh_plan
    * discipline: an absent N_r still reports its row), the corpus
    * totals one broadcast row. */
  val extGoodturing: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val nr = tf.groupBy(col("tf").as("r")).agg(count(lit(1)).as("cnt"))
    val tot = tf.agg(coalesce(sum(col("tf")), lit(0L)).as("n_tokens"),
                     count(lit(1)).as("n_vocab"))
    val ones = nr.filter(col("r") === 1L)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n1"))
    val s1 = (1 to 5).map(_.toLong)
    import s.implicits._
    s1.toDF("r")
      .join(nr.select(col("r"), col("cnt").as("n_r")), Seq("r"), "left")
      .join(nr.select((col("r") - 1).as("r"), col("cnt").as("n_next")),
            Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(ones))
      .select(col("r"),
              coalesce(col("n_r"), lit(0L)).as("n_r"),
              coalesce(col("n_next"), lit(0L)).as("n_next"),
              when(coalesce(col("n_r"), lit(0L)) > 0,
                   expr("(r + 1) * coalesce(n_next, 0) * 1000000 div n_r"))
                .as("gt_star_micro"),
              col("n_vocab"), col("n_tokens"),
              when(col("n_tokens") > 0,
                   expr("n1 * 1000000 div n_tokens")).as("p0_micro"))
      .orderBy(col("r"))
  }

  val queries: Map[String, Q] = Map(
    "ext_zipf_fit" -> extZipfFit,
    "ext_goodturing" -> extGoodturing,
    "ext_bpe_train" -> extBpeTrain,
    "ext_bpe_apply" -> extBpeApply,
    "ext_bpe_pairs" -> extBpePairs,
    "ext_token_fertility" -> extTokenFertility,
    "ext_hapax_rate" -> extHapaxRate,
    "ext_distinct_ngrams" -> extDistinctNgrams,
    "ext_vocab_growth" -> extVocabGrowth,
    "ext_cooccur_lift" -> extCooccurLift,
    "ext_ngram_profile" -> extNgramProfile,
    "ext_bm25" -> extBm25,
    "ext_text_stats" -> extTextStats,
    "ext_lang_id" -> extLangId,
    "ext_quality_score" -> extQualityScore,
    "ext_token_count" -> extTokenCount,
    "ext_fingerprint" -> extFingerprint,
    "ext_text_normalize" -> extTextNormalize)

  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")
  private[ops] def hitsSql(arg: String) =
    s"len(list_filter(string_split(lower($arg), ' '), t -> t IN ($stopList)))"

  /** Chained-CTE replay of the [[extBpeTrain]] merge loop — one block
    * per round, generated from the same round constant as the Spark
    * side so the two can't drift. */
  private def bpeTrainOracle(rounds: Int): String = {
    val unions = (1 to rounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS round, a AS left_sym, b AS right_sym,
         |  a || b AS merged, n AS pair_count FROM win$t""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtePrefix(rounds)}
       |SELECT * FROM (
       |  $unions)
       |ORDER BY round""".stripMargin
  }

  /** Same CTE chain as [[bpeTrainOracle]], reduced to the per-round
    * token-mass curve instead of the winner table. */
  private def bpeApplyOracle(rounds: Int): String = {
    val unions = (0 to rounds).map { t =>
      s"SELECT CAST($t AS BIGINT) AS round, CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM s$t"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtePrefix(rounds)},
       |toks AS (
       |  $unions)
       |SELECT round, n_tokens,
       |  CAST(MAX(n_tokens) OVER () * 1000 // n_tokens AS BIGINT)
       |    AS chars_per_token_x1000
       |FROM toks WHERE n_tokens IS NOT NULL
       |ORDER BY round""".stripMargin
  }

  private def bpeCtePrefix(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      val prev = s"s${t - 1}"
      s"""p$t AS (SELECT cnt, sym AS a,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b FROM $prev),
         |win$t AS (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n FROM p$t
         |  WHERE b IS NOT NULL GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |m$t AS (SELECT s.word, s.cnt, s.pos, s.sym, w.a AS wa, w.b AS wb,
         |    coalesce(s.sym = w.a AND
         |      lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = w.b,
         |      false) AS cand
         |  FROM $prev s CROSS JOIN win$t w),
         |g$t AS (SELECT *, SUM(CASE WHEN cand THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY word ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rnc
         |  FROM m$t),
         |k$t AS (SELECT *, pos - rnc AS grp FROM g$t),
         |r$t AS (SELECT *, row_number()
         |    OVER (PARTITION BY word, cand, grp ORDER BY pos) AS rir
         |  FROM k$t),
         |q$t AS (SELECT *, cand AND rir % 2 = 1 AS keep FROM r$t),
         |d$t AS (SELECT *, coalesce(
         |    lag(keep) OVER (PARTITION BY word ORDER BY pos), false)
         |    AS consumed FROM q$t),
         |s$t AS (SELECT word, cnt,
         |    CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
         |      AS BIGINT) AS pos,
         |    CASE WHEN keep THEN wa || wb ELSE sym END AS sym
         |  FROM d$t WHERE NOT consumed)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) >= 2 GROUP BY 1),
       |s0 AS (
       |  SELECT word, cnt, CAST(i AS BIGINT) AS pos,
       |    substr(word, CAST(i AS INTEGER), 1) AS sym
       |  FROM w0, unnest(generate_series(1, length(word))) AS t(i)),
       |$roundCtes""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ext_bpe_train" -> bpeTrainOracle(6),
    "ext_bpe_apply" -> bpeApplyOracle(6),
    // (count DESC, pair ASC) is a total order -> deterministic top-50
    "ext_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |p AS (
        |  SELECT substring(word, CAST(i AS INTEGER), 2) AS pair
        |  FROM w, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |  WHERE length(word) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "ext_token_fertility" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) * 100 //
        |    CAST(SUM(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS chars_per_token_c
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    // Zipf: micro-quantized ln terms -> exact integer OLS sums; the
    // slope is one split-sign floor-divide (positive operands agree
    // between Spark's `div` truncation and DuckDB's `//` floor)
    "ext_zipf_fit" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM t WHERE tok <> '' GROUP BY 1),
        |xy AS (
        |  SELECT tf,
        |    CAST(floor(ln(CAST(row_number() OVER (ORDER BY tf DESC, tok)
        |      AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
        |  FROM tf),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
        |    CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM xy),
        |ab AS (
        |  SELECT n_vocab, n_tokens,
        |    n_vocab * sxy - sx * sy AS a,
        |    n_vocab * sxx - sx * sx AS b
        |  FROM s)
        |SELECT n_vocab, n_tokens,
        |  CASE WHEN b > 0 THEN
        |    CAST((CASE WHEN a < 0 THEN -1 ELSE 1 END)
        |         * (abs(a) * 1000000 // b) AS BIGINT) END AS slope_micro
        |FROM ab""".stripMargin,
    // Good-Turing: config-literal r = 1..5 frame LEFT-joined to the
    // frequency-of-frequencies table; micro-unit floor-divides of
    // non-negative counts only
    "ext_goodturing" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM t WHERE tok <> '' GROUP BY 1),
        |nr AS (SELECT tf AS r, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS n_tokens,
        |               CAST(count(*) AS BIGINT) AS n_vocab FROM tf),
        |ones AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n1
        |         FROM nr WHERE r = 1),
        |base AS (SELECT CAST(r.r AS BIGINT) AS r FROM range(1, 6) r(r))
        |SELECT b.r,
        |  CAST(coalesce(n.cnt, 0) AS BIGINT) AS n_r,
        |  CAST(coalesce(nx.cnt, 0) AS BIGINT) AS n_next,
        |  CASE WHEN coalesce(n.cnt, 0) > 0 THEN
        |    CAST((b.r + 1) * coalesce(nx.cnt, 0) * 1000000 // n.cnt
        |         AS BIGINT) END AS gt_star_micro,
        |  t.n_vocab, t.n_tokens,
        |  CASE WHEN t.n_tokens > 0 THEN
        |    CAST(o.n1 * 1000000 // t.n_tokens AS BIGINT) END AS p0_micro
        |FROM base b
        |LEFT JOIN nr n ON b.r = n.r
        |LEFT JOIN nr nx ON b.r = nx.r - 1
        |CROSS JOIN tot t CROSS JOIN ones o
        |ORDER BY b.r""".stripMargin,
    "ext_hapax_rate" ->
      """WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1)
        |SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN tf.tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(SUM(CASE WHEN tf.tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000 // CAST(count(*) AS BIGINT) AS hapax_pm
        |FROM t JOIN tf USING (tok) GROUP BY 1 ORDER BY source""".stripMargin,
    // distinct-n: inclusive slice p..p+n-1, space-joined — identical gram
    // strings both engines; HUGEINT-widened ppm
    "ext_distinct_ngrams" ->
      """WITH t AS (
        |  SELECT source, string_split(lower(text), ' ') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT source, n,
        |    array_to_string(list_slice(tk, CAST(p AS INTEGER),
        |      CAST(p + n - 1 AS INTEGER)), ' ') AS g
        |  FROM (SELECT source, tk, n,
        |          unnest(range(1, len(tk) - n + 2)) AS p
        |        FROM t CROSS JOIN (VALUES (1), (2), (3)) nn(n)
        |        WHERE len(tk) >= n))
        |SELECT source, CAST(n AS INTEGER) AS n,
        |  CAST(count(*) AS BIGINT) AS total_ngrams,
        |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
        |  CAST(CAST(count(DISTINCT g) AS HUGEINT) * 1000000 // count(*)
        |    AS BIGINT) AS distinct_ppm
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ext_vocab_growth" ->
      """WITH n AS (SELECT count(*) AS n_corpus FROM documents),
        |t AS (
        |  SELECT doc_id * 20 // n_corpus AS bucket,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents, n),
        |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok
        |       FROM t GROUP BY 1),
        |fs AS (SELECT min(bucket) AS bucket FROM t GROUP BY tok),
        |nn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
        |       FROM fs GROUP BY 1)
        |SELECT pb.bucket,
        |  CAST(SUM(pb.n_tok) OVER (ORDER BY pb.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(coalesce(nn.n_new, 0)) OVER (ORDER BY pb.bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        |FROM pb LEFT JOIN nn USING (bucket) ORDER BY pb.bucket""".stripMargin,
    "ext_cooccur_lift" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1),
        |p AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b,
        |    CAST(count(*) AS BIGINT) AS df_xy
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT tok_a, tok_b, df_xy, da.df AS df_a, db.df AS df_b,
        |  df_xy * (SELECT count(*) FROM documents) * 1000000
        |    // (da.df * db.df) AS lift_ppm
        |FROM p JOIN dfs da ON p.tok_a = da.tok
        |       JOIN dfs db ON p.tok_b = db.tok
        |ORDER BY lift_ppm DESC, tok_a, tok_b LIMIT 50""".stripMargin,
    "ext_ngram_profile" ->
      """WITH lt AS (SELECT lang, lower(text) AS x FROM documents),
        |tri AS (
        |  SELECT lang, unnest(CASE WHEN len(x) >= 3
        |    THEN list_transform(range(1, len(x) - 1),
        |           i -> substr(x, CAST(i AS INTEGER), 3))
        |    ELSE [x] END) AS g
        |  FROM lt),
        |c AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS n
        |      FROM tri GROUP BY 1, 2),
        |r AS (SELECT lang, g, n,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, g) AS INTEGER) AS rn
        |  FROM c)
        |SELECT lang, rn, g AS trigram, n FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin,
    // same formula, same fixed term order, same round(…, 6); ln (natural
    // log — DuckDB's log() is log10) matches Spark's log()
    "ext_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |lens AS (SELECT doc_id, len(tk) AS len FROM toks),
        |tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
        |  WHERE t IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len) AS DOUBLE) / count(*) AS avglen
        |  FROM lens),
        |dfs AS (SELECT
        |  CAST((SELECT count(*) FROM tf WHERE t = 'hash') AS DOUBLE) AS df0,
        |  CAST((SELECT count(*) FROM tf WHERE t = 'join') AS DOUBLE) AS df1,
        |  CAST((SELECT count(*) FROM tf WHERE t = 'vector') AS DOUBLE) AS df2),
        |tfw AS (
        |  SELECT l.doc_id, l.len,
        |    CAST(coalesce(max(CASE WHEN t = 'hash' THEN tf END), 0) AS DOUBLE) AS tf0,
        |    CAST(coalesce(max(CASE WHEN t = 'join' THEN tf END), 0) AS DOUBLE) AS tf1,
        |    CAST(coalesce(max(CASE WHEN t = 'vector' THEN tf END), 0) AS DOUBLE) AS tf2
        |  FROM lens l LEFT JOIN tf ON tf.doc_id = l.doc_id GROUP BY 1, 2)
        |SELECT doc_id, round(
        |    ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * (1.2 + 1.0))
        |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))
        |  + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * (1.2 + 1.0))
        |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen))
        |  + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * (1.2 + 1.0))
        |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen)), 6) AS score
        |FROM tfw CROSS JOIN stats CROSS JOIN dfs
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ext_text_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "ext_lang_id" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
         |  CAST(${hitsSql("text")} AS INTEGER) AS en_hits,
         |  CAST(${hitsSql("text")} AS DOUBLE) /
         |    len(string_split(lower(text), ' ')) AS en_ratio,
         |  CASE WHEN CAST(${hitsSql("text")} AS DOUBLE) /
         |    len(string_split(lower(text), ' ')) >= 0.05
         |    THEN 'en' ELSE 'unknown' END AS guess
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ext_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) /
         |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_token_len,
         |  CAST(${hitsSql("text")} AS DOUBLE) /
         |    len(string_split(lower(text), ' ')) AS stop_ratio,
         |  0.4 * least(1.0, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 100.0) +
         |  0.3 * (1.0 - CAST(${hitsSql("text")} AS DOUBLE) /
         |    len(string_split(lower(text), ' '))) +
         |  0.3 * least(1.0, (CAST(length(replace(text, ' ', '')) AS DOUBLE) /
         |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) / 8.0) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ext_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens,
        |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS INTEGER) AS distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ext_text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm_text,
        |  sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g'))) AS norm_sha,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g'))) AS INTEGER) AS n_norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ext_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(string_split_regex(text, ''),
        |    c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a * 31 + b) % 1000000007) AS fp,
        |  list_reduce(list_transform(string_split_regex(substr(text, 1, 64), ''),
        |    c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a * 31 + b) % 1000000007) AS fp_prefix64
        |FROM documents ORDER BY doc_id""".stripMargin)
}
