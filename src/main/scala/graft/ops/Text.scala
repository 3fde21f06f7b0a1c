package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2.8
  * [EXT]): per-document statistics, token counting, quality scoring,
  * heuristic language ID, and rolling-hash fingerprinting.
  *
  * All of these are pure projections/aggregations over built-in
  * higher-order functions (`split`/`transform`/`aggregate`/`filter`) —
  * fully codegen-friendly, zero UDFs, zero shuffles except the final
  * rollups. At 100 TB each is a single scan.
  *
  * Determinism: token counts are exact integers; ratios are single IEEE
  * divisions of exact integers, so they hash-match any engine that
  * evaluates the same expression tree.
  */
object Text {

  /** Whitespace tokens. The synthetic corpus is single-space separated;
    * for real corpora swap in a regex tokenizer here.
    */
  def words(text: Column): Column = split(text, " ")

  /** The arithmetic-only per-word hash every fingerprint/bucketing op
    * shares with its DuckDB oracle (`ascii(w) * 31 + length(w)` — no
    * engine-specific hash functions, so both sides compute it from
    * the same two string primitives). ONE definition on the Scala
    * side; the oracle SQL strings restate it per query. */
  def wordHash(w: Column): Column = ascii(w) * lit(31L) + length(w)

  /** The engine's ONE rolling-polynomial fold (acc·1000003 + x mod
    * 1e9+7) over a long array — the recurrence [[fingerprintCol]],
    * [[winnowing]]'s k-gram hashes, and [[graft.ops.Graph.graphWalks]]'
    * node hash all share (and every generated oracle restates). A
    * constant tweak here is the only way to change it, so no copy can
    * silently desynchronize from its oracle.
    */
  private[graft] def polyFold(xs: Column): Column =
    aggregate(xs, lit(0L),
      (acc, x) => (acc * lit(1000003L) + x) % lit(1000000007L))

  /** Unicode canonicalization ahead of the hash-dedup family (the
    * reference's `sanitize_dataframe`, data_pipeline.py:20-23, is the
    * parity anchor for canonicalize-before-write).
    *
    * Steps, in order (each a deterministic single-pass projection —
    * zero shuffle, one scan at 100 TB):
    *  1. strip C0/DEL control characters
    *     `[\x00-\x08\x0B\x0E-\x1F\x7F]` (the class excludes the
    *     whitespace handled in step 3). Stripping runs FIRST — the
    *     idempotence property test caught the reverse order creating
    *     un-normalized adjacencies: "c"+BEL+"◌́" stripped AFTER NFC
    *     leaves an uncomposed c+◌́ pair that a second run then
    *     composes (normalize-of-normalized must be a no-op, or replays
    *     double-process documents);
    *  2. Unicode-normalize (`form`: NFKC for production — folds
    *     ligatures/fullwidth/compatibility forms; NFC for the
    *     oracle-expressible subset) via the codegen
    *     [[graft.functions.UnicodeNormalize]] expression (NFKC can
    *     emit new SPACES — e.g. U+00A0 — but never controls, so the
    *     later collapse sees them and step 1 never needs to rerun);
    *  3. collapse runs of whitespace `[ \t\n\r\f]+` to one space (the
    *     explicit class, not `\s`, so Java and RE2 oracles agree —
    *     Java's `\s` includes U+000B, RE2's does not);
    *  4. trim; 5. optional lowercase.
    *
    * Without this, composed vs decomposed accents ("é" U+00E9 vs
    * "e"+U+0301) are byte-different and every downstream
    * `sha2`/shingle/MinHash key silently treats identical documents as
    * distinct.
    */
  def textNormalize(docs: DataFrame, form: String = "NFKC",
                    lowercase: Boolean = false): DataFrame = {
    val stripped = regexp_replace(col("text"),
      "[\\x00-\\x08\\x0B\\x0E-\\x1F\\x7F]", "")
    val normed = graft.functions.UnicodeNormalize(stripped, form)
    val collapsed = regexp_replace(normed, "[ \\t\\n\\r\\f]+", " ")
    val trimmed = trim(collapsed)
    val finalText = if (lowercase) lower(trimmed) else trimmed
    docs.withColumn("text", finalText)
      .withColumn("content_hash", sha2(col("text"), 256))
  }

  /** Per-document stats: word count, distinct words, chars, type-token
    * ratio.
    */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("lang"),
      size(words(col("text"))).cast("long").as("n_words"),
      size(array_distinct(words(col("text")))).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("n_chars_calc"))
    .withColumn("ttr",
      col("n_distinct").cast("double") / col("n_words"))

  /** Corpus token rollup per language: docs, tokens, chars. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(words(col("text"))).cast("long")).as("total_tokens"),
      sum(length(col("text")).cast("long")).as("total_chars"))

  /** Corpus bigram language-model counts: the top-N (w1, w2) pairs by
    * frequency with the conditional probability P(w2 | w1) =
    * c(w1,w2) / c(w1). The classic corpus statistic behind perplexity
    * filters and collocation mining. One explode + two hash aggregations
    * (bigram counts; unigram-context counts), joined on the context —
    * both sides pre-aggregated, so the join input is vocabulary-sized,
    * not corpus-sized. Counts exact; the single division is IEEE-
    * deterministic.
    */
  def bigramLm(docs: DataFrame, topN: Int = 20): DataFrame = {
    val w = words(col("text"))
    val bigrams = Par.widen(docs)
      .filter(size(w) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(w) - lit(2)),
        i => struct(element_at(w, i + 1).as("w1"),
          element_at(w, i + 2).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val pairCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val ctxCounts = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("n_ctx"))
    pairCounts.join(ctxCounts, "w1")
      .withColumn("p_cond", col("n").cast("double") / col("n_ctx"))
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
      .select(col("w1"), col("w2"), col("n"), col("p_cond"))
  }

  /** Interpolated Kneser-Ney bigram probabilities — the smoothing that
    * actually works for LM-based quality scoring (raw MLE as in
    * [[bigramLm]] assigns zero mass to unseen continuations; KN backs
    * off to HOW MANY contexts a word continues, not how often).
    *
    * The discount is fixed at D = 3/4 so every term stays RATIONAL:
    * p_kn = (4c-3)/(4*c_w1) + 3*t_w1*cont_w2 / (4*c_w1*T), with
    * c = bigram count, c_w1 = context count, t_w1 = distinct
    * continuations of w1, cont_w2 = distinct contexts preceding w2,
    * T = total bigram TYPES. Each term is ONE division of exact
    * integer products (DECIMAL(38,0) guards the triple product), the
    * sum is one add, rounded 1e-6 — fully portable doubles.
    *
    * Scale shape: three aggregations over the bigram stream (pair,
    * context, continuation) — all partial-agg friendly — and the
    * type-count reduce; the top-N report is TakeOrdered, never a
    * global sort.
    */
  def kneserNeyLm(docs: DataFrame, topN: Int = 20): DataFrame = {
    val big = DecimalType(38, 0)
    val w = words(col("text"))
    val bigrams = Par.widen(docs)
      .filter(size(w) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(w) - lit(2)),
        i => struct(element_at(w, i + 1).as("w1"),
          element_at(w, i + 2).as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val pairCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val ctx = pairCounts.groupBy(col("w1")).agg(
      sum(col("n")).as("c_w1"), count(lit(1)).as("t_w1"))
    val cont = pairCounts.groupBy(col("w2")).agg(
      count(lit(1)).as("cont_w2"))
    val types = pairCounts.agg(count(lit(1)).as("tt"))
    val joined = pairCounts.join(ctx, "w1").join(cont, "w2")
      .crossJoin(broadcast(types))
    val term1 = (lit(4).cast(big) * col("n").cast(big)
      - lit(3).cast(big)).cast("double") /
      (lit(4).cast(big) * col("c_w1").cast(big)).cast("double")
    val term2 = (lit(3).cast(big) * col("t_w1").cast(big)
      * col("cont_w2").cast(big)).cast("double") /
      (lit(4).cast(big) * col("c_w1").cast(big)
        * col("tt").cast(big)).cast("double")
    joined
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
      .select(col("w1"), col("w2"), col("n"), col("c_w1"),
        col("t_w1"), col("cont_w2"),
        round(term1 + term2, 6).as("p_kn"))
  }

  /** Vocabulary coverage: the fraction of a document's token occurrences
    * that fall in the corpus's top-K vocabulary — the cheap OOV-rate
    * proxy used to spot gibberish/off-domain docs before tokenizer
    * training. One explode pass builds the vocabulary (TakeOrdered for
    * the tiny top-K — no global sort); scoring is then a PURE PROJECTION:
    * the vocab broadcasts as a sorted array and each row folds its own
    * tokens against it, so the corpus is never exploded a second time.
    * Rank-K ties break on the word for determinism.
    */
  def vocabCoverage(docs: DataFrame, topK: Int = 100): DataFrame = {
    val toks = docs.select(col("doc_id"), words(col("text")).as("toks"))
    val vocab = Par.widen(toks).select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(topK)
      .agg(collect_list(col("w")).as("vocab"))
    toks.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + when(array_contains(col("vocab"), t), 1L).otherwise(0L))
          .as("in_vocab"))
      .withColumn("coverage", col("in_vocab").cast("double") / col("n_tokens"))
  }

  /** Per-document LM score: the mean bigram conditional probability
    * P(w2|w1) under the corpus's own bigram model — the self-perplexity
    * proxy quality filters rank on (kept log-free so every term is one
    * exact-count division). The LM join is vocabulary-sized. The per-doc
    * mean folds the probabilities IN POSITION ORDER over a collected
    * array — a groupBy avg() would sum doubles in partition order and
    * break bit-reproducibility.
    */
  def docLmScore(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val bg = Par.widen(docs)
      .filter(size(w) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(w) - lit(2)),
        i => struct(i.as("pos"), element_at(w, i + 1).as("w1"),
          element_at(w, i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.pos"), col("b.w1"), col("b.w2"))
    val pairCounts = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
    val ctxCounts = pairCounts.groupBy(col("w1")).agg(sum(col("nb")).as("np"))
    val lm = pairCounts.join(ctxCounts, "w1")
      .select(col("w1"), col("w2"), (col("nb").cast("double") / col("np")).as("p"))
    bg.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (aggregate(col("ps"), lit(0.0), (acc, x) => acc + x("p"))
          / col("n_bigrams")).as("lm_score"))
  }

  private val stopwords = Seq("the", "a")

  /** Heuristic quality score: length saturation + lexical diversity +
    * stopword penalty. Weights are arbitrary but fixed; the point is the
    * operator shape (single-pass scoring for corpus filtering). `keep`
    * names extra input columns to carry through the projection (e.g.
    * `source` for per-stratum cuts downstream).
    */
  def qualityScore(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val ttr = size(array_distinct(w)).cast("double") / nWords
    val stopRatio =
      size(filter(w, t => t.isin(stopwords.map(lit): _*))).cast("double") / nWords
    docs.select((col("doc_id") +: keep.map(col)) ++ Seq(
        nWords.cast("long").as("n_words"),
        ttr.as("ttr"),
        stopRatio.as("stop_ratio")): _*)
      .withColumn("score",
        lit(0.5) * least(lit(1.0), col("n_words").cast("double") / lit(200.0)) +
        lit(0.3) * col("ttr") +
        lit(0.2) * (lit(1.0) - col("stop_ratio")))
  }

  /** Quality-pruning threshold sweep: for every populated score decile,
    * how many documents and tokens survive pruning at that threshold
    * (reverse-cumulative counts over [[qualityScore]]'s buckets) — the
    * curve a curation ablation reads to pick its cutoff, produced in
    * ONE corpus scan instead of one filtered scan per candidate
    * threshold. Counts are exact longs; the only doubles are the score
    * itself (bit-identical by the shared-expression-tree rule) and its
    * decile floor. The cumulative window runs over ≤ 10 bucket rows —
    * single-partition by construction, never corpus-sized.
    */
  def qualityPruneCurve(docs: DataFrame): DataFrame = {
    val byBucket = qualityScore(docs)
      .select(least(floor(col("score") * 10).cast("int"), lit(9)).as("b"),
        col("n_words"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b").desc)
      .rowsBetween(Long.MinValue, 0)
    byBucket.select(col("b").as("thr_decile"),
      sum(col("n_docs")).over(w).as("docs_kept"),
      sum(col("n_tokens")).over(w).as("tokens_kept"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021, table A1
    * — arXiv:2112.11446): per document, the character fraction covered
    * by the most frequent word n-gram for n ∈ {2,3,4} and by all
    * DUPLICATED word n-grams for n ∈ {5..10}, plus a `gopher_pass` flag
    * applying the paper's thresholds. (The paper's other half — duplicate
    * LINE/paragraph fractions — is omitted: the synthetic corpus is
    * single-line, so those columns would be degenerately zero at every
    * SF; the n-gram half is the live signal here.)
    *
    * Variant note (documented, since thresholds bind to the definition):
    * occurrence characters are counted as `count × length(gram)`
    * including the gram's internal spaces, and overlapping occurrences
    * double-count (the paper de-overlaps); the denominator is
    * `length(text)`. Ratios are single IEEE divisions of exact longs.
    *
    * Computed entirely PER ROW — nine sorted n-gram arrays per doc, each
    * folded once: a run's length IS the gram's occurrence count, so
    * `top` = max(run × len) and `dup` accumulates 2×len when a run
    * reaches 2 and +len per further repeat ([[graft.ops.TextDedup
    * .repetitionScore]]'s zero-shuffle technique, widened to a stats
    * family). No key shuffle at any scale; the oracle recomputes the
    * same counts by explode + two-level groupBy — an independent
    * algorithm agreeing on exact integers.
    */
  /** Gopher LINE-level repetition metrics (Rae et al. 2021 table A1's
    * duplicate-line half — [[gopherRepetition]] is the n-gram half,
    * which round 8 shipped alone because the synthetic corpus is
    * single-line and these fractions were structurally zero; the
    * registered query closes that gap by injecting a deterministic
    * multi-line structure, mirrored in the oracle, so the metrics
    * provably fire — the `segment_langid` pattern). Definitions:
    * a line occurrence beyond the FIRST occurrence of its content is a
    * duplicate; `dup_line_frac` = duplicate occurrences / lines and
    * `dup_char_frac` = characters in duplicate occurrences / characters
    * in all lines (the all-but-first reading both engines can compute
    * from (all, distinct) pairs). `line_pass` applies the paper's
    * document-filter thresholds (≤ 0.30 / ≤ 0.20).
    *
    * Scale: per-row array folds over the line split — zero shuffle,
    * same class as [[gopherRepetition]]; fractions are ROUNDED(6) on
    * integer operands so the cross-engine hash is exact.
    */
  def gopherLineDup(docs: DataFrame): DataFrame = {
    val c = lineDupCols(col("text"))
    Par.widen(docs).select(col("doc_id"),
      c.nLines.as("n_lines"),
      c.nDup.as("n_dup_lines"),
      c.lineFrac.as("dup_line_frac"),
      c.charFrac.as("dup_char_frac"),
      c.pass.as("line_pass"))
  }

  /** The duplicate-line metric columns over an arbitrary text column —
    * ONE definition shared by [[gopherLineDup]] and the fused web front
    * door ([[webPipeline]]), so the rule cannot drift between the
    * standalone verdict op and the composed pipeline.
    */
  private[graft] case class LineDupCols(nLines: Column, nDup: Column,
                                        lineFrac: Column, charFrac: Column) {
    def pass: Column = lineFrac <= 0.30 && charFrac <= 0.20
  }
  private[graft] def lineDupCols(text: Column): LineDupCols = {
    val ls = split(text, "\n")
    val dls = array_distinct(ls)
    def chars(a: Column): Column =
      aggregate(a, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val totChars = chars(ls)
    val dupChars = totChars - chars(dls)
    val dupLines = (size(ls) - size(dls)).cast("long")
    val lineFrac = round(dupLines.cast("double") / size(ls), 6)
    val charFrac = when(totChars > 0,
      round(dupChars.cast("double") / totChars, 6)).otherwise(lit(0.0))
    LineDupCols(size(ls).cast("long"), dupLines, lineFrac, charFrac)
  }

  /** Per-row n-gram run-fold (top occurrence mass + duplicated-gram
    * mass) over a word array — shared by [[gopherRepetition]] and the
    * fused web front door's repetition verdict.
    *
    * The grams are joined strings, sorted natively, then folded in one
    * pass. This fold is compute-bound per row, not shuffle-bound: an
    * in-row xxhash64 gram identity (n interpreted hash nodes per window)
    * measured slower than one native `array_join` + string sort (sf0.1
    * web_substr staging, warm: 1.70 s string vs 2.63 s hash; BENCH_NOTES
    * round 16, Gopher n-gram hash fold).
    */
  private def gramStats(w: Column, n: Int): Column = {
    val grams = array_sort(transform(
      sequence(lit(0), size(w) - lit(n)),
      i => array_join(slice(w, i + 1, lit(n)), " ")))
    aggregate(
      when(size(w) >= n, grams).otherwise(array().cast("array<string>")),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("top"), lit(0L).as("dup")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        val contrib = when(run === 2, lit(2L) * length(x).cast("long"))
          .when(run > 2, length(x).cast("long"))
          .otherwise(lit(0L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("top"), run * length(x).cast("long"))
            .as("top"),
          (acc.getField("dup") + contrib).as("dup"))
      },
      acc => struct(acc.getField("top").as("top"),
        acc.getField("dup").as("dup")))
  }

  /** The paper's thresholds for the n-gram half of the filter table —
    * (n, column) -> bound, single-sourced for [[gopherRepetition]] and
    * the fused pass column below.
    */
  private val gopherNgramThresholds: Seq[(String, Double)] = Seq(
    "top2_frac" -> 0.20, "top3_frac" -> 0.18, "top4_frac" -> 0.16,
    "dup5_frac" -> 0.15, "dup6_frac" -> 0.14, "dup7_frac" -> 0.13,
    "dup8_frac" -> 0.12, "dup9_frac" -> 0.11, "dup10_frac" -> 0.10)

  /** [[gopherRepetition]]'s composite verdict as ONE column over an
    * arbitrary text column — the builder [[webPipeline]] uses so the
    * composed plan stays a single projection (no verdict-frame joins).
    */
  private[graft] def gopherPassCol(text: Column): Column = {
    val w = words(text)
    def frac(num: Column): Column =
      when(length(text) > 0,
        num.cast("double") / length(text).cast("double"))
        .otherwise(lit(0.0))
    val fracs: Seq[Column] =
      (2 to 4).map(n => frac(gramStats(w, n).getField("top"))) ++
        (5 to 10).map(n => frac(gramStats(w, n).getField("dup")))
    fracs.zip(gopherNgramThresholds.map(_._2))
      .map { case (f, t) => f <= lit(t) }.reduce(_ && _)
  }

  def gopherRepetition(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val stats = (2 to 10).map(n => gramStats(w, n).as(s"g$n"))
    val base = Par.widen(docs)
      .select(col("doc_id") +: col("text") +: stats: _*)
    // empty text is the one reachable zero denominator in this file
    // (every other ratio divides by a count >= 1); pin it to 0.0 on
    // both sides rather than NULL-vs-NaN engine behavior
    def frac(num: Column): Column =
      when(length(col("text")) > 0,
        num.cast("double") / length(col("text")).cast("double"))
        .otherwise(lit(0.0))
    val fracCols =
      (2 to 4).map(n => frac(col(s"g$n.top")).as(s"top${n}_frac")) ++
      (5 to 10).map(n => frac(col(s"g$n.dup")).as(s"dup${n}_frac"))
    val withFracs = base.select(col("doc_id") +: fracCols: _*)
    withFracs.withColumn("gopher_pass",
      gopherNgramThresholds.map { case (c, t) => col(c) <= lit(t) }
        .reduce(_ && _))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): per LANGUAGE, split documents into
    * head/middle/tail terciles of LM quality — the standard corpus
    * partition downstream samplers weight by. Quality is
    * [[docLmScore]]'s mean bigram probability (higher = better, so
    * `head` = top tercile, mirroring CCNet's lowest-perplexity third);
    * ties broken by doc_id so the tercile boundary is deterministic.
    * Only docs docLmScore scores (≥ 2 words) participate — CCNet
    * likewise buckets only LM-scorable paragraphs.
    *
    * Scale: the LM and scoring joins are [[docLmScore]]'s (vocabulary-
    * sized, never text); the tercile is ONE window partitioned by
    * language — the skew bound is docs-per-language, the same row-number
    * regime as `window_latest`, and the window input carries only
    * (doc_id, lang, score).
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("lm_score").desc, col("doc_id"))
    docLmScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("lm_score"),
        ntile(3).over(w).as("tercile"))
      .withColumn("bucket",
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail"))
  }

  /** Char-trigram language ID (Cavnar & Trenkle 1994 — the classic
    * n-gram rank-profile classifier [[langId]]'s scaladoc promises):
    * per-language profiles are the top `profileK` character trigrams by
    * corpus frequency (rank = freq desc, gram asc — deterministic);
    * each document's top `docK` trigram ranks are compared with every
    * profile by the OUT-OF-PLACE measure — Σ |doc rank − profile rank|,
    * a miss costing `profileK` — and the minimum-distance language wins
    * (lang asc tiebreak; docs under 3 chars report 'und'). Trained on
    * the corpus's own lang labels, so it is self-contained.
    *
    * Every step is exact integers (counts, row_number ranks, |Δrank|
    * sums) — bit-portable with no rounding anywhere.
    *
    * Degeneracy note (the Gopher lesson applied in advance): the
    * synthetic corpus draws all languages from one word pool, so the
    * profiles barely differ and corpus accuracy is near chance — the
    * oracle still verifies the arithmetic exactly, and the SPEC's
    * constructed separable corpus is the live evidence the classifier
    * classifies.
    *
    * Scale: one trigram explode (3× text bytes) feeding two map-side-
    * combinable aggregations; profiles are langs×profileK rows riding a
    * broadcast; the scoring join fans each doc's docK grams out by
    * |langs| — bounded, never corpus×corpus.
    */
  def langIdNgram(docs: DataFrame, profileK: Int = 40,
                  docK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Par.widen(docs)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(0), length(col("text")) - 3),
          i => col("text").substr(i + 1, lit(3)))).as("g"))
    val prof = grams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("g").asc)))
      .filter(col("lrank") <= profileK)
      .select(col("lang").as("plang"), col("g"), col("lrank"))
    val docTop = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("drank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("c").desc, col("g").asc)))
      .filter(col("drank") <= docK)
      .select(col("doc_id"), col("g"), col("drank"))
    val langs = prof.select(col("plang")).distinct()
    val pens = docTop.crossJoin(broadcast(langs))
      .join(broadcast(prof), Seq("plang", "g"), "left_outer")
      .select(col("doc_id"), col("plang"),
        coalesce(abs(col("drank") - col("lrank")),
          lit(profileK.toLong)).as("pen"))
    // argmin with lang-asc tiebreak via struct min: (dist, plang)
    val dists = pens.groupBy(col("doc_id"), col("plang"))
      .agg(sum(col("pen")).as("dist"))
    val picked = dists.groupBy(col("doc_id"))
      .agg(min(struct(col("dist"), col("plang"))).as("top"))
      .select(col("doc_id"), col("top.plang").as("pred"),
        col("top.dist").as("dist"))
    docs.select(col("doc_id"), col("lang"))
      .join(picked, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred"), lit("und")).as("pred_lang"),
        col("dist"))
  }

  /** Marker-word language ID. A real pipeline would use char-n-gram
    * profiles; the operator shape (score-per-language, deterministic
    * argmax with alphabetic tiebreak, 'und' fallback) is what scales.
    */
  def langId(docs: DataFrame): DataFrame = {
    def score(markers: Seq[String]): Column =
      size(filter(words(col("text")), t => t.isin(markers.map(lit): _*)))
    val sEn = score(Seq("the", "a"))
    val sEs = score(Seq("la", "el"))
    val sDe = score(Seq("der", "die"))
    docs.select(col("doc_id"), col("lang"),
        sEn.as("s_en"), sEs.as("s_es"), sDe.as("s_de"))
      .withColumn("pred_lang",
        when(col("s_de") > 0 && col("s_de") >= col("s_en") && col("s_de") >= col("s_es"), "de")
        .when(col("s_en") > 0 && col("s_en") >= col("s_es"), "en")
        .when(col("s_es") > 0, "es")
        .otherwise("und"))
      .drop("s_en", "s_es", "s_de")
  }

  /** Per-segment language ID + mixed-document detection: the document is
    * chunked into fixed `chunkWords`-word segments, each scored with the
    * same marker heuristic as [[langId]], and the doc-level report says
    * how many segments exist, the majority prediction (count desc, lang
    * asc tiebreak), and whether the doc MIXES languages — the
    * code-switching signal corpus-level language ID misses (a document
    * that is half English, half German classifies "en" whole-doc and
    * pollutes both monolingual corpora).
    *
    * Scale: one generator expansion + a doc-keyed rollup; marker scoring
    * is a codegen'd projection per segment. Exact integer counts
    * throughout.
    */
  def segmentLangId(docs: DataFrame, chunkWords: Int = 16): DataFrame = {
    val w = words(col("text"))
    val nc = greatest(ceil(size(w).cast("double") / lit(chunkWords)), lit(1L))
    def score(seg: Column, markers: Seq[String]): Column =
      size(filter(split(seg, " "), t => t.isin(markers.map(lit): _*)))
    val segs = Par.widen(docs).select(col("doc_id"),
      explode(transform(sequence(lit(0L), nc - 1),
        i => array_join(slice(w, (i * chunkWords + 1).cast("int"),
          lit(chunkWords)), " "))).as("seg"))
    val sEn = score(col("seg"), Seq("the", "a"))
    val sEs = score(col("seg"), Seq("la", "el"))
    val sDe = score(col("seg"), Seq("der", "die"))
    val pred = when(sDe > 0 && sDe >= sEn && sDe >= sEs, "de")
      .when(sEn > 0 && sEn >= sEs, "en")
      .when(sEs > 0, "es")
      .otherwise("und")
    segs.select(col("doc_id"), pred.as("seg_lang"))
      .groupBy(col("doc_id"), col("seg_lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_segments"),
        // (-n, lang) min = count desc with lang ASC tiebreak
        min(struct((-col("n")).as("neg_n"), col("seg_lang"))).as("top"),
        countDistinct(when(col("seg_lang") =!= "und", col("seg_lang")))
          .as("n_langs"))
      .select(col("doc_id"), col("n_segments"),
        col("top.seg_lang").as("majority_lang"),
        (-col("top.neg_n")).as("n_majority"),
        (col("n_langs") > 1).as("is_mixed"))
  }

  /** Ranked retrieval over an inverted-index view: score each document
    * for a LITERAL term list by Σ tf(term)/df(term) (tf-idf's shape with
    * the rare-term boost as an exact rational instead of a
    * transcendental log) and return the top `k`. The per-term
    * tf-columns are conditional counts in ONE projection, the df
    * scalars ride a broadcast, and the score sums in FIXED expression
    * order — no aggregation-order nondeterminism, so the doubles are
    * engine-portable with no rounding.
    *
    * Scale: tf is one map-side-combined aggregation over (doc, term)
    * filtered to the query terms BEFORE the shuffle; df is a few
    * broadcast scalars; top-k is a distributed TakeOrdered. This is the
    * query-side half of a search index — the build side is the same
    * posting aggregation [[TextDedup]] uses for candidate generation.
    */
  def searchRanked(docs: DataFrame, terms: Seq[String],
                   k: Int = 20): DataFrame =
    rankedFromHits(termHits(docs, terms), terms, k)

  /** The filtered inverted-index view (doc_id, matching term) both
    * rankers aggregate — extracted so [[rrfFusion]] can compute (and
    * persist) it ONCE instead of paying the corpus explode per ranker.
    */
  private def termHits(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "literal term list")
    docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w").isin(terms.map(lit): _*))
  }

  private def rankedFromHits(hits: DataFrame, terms: Seq[String],
                             k: Int): DataFrame = {
    val tfCols = terms.map(t =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val tf = hits.groupBy(col("doc_id")).agg(tfCols.head, tfCols.tail: _*)
    val dfCols = terms.map(t =>
      countDistinct(when(col("w") === t, col("doc_id"))).as(s"df_$t"))
    val df = hits.agg(dfCols.head, dfCols.tail: _*)
    val score = terms.map(t =>
      col(s"tf_$t").cast("double") / col(s"df_$t")).reduce(_ + _)
    tf.crossJoin(broadcast(df))
      .select(col("doc_id") +: terms.map(t => col(s"tf_$t")) :+
        score.as("score"): _*)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones) — the standard
    * lexical-search baseline, over the same inverted-index view as
    * [[searchRanked]]: idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)
    * rounded at 1e-6 (the engine's transcendental convention), tf
    * saturation k1 = 1.2, length normalization b = 0.75 against the
    * corpus mean length. All divisions and the final per-term sum run
    * in FIXED expression order on both engines, so beyond the one
    * rounded ln every double is a deterministic function of exact
    * integers.
    *
    * Scale: identical plan to [[searchRanked]] (filtered tf
    * aggregation, broadcast scalars, TakeOrdered) plus one corpus
    * length scan that a production index precomputes.
    */
  def searchBm25(docs: DataFrame, terms: Seq[String], k: Int = 20,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromHits(docs, termHits(docs, terms), terms, k, k1, b)

  private def bm25FromHits(docs: DataFrame, hits: DataFrame,
                           terms: Seq[String], k: Int,
                           k1: Double, b: Double): DataFrame = {
    val lens = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tfCols = terms.map(t =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val tf = hits.groupBy(col("doc_id")).agg(tfCols.head, tfCols.tail: _*)
    val dfCols = terms.map(t =>
      countDistinct(when(col("w") === t, col("doc_id"))).as(s"df_$t"))
    val dfs = hits.agg(dfCols.head, dfCols.tail: _*)
    def idf(t: String): Column = round(log(
      (col("n_docs") - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5)) + lit(1.0)), 6)
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / col("avgdl"))
    val score = terms.map { t =>
      val tfd = col(s"tf_$t").cast("double")
      idf(t) * (tfd * lit(k1 + 1.0)) / (tfd + norm)
    }.reduce(_ + _)
    tf.join(lens, "doc_id")
      .crossJoin(broadcast(dfs.crossJoin(stats)))
      .select(col("doc_id") +: col("dl") +: terms.map(t => col(s"tf_$t")) :+
        score.as("score"): _*)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * the two lexical rankers above: each document retrieved by either
    * top-k list scores Σ_r 10¹² DIV (60 + rank_r) over the rankers that
    * retrieved it — the classic k=60 RRF constant, with the reciprocal
    * computed by INTEGER division at 10¹² scale so the fusion is
    * cross-engine bit-exact with no doubles anywhere (rank ≤ k keeps
    * every quotient distinct, so the scaled-integer ordering IS the
    * rational ordering). A ranker that missed a document contributes 0;
    * absent ranks report as 0 rather than NULL so downstream schemas
    * stay non-nullable. RRF's value over score fusion: ranks need no
    * calibration between a tf-idf-scale and a BM25-scale scorer.
    *
    * Scale: the two input rankings are top-k TakeOrdereds (k rows
    * each), so the fusion's outer join and re-rank are driver-trivial;
    * the corpus cost is exactly the two underlying rankers' (shared
    * inverted-index aggregation shape, broadcast df scalars).
    */
  def rrfFusion(docs: DataFrame, terms: Seq[String], k: Int = 20,
                kRrf: Int = 60): DataFrame = {
    val scale = 1000000000000L
    // ONE corpus explode feeds both rankers (persisted: thin 2-column
    // postings, not text); without this the fusion pays the scan twice
    val hits = termHits(docs, terms).persist()
    val a = rankedFromHits(hits, terms, k)
      .select(col("doc_id"), col("rank").as("rank_tfidf"))
    val b = bm25FromHits(docs, hits, terms, k, k1 = 1.2, b = 0.75)
      .select(col("doc_id"), col("rank").as("rank_bm25"))
    def part(rankCol: String): Column =
      coalesce(expr(s"$scale DIV ($kRrf + $rankCol)"), lit(0L))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", part("rank_tfidf") + part("rank_bm25"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"),
        coalesce(col("rank_tfidf"), lit(0)).as("rank_tfidf"),
        coalesce(col("rank_bm25"), lit(0)).as("rank_bm25"),
        col("rrf_score"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_score").desc, col("doc_id").asc))
          .as("rank_fused"))
  }

  /** Per-source discriminative terms — the c-TF-IDF topic-signature
    * shape (what BERTopic computes per cluster): score each (source,
    * term) by tf_in_source · n_sources / source_df(term), so terms
    * concentrated in few sources outrank corpus-common ones; top `topK`
    * per source. The score is ONE division of exact integers —
    * engine-portable with no rounding.
    *
    * Scale: one (source, term) aggregation (map-side combined), the
    * per-term source-df as a second key-sized aggregation joined back,
    * and a per-source top-k window (WindowGroupLimit prunes before the
    * sort).
    */
  def sourceTopTerms(docs: DataFrame, topK: Int = 5): DataFrame = {
    val terms = docs.select(col("source"),
      explode(words(col("text"))).as("w"))
    val tf = terms.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val sdf = tf.groupBy(col("w"))
      .agg(count(lit(1)).as("source_df"))
    val nSources = docs.agg(
      countDistinct(col("source")).as("n_sources"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score").desc, col("w").asc)
    tf.join(sdf, "w")
      .crossJoin(broadcast(nSources))
      .withColumn("score",
        (col("tf") * col("n_sources")).cast("double") / col("source_df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("w").as("term"), col("tf"),
        col("source_df"), col("score"), col("rank"))
  }

  /** Rolling polynomial fingerprint over word tokens:
    * fp = fold(words, 0, (acc, w) -> (acc*1000003 + ascii(w)*31 + len(w)) mod 1e9+7).
    * Order-sensitive (unlike a bag-of-words hash) so reordered documents
    * fingerprint differently; arithmetic-only so any engine reproduces
    * it; always < 1e9+7. ONE definition shared by [[docFingerprint]]
    * and [[graft.ops.Shard.shardManifest]]'s checksum so a manifest
    * verifier recomputes exactly the fingerprint the dedup path uses.
    */
  def fingerprintCol(text: Column): Column =
    polyFold(transform(words(text), w => wordHash(w)))

  /** Per-document [[fingerprintCol]] as a projection query. */
  def docFingerprint(docs: DataFrame): DataFrame =
    Par.widen(docs).select(col("doc_id"),
      fingerprintCol(col("text")).as("fingerprint"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every word `k`-gram with the same
    * arithmetic-only polynomial as [[docFingerprint]], slide a window of
    * `w` consecutive k-gram hashes over the document, and select each
    * window's minimum hash (ties broken to the RIGHTMOST position, the
    * paper's robust-winnowing rule). Guarantees at least one selected
    * fingerprint in every `w` consecutive k-grams, so any two documents
    * sharing a run of `w + k - 1` words share a fingerprint — the
    * position-robust alternative to fixed-stride fingerprinting.
    *
    * Pure per-row projection: k-gram hashing, window minima, and the
    * per-document de-duplication of selections (`array_distinct` — the
    * same selection is the minimum of several adjacent windows) all happen
    * inside one codegen'd expression; no shuffle, no UDF. The emitted
    * (doc_id, fp) rows feed the same inverted-index candidate family as
    * [[TextDedup.nearDupJaccard]] at a w-fold lower index size.
    */
  def winnowing(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    val ws = words(col("text"))
    val gramHashes = transform(sequence(lit(0), size(ws) - lit(k)),
      g => polyFold(transform(slice(ws, g + 1, lit(k)), x => wordHash(x))))
    Par.widen(docs)
      .filter(size(ws) >= k)
      .select(col("doc_id"), gramHashes.as("hs"))
      .filter(size(col("hs")) >= w)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(0), size(col("hs")) - lit(w)), s => {
          val win = slice(col("hs"), s + 1, lit(w))
          val mn = array_min(win)
          val p = element_at(
            filter(sequence(s, s + lit(w - 1)),
              j => element_at(col("hs"), j + 1) === mn), -1)
          struct(p.cast("long").as("pos"), mn.as("fp"))
        }))).as("sel"))
      .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }

  /** Character-level Shannon entropy per document, in bits — the classic
    * gibberish/noise quality signal (random byte soup scores near 8,
    * single-character spam near 0). Zero-shuffle projection: the row's
    * distinct characters are enumerated and sorted per row, each count is
    * recovered as length(text) - length(replace(text, ch)), and the
    * entropy fold runs in that one fixed order, so the double result is
    * reproducible across engines and partitionings. entropy =
    * (ln N - (Σ c·ln c)/N) / ln 2, rounded to 6 decimals (the two engines'
    * libm `ln` may differ in the last ulp; 1e-6 is 10 orders above it).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val n = length(col("text"))
    val chars = array_sort(array_distinct(split(col("text"), "")))
    val sumClnC = aggregate(
      filter(chars, ch => length(ch) === 1),
      lit(0.0d),
      (acc, ch) => {
        val c = (n - length(replace(col("text"), ch, lit("")))).cast("double")
        acc + c * log(c)
      })
    Par.widen(docs).select(col("doc_id"), n.cast("long").as("n_chars"),
      when(n === 0, lit(0.0d))
        .otherwise(round(
          (log(n.cast("double")) - sumClnC / n.cast("double")) / log(lit(2.0d)), 6))
        .as("entropy_bits"))
  }

  /** Lexicon-ratio filter (the C4/RefinedWeb blocklist-filter shape): the
    * fraction of a document's tokens that fall in a given lexicon, and the
    * keep decision against `maxRatio`. The lexicon travels as an array
    * literal (broadcast by construction); the ratio is an exact int/int
    * division, so the doubles are engine-portable. Zero shuffle.
    */
  def wordlistFilter(docs: DataFrame, lexicon: Seq[String],
                     maxRatio: Double): DataFrame = {
    val ws = words(col("text"))
    val hits = size(filter(ws, x => array_contains(typedLit(lexicon), x)))
    Par.widen(docs).select(col("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      hits.cast("long").as("n_hits"),
      (hits.cast("double") / size(ws).cast("double")).as("hit_ratio"),
      (hits.cast("double") / size(ws).cast("double") <= maxRatio).as("keep"))
  }

  /** Adjacent-symbol-pair frequencies at character granularity — the
    * statistic a BPE tokenizer trainer computes for its merge decisions
    * (Sennrich et al. 2016, the first merge iteration): count every
    * within-word character bigram corpus-wide and rank the top
    * candidates (count desc, pair asc tiebreak).
    *
    * Scale: one scan, two generator expansions (words, then bigrams),
    * map-side-combined counts. The final ranking window is global but
    * runs over the DISTINCT PAIR table, whose cardinality is bounded by
    * alphabet² — constant in corpus size, so the single-partition sort
    * never grows with the data.
    */
  def bpePairs(docs: DataFrame, topN: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair").asc)
    docs.select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
  }

  /** BPE merge-rule training, the real loop (Sennrich, Haddow & Birch,
    * ACL 2016): tokenize the corpus ONCE into a (word, count) vocabulary,
    * start from character symbols, then for `nMerges` rounds (a) count
    * adjacent symbol pairs weighted by word count — Sennrich's
    * `get_stats`, which counts every adjacent position — (b) pick the
    * most frequent pair (count desc, then lexicographic — a deterministic
    * tiebreak the reference implementation leaves to dict order), and
    * (c) merge that pair everywhere with the GREEDY LEFT-TO-RIGHT
    * non-overlapping rule ("a a a" + merge (a,a) → "aa a", not "a aa").
    *
    * The greedy merge is a single left fold over the symbol array with a
    * (done, pending) accumulator, encoded as one string `done#pending`
    * so the SAME fold is expressible in Spark `aggregate` and DuckDB
    * `list_reduce` (whose accumulator must share the element type) —
    * the oracle replays the entire training loop, not a summary.
    *
    * Output: one row per round — the learned pair, its count at
    * selection time, and the corpus token count after applying it
    * (strictly decreasing by construction).
    *
    * Scale: the corpus is scanned and shuffled ONCE (to the vocabulary);
    * every round then runs on VOCAB-SIZED state — a pair-count aggregate
    * (map-side combined, pair table bounded by alphabet² per round) and
    * a projection applying the merge. The 1-row winner is the doctrine's
    * legal broadcast. `localCheckpoint` cuts lineage each round (the
    * state is referenced twice per round — by the winner and by the
    * merge — so the plan would double per round otherwise; the cc_star
    * lesson). Words never re-tokenize; text never reshuffles.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 5): DataFrame =
    bpeLoop(docs, nMerges)._2

  /** The encode half: apply [[bpeTrain]]'s learned merges back to the
    * corpus and report per-document tokenizer fertility — character
    * tokens vs BPE tokens per doc (the compression the merge table
    * buys, the metric a tokenizer ablation reads). The trained
    * vocabulary state IS the encoding: every distinct word's final
    * symbol segmentation already exists after the loop, so encoding is
    * one equi-join of the corpus' words against the vocab-sized state —
    * no per-doc re-segmentation, and adding documents re-runs only the
    * join, not the training fold.
    */
  def bpeEncode(docs: DataFrame, nMerges: Int = 5): DataFrame = {
    val state = bpeLoop(docs, nMerges)._1
    docs.select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .join(state.withColumnRenamed("w", "tok"), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("tok"))).as("n_char_tokens"),
        sum(size(split(col("syms"), " ")).cast("long")).as("n_bpe_tokens"))
  }

  /** Shared trainer: returns the final vocabulary state
    * (w, syms, cnt) and the per-round summary.
    *
    * PRECONDITION (documented, like `Assoc.maxBasketSize`'s id bound):
    * words must not contain `'#'` — it is the fold's done/pending
    * sentinel in BOTH engines, so a literal `'#'` inside a token would
    * corrupt the accumulator parse identically on each side (the
    * oracle could not catch it). Space-split tokens can't contain the
    * other separator.
    *
    * If the vocabulary merges completely before `nMerges` rounds (no
    * adjacent pair left anywhere), the loop STOPS: the summary has one
    * row per executed round and the state keeps its last value — it is
    * NOT wiped by a cross join against an empty winner. The oracle
    * mirrors this with a NOT-EXISTS fallback branch per stage.
    */
  private def bpeLoop(docs: DataFrame,
      nMerges: Int): (DataFrame, DataFrame) = {
    // (w, syms, cnt): "c h a t" ← the word's characters, space-joined
    var state = docs.select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        trim(regexp_replace(col("w"), "(.)", "$1 ")).as("syms"),
        col("cnt"))
      .localCheckpoint()
    val rounds = Seq.newBuilder[DataFrame]
    var exhausted = false
    for (round <- 1 to nMerges if !exhausted) {
      val arr = split(col("syms"), " ")
      val pairs = state.filter(size(arr) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(arr) - 1),
          i => struct(element_at(arr, i).as("l"),
            element_at(arr, i + lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
      val top = pairs
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1)
        .select(col("l"), col("r"), col("n"))
        .localCheckpoint()
      if (top.isEmpty) { exhausted = true }
      else {
      // greedy left-to-right merge: fold with acc = "done#pending";
      // the final "done pending" falls out of translate('#' → ' ')
      def step(acc: Column, x: Column): Column = {
        val done = substring_index(acc, "#", 1)
        val pend = substring_index(acc, "#", -1)
        when(pend === col("l") && x === col("r"),
          concat(done, lit(" "), col("l"), col("r"), lit("#")))
          .otherwise(concat(done,
            when(pend === "", lit("")).otherwise(concat(lit(" "), pend)),
            lit("#"), x))
      }
      val merged = state.crossJoin(broadcast(top))
        .select(col("w"), trim(translate(
          aggregate(split(col("syms"), " "), lit("#"), step),
          "#", " ")).as("syms"),
          col("cnt"))
        .localCheckpoint()
      val tokensAfter = merged
        .agg(sum(size(split(col("syms"), " ")) * col("cnt")).as("t"))
      rounds += top.crossJoin(tokensAfter)
        .select(lit(round).as("round"), col("l"), col("r"),
          col("n").as("pair_count"), col("t").cast("long").as("tokens_after"))
      state = merged
      }
    }
    val summary = rounds.result().reduceOption(_ union _).getOrElse(
      docs.sparkSession.sql(
        """SELECT CAST(NULL AS INT) AS round, '' AS l, '' AS r,
           CAST(0 AS BIGINT) AS pair_count,
           CAST(0 AS BIGINT) AS tokens_after""").limit(0))
    (state, summary)
  }

  /** T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4): mask
    * contiguous token SPANS, each replaced by one numbered sentinel in
    * the input; the target sequence is the sentinels with their
    * original spans. The span sampler is hash-driven and fully
    * deterministic — a position starts a span when
    * `pmod(doc_id·1000003 + i·131, 1e9+7) % 100 < 5` (≈5% of
    * positions), and the span takes 1–3 additional tokens from a
    * second hash — so corruption is reproducible across runs, engines,
    * and retries (the [[mlmMask]] discipline, extended from single
    * tokens to spans). Positions inside a span ignore further starts.
    *
    * Single left fold per row with a string-encoded accumulator
    * `corrupted#targets#skip#k` (the [[bpeTrain]] technique — DuckDB's
    * `list_reduce` accumulator must share the element type, so BOTH
    * engines fold strings; tokens must not contain `'#'` or `':'`).
    * Zero shuffles: pure codegen projection at scan speed.
    */
  def spanCorrupt(docs: DataFrame, ratePct: Int = 5,
      extraMod: Int = 3): DataFrame = {
    val toks = words(col("text"))
    val pairs = zip_with(toks,
      sequence(lit(0L), size(toks).cast("long") - 1),
      (t, i) => struct(t.as("t"), i.as("i")))
    def f(acc: Column, p: Column): Column = {
      // bind ONE split — each token step would otherwise re-split the
      // O(doc-length) accumulator for every field reference
      val parts = split(acc, "#")
      val c = element_at(parts, 1)
      val g = element_at(parts, 2)
      val skip = element_at(parts, 3).cast("long")
      val k = element_at(parts, 4).cast("long")
      val t = p.getField("t")
      val i = p.getField("i")
      val isStart = pmod(col("doc_id") * 1000003L + i * 131L,
        lit(1000000007L)) % 100 < ratePct
      val extra = pmod(col("doc_id") * 131L + i,
        lit(1000000007L)) % extraMod + 1
      val sent = concat(lit("<extra_id_"), (k + 1).cast("string"), lit(">"))
      when(skip > 0, concat_ws("#",
        c, concat(g, lit(" "), t),
        (skip - 1).cast("string"), k.cast("string")))
        .when(isStart, concat_ws("#",
          concat(c, lit(" "), sent),
          concat(g, lit(" "), sent, lit(" "), t),
          extra.cast("string"), (k + 1).cast("string")))
        .otherwise(concat_ws("#",
          concat(c, lit(" "), t), g, lit("0"), k.cast("string")))
    }
    docs.select(col("doc_id"), aggregate(pairs, lit("##0#0"), f).as("acc"))
      .select(col("doc_id"),
        ltrim(element_at(split(col("acc"), "#"), 1)).as("corrupted_text"),
        ltrim(element_at(split(col("acc"), "#"), 2)).as("targets"),
        element_at(split(col("acc"), "#"), 4).cast("long").as("n_spans"))
  }

  /** Token-budget plan: given a target mixture (language → weight in
    * permille) and a total token budget, compute per language how many
    * FULL EPOCHS of its available tokens the budget demands plus the
    * residual sampling rate — the planning table behind every
    * fixed-budget pretraining mix (when targets exceed availability the
    * epoch count > 1 records the implied repetition, the quantity
    * data-constrained scaling work budgets against). Every figure is an
    * exact integer (`div` arithmetic, rates in ppm): the plan is
    * bit-identical however and wherever it is recomputed.
    *
    * Scale: one corpus scan to per-language token counts (map-side
    * combined, ≤ |languages| rows), then pure 1-row-per-language
    * arithmetic against the broadcast-free literal weight table.
    */
  def tokenBudgetPlan(docs: DataFrame,
      weightsPermille: Seq[(String, Int)] =
        Seq("en" -> 500, "zh" -> 200, "de" -> 100, "fr" -> 100,
          "es" -> 100),
      budgetTokens: Long = 1000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weightsPermille.toDF("lang", "w_pm")
    val avail = docs.groupBy(col("lang"))
      .agg(sum(size(words(col("text"))).cast("long")).as("avail_tokens"))
    avail.join(w, Seq("lang"))
      .select(col("lang"), col("avail_tokens"), col("w_pm").cast("long")
        .as("w_pm"),
        expr(s"$budgetTokens * w_pm div 1000").as("target_tokens"))
      .select(col("lang"), col("avail_tokens"), col("w_pm"),
        col("target_tokens"),
        expr("target_tokens div avail_tokens").as("full_epochs"),
        expr("(target_tokens % avail_tokens) * 1000000 div avail_tokens")
          .as("residual_rate_ppm"))
  }

  /** UL2-style mixture of denoisers (Tay et al., 2022 — "UL2: Unifying
    * Language Learning Paradigms"): each document routes BY HASH to one
    * objective — R (regular span corruption: 5% starts, spans 2–4),
    * X (extreme: 15% starts, spans 2–6), or S (sequential/prefix-LM: a
    * single suffix span after a hash-chosen cut). Deterministic routing
    * over deterministic denoisers = a bit-reproducible training
    * mixture; the three branches are disjoint hash slices of one scan,
    * unioned — zero shuffles, and the mixture ratios are exact thirds
    * in expectation by construction.
    */
  def denoiserMix(docs: DataFrame): DataFrame = {
    val choice = pmod(col("doc_id") * 7L + 3L, lit(1000000007L)) % 3
    def branch(d: DataFrame, rate: Int, mod: Int, tag: String) =
      spanCorrupt(d, rate, mod)
        .select(col("doc_id"), lit(tag).as("denoiser"),
          col("corrupted_text").as("input_text"), col("targets"),
          col("n_spans"))
    val r = branch(docs.filter(choice === 0), 5, 3, "R")
    val x = branch(docs.filter(choice === 1), 15, 5, "X")
    val s = {
      val toks = words(col("text"))
      val n = size(toks)
      val cut = (Shard.portableHash(col("doc_id")) % n.cast("long"))
        .cast("int") // 0..n-1, so the suffix target is never empty
      docs.filter(choice === 2)
        .select(col("doc_id"), lit("S").as("denoiser"),
          ltrim(concat(array_join(slice(toks, lit(1), cut), " "),
            lit(" <extra_id_1>"))).as("input_text"),
          concat(lit("<extra_id_1> "),
            array_join(slice(toks, cut + 1, n - cut), " ")).as("targets"),
          lit(1L).as("n_spans"))
    }
    r.unionByName(x).unionByName(s)
  }

  /** One R/X fold branch of the [[denoiserMix]] / [[spanCorrupt]]
    * oracle: CTE pair `t$p`, `f$p` with the rate and span-length
    * constants inlined. */
  private def spanFoldCtes(p: String, ratePct: Int, extraMod: Int,
      where: String): String =
    s"""t$p AS (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents $where),
       f$p AS (SELECT doc_id,
         list_reduce(list_prepend('##0#0',
           list_transform(range(len(toks)),
             i -> CAST(i AS VARCHAR) || ':' || toks[i + 1])),
           (acc, x) -> CASE
             WHEN CAST(split_part(acc, '#', 3) AS BIGINT) > 0 THEN
               split_part(acc, '#', 1) || '#' ||
               split_part(acc, '#', 2) || ' ' || split_part(x, ':', 2) ||
               '#' || CAST(CAST(split_part(acc, '#', 3) AS BIGINT) - 1
                 AS VARCHAR) || '#' || split_part(acc, '#', 4)
             WHEN (doc_id * 1000003
                   + CAST(split_part(x, ':', 1) AS BIGINT) * 131)
                  % 1000000007 % 100 < $ratePct THEN
               split_part(acc, '#', 1) || ' <extra_id_' ||
               CAST(CAST(split_part(acc, '#', 4) AS BIGINT) + 1
                 AS VARCHAR) || '>' ||
               '#' || split_part(acc, '#', 2) || ' <extra_id_' ||
               CAST(CAST(split_part(acc, '#', 4) AS BIGINT) + 1
                 AS VARCHAR) || '> ' || split_part(x, ':', 2) ||
               '#' || CAST((doc_id * 131
                 + CAST(split_part(x, ':', 1) AS BIGINT))
                 % 1000000007 % $extraMod + 1 AS VARCHAR) ||
               '#' || CAST(CAST(split_part(acc, '#', 4) AS BIGINT) + 1
                 AS VARCHAR)
             ELSE
               split_part(acc, '#', 1) || ' ' || split_part(x, ':', 2) ||
               '#' || split_part(acc, '#', 2) || '#0#' ||
               split_part(acc, '#', 4)
             END) AS acc
         FROM t$p)"""

  /** DuckDB oracle for [[spanCorrupt]] at the given parameters. */
  def spanCorruptOracleSql(ratePct: Int = 5, extraMod: Int = 3): String =
    s"""WITH ${spanFoldCtes("", ratePct, extraMod, "")}
       SELECT doc_id,
         ltrim(split_part(acc, '#', 1)) AS corrupted_text,
         ltrim(split_part(acc, '#', 2)) AS targets,
         CAST(split_part(acc, '#', 4) AS BIGINT) AS n_spans
       FROM f"""

  /** DuckDB oracle for [[denoiserMix]]: the R and X folds over their
    * hash slices plus the S prefix-LM branch, unioned. */
  def denoiserMixOracleSql(): String = {
    def sel(p: String, tag: String) =
      s"""SELECT doc_id, '$tag' AS denoiser,
           ltrim(split_part(acc, '#', 1)) AS input_text,
           ltrim(split_part(acc, '#', 2)) AS targets,
           CAST(split_part(acc, '#', 4) AS BIGINT) AS n_spans
         FROM f$p"""
    def w(b: Int) = s"WHERE (doc_id * 7 + 3) % 1000000007 % 3 = $b"
    s"""WITH ${spanFoldCtes("r", 5, 3, w(0))},
       ${spanFoldCtes("x", 15, 5, w(1))}
       ${sel("r", "R")}
       UNION ALL
       ${sel("x", "X")}
       UNION ALL
       SELECT doc_id, 'S' AS denoiser,
         ltrim(COALESCE(array_to_string(toks[1:cut], ' '), '')
           || ' <extra_id_1>') AS input_text,
         '<extra_id_1> ' ||
           COALESCE(array_to_string(toks[cut + 1:n], ' '), '') AS targets,
         CAST(1 AS BIGINT) AS n_spans
       FROM (SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n,
               CAST((doc_id * 1000003) % 1000000007
                 % len(string_split(text, ' ')) AS INT) AS cut
             FROM documents ${w(2)})"""
  }

  /** Fill-in-the-middle reordering (Bavarian et al., 2022 — "Efficient
    * Training of Language Models to Fill in the Middle"): split each
    * document into prefix/middle/suffix at two hash-chosen token cuts
    * and emit the PSM layout `<PRE> prefix <SUF> suffix <MID> middle`.
    * The two cuts are `h % (n+1)` order statistics of per-doc hashes —
    * deterministic, so the same doc always yields the same split on
    * any engine (the [[spanCorrupt]] discipline). Concatenating
    * prefix+middle+suffix reproduces the document exactly (spec'd).
    * Zero shuffles: pure projection.
    */
  def fimSplit(docs: DataFrame): DataFrame = {
    val toks = words(col("text"))
    val n = size(toks)
    val h1 = (Shard.portableHash(col("doc_id")) %
      (n + 1).cast("long")).cast("int")
    val h2 = (pmod(col("doc_id") * 131L + 7L, lit(1000000007L)) %
      (n + 1).cast("long")).cast("int")
    val pe = least(h1, h2)   // prefix end (token count)
    val me = greatest(h1, h2) // middle end
    docs.select(col("doc_id"), n.cast("long").as("n_tokens"),
      pe.cast("long").as("n_prefix"),
      (me - pe).cast("long").as("n_middle"),
      (n - me).cast("long").as("n_suffix"),
      concat(lit("<PRE> "),
        array_join(slice(toks, lit(1), pe), " "),
        lit(" <SUF> "),
        array_join(slice(toks, me + 1, n - me), " "),
        lit(" <MID> "),
        array_join(slice(toks, pe + 1, me - pe), " ")).as("fim_text"))
  }

  /** DuckDB oracle for [[bpeTrain]]: the SAME training loop unrolled —
    * per round a pair-count CTE, a 1-row winner, and the identical
    * greedy fold as a `list_reduce` whose accumulator is the
    * `done#pending` string (list_reduce's accumulator must share the
    * list's element type, which is why the fold state is a string in
    * BOTH engines). The oracle replays the loop, not a summary.
    */
  def bpeTrainOracleSql(nMerges: Int = 5): String = {
    val out = (1 to nMerges).map { i =>
      s"""SELECT $i AS round, l, r, n AS pair_count,
            (SELECT CAST(sum(len(string_split(syms, ' ')) * cnt) AS BIGINT)
             FROM st$i) AS tokens_after FROM w$i"""
    }.mkString("\n UNION ALL\n")
    s"""${bpeOracleStages(nMerges)}
        $out"""
  }

  /** DuckDB oracle for [[bpeEncode]]: the same unrolled loop, then the
    * corpus' words joined against the final vocabulary state. */
  def bpeEncodeOracleSql(nMerges: Int = 5): String =
    s"""${bpeOracleStages(nMerges)}
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(len(tok)) AS BIGINT) AS n_char_tokens,
          CAST(sum(len(string_split(syms, ' '))) AS BIGINT) AS n_bpe_tokens
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents) d
        JOIN st$nMerges ON tok = w0
        GROUP BY 1"""

  /** The shared unrolled WITH-prefix: vocabulary, then per round a
    * pair-count CTE, a 1-row winner, and the greedy fold. Every stage
    * carries the original word `w0` so the final state doubles as the
    * encoding table. */
  private def bpeOracleStages(nMerges: Int): String = {
    val fold =
      """trim(replace(list_reduce(list_prepend('#', string_split(syms, ' ')),
           (acc, x) -> CASE WHEN split_part(acc, '#', 2) = w.l AND x = w.r
               THEN split_part(acc, '#', 1) || ' ' || w.l || w.r || '#'
               ELSE split_part(acc, '#', 1) ||
                 CASE WHEN split_part(acc, '#', 2) = '' THEN ''
                      ELSE ' ' || split_part(acc, '#', 2) END || '#' || x
               END), '#', ' '))"""
    val stages = (1 to nMerges).map { i =>
      s"""p$i AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n
            FROM (SELECT cnt, a[g+1] AS l, a[g+2] AS r
                  FROM (SELECT cnt, string_split(syms, ' ') AS a
                        FROM st${i - 1}) s,
                       UNNEST(range(len(a) - 1)) AS t(g))
            GROUP BY 1, 2),
          w$i AS (SELECT l, r, n FROM p$i
                  ORDER BY n DESC, l ASC, r ASC LIMIT 1),
          st$i AS (SELECT w0, $fold AS syms, cnt FROM st${i - 1}, w$i w
                   UNION ALL
                   SELECT w0, syms, cnt FROM st${i - 1}
                   WHERE NOT EXISTS (SELECT 1 FROM w$i))"""
    }.mkString(",\n")
    s"""WITH v AS (SELECT x AS w0, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
          GROUP BY 1),
        st0 AS (SELECT w0,
                  trim(regexp_replace(w0, '(.)', '\\1 ', 'g')) AS syms,
                  cnt FROM v),
        $stages"""
  }

  /** Per-source n-gram diversity (distinct-n): distinct / total n-gram
    * ratios for n = 1..`maxN` — the corpus-level repetitiveness readout
    * (a templated or model-generated source shows high duplication, i.e.
    * LOW distinct-n, long before any pairwise dedup runs; Li et al. 2016
    * introduced distinct-1/2 exactly as this degeneracy signal). One
    * output row per (source, n).
    *
    * Scale: one scan per n over the corpus (union of `maxN` branches —
    * each its own gram expansion; gram width differs so they cannot
    * share one explode), each branch a two-level aggregate: totals are
    * map-side-combined longs; the distinct count shuffles (source, gram)
    * once. The ratio is ONE exact-long IEEE division — deterministic,
    * no rounding ([[Text]] object doc).
    */
  def ngramDiversity(docs: DataFrame, maxN: Int = 3): DataFrame = {
    val branches = (1 to maxN).map { n =>
      val ws = words(col("text"))
      val grams =
        if (n == 1) docs.select(col("source"), explode(ws).as("gram"))
        else docs
          .filter(size(ws) >= n)
          .select(col("source"),
            explode(transform(sequence(lit(0), size(ws) - lit(n)),
              i => array_join(slice(ws, i + 1, lit(n)), " "))).as("gram"))
      grams.groupBy(col("source"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("total"), count(lit(1)).as("n_distinct"))
        .select(col("source"), lit(n).as("n"), col("total"),
          col("n_distinct"),
          (col("n_distinct").cast("double") / col("total")).as("distinct_ratio"))
    }
    branches.reduce(_ unionByName _)
  }

  /** Deterministic MLM masking: select ~`maskPct`% of token POSITIONS
    * by the portable hash of (doc_id, position) and emit the masked
    * text plus a "pos:token" label string — the text-side prep for
    * masked-language-model training, reproducible across runs, engines,
    * and partitionings (no RNG, no per-task state).
    *
    * Pure projection: the token array is built, masked, and re-joined
    * per row with array higher-order functions — the corpus is never
    * exploded, so this runs at scan speed with zero shuffles.
    */
  def mlmMask(docs: DataFrame, maskPct: Int = 15): DataFrame = {
    val toks = words(col("text"))
    def flag(pos: Column, id: Column): Column =
      pmod(pmod((id * lit(131L) + pos) * lit(1000003L),
        lit(1000000007L)), lit(100L)) < maskPct
    val idx = sequence(lit(0L), size(toks).cast("long") - lit(1L))
    val maskedArr = zip_with(toks, idx,
      (t, i) => when(flag(i, col("doc_id")), lit("[MASK]")).otherwise(t))
    val labelArr = zip_with(toks, idx,
      (t, i) => when(flag(i, col("doc_id")),
        concat(i.cast("string"), lit(":"), t)))
    docs.select(
      col("doc_id"),
      array_join(maskedArr, " ").as("masked_text"),
      size(filter(labelArr, c => c.isNotNull)).cast("long").as("n_masked"),
      array_join(filter(labelArr, c => c.isNotNull), ",").as("labels"))
  }

  /** DSIR-style hashed-feature target-affinity scoring (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023). DSIR scores each raw document by how much more
    * likely its hashed n-gram features are under a target corpus'
    * feature distribution than under the raw pool's, then resamples
    * proportionally. This operator keeps DSIR's estimator shape —
    * per-word hashed features, two bucketed frequency tables (target
    * = `lang == targetLang` docs, raw = the whole pool), per-doc sum
    * of per-feature evidence — but swaps the log-probability-ratio
    * for the frequency DELTA in parts-per-million: with integer
    * `div` every step stays in exact integer arithmetic, so scores
    * and the selection they induce are bit-reproducible across
    * engines (a float `log` can differ in final ulps between libms).
    * Positive affinity = the document's feature mix is more
    * target-like than the pool average.
    *
    * Scale: both frequency tables have FIXED cardinality (`buckets`
    * rows) regardless of corpus size — broadcasting them is the
    * doctrine's always-legal kind, like a 1-row scalar, and ONE
    * conditional aggregation builds both in a single corpus pass.
    * Scoring is a second pass: explode + broadcast join in-task, then
    * one doc-key aggregation whose map-side combine collapses tokens
    * to one partial per doc — only doc-sized partials and 256-row
    * bucket partials ever cross the network, never text. The word
    * hash is [[wordHash]], shared with the DuckDB oracle.
    */
  def dsirAffinity(docs: DataFrame, targetLang: String = "en",
      buckets: Int = 256): DataFrame = {
    val w = docs.select(col("doc_id"), col("lang"),
      explode(words(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"),
        (wordHash(col("w")) % buckets).as("b"))
    // ONE conditional aggregation builds both frequency tables (the
    // target is a subset of the pool, so a bucket the target misses
    // simply counts 0 — same as the left-join/coalesce formulation);
    // the 256-group agg map-side combines, and its window sums run
    // over 256 rows
    val delta = w.groupBy(col("b"))
      .agg(count(lit(1)).as("cnt_r"),
        count(when(col("lang") === targetLang, 1)).as("cnt_t"))
      .select(col("b"),
        (expr("cnt_t * 1000000 div sum(cnt_t) over ()") -
          expr("cnt_r * 1000000 div sum(cnt_r) over ()")).as("delta"))
    w.join(broadcast(delta), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("delta")).as("affinity"))
  }

  // ---- in-engine quality-probe training ------------------------------

  /** Train a linear quality probe IN THE ENGINE — the fastText-style
    * "learn a cheap classifier over the corpus, then filter with it"
    * loop (CCNet / GPT-3 quality filtering), as batch gradient descent
    * where each step is ONE corpus scan producing a 4-number gradient.
    * At 100 TB this is the only shape that works: features are a
    * per-row projection, the gradient is a map-side-combined aggregate,
    * and the model (4 weights) is driver-held bounded state — the same
    * legality class as the dim probe / 5-row DQ report collects.
    *
    * Exact-arithmetic contract (the engine's clamped-ppm style): all
    * features, scores, and weights live in micro-units (×10⁶) as
    * integers. The logistic link is the RATIONAL fast sigmoid
    * σ(z) ≈ 1/2 + z / (2(1+|z|)) — one integer division, no exp — so
    * the DuckDB oracle replays every training step bit-for-bit
    * (truncating integer division is IDENTICAL across Spark `div`,
    * DuckDB `//`, and BigInt `/` — verified toward-zero on all three).
    * Gradient sums go through DECIMAL(38,0): order-independent at any
    * partitioning. Weights clamp to ±20·10⁶ (the sigmoid saturates by
    * |z| = 20 anyway), which also keeps every per-row dot inside LONG.
    *
    * Features: capped n_words/100, type-token ratio, mean word length
    * (+bias); label = (lang = 'en'). The probe's contract here is the
    * REPRODUCIBLE TRAINING MECHANISM — swap in real quality labels and
    * richer features in production.
    */
  private val probeScale = 1000000L

  /** The probe's feature projection: fixed-point micro-unit integers
    * (see [[qualityProbe]]'s arithmetic contract). */
  private[graft] def probeFeatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        size(words(col("text"))).cast("long").as("nw"),
        size(array_distinct(words(col("text")))).cast("long").as("nd"),
        length(col("text")).cast("long").as("nc"))
      .select(col("doc_id"),
        when(col("lang") === "en", lit(probeScale)).otherwise(lit(0L)).as("y"),
        lit(probeScale).as("x0"),
        (least(col("nw"), lit(100000L)) * lit(10000L)).as("x1"),
        expr("nd * 1000000 div nw").as("x2"),
        least(expr("(nc - nw + 1) * 1000000 div nw"), lit(100000000L))
          .as("x3"))

  /** Score a feature frame with literal weights (the rational
    * fast-sigmoid link; adds `s`). */
  private[graft] def probeScore(f: DataFrame, w: Array[BigInt]): DataFrame =
    f.withColumn("dot",
        col("x0") * lit(w(0).toLong) + col("x1") * lit(w(1).toLong) +
        col("x2") * lit(w(2).toLong) + col("x3") * lit(w(3).toLong))
      .withColumn("zc", greatest(least(expr("dot div 1000000"),
        lit(20L * probeScale)), lit(-20L * probeScale)))
      .withColumn("s", lit(500000L) +
        expr("(zc * 1000000) div (2 * (1000000 + abs(zc)))"))

  /** Train the probe and return the FROZEN model artifacts: the four
    * weights, the score total, and the row count (the latter two define
    * the above-mean decision boundary). This is the offline half the
    * streaming scorer replays verbatim.
    */
  private[graft] def probeModel(docs: DataFrame, iterations: Int)
      : (Array[BigInt], BigInt, Long) = {
    val dec = DecimalType(38, 0)
    val f = probeFeatures(docs).persist()
    val n = f.count()
    var w = Array.fill(4)(BigInt(0))
    val den = BigInt(4L) * BigInt(n) * BigInt(probeScale) // lr = 1/4
    val lim = BigInt(20L * probeScale)
    for (_ <- 1 to iterations) {
      val g = probeScore(f, w)
        .withColumn("err", col("s") - col("y"))
        .agg(
          sum((col("err") * col("x0")).cast(dec)).as("g0"),
          sum((col("err") * col("x1")).cast(dec)).as("g1"),
          sum((col("err") * col("x2")).cast(dec)).as("g2"),
          sum((col("err") * col("x3")).cast(dec)).as("g3"))
        .collect()(0) // 4 numbers: the model, not data rows
      w = w.indices.map { j =>
        val gj = BigInt(g.getDecimal(j).toBigInteger)
        (w(j) - gj / den).max(-lim).min(lim)
      }.toArray
    }
    val tot = probeScore(f, w).agg(sum(col("s").cast(dec)).as("t"))
      .collect()(0).getDecimal(0)
    f.unpersist()
    (w, BigInt(tot.toBigInteger), n)
  }

  def qualityProbe(docs: DataFrame, iterations: Int = 6): DataFrame = {
    val dec = DecimalType(38, 0)
    val (w, tot, n) = probeModel(docs, iterations)
    // decision column: ABOVE-MEAN, not a fixed 0.5 cut — a 6-step probe's
    // scores hover near 0.5 and a fixed cut degenerates to all-true/all-
    // false (the constant-flag class DegeneracySpec forbids); the
    // production cut is relative anyway (CCNet keeps quantile slices).
    // Exact rational compare score·n > Σscores: integer arithmetic, and
    // structurally two-valued whenever any two scores differ.
    probeScore(probeFeatures(docs), w)
      .select(col("doc_id"), expr("y div 1000000").as("label"),
        col("s").as("score_q"),
        (col("s").cast(dec) * lit(n).cast(dec) >
          lit(tot.toString).cast(dec)).as("above_mean"))
      .localCheckpoint() // the trained scoring, lineage-free
  }

  /** DuckDB oracle for [[qualityProbe]]: the identical training loop
    * unrolled and MATERIALIZED per step (the pcaPower precedent), with
    * `//` everywhere Spark uses `div` — both truncate toward zero.
    * Generated beside the operator so both sides share one definition
    * of the arithmetic, clamps included.
    */
  def qualityProbeOracleSql(iterations: Int = 6): String = {
    def scoreFrom(wRel: String) =
      s"""SELECT doc_id, y, x0, x1, x2, x3,
         |  500000 + (zc * 1000000) // (2 * (1000000 + abs(zc))) AS s
         |FROM (SELECT f.doc_id, f.y, f.x0, f.x1, f.x2, f.x3,
         |        greatest(least((w0*x0 + w1*x1 + w2*x2 + w3*x3) // 1000000,
         |          20000000), -20000000) AS zc
         |      FROM f, $wRel) t""".stripMargin
    val steps = (1 to iterations).map { i =>
      s"""p$i AS MATERIALIZED (${scoreFrom(s"w${i - 1}")}),
         | g$i AS (SELECT CAST(sum((s - y) * x0) AS HUGEINT) AS g0,
         |   CAST(sum((s - y) * x1) AS HUGEINT) AS g1,
         |   CAST(sum((s - y) * x2) AS HUGEINT) AS g2,
         |   CAST(sum((s - y) * x3) AS HUGEINT) AS g3,
         |   count(*) AS n FROM p$i),
         | w$i AS (SELECT
         |   greatest(least(w0 - g0 // (4 * n * 1000000), 20000000), -20000000) AS w0,
         |   greatest(least(w1 - g1 // (4 * n * 1000000), 20000000), -20000000) AS w1,
         |   greatest(least(w2 - g2 // (4 * n * 1000000), 20000000), -20000000) AS w2,
         |   greatest(least(w3 - g3 // (4 * n * 1000000), 20000000), -20000000) AS w3
         | FROM w${i - 1}, g$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS MATERIALIZED (SELECT doc_id,
       |   CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y,
       |   CAST(1000000 AS BIGINT) AS x0,
       |   least(len(string_split(text, ' ')), 100000) * 10000 AS x1,
       |   (len(list_distinct(string_split(text, ' '))) * 1000000)
       |     // len(string_split(text, ' ')) AS x2,
       |   least((length(text) - len(string_split(text, ' ')) + 1) * 1000000
       |     // len(string_split(text, ' ')), 100000000) AS x3
       | FROM documents),
       | w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |        CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
       |$steps,
       | fin AS MATERIALIZED (${scoreFrom(s"w$iterations")}),
       | tot AS (SELECT CAST(sum(s) AS HUGEINT) AS tot, count(*) AS nn
       |         FROM fin)
       |SELECT doc_id, CAST(y // 1000000 AS BIGINT) AS label,
       |  -- BIGINT cast: s rides HUGEINT weights and pandas renders
       |  -- HUGEINT as float (the known sum() gotcha)
       |  CAST(s AS BIGINT) AS score_q,
       |  s * nn > tot AS above_mean
       |FROM fin, tot""".stripMargin
  }

  /** C4's line keep rule — ONE definition shared by the report
    * ([[c4LineFilter]]) and apply ([[c4Apply]]) halves so they cannot
    * drift: a line survives iff it ends in the terminal mark and has
    * >= 3 words.
    */
  private def c4Kept: Column =
    filter(split(col("text"), "\n"), l =>
      l.endsWith(".") && size(split(l, " ")) >= 3)

  /** C4-style heuristic page cleaning (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2 — the public recipe behind the C4 corpus;
    * the most-cited curation filter not already in the catalog:
    * [[gopherLineDup]] is Gopher's duplicate-LINE metric, this is C4's
    * keep-rules). LINE rules: retain a line only if it ends in a
    * terminal punctuation mark AND contains >= 3 words. PAGE rules:
    * drop pages containing "{" (the paper's code-markup rule) or the
    * phrase "lorem ipsum" (placeholder text; matched on the lower-cased
    * page, as the paper lower-cases before matching), and pages with fewer than
    * `minKeptLines` surviving lines — the paper's 5-sentence floor,
    * scaled to the registered query's 4-line render (documented
    * variant; likewise the punctuation set here is the injected '.'
    * only, and the paper's bad-words page rule is [[wordlistFilter]]'s
    * job, not repeated here).
    *
    * Emits per-page accounting rather than the cleaned text so both
    * rule levels stay auditable: line counts before/after, surviving
    * characters, each page-rule flag, and the composite `c4_pass`.
    *
    * Scale: pure per-row higher-order functions over the line split
    * (`filter`/`aggregate`) — zero shuffle, one scan, whole-stage
    * codegen; the same class as [[gopherLineDup]].
    */
  def c4LineFilter(docs: DataFrame, minKeptLines: Int = 2): DataFrame = {
    val ls = split(col("text"), "\n")
    val kept = c4Kept
    val hasBrace = col("text").contains("{")
    val hasLorem = lower(col("text")).contains("lorem ipsum")
    Par.widen(docs).select(
      col("doc_id"),
      size(ls).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      aggregate(kept, lit(0L), (acc, x) => acc + length(x).cast("long"))
        .as("kept_chars"),
      hasBrace.as("has_brace"),
      hasLorem.as("has_lorem"),
      (size(kept) >= minKeptLines && !hasBrace && !hasLorem).as("c4_pass"))
  }

  /** The APPLY half of [[c4LineFilter]] (the `exactsubstr_report` /
    * `exactsubstr_dedup` pairing convention): emit the CLEANED corpus a
    * training pipeline actually consumes — surviving lines rejoined,
    * pages failing the page rules (or the `minKeptLines` floor) dropped
    * entirely. Same rule definitions as the report op, by construction:
    * both build on the same kept-lines expression.
    *
    * Scale: the same zero-shuffle single-scan projection as the report
    * half, plus the page filter — output strictly ⊆ input rows.
    */
  def c4Apply(docs: DataFrame, minKeptLines: Int = 2): DataFrame = {
    val kept = c4Kept
    val pass = size(kept) >= minKeptLines &&
      !col("text").contains("{") &&
      !lower(col("text")).contains("lorem ipsum")
    Par.widen(docs)
      .filter(pass)
      .select(col("doc_id"), array_join(kept, "\n").as("text_clean"))
  }

  /** The complete published Gopher document filter (Rae et al. 2021
    * table A1): a document survives iff it passes the REPETITION half
    * ([[gopherRepetition]]'s nine n-gram thresholds), the LINE-DUP half
    * ([[gopherLineDup]]'s 0.30/0.20), and the QUALITY half
    * ([[gopherQuality]]'s seven signals). This op composes the three
    * registered verdicts per doc — the production shape: per-filter
    * verdict tables joined into one keep list — and adds
    * `reject_reason`, the FIRST failing half in the paper's table
    * order (repetition, line_dup, quality; 'keep' when none fails).
    *
    * Each half sees the same text form its registered query sees (the
    * line/quality halves' deterministic injections are test scaffolding
    * for the synthetic single-line corpus — on a real corpus all three
    * read the raw text; the injections live in the REGISTRATION, not
    * here, so this op receives pre-shaped frames).
    *
    * Scale: three zero-shuffle per-row projections + two doc_id
    * equi-joins — doc-count-sized rows (id + bits), never text, cross
    * the wire; the joins hash-partition on the same key so AQE can
    * coalesce, and nothing is corpus² anywhere.
    *
    * Precondition: the three verdict frames must be TOTAL over the same
    * doc_id set — the joins are inner, so a doc missing from any frame
    * silently vanishes from the output rather than erroring. The
    * registered composition satisfies this by construction (each half
    * is a per-row projection of the same documents table); direct
    * callers stitching verdicts from different corpus snapshots must
    * align them first (advice round 12).
    */
  def gopherFilter(repetition: DataFrame, lineDup: DataFrame,
                   quality: DataFrame): DataFrame = {
    val rep = repetition.select(col("doc_id"), col("gopher_pass"))
    val line = lineDup.select(col("doc_id"), col("line_pass"))
    val qual = quality.select(col("doc_id"), col("quality_pass"))
    rep.join(line, "doc_id").join(qual, "doc_id")
      .select(col("doc_id"), col("gopher_pass"), col("line_pass"),
        col("quality_pass"),
        (col("gopher_pass") && col("line_pass") && col("quality_pass"))
          .as("keep"),
        when(!col("gopher_pass"), "repetition")
          .when(!col("line_pass"), "line_dup")
          .when(!col("quality_pass"), "quality")
          .otherwise("keep").as("reject_reason"))
  }

  /** The classic UTF-8-bytes-decoded-as-Windows-1252 artifacts and
    * their repairs (the high-frequency subset of ftfy's table — Speer
    * 2019, "ftfy: fixes text for you", zenodo 2591652): "Ã©" is é's
    * UTF-8 byte pair (C3 A9) mis-decoded, "â€™" is ’'s byte triple
    * (E2 80 99), etc. The patterns are mutually prefix-free (the â€
    * family differs in the third char; the Ã family is disjoint), so no
    * artifact can hide another in the input. A repair can still
    * SYNTHESIZE a later pattern on adversarial fragments (a dangling
    * "â€" ahead of a repaired quote), so the chain ORDER is part of
    * the operator definition — which is safe here because the oracle
    * is generated from this same table in this same order
    * ([[fixEncodingOracleSql]]), so both engines walk the identical
    * chain. Unicode escapes, not glyphs, so the table is
    * source-encoding-proof.
    */
  private[graft] val mojibakeTable: Seq[(String, String)] = Seq(
    "\u00E2\u20AC\u2122" -> "\u2019", // â€™ -> ’ (RIGHT SINGLE QUOTE)
    "\u00E2\u20AC\u0153" -> "\u201C", // â€œ -> “ (LEFT DOUBLE QUOTE)
    "\u00E2\u20AC\u201C" -> "\u2013", // â€“ -> – (EN DASH)
    "\u00C3\u00A9" -> "\u00E9", // Ã© -> é (e-acute)
    "\u00C3\u00A8" -> "\u00E8", // Ã¨ -> è (e-grave)
    "\u00C3\u00BC" -> "\u00FC", // Ã¼ -> ü (u-umlaut)
    "\u00C3\u00B6" -> "\u00F6", // Ã¶ -> ö (o-umlaut)
    "\u00C3\u00B1" -> "\u00F1") // Ã± -> ñ (n-tilde)

  /** Mojibake repair — the standard first step of a web-corpus ingest
    * (ftfy-style; see [[mojibakeTable]]): repair double-encoded UTF-8
    * artifacts with a fixed literal-replace chain and report per-doc
    * accounting (`chars_saved` — every repair strikes net characters,
    * so the delta is an exact activity metric; `changed` — whether the
    * doc was touched at all).
    *
    * Scale: a chain of literal `replace` projections — single scan,
    * zero shuffle, whole-stage codegen; the repair table is a compile-
    * time constant, never a join.
    */
  def fixEncoding(docs: DataFrame): DataFrame = {
    val fixed = mojibakeRepair(col("text"))
    Par.widen(docs).select(
      col("doc_id"),
      fixed.as("text_fixed"),
      (length(col("text")) - length(fixed)).cast("long").as("chars_saved"),
      (fixed =!= col("text")).as("changed"))
  }

  /** The [[mojibakeTable]] repair chain over an arbitrary text column —
    * shared by [[fixEncoding]] and the fused web front door.
    */
  private[graft] def mojibakeRepair(c: Column): Column =
    mojibakeTable.foldLeft(c) {
      case (cc, (bad, good)) => replace(cc, lit(bad), lit(good))
    }

  /** Gopher QUALITY rules (Rae et al. 2021, arXiv:2112.11446 table A1's
    * quality-filter half — completing the Gopher trilogy:
    * [[gopherRepetition]] is the n-gram half, [[gopherLineDup]] the
    * duplicate-line half). Per document, the paper's seven signals and
    * their published thresholds:
    *
    *  - word count in [50, 100_000]  (`words_pass` — live UNINJECTED on
    *    this corpus: word counts span 10–99, so the 50 floor splits it)
    *  - mean word length in [3, 10]  (`wordlen_pass`)
    *  - symbol-to-word ratio ≤ 0.1 for '#' and ellipsis  (`symbol_pass`)
    *  - ≤ 90% of lines starting with a bullet  (`bullet_pass`)
    *  - ≤ 30% of lines ending with an ellipsis  (`ellipsis_pass`)
    *  - ≥ 80% of words containing ≥ 1 alphabetic char  (`alpha_pass`)
    *  - stop-word hits ≥ `minStopWords` among the paper's eight
    *    {the, be, to, of, and, that, have, with}  (`stop_pass`;
    *    DISTINCT words, so a hundred "the"s count once). Default
    *    scaled 2 → 1: the synthetic vocabulary contains exactly ONE of
    *    the paper's stop words ("the", in ~78% of docs), so the
    *    paper's 2 would be structurally false — the documented-variant
    *    convention of [[c4LineFilter]]'s minKeptLines
    *
    * plus the composite `quality_pass` (AND of all seven). Words are
    * split on space OR newline so the multi-line renders the
    * registered query injects don't glue words across line breaks;
    * fractions are ROUND(6) single IEEE divisions of exact longs
    * ([[gopherLineDup]]'s parity rule).
    *
    * Scale: pure per-row splits/filters/folds — zero shuffle, one
    * scan, whole-stage codegen; the same class as the other two
    * Gopher halves.
    */
  def gopherQuality(docs: DataFrame, minStopWords: Int = 1): DataFrame = {
    val (stats, flags) = qualityCols(col("text"), minStopWords)
    Par.widen(docs).select(
      col("doc_id") +: (stats ++ flags.map { case (n, c) => c.as(n) }
        :+ flags.map(_._2).reduce(_ && _).as("quality_pass")): _*)
  }

  /** [[gopherQuality]]'s signal and flag columns over an arbitrary text
    * column — (stats, flags), single-sourced for the standalone op and
    * the fused web front door.
    */
  private[graft] def qualityCols(text: Column, minStopWords: Int)
      : (Seq[Column], Seq[(String, Column)]) = {
    val ws = split(text, "[ \n]")
    val ls = split(text, "\n")
    val nWords = size(ws).cast("long")
    val wordChars = aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))
    val meanLen = round(wordChars.cast("double") / nWords, 6)
    // literal replace, not regexp_replace: '#' and the ellipsis are
    // regex-safe today, but the oracle counts literally, so a future
    // symbol containing a metacharacter would silently mis-count on
    // this side only (advice round 12)
    def occurrences(ch: String): Column =
      (length(text) -
        length(replace(text, lit(ch), lit("")))).cast("long")
    val nSymbols = occurrences("#") + occurrences(Ellipsis)
    val symbolRatio = round(nSymbols.cast("double") / nWords, 6)
    val bulletFrac = round(
      size(filter(ls, l => l.startsWith(BulletPrefix))).cast("double") /
        size(ls), 6)
    val ellipsisFrac = round(
      size(filter(ls, l => l.endsWith(Ellipsis))).cast("double") /
        size(ls), 6)
    val alphaFrac = round(
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / nWords, 6)
    // array_intersect already returns distinct elements (as does the
    // oracle's list_intersect), so no explicit distinct pass is needed
    val nStop = size(array_intersect(ws,
      array(GopherStopWords.map(lit): _*))).cast("long")
    val flags: Seq[(String, Column)] = Seq(
      "words_pass" -> (nWords >= 50 && nWords <= 100000L),
      "wordlen_pass" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_pass" -> (symbolRatio <= 0.1),
      "bullet_pass" -> (bulletFrac <= 0.9),
      "ellipsis_pass" -> (ellipsisFrac <= 0.3),
      "alpha_pass" -> (alphaFrac >= 0.8),
      "stop_pass" -> (nStop >= minStopWords))
    val stats = Seq(nWords.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      nStop.as("n_stop_words"))
    (stats, flags)
  }

  /** Composite quality verdict over an arbitrary text column. */
  private[graft] def qualityPassCol(text: Column,
                                    minStopWords: Int = 1): Column =
    qualityCols(text, minStopWords)._2.map(_._2).reduce(_ && _)

  /** Shared glyph constants for [[gopherQuality]]'s rules and the
    * registered query's injection — single-sourced so the Spark side
    * and the generated oracle cannot drift (unicode escapes:
    * encoding-proof source).
    */
  private[graft] val BulletPrefix: String = "\u2022 " // bullet + space
  private[graft] val Ellipsis: String = "\u2026"      // horizontal ellipsis
  private[graft] val LongWord: String = "longplaceholder" // 15 chars
  private[graft] val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** DuckDB oracle for the registered `gopher_quality` query, generated
    * beside the operator ([[fixEncodingOracleSql]]'s pattern) so the
    * injection CASE chain, the glyphs, and every threshold are defined
    * once. Mirrors the registration exactly: %17 long-word rewrite,
    * %13 bullet render (m ≥ 8), %9 '#'-run append, %6 ellipsis render
    * (m ≥ 8), first match wins.
    */
  def gopherQualityOracleSql(minStopWords: Int = 1): String = {
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
       |     FROM documents),
       | p AS (SELECT doc_id, text, ws, len(ws) AS m, len(ws) // 4 AS q
       |     FROM w),
       | r AS (SELECT doc_id, text, ws, m, q,
       |         array_to_string(ws[1:q], ' ') AS l1,
       |         array_to_string(ws[q+1:2*q], ' ') AS l2,
       |         array_to_string(ws[2*q+1:3*q], ' ') AS l3,
       |         array_to_string(ws[3*q+1:m], ' ') AS l4
       |       FROM p),
       | t AS (SELECT doc_id,
       |         CASE
       |           WHEN doc_id % 17 = 0
       |             THEN array_to_string(
       |                    list_transform(ws, x -> '$LongWord'), ' ')
       |           WHEN doc_id % 13 = 0 AND m >= 8
       |             THEN '$BulletPrefix' || l1 || chr(10)
       |               || '$BulletPrefix' || l2 || chr(10)
       |               || '$BulletPrefix' || l3 || chr(10)
       |               || '$BulletPrefix' || l4
       |           WHEN doc_id % 9 = 0
       |             THEN text || repeat(' #', CAST(ceil(m / 4.0) AS INT))
       |           WHEN doc_id % 6 = 0 AND m >= 8
       |             THEN l1 || '$Ellipsis' || chr(10)
       |               || l2 || '$Ellipsis' || chr(10)
       |               || l3 || chr(10) || l4
       |           ELSE text END AS t2
       |       FROM r),
       | gd AS (SELECT doc_id, t2 AS text FROM t)
       |SELECT * FROM (
       |""".stripMargin +
      gopherQualityRulesSql("gd", minStopWords) + "\n) q"
  }

  /** [[gopherQuality]]'s rule chain in DuckDB over a relation providing
    * (doc_id, text) — the shared rules half of [[gopherQualityOracleSql]]
    * and the composed `web_pipeline` oracle, so the thresholds, glyphs
    * and stop list exist once on the SQL side too. Emits the op's full
    * column set; callers project what they need.
    */
  private[graft] def gopherQualityRulesSql(rel: String,
                                           minStopWords: Int = 1): String = {
    val stopList = GopherStopWords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH x AS (SELECT doc_id, text AS t2,
       |         string_split_regex(text, '[ \\n]') AS wsf,
       |         string_split(text, chr(10)) AS lsf
       |       FROM $rel),
       | c AS (SELECT doc_id,
       |         CAST(len(wsf) AS BIGINT) AS n_words,
       |         CAST(list_sum(list_transform(wsf, x -> len(x)))
       |              AS BIGINT) AS wchars,
       |         CAST(length(t2) - length(replace(t2, '#', ''))
       |            + length(t2) - length(replace(t2, '$Ellipsis', ''))
       |              AS BIGINT) AS n_sym,
       |         CAST(len(lsf) AS BIGINT) AS n_lines,
       |         CAST(len(list_filter(lsf,
       |              l -> starts_with(l, '$BulletPrefix')))
       |              AS BIGINT) AS n_bul,
       |         CAST(len(list_filter(lsf, l -> ends_with(l, '$Ellipsis')))
       |              AS BIGINT) AS n_ell,
       |         CAST(len(list_filter(wsf,
       |              x -> regexp_matches(x, '[A-Za-z]')))
       |              AS BIGINT) AS n_alpha,
       |         CAST(len(list_intersect(wsf, $stopList))
       |              AS BIGINT) AS n_stop
       |       FROM x),
       | f AS (SELECT doc_id, n_words,
       |         round(CAST(wchars AS DOUBLE) / n_words, 6) AS mean_word_len,
       |         round(CAST(n_sym AS DOUBLE) / n_words, 6) AS symbol_ratio,
       |         round(CAST(n_bul AS DOUBLE) / n_lines, 6)
       |           AS bullet_line_frac,
       |         round(CAST(n_ell AS DOUBLE) / n_lines, 6)
       |           AS ellipsis_line_frac,
       |         round(CAST(n_alpha AS DOUBLE) / n_words, 6)
       |           AS alpha_word_frac,
       |         n_stop AS n_stop_words
       |       FROM c)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
       |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       |  n_stop_words,
       |  (n_words >= 50 AND n_words <= 100000) AS words_pass,
       |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS wordlen_pass,
       |  (symbol_ratio <= 0.1) AS symbol_pass,
       |  (bullet_line_frac <= 0.9) AS bullet_pass,
       |  (ellipsis_line_frac <= 0.3) AS ellipsis_pass,
       |  (alpha_word_frac >= 0.8) AS alpha_pass,
       |  (n_stop_words >= $minStopWords) AS stop_pass,
       |  (n_words >= 50 AND n_words <= 100000
       |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
       |    AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
       |    AND n_stop_words >= $minStopWords) AS quality_pass
       |FROM f""".stripMargin
  }

  /** High-frequency single-char homoglyphs and their ASCII skeletons —
    * the Cyrillic/Greek lookalike subset of Unicode UTS #39's public
    * confusables data (the spoof-detection standard): each maps ONE
    * confusable code point to the Latin letter it renders like. 1:1
    * replacements, so occurrence counts are exact length deltas per
    * char. Unicode escapes: source-encoding-proof.
    */
  private[graft] val confusableTable: Seq[(String, String)] = Seq(
    "\u0430" -> "a", // CYRILLIC SMALL A
    "\u0435" -> "e", // CYRILLIC SMALL IE
    "\u043E" -> "o", // CYRILLIC SMALL O
    "\u0440" -> "p", // CYRILLIC SMALL ER
    "\u0441" -> "c", // CYRILLIC SMALL ES
    "\u0445" -> "x", // CYRILLIC SMALL HA
    "\u0443" -> "y", // CYRILLIC SMALL U
    "\u0456" -> "i", // CYRILLIC SMALL BYELORUSSIAN-UKRAINIAN I
    "\u03BF" -> "o", // GREEK SMALL OMICRON
    "\u03BD" -> "v") // GREEK SMALL NU

  /** Confusable-skeleton normalization (UTS #39 "Unicode Security
    * Mechanisms", the confusables.txt recipe — the homoglyph half of
    * the ingest-hygiene family beside [[fixEncoding]]'s mojibake half):
    * fold the [[confusableTable]] lookalikes to their ASCII skeletons
    * and report per-doc spoof accounting —
    *
    *  - `n_confusables`: exact count of confusable chars (1:1 table ⇒
    *    the per-char length delta IS the occurrence count),
    *  - `mixed_script`: whether any WORD mixes a confusable with ASCII
    *    letters — the actual spoof signal (an all-Cyrillic word is just
    *    Russian; "p\u0430ypal" is an attack),
    *  - `changed`: whether normalization touched the doc.
    *
    * Scale: a literal replace chain + per-char counts + one word-level
    * HOF — single scan, zero shuffle, whole-stage codegen (the
    * [[fixEncoding]] class).
    */
  def confusableNormalize(docs: DataFrame): DataFrame = {
    val skeleton = confusableTable.foldLeft(col("text")) {
      case (c, (bad, good)) => replace(c, lit(bad), lit(good))
    }
    val nConf = confusableTable.map { case (bad, _) =>
      (length(col("text")) -
        length(replace(col("text"), lit(bad), lit("")))).cast("long")
    }.reduce(_ + _)
    val cls = "[" + confusableTable.map(_._1).mkString + "]"
    val ws = split(col("text"), " ")
    val mixed = exists(ws, w => w.rlike(cls) && w.rlike("[A-Za-z]"))
    Par.widen(docs).select(
      col("doc_id"),
      skeleton.as("text_norm"),
      nConf.as("n_confusables"),
      mixed.as("mixed_script"),
      (skeleton =!= col("text")).as("changed"))
  }

  /** The homoglyph pairs the registered query's injection uses —
    * the INVERSE of three [[confusableTable]] entries (derived, so the
    * injection can never drift from what the repair undoes).
    */
  private[graft] val confusableInjectPairs: Seq[(String, String)] =
    confusableTable.collect {
      case (bad, good) if Seq("a", "e", "o").contains(good) => (good, bad)
    }.take(3) // table order: the three CYRILLIC vowels a/e/o

  /** The pure-confusable word the %9 injection appends (all table
    * chars, NO ASCII — must count as confusable but NOT as mixed
    * script). Derived from the table.
    */
  private[graft] val confusablePureWord: String =
    "\u0441\u043E\u0441\u043E" // "coco" in Cyrillic lookalikes

  /** DuckDB oracle for the registered `confusable_normalize` query,
    * generated from the ONE table + injection pairs (the
    * [[fixEncodingOracleSql]] pattern): every 6th doc with ≥3 words gets
    * word 2 homoglyph-swapped (a MIXED-script word), every 9th (not
    * 6th) appends a pure-confusable word (confusables without mixing).
    */
  def confusableNormalizeOracleSql(): String = {
    def chain(expr: String, pairs: Seq[(String, String)]): String =
      pairs.foldLeft(expr) { case (acc, (b, g)) =>
        s"replace($acc, '${sqlQ(b)}', '${sqlQ(g)}')"
      }
    val inject2 = chain("ws[2]", confusableInjectPairs)
    val cls = "[" + confusableTable.map(_._1).mkString + "]"
    val counts = confusableTable.map { case (bad, _) =>
      s"(length(t2) - length(replace(t2, '${sqlQ(bad)}', '')))"
    }.mkString(" + ")
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
       |       len(string_split(text, ' ')) AS m FROM documents),
       | t AS (SELECT doc_id,
       |       CASE WHEN doc_id % 6 = 0 AND m >= 3
       |              THEN ws[1] || ' ' || $inject2 || ' '
       |                || array_to_string(ws[3:m], ' ')
       |            WHEN doc_id % 9 = 0 AND doc_id % 6 <> 0
       |              THEN text || ' ${sqlQ(confusablePureWord)}'
       |            ELSE text END AS t2
       |     FROM w),
       | f AS (SELECT doc_id, t2,
       |       ${chain("t2", confusableTable)} AS skel,
       |       CAST($counts AS BIGINT) AS n_conf,
       |       len(list_filter(string_split(t2, ' '),
       |         x -> regexp_matches(x, '$cls')
       |           AND regexp_matches(x, '[A-Za-z]'))) > 0 AS mixed
       |     FROM t)
       |SELECT doc_id, skel AS text_norm, n_conf AS n_confusables,
       |  mixed AS mixed_script, skel <> t2 AS changed
       |FROM f""".stripMargin
  }

  /** The artifact prefix the registered `fix_encoding` query injects
    * into every 5th doc — one exemplar from each [[mojibakeTable]]
    * family (2-byte C3-xx, 3-byte E2-80-xx), shared by the Spark
    * registration and the generated oracle so the injection cannot
    * drift between engines. Repairs to "café don’t über ".
    */
  val mojibakePrefix: String =
    "caf\u00C3\u00A9 don\u00E2\u20AC\u2122t \u00C3\u00BCber " // cafÃ© donâ€™t Ã¼ber

  /** [[mojibakePrefix]] after the repair chain — DERIVED from the one
    * table, so the clean-mirror literal the web front door plants can
    * never drift from what [[fixEncoding]] actually produces.
    */
  private[graft] val mojibakePrefixRepaired: String =
    mojibakeTable.foldLeft(mojibakePrefix) {
      case (s, (bad, good)) => s.replace(bad, good)
    }

  /** SQL single-quote escape for generated oracles. */
  private[graft] def sqlQ(s: String): String = s.replace("'", "''")

  /** SQL-side repair chain over an expression — the DuckDB mirror of
    * [[mojibakeRepair]], generated from the same table (shared by the
    * `fix_encoding` oracle and the composed `web_pipeline` oracle).
    */
  private[graft] def mojibakeChainSql(expr: String): String =
    mojibakeTable.foldLeft(expr) {
      case (acc, (bad, good)) =>
        s"replace($acc, '${sqlQ(bad)}', '${sqlQ(good)}')"
    }

  /** DuckDB oracle for the registered `fix_encoding` query, generated
    * from [[mojibakeTable]] and [[mojibakePrefix]] — ONE definition of
    * the repair chain and the injection on both sides (the
    * qualityProbeOracleSql precedent). SQL single quotes are the only
    * escape concern; none of the table's glyphs is a quote in the
    * artifact direction, but escape defensively anyway.
    */
  def fixEncodingOracleSql(): String = {
    def q(s: String): String = sqlQ(s)
    val chain = mojibakeChainSql("t2")
    s"""WITH t AS (SELECT doc_id,
       |       CASE WHEN doc_id % 5 = 0 THEN '${q(mojibakePrefix)}' || text
       |            ELSE text END AS t2
       |     FROM documents),
       | f AS (SELECT doc_id, t2, $chain AS fx FROM t)
       |SELECT doc_id, fx AS text_fixed,
       |  CAST(length(t2) - length(fx) AS BIGINT) AS chars_saved,
       |  fx <> t2 AS changed
       |FROM f""".stripMargin
  }

  // ---- web-corpus front door (round 13) --------------------------------

  /** The navigation-chrome line the registered `web_pipeline` staged
    * corpus interleaves into every 13th page (three copies) so the
    * Gopher duplicate-LINE rule provably fires inside the composed
    * pipeline: 3 words + terminal '.', so C4's line rule KEEPS it, and
    * its repeats push dup_line_frac past the paper's 0.30 while staying
    * invisible to the repetition half (word tokens glue across the
    * newline joins, so no word n-gram ever repeats from it).
    */
  private[graft] val WebNavLine: String = "read more here."

  /** The web-corpus front door as ONE fused plan — the composed form a
    * RefinedWeb/C4-style ingest actually runs (the parts shipped in
    * round 12 as `fix_encoding`, `c4_apply`, `gopher_filter`,
    * `dedup_content_hash`; reference analog: the curation chain around
    * `data_pipeline.py:84-85`, re-expressed over the public recipes of
    * Raffel et al. 2020 §2.2, Rae et al. 2021 table A1 and Speer's
    * ftfy):
    *
    *  1. mojibake repair ([[mojibakeRepair]] — the [[fixEncoding]]
    *     chain),
    *  2. C4 page cleaning applied ([[c4Kept]] line rule + the brace /
    *     lorem-ipsum / min-2-kept-lines page rules — [[c4Apply]]'s
    *     semantics),
    *  3. the complete Gopher A1 document filter on the CLEANED text
    *     (repetition ∧ line-dup ∧ quality via the shared
    *     [[gopherPassCol]] / [[lineDupCols]] / [[qualityPassCol]]
    *     builders — [[gopherFilter]]'s semantics without its verdict-
    *     frame joins, since all three halves read the same column),
    *  4. exact content-hash dedup over the full survivors, keep min
    *     doc_id ([[graft.ops.TextDedup.contentHashDedup]]'s semantics
    *     as one window).
    *
    * Output: one LEDGER row per staged doc — (doc_id, changed, status,
    * canonical_id, text_clean) with status ∈ c4_page |
    * gopher_repetition | gopher_line_dup | gopher_quality (first
    * failing stage, the paper-order precedence of [[gopherFilter]]) |
    * exact_dup | kept; canonical_id is the surviving copy for
    * kept/exact_dup rows and NULL for dropped pages; text_clean is the
    * cleaned text for rows that survived all filters (the corpus
    * projection filters to status = 'kept').
    *
    * Stage coupling is planted the [[graft.ops.TextDedup
    * .curationPipeline]] way: the registered staged corpus contains
    * each page TWICE — once with the repaired prefix, once through a
    * mojibake mirror ([[mojibakePrefix]]) — and the copies hash-merge
    * at stage 4 IFF stage 1 actually repaired them, so a dropped or
    * reordered repair stage zeroes the exact_dup class and the oracle
    * catches it.
    *
    * Scale: stages 1–3 are ONE zero-shuffle codegen projection chain
    * over the scan (the gopher flags are guarded by c4_pass, so failed
    * pages skip the n-gram folds); stage 4 is a single window exchange
    * whose key is the 64-hex content hash for keepers and a per-doc
    * solo key for everything else — dup groups are re-ingest-copy-
    * sized, solos are singletons, so no partition outgrows its page
    * and cleaned text crosses the wire exactly once (the
    * [[graft.ops.TextDedup.paragraphDedup]] budget).
    */
  def webPipeline(staged: DataFrame): DataFrame =
    webVerdictTail(webStage12(Par.widen(staged)))

  /** The STATELESS first half of [[webPipeline]] — mojibake repair +
    * C4 page cleaning as one pure projection over (doc_id, text),
    * emitting (doc_id, changed, c4_pass, text=cleaned). Split out so
    * the STREAMING front door can run the identical stage per
    * micro-batch into a staging sink (no Par.widen here — a streaming
    * DataFrame cannot be repartition-probed; the batch composer widens
    * before calling).
    */
  private[graft] def webStage12(staged: DataFrame): DataFrame = {
    val repaired = mojibakeRepair(col("text"))
    val s1 = staged.select(col("doc_id"),
      repaired.as("text"),
      (repaired =!= col("text")).as("changed"))
    val kept = c4Kept
    val c4pass = size(kept) >= 2 && !col("text").contains("{") &&
      !lower(col("text")).contains("lorem ipsum")
    s1.select(col("doc_id"), col("changed"),
      c4pass.as("c4_pass"),
      array_join(kept, "\n").as("text"))
  }

  /** The verdict tail of [[webPipeline]] — Gopher A1 flags on the
    * cleaned text + the dedup window + status assembly, over a frame
    * carrying (doc_id, changed, c4_pass, text). Split out so the
    * streaming front door's closed-feed readout runs the IDENTICAL
    * batch arithmetic over its staged corpus — one code chain, so
    * batch and streaming cannot drift ([[graft.ops.TextDedup
    * .curationVerdicts]]' precedent).
    */
  private[graft] def webVerdictTail(staged2: DataFrame): DataFrame = {
    val s3 = staged2.select(col("doc_id"), col("changed"), col("c4_pass"),
      col("text"),
      when(col("c4_pass"), gopherPassCol(col("text")))
        .otherwise(lit(false)).as("gopher_pass"),
      when(col("c4_pass"), lineDupCols(col("text")).pass)
        .otherwise(lit(false)).as("line_pass"),
      when(col("c4_pass"), qualityPassCol(col("text")))
        .otherwise(lit(false)).as("quality_pass"))
    val keep = col("c4_pass") && col("gopher_pass") &&
      col("line_pass") && col("quality_pass")
    val pk = when(keep, sha2(col("text"), 256))
      .otherwise(concat(lit("solo:"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(pk)
    val canon = min(when(keep, col("doc_id"))).over(w)
    s3.select(col("doc_id"), col("changed"),
      when(!col("c4_pass"), "c4_page")
        .when(!col("gopher_pass"), "gopher_repetition")
        .when(!col("line_pass"), "gopher_line_dup")
        .when(!col("quality_pass"), "gopher_quality")
        .when(col("doc_id") =!= canon, "exact_dup")
        .otherwise("kept").as("status"),
      when(keep, canon).as("canonical_id"),
      when(keep, col("text")).as("text_clean"))
  }

  /** [[gopherRepetition]]'s rule chain in DuckDB over a relation
    * providing (doc_id, text) — shared by the standalone oracle and the
    * composed `web_pipeline` oracle.
    */
  private[graft] def gopherRepetitionRulesSql(rel: String): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
       |       CAST(len(text) AS BIGINT) AS tc FROM $rel),
       | g AS (SELECT doc_id, n, gram,
       |       CAST(count(*) AS BIGINT) AS c,
       |       CAST(len(gram) AS BIGINT) AS gl
       |     FROM (SELECT doc_id, n,
       |         unnest(list_transform(range(1, len(ws) - n + 2),
       |           i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
       |       FROM w, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
       |       WHERE len(ws) >= n)
       |     GROUP BY doc_id, n, gram),
       | s AS (SELECT doc_id, n,
       |       CAST(max(c * gl) AS BIGINT) AS topc,
       |       CAST(sum(CASE WHEN c >= 2 THEN c * gl ELSE 0 END)
       |         AS BIGINT) AS dupc
       |     FROM g GROUP BY 1, 2),
       | p AS (SELECT w.doc_id,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 2 THEN topc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS top2_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 3 THEN topc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS top3_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 4 THEN topc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS top4_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 5 THEN dupc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS dup5_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 6 THEN dupc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS dup6_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 7 THEN dupc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS dup7_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 8 THEN dupc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS dup8_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 9 THEN dupc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS dup9_frac,
       |       CASE WHEN w.tc > 0 THEN CAST(coalesce(max(CASE WHEN n = 10 THEN dupc END), 0)
       |         AS DOUBLE) / w.tc ELSE 0.0 END AS dup10_frac
       |     FROM w LEFT JOIN s ON w.doc_id = s.doc_id
       |     GROUP BY w.doc_id, w.tc)
       | SELECT *,
       |   (top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
       |    AND dup5_frac <= 0.15 AND dup6_frac <= 0.14
       |    AND dup7_frac <= 0.13 AND dup8_frac <= 0.12
       |    AND dup9_frac <= 0.11 AND dup10_frac <= 0.10) AS gopher_pass
       | FROM p""".stripMargin

  /** [[gopherLineDup]]'s rule chain in DuckDB over a relation providing
    * (doc_id, text) — shared by the standalone oracle and the composed
    * `web_pipeline` oracle.
    */
  private[graft] def gopherLineDupRulesSql(rel: String): String =
    s"""WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS ls
       |       FROM $rel),
       | s AS (SELECT doc_id, ls, list_distinct(ls) AS dls FROM l),
       | c AS (SELECT doc_id,
       |         CAST(len(ls) AS BIGINT) AS n_lines,
       |         CAST(len(ls) - len(dls) AS BIGINT) AS n_dup,
       |         CAST(list_sum(list_transform(ls, x -> len(x)))
       |              AS BIGINT) AS tot,
       |         CAST(list_sum(list_transform(dls, x -> len(x)))
       |              AS BIGINT) AS dtot
       |       FROM s),
       | f AS (SELECT doc_id, n_lines, n_dup,
       |         round(CAST(n_dup AS DOUBLE) / n_lines, 6) AS lf,
       |         CASE WHEN tot > 0
       |              THEN round(CAST(tot - dtot AS DOUBLE) / tot, 6)
       |              ELSE 0.0 END AS cf
       |       FROM c)
       | SELECT doc_id, n_lines, n_dup AS n_dup_lines,
       |   lf AS dup_line_frac, cf AS dup_char_frac,
       |   (lf <= 0.30 AND cf <= 0.20) AS line_pass
       | FROM f""".stripMargin

  /** The DuckDB mirror of [[webPipeline]] over a relation `rel`
    * providing the STAGED corpus (doc_id, text) — everything through
    * the canonical-assignment window, shared by the ledger and corpus
    * oracles. Composed by plain concatenation (never stripMargin over
    * embedded oracle SQL — the || concat-operator line trap).
    */
  private def webChainSql(rel: String): String = {
    val chain = mojibakeChainSql("text")
    // rel is concatenated OUTSIDE the stripMargin literal: an embedded
    // relation's ||-leading lines would lose a pipe to the margin strip
    // (the documented composed-SQL trap)
    val head =
      s"""WITH fx AS (SELECT doc_id, $chain AS t2,
         |         $chain <> text AS changed FROM """.stripMargin +
      rel +
      """),
         | ck AS (SELECT doc_id, changed, t2,
         |         list_filter(string_split(t2, chr(10)),
         |           x -> ends_with(x, '.')
         |             AND len(string_split(x, ' ')) >= 3) AS kept
         |       FROM fx),
         | cc AS (SELECT doc_id, changed,
         |         (len(kept) >= 2 AND NOT contains(t2, '{')
         |           AND NOT contains(lower(t2), 'lorem ipsum')) AS c4_pass,
         |         array_to_string(kept, chr(10)) AS text
         |       FROM ck),
         | cdocs AS (SELECT doc_id, text FROM cc)""".stripMargin
    val tail =
      """ v AS (SELECT cc.doc_id, cc.changed, cc.c4_pass, cc.text,
        |         grep.gopher_pass, gline.line_pass, gqual.quality_pass,
        |         (cc.c4_pass AND grep.gopher_pass AND gline.line_pass
        |           AND gqual.quality_pass) AS keep
        |       FROM cc JOIN grep USING (doc_id)
        |         JOIN gline USING (doc_id) JOIN gqual USING (doc_id)),
        | cn AS (SELECT *, min(CASE WHEN keep THEN doc_id END) OVER (
        |         PARTITION BY CASE WHEN keep THEN text
        |                          ELSE 'solo:' || doc_id END) AS canon
        |       FROM v)""".stripMargin
    val nl = "\n"
    head + "," + nl +
      " grep AS (SELECT doc_id, gopher_pass FROM (" + nl +
      gopherRepetitionRulesSql("cdocs") + nl + ") q1)," + nl +
      " gline AS (SELECT doc_id, line_pass FROM (" + nl +
      gopherLineDupRulesSql("cdocs") + nl + ") q2)," + nl +
      " gqual AS (SELECT doc_id, quality_pass FROM (" + nl +
      gopherQualityRulesSql("cdocs") + nl + ") q3)," + nl +
      tail
  }

  /** Ledger-half oracle for the registered `web_pipeline` query. */
  private[graft] def webLedgerSql(rel: String): String =
    webChainSql(rel) + "\n" +
      """SELECT doc_id, changed,
        |  CASE WHEN NOT c4_pass THEN 'c4_page'
        |       WHEN NOT gopher_pass THEN 'gopher_repetition'
        |       WHEN NOT line_pass THEN 'gopher_line_dup'
        |       WHEN NOT quality_pass THEN 'gopher_quality'
        |       WHEN doc_id <> canon THEN 'exact_dup'
        |       ELSE 'kept' END AS status,
        |  CASE WHEN keep THEN canon END AS canonical_id
        |FROM cn""".stripMargin

  /** Corpus-half oracle for the registered `web_pipeline_corpus`
    * query — the deduped cleaned corpus itself.
    */
  private[graft] def webCorpusSql(rel: String): String =
    webChainSql(rel) + "\n" +
      "SELECT doc_id, text FROM cn WHERE keep AND doc_id = canon"

  // ---- near-dedup stage on the web front door (round 14) --------------

  /** The paraphrase line the registered `web_pipeline_near` staged
    * corpus appends to every 17th page's near-twin: 3 words + terminal
    * '.' so C4's line rule KEEPS it (it must survive the cleaning
    * stages to reach the dedup stages), and it contains a Gopher stop
    * word so the quality rule is untouched. One extra kept line is
    * enough to defeat exact content hashing while leaving word-shingle
    * Jaccard far above the 0.5 near-dup bar on any page long enough to
    * pass Gopher's 50-word floor.
    */
  private[graft] val WebNearLine: String = "see the archive."

  /** The boilerplate line the registered `web_pipeline_substr` staged
    * corpus appends to every 19th RENDERED page (in BOTH staged copies,
    * so exact dedup still merges the mirror): the license-footer class
    * of cross-page repetition ExactSubstr exists to remove. 9 words +
    * terminal '.' so C4's line rule KEEPS it and — after the '\n' glues
    * its first word to the page's last token — exactly the words
    * 2..9 form a page-independent 8-token window shared by every
    * planted page; pages that also share their last word additionally
    * share the glued-start window. Contains a Gopher stop word; all
    * its 8-grams occur once per page, so the repetition rules are
    * untouched; ~9 shared shingles against ≥50-word pages keeps the
    * pairwise Jaccard far below the 0.5 near bar (margin-checked by
    * `graft.tools.MarginCheck`).
    */
  private[graft] val WebSpanLine: String =
    "copyright notice all rights reserved by the archive team."

  /** [[webPipeline]] + the fuzzy-dedup stage a RefinedWeb/C4-class
    * ingest runs AFTER exact dedup (Penedo et al. 2023 §3.3 run
    * MinHash near-dedup on the survivors of exact dedup; parts shipped
    * as `minhash_lsh` / `near_dedup`): the fused chain's KEPT canonical
    * pages feed MinHash+LSH banding, candidates verify by exact
    * word-shingle Jaccard, and every kept page with a verified near
    * partner of SMALLER doc_id is re-statused `near_dup` with
    * `canonical_id` = its smallest partner (and the partner's verified
    * jaccard as `near_jaccard`). Output: the full web_pipeline ledger
    * with the eighth status class live.
    *
    * Banding is 64 hashes × 32 bands of 2 (the [[graft.ops.TextDedup
    * .nearDupIncremental]] wide-recall configuration): per-pair miss
    * ≈ (1 − J²)³² ≈ 1e−4 at the J = 0.5 decision bar and ≈ 6e−15 for
    * the planted twins (J ≥ 0.8) — the oracle verifies against the
    * complete exact-Jaccard pair set, so recall is load-bearing here,
    * not just a quality knob.
    *
    * Scale: the ledger persists (key-cardinality rows, cleaned text
    * only for keepers) so the near stage and the final join read ONE
    * materialization of the fused chain instead of recomputing the
    * Gopher folds per branch; signatures are 8·64 B/doc, banding
    * shuffles (band, key, id) only, verification shuffles shingle sets
    * for candidate docs only ([[graft.ops.TextDedup.verifyJaccard]]'s
    * semi-join), and the final status join is key-sized. Nothing
    * all-pairs, nothing corpus-proportional beyond the one scan.
    */
  def webPipelineNear(staged: DataFrame, k: Int = 3, numHashes: Int = 64,
                      bands: Int = 32,
                      threshold: Double = 0.5): DataFrame =
    webNearTail(webPipeline(staged), k, numHashes, bands, threshold)

  /** The near-dedup verdict tail of [[webPipelineNear]] over an already
    * composed web-pipeline LEDGER — split out (round 15) so the
    * STREAMING front door's closed-feed readout and the downstream
    * fused stages ([[webPipelineSem]], [[webPipelineSubstr]]) run the
    * IDENTICAL arithmetic over their ledgers (the [[webVerdictTail]]
    * precedent: one code chain, so the faces cannot drift).
    * `keepText = true` additionally passes `text_clean` through for
    * rows that stay kept, so a following stage (exact-substring
    * surgery) can read the surviving pages without recomputing the
    * chain; the default drops it, keeping the registered
    * `web_pipeline_near` plan byte-identical to its round-14 shape.
    */
  private[graft] def webNearTail(ledger0: DataFrame, k: Int = 3,
                                 numHashes: Int = 64, bands: Int = 32,
                                 threshold: Double = 0.5,
                                 keepText: Boolean = false): DataFrame = {
    // Lineage cut, not just execution dedup: the fused chain's ANALYZED
    // plan is deep, and the near tail references the ledger from many
    // arms (kept slice → shingle sets → signature agg → 32 banding
    // arms → verify semi-joins → final status join). With persist(),
    // execution reads the cache but Catalyst still re-analyzes and
    // re-plans the full chain lineage under EVERY arm — measured ~10 s
    // of pure planning per construction at sf0.1 vs <1 s of execution.
    // The lazy RDD-level cut makes every downstream plan bottom out at
    // a LogicalRDD (planning is then proportional to the TAIL, not the
    // chain), while eager = false keeps construction free of jobs for
    // plan dumps and sweeps. On a multi-executor cluster the same cut
    // is a materialized inter-stage table (RefinedWeb-style stage
    // boundaries) or a reliable checkpoint; the scaling sweep derives
    // this family's tables from registration-time loader records (the
    // LogicalRDD-tail convention).
    val ledger = ledger0.localCheckpoint(false)
    val kept = ledger.filter(col("status") === "kept")
      .select(col("doc_id"), col("text_clean").as("text"))
    val pairs = graft.ops.TextDedup.minhashLshPairs(
      kept, k, numHashes, bands, threshold)
    val nearCanon = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("near_canon"),
        min_by(col("jaccard"), col("doc_a")).as("near_j"))
    val base = Seq(col("doc_id"), col("changed"),
      when(col("near_canon").isNotNull, lit("near_dup"))
        .otherwise(col("status")).as("status"),
      coalesce(col("near_canon"), col("canonical_id")).as("canonical_id"),
      col("near_j").as("near_jaccard"))
    val cols = if (keepText) base :+
      when(col("near_canon").isNull, col("text_clean")).as("text_clean")
    else base
    ledger.join(nearCanon, Seq("doc_id"), "left").select(cols: _*)
  }

  /** [[webPipelineNear]] + the SEMANTIC dedup stage a SemDeDup-class
    * ingest runs after near-dedup (Abbas et al. 2023, arXiv:2303.09540;
    * the standalone machinery shipped as `semdedup` /
    * `embedding_near_dup`): pages that survive exact AND fuzzy dedup
    * but whose MODEL EMBEDDINGS are near-identical — paraphrases that
    * share no shingles — merge on embedding cosine. Kept canonical
    * pages join their embeddings from the side table `emb` (vec_id =
    * doc_id — the realistic shape: vectors come from an upstream
    * embedding job and may COVER ONLY PART of the corpus; kept pages
    * without a vector simply cannot sem-merge, mirrored in the oracle's
    * inner join), candidates come from random-hyperplane LSH banding
    * ([[Similarity.cosineNearDup]] — Charikar 2002), and every verified
    * pair at cosine ≥ `threshold` re-statuses the larger id `sem_dup`
    * with `canonical_id` = its smallest partner and the partner's exact
    * cosine as `sem_cosine`.
    *
    * Recall here is gated STRUCTURALLY, not probabilistically: the
    * staged corpus's planted paraphrase tier carries embeddings
    * IDENTICAL to the page's (the upstream-model view of "same
    * meaning"), so every sign bit of every hyperplane agrees and the
    * pair collides in EVERY band — banding recall for the oracle's
    * pair class (cosine 1.0) is exactly 1. The natural corpus tops out
    * far below the 0.9 bar (max pairwise cosine ≈ 0.48 at the gate
    * SFs; asserted with margin by `graft.tools.MarginCheck`), so the
    * oracle's COMPLETE exact-cosine pair set contains no
    * banding-vulnerable borderline pair — a future corpus change that
    * introduces one surfaces as a MarginCheck failure, not an opaque
    * hash mismatch (ADVICE r14).
    *
    * Scale: the near ledger persists (one materialization of the fused
    * chain feeds the kept-id probe and the final status join);
    * signatures are 16 bytes × 16 bands/vector, the banding self-join
    * shuffles (band, key, id) only, verification joins vectors for
    * candidate ids only, and the final join is key-sized. 8 bits ×
    * 16 bands = the same 128-hyperplane budget as the registered
    * `embedding_near_dup`, re-cut for the 0.9 bar (bigger bands → ~2⁸
    * buckets/band → near-empty candidate lists; identical-sign pairs
    * are immune to the cut by construction).
    */
  def webPipelineSem(staged: DataFrame, emb: DataFrame,
                     threshold: Double = 0.9, bitsPerBand: Int = 8,
                     bands: Int = 16, dim: Int = -1): DataFrame =
    // LAZY localCheckpoint, not persist: the near ledger's ANALYZED
    // lineage is deep and the downstream stage references it several
    // times (kept-id probe, three vector-join arms, final status
    // join) — with persist, Catalyst re-plans the full lineage at
    // every reference (planning cost alone tripled the op's wall
    // time; the 2000-scan-token plan-text class), while the RDD-level
    // cut makes every downstream plan bottom out at a LogicalRDD.
    // Lazy (eager = false) so CONSTRUCTION stays free of driver-side
    // actions; materialization happens once at the first job and is
    // reused. The scaling sweep derives this op's tables from
    // registration-time loader records (the LogicalRDD-tail
    // convention).
    webSemTail(webNearTail(webPipeline(staged)).localCheckpoint(false),
      emb, threshold, bitsPerBand, bands, dim)

  /** The semantic-dedup verdict tail of [[webPipelineSem]] over an
    * already near-statused LEDGER — split out (round 15) so the full
    * chain ([[webPipelineFull]]) runs the IDENTICAL arithmetic (the
    * [[webNearTail]] precedent: one code chain, the faces cannot
    * drift). `keepText = true` passes `text_clean` through for rows
    * that stay kept, so a following surgery stage can read the
    * surviving pages without recomputing the chain.
    */
  private[graft] def webSemTail(near: DataFrame, emb: DataFrame,
                                threshold: Double = 0.9,
                                bitsPerBand: Int = 8, bands: Int = 16,
                                dim: Int = -1,
                                keepText: Boolean = false): DataFrame = {
    val keptIds = near.filter(col("status") === "kept").select(col("doc_id"))
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .join(keptIds, col("vec_id") === col("doc_id")).drop("doc_id")
    val pairs = Similarity.cosineNearDup(vecs, threshold, bitsPerBand,
      bands, dim = dim)
    val semCanon = pairs.groupBy(col("vec_b").as("doc_id"))
      .agg(min(col("vec_a")).as("sem_canon"),
        min_by(col("cos"), col("vec_a")).as("sem_cos"))
    val base = Seq(col("doc_id"), col("changed"),
      when(col("sem_canon").isNotNull, lit("sem_dup"))
        .otherwise(col("status")).as("status"),
      coalesce(col("sem_canon"), col("canonical_id")).as("canonical_id"),
      col("near_jaccard"),
      col("sem_cos").as("sem_cosine"))
    val cols = if (keepText) base :+
      when(col("sem_canon").isNull, col("text_clean")).as("text_clean")
    else base
    near.join(semCanon, Seq("doc_id"), "left").select(cols: _*)
  }

  /** [[webPipelineNear]] + the EXACT-SUBSTRING surgery stage a
    * RefinedWeb-class ingest runs over the near-dedup survivors (Lee et
    * al. 2022 "Deduplicating Training Data Makes Language Models
    * Better"; Penedo et al. 2023 §3.3 run exact-substring removal after
    * fuzzy dedup; the standalone machinery shipped as
    * `exactsubstr_dedup`): every token inside a ≥`w`-token span
    * duplicated across ANY TWO surviving pages is removed, first
    * occurrence (min (doc_id, pos)) wins. Surviving pages whose text
    * lost at least one token re-status `substr_pruned` (they stay in
    * the corpus — the stage rewrites, it does not drop) and carry the
    * rewritten page as `text_dedup` beside the removal count.
    *
    * Unlike the near and sem stages there is NO candidate/verify
    * split to gate: the span criterion is exact on both sides (the
    * stride-1 window relation — [[TextDedup.exactSubstrDedup]]'s
    * suffix-array view), so the oracle replays the full decision.
    *
    * Scale: the near ledger persists and the surgery adds one
    * hash-keyed window exchange (grams hashed map-side — ~24 B/window
    * on the wire) + one doc-keyed rollup over SURVIVORS only, then a
    * key-sized status join — the [[TextDedup.exactSubstrDedup]]
    * budget applied to the post-dedup slice of the corpus.
    */
  def webPipelineSubstr(staged: DataFrame, w: Int = 8): DataFrame =
    // lazy lineage cut — see [[webPipelineSem]]'s note; here the
    // surgery leg additionally pays TWO Par.widen physical-planning
    // probes over the kept slice, which the shallow plan makes free
    webSubstrTail(webNearTail(webPipeline(staged), keepText = true)
      .localCheckpoint(false), w, Seq("near_jaccard"))

  /** The span-surgery verdict tail of [[webPipelineSubstr]] over a
    * text-carrying LEDGER (any composition whose kept rows carry
    * `text_clean`) — split out (round 15) so the full chain runs the
    * IDENTICAL arithmetic. `passthrough` names the stage-metric
    * columns of the upstream ledger to carry into the output between
    * `canonical_id` and the surgery columns.
    */
  private[graft] def webSubstrTail(ledger: DataFrame, w: Int,
                                   passthrough: Seq[String]): DataFrame = {
    val kept = ledger.filter(col("status") === "kept")
      .select(col("doc_id"), col("text_clean").as("text"))
    val surgery = graft.ops.TextDedup.exactSubstrDedup(kept, w)
      .select(col("doc_id"), col("n_removed"), col("text_dedup"))
    ledger.join(surgery, Seq("doc_id"), "left")
      .select(Seq(col("doc_id"), col("changed"),
        when(col("n_removed") > 0, lit("substr_pruned"))
          .otherwise(col("status")).as("status"),
        col("canonical_id")) ++ passthrough.map(col) ++ Seq(
        col("n_removed").as("n_removed_tokens"),
        col("text_dedup")): _*)
  }

  /** The COMPLETE RefinedWeb-class front door as ONE composition —
    * every stage this family ships, in the production order: mojibake
    * repair → C4 page rules → the Gopher A1 trilogy → exact
    * content-hash dedup ([[webPipeline]]), then fuzzy MinHash/LSH
    * dedup over the survivors ([[webNearTail]] — Penedo et al. 2023
    * §3.3), then SemDeDup embedding dedup over the near survivors
    * ([[webSemTail]] — Abbas et al. 2023), then Lee-2022 exact-
    * substring surgery over what remains ([[webSubstrTail]]). All ten
    * status classes live in one ledger; each stage's tail is the SAME
    * function value its standalone face runs, so the composition
    * cannot drift from the parts.
    *
    * Scale: two lineage cuts (post-near, post-sem) bound both plan
    * depth and recompute — each stage's arms bottom out at the
    * previous stage's LogicalRDD; on a cluster these are the
    * materialized inter-stage tables a RefinedWeb ingest writes
    * anyway. Stage populations shrink monotonically (near runs on
    * exact survivors, sem on near survivors, surgery on sem
    * survivors), so the chain's cost is bounded by the near stage plus
    * strictly smaller tails.
    */
  def webPipelineFull(staged: DataFrame, emb: DataFrame,
                      threshold: Double = 0.9, bitsPerBand: Int = 8,
                      bands: Int = 16, dim: Int = -1,
                      w: Int = 8): DataFrame = {
    val near = webNearTail(webPipeline(staged), keepText = true)
      .localCheckpoint(false)
    val sem = webSemTail(near, emb, threshold, bitsPerBand, bands, dim,
      keepText = true).localCheckpoint(false)
    webSubstrTail(sem, w, Seq("near_jaccard", "sem_cosine"))
  }

  /** Oracle for the registered `web_pipeline_near` query: the shared
    * web-chain CTEs, then the COMPLETE exact-Jaccard near-pair set
    * over kept canonical pages (the [[webPipelineNear]] decision,
    * candidates-by-construction — which is exactly why it gates the
    * Spark side's LSH recall) and the re-statused ledger. Composed by
    * plain concatenation like [[webChainSql]] (the || stripMargin
    * trap); the appended CTEs are self-contained literals.
    */
  private[graft] def webNearSql(rel: String): String =
    webChainSql(rel) + ",\n" + webNearCtes + "\n" +
      """SELECT c.doc_id, c.changed,
        |  CASE WHEN nc.near_canon IS NOT NULL THEN 'near_dup'
        |       WHEN NOT c.c4_pass THEN 'c4_page'
        |       WHEN NOT c.gopher_pass THEN 'gopher_repetition'
        |       WHEN NOT c.line_pass THEN 'gopher_line_dup'
        |       WHEN NOT c.quality_pass THEN 'gopher_quality'
        |       WHEN c.doc_id <> c.canon THEN 'exact_dup'
        |       ELSE 'kept' END AS status,
        |  coalesce(nc.near_canon,
        |    CASE WHEN c.keep THEN c.canon END) AS canonical_id,
        |  nc.near_j AS near_jaccard
        |FROM cn c LEFT JOIN nc USING (doc_id)""".stripMargin

  /** The near stage's CTE block (kept canonicals → complete exact-
    * Jaccard pair set → smallest-partner table `nc`) — extracted from
    * [[webNearSql]] (round 15) so the sem and substr oracles compose
    * the IDENTICAL near decision instead of restating it. Self-
    * contained literal (no embedded composed SQL — stripMargin is
    * safe here).
    */
  private val webNearCtes: String =
    """ kd AS (SELECT doc_id, text FROM cn WHERE keep AND doc_id = canon),
      | kw AS (SELECT doc_id, string_split(text, ' ') AS words FROM kd),
      | ksh AS (SELECT DISTINCT doc_id,
      |          array_to_string(words[g+1:g+3], ' ') AS shingle
      |        FROM kw, UNNEST(range(len(words) - 2)) AS t(g)
      |        WHERE len(words) >= 3),
      | ksz AS (SELECT doc_id, count(*) AS n FROM ksh GROUP BY doc_id),
      | kp AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      |        FROM ksh a JOIN ksh b
      |          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2),
      | jp AS (SELECT a AS doc_a, b AS doc_b,
      |          CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |        FROM kp JOIN ksz sa ON a = sa.doc_id
      |          JOIN ksz sb ON b = sb.doc_id
      |        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
      | nc AS (SELECT doc_b AS doc_id, min(doc_a) AS near_canon,
      |          min_by(jaccard, doc_a) AS near_j
      |        FROM jp GROUP BY 1)""".stripMargin

  /** Oracle for the registered `web_pipeline_sem` query: the shared
    * web-chain + near CTEs, then the COMPLETE exact-cosine pair set at
    * `threshold` over the near survivors' embeddings (the
    * [[webPipelineSem]] decision by brute force — which is exactly why
    * it gates the Spark side's LSH recall) and the re-statused ledger.
    * `embRel` is concatenated OUTSIDE the literals (the || stripMargin
    * trap); the cosine expression is DuckDB's list_cosine_similarity
    * over DOUBLE[], the proven bit-mirror of the engine's clamped
    * dot/(|a||b|) (the `embedding_near_dup` convention).
    */
  /** The sem stage's CTE block (near-surviving kept canonicals ∩ the
    * embedding side table → complete exact-cosine pair set → smallest-
    * partner table `sc`) — extracted (round 15) so [[webFullSql]]
    * composes the IDENTICAL sem decision. `embRel` concatenates
    * OUTSIDE the literals (the || stripMargin trap).
    */
  private def webSemCtes(embRel: String, threshold: Double): String =
    """ ke AS (SELECT doc_id FROM cn WHERE keep AND doc_id = canon
      |        AND doc_id NOT IN (SELECT doc_id FROM nc)),
      | ev AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |        FROM """.stripMargin + embRel +
      s""" er JOIN ke ON er.vec_id = ke.doc_id),
         | sp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |          list_cosine_similarity(a.v, b.v) AS cos
         |        FROM ev a JOIN ev b ON a.vec_id < b.vec_id
         |        WHERE list_cosine_similarity(a.v, b.v) >= $threshold),
         | sc AS (SELECT vb AS doc_id, min(va) AS sem_canon,
         |          min_by(cos, va) AS sem_cos FROM sp GROUP BY 1)""".stripMargin

  private[graft] def webSemSql(rel: String, embRel: String,
                               threshold: Double = 0.9): String =
    webChainSql(rel) + ",\n" + webNearCtes + ",\n" +
      webSemCtes(embRel, threshold) + "\n" +
      """SELECT c.doc_id, c.changed,
        |  CASE WHEN sc.sem_canon IS NOT NULL THEN 'sem_dup'
        |       WHEN nc.near_canon IS NOT NULL THEN 'near_dup'
        |       WHEN NOT c.c4_pass THEN 'c4_page'
        |       WHEN NOT c.gopher_pass THEN 'gopher_repetition'
        |       WHEN NOT c.line_pass THEN 'gopher_line_dup'
        |       WHEN NOT c.quality_pass THEN 'gopher_quality'
        |       WHEN c.doc_id <> c.canon THEN 'exact_dup'
        |       ELSE 'kept' END AS status,
        |  coalesce(sc.sem_canon, nc.near_canon,
        |    CASE WHEN c.keep THEN c.canon END) AS canonical_id,
        |  nc.near_j AS near_jaccard,
        |  sc.sem_cos AS sem_cosine
        |FROM cn c LEFT JOIN nc USING (doc_id)
        |  LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Oracle for the registered `web_pipeline_substr` query: the shared
    * web-chain + near CTEs, then the `exactsubstr_dedup` rule chain
    * (stride-1 8-token windows, first-occurrence rank over
    * (doc_id, pos), covered-token rebuild) over the near survivors —
    * the exact decision replayed, no candidate step to gate.
    */
  /** The surgery stage's CTE block (surviving kept pages → stride-1
    * 8-token windows → first-occurrence rank → covered-token rebuild
    * table `sg`) — extracted (round 15) so [[webFullSql]] composes the
    * IDENTICAL decision; `excludeSem` narrows the surgery population
    * to sem survivors (the full chain's stage order).
    */
  private def webSubstrCtes(excludeSem: Boolean): String = {
    val semClause =
      if (excludeSem) "\n          AND c.doc_id NOT IN (SELECT doc_id FROM sc)"
      else ""
    """ kt AS (SELECT c.doc_id, c.text FROM cn c
      |        WHERE c.keep AND c.doc_id = c.canon
      |          AND c.doc_id NOT IN (SELECT doc_id FROM nc)""".stripMargin +
      semClause + "),\n" +
      """ ww AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM kt),
        | gg AS (SELECT doc_id, t.g AS pos,
        |          array_to_string(ws[g+1:g+8], ' ') AS gram
        |        FROM ww, UNNEST(range(len(ws) - 7)) AS t(g)
        |        WHERE len(ws) >= 8),
        | rr AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
        |          ORDER BY doc_id, pos) AS rn FROM gg),
        | ff AS (SELECT doc_id, list_sort(list(pos)) AS starts
        |        FROM rr WHERE rn > 1 GROUP BY doc_id),
        | sg AS (SELECT ww.doc_id,
        |          CASE WHEN starts IS NULL THEN CAST(0 AS BIGINT)
        |               ELSE CAST(len(list_filter(range(len(ws)),
        |                 j -> len(list_filter(starts,
        |                   s -> s <= j AND j < s + 8)) > 0)) AS BIGINT)
        |          END AS n_removed,
        |          CASE WHEN starts IS NULL THEN text
        |               ELSE coalesce(array_to_string(list_transform(
        |                 list_filter(range(len(ws)),
        |                   j -> len(list_filter(starts,
        |                     s -> s <= j AND j < s + 8)) = 0),
        |                 j -> ws[j + 1]), ' '), '')
        |          END AS text_dedup
        |        FROM ww LEFT JOIN ff USING (doc_id))""".stripMargin
  }

  private[graft] def webSubstrSql(rel: String): String =
    webChainSql(rel) + ",\n" + webNearCtes + ",\n" +
      webSubstrCtes(excludeSem = false) + "\n" +
      """SELECT c.doc_id, c.changed,
        |  CASE WHEN sg.n_removed > 0 THEN 'substr_pruned'
        |       WHEN nc.near_canon IS NOT NULL THEN 'near_dup'
        |       WHEN NOT c.c4_pass THEN 'c4_page'
        |       WHEN NOT c.gopher_pass THEN 'gopher_repetition'
        |       WHEN NOT c.line_pass THEN 'gopher_line_dup'
        |       WHEN NOT c.quality_pass THEN 'gopher_quality'
        |       WHEN c.doc_id <> c.canon THEN 'exact_dup'
        |       ELSE 'kept' END AS status,
        |  coalesce(nc.near_canon,
        |    CASE WHEN c.keep THEN c.canon END) AS canonical_id,
        |  nc.near_j AS near_jaccard,
        |  sg.n_removed AS n_removed_tokens,
        |  sg.text_dedup
        |FROM cn c LEFT JOIN nc USING (doc_id)
        |  LEFT JOIN sg USING (doc_id)""".stripMargin

  /** Oracle for the registered `web_pipeline_full` query: the shared
    * web-chain CTEs, the near stage's complete exact-Jaccard pair set,
    * the sem stage's complete exact-cosine pair set over the near
    * survivors, and the surgery rule chain over the sem survivors —
    * each block the SAME literal its standalone oracle composes (so
    * the stage decisions cannot drift between faces), with the full
    * ten-class status CASE in stage order.
    */
  private[graft] def webFullSql(rel: String, embRel: String,
                                threshold: Double = 0.9): String =
    webChainSql(rel) + ",\n" + webNearCtes + ",\n" +
      webSemCtes(embRel, threshold) + ",\n" +
      webSubstrCtes(excludeSem = true) + "\n" +
      """SELECT c.doc_id, c.changed,
        |  CASE WHEN sg.n_removed > 0 THEN 'substr_pruned'
        |       WHEN sc.sem_canon IS NOT NULL THEN 'sem_dup'
        |       WHEN nc.near_canon IS NOT NULL THEN 'near_dup'
        |       WHEN NOT c.c4_pass THEN 'c4_page'
        |       WHEN NOT c.gopher_pass THEN 'gopher_repetition'
        |       WHEN NOT c.line_pass THEN 'gopher_line_dup'
        |       WHEN NOT c.quality_pass THEN 'gopher_quality'
        |       WHEN c.doc_id <> c.canon THEN 'exact_dup'
        |       ELSE 'kept' END AS status,
        |  coalesce(sc.sem_canon, nc.near_canon,
        |    CASE WHEN c.keep THEN c.canon END) AS canonical_id,
        |  nc.near_j AS near_jaccard,
        |  sc.sem_cos AS sem_cosine,
        |  sg.n_removed AS n_removed_tokens,
        |  sg.text_dedup
        |FROM cn c LEFT JOIN nc USING (doc_id)
        |  LEFT JOIN sc USING (doc_id)
        |  LEFT JOIN sg USING (doc_id)""".stripMargin
}
